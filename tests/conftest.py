import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from kafka_delta_ingest_spark.session import get_spark

    s = get_spark(
        app_name="kdi-tests",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g", "spark.sql.warehouse.dir": "/tmp/kdi-warehouse"},
    )
    yield s


@pytest.fixture()
def tmp_table_root(tmp_path):
    return str(tmp_path / "table")


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as jobs:`` — after the block, ``jobs`` holds the
    ids of the Spark jobs it launched (counted under a job group of its
    own, once the listener bus has delivered every job event)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def track():
        group = f"jobs-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return track
