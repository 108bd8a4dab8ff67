"""Session, scratch directory and result plumbing shared by the workloads."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, ".perfbench")


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap_mb() -> int:
    """A quarter of physical RAM, between 1 and 3 GiB: the library's own
    default (64g) is sized for a 32-core box and would overcommit a small
    host. Python workers and the page cache need the rest."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
    except OSError:
        return 2048
    return max(1024, min(3072, total_kb // 1024 // 4))


class Run:
    """One benchmark run: a private scratch directory under ``.perfbench``
    (removed at exit, except the results), a Spark session fitted to the
    host, and, when traced, the Spark event log."""

    def __init__(self, workload: str, seed: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.dir = os.path.join(SCRATCH, f"{workload}-{seed}-{os.getpid()}")
        self.results_dir = os.path.join(SCRATCH, "results")
        self.event_dir = os.path.join(self.dir, "eventlog")
        self.spark = None
        self.session_s = None
        self.cores = host_cores()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start(self):
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in (self.dir, self.path("local"), self.path("tmp"), self.results_dir):
            os.makedirs(d, exist_ok=True)
        # everything the JVM and its Python workers write stays in the run
        # dir; workers import the package from the checkout root
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = self.path("tmp")
        # no JVM (spark-submit's launcher included) writes /tmp/hsperfdata_*
        jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        conf = {
            "spark.driver.memory": f"{driver_heap_mb()}m",
            "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC {jvm_opts}",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from kafka_delta_ingest_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cores=self.cores,
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.session_s = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)
        to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def write_result(self, name: str, payload: dict) -> str:
        p = os.path.join(self.results_dir, name)
        with open(p, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        return p


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
