"""End-to-end ingest pipeline + structured-streaming micro-batch wrapper:
exactly-once under replay, DLQ side output, partitioned commit — the batch
replay of the reference's run loop (/root/reference/src/lib.rs:388-523)."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_delta_ingest_spark.ingest.dead_letters import DEAD_LETTER_SCHEMA
from kafka_delta_ingest_spark.streaming.micro_batch import (
    IngestPipeline,
    start_stream_ingest,
)
from kafka_delta_ingest_spark.table.format import Table, TableError

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("color", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)


def _msgs(spark, ids, partition=0, bad=()):
    rows = []
    for i in ids:
        ts = "garbage-ts" if i in bad else f"2021-03-{(i % 28) + 1:02d}T10:00:00Z"
        rows.append((json.dumps({"id": i, "color": "red", "ts": ts}), partition, i))
    return spark.createDataFrame(rows, "value string, _partition int, _offset long")


def _pipeline(root, dlq_root=None):
    table = Table.create(root, SCHEMA, ["date"])
    dlq = Table.create(dlq_root, DEAD_LETTER_SCHEMA, ["date"]) if dlq_root else None
    return table, IngestPipeline(
        table,
        app_id="stream-test",
        transforms={"date": "substr(epoch_micros_to_iso8601(unix_micros(ts)), 0, 10)"},
        dlq_table=dlq,
    )


def test_ingest_batch_exactly_once(spark, tmp_path):
    table, pipe = _pipeline(str(tmp_path / "t"))
    m1 = pipe.ingest_batch(spark, _msgs(spark, range(10)))
    assert m1["rows"] == 10
    assert m1["watermarks"] == {"stream-test-0": 9}
    # replay identical batch: all offsets <= stored -> no-op, no version bump
    v = table.latest_version()
    m2 = pipe.ingest_batch(spark, _msgs(spark, range(10)))
    assert m2.get("skipped_all")
    assert table.latest_version() == v
    # overlapping batch: only new offsets land (ref offset_tests.rs seek)
    m3 = pipe.ingest_batch(spark, _msgs(spark, range(5, 15)))
    assert m3["rows"] == 5
    scan = table.snapshot().scan(spark)
    assert scan.count() == 15
    assert scan.agg(F.max("id")).collect()[0][0] == 14
    # date partition derived via reference transform
    assert scan.where(F.col("date") == "2021-03-01").count() >= 1


def test_ingest_dead_letters_to_dlq_table(spark, tmp_path):
    table, pipe = _pipeline(str(tmp_path / "t"), str(tmp_path / "dlq"))
    m = pipe.ingest_batch(spark, _msgs(spark, range(13), bad={3, 7, 11}))
    assert m["rows"] == 10 and m["dead"] == 3
    dlq_scan = pipe.dlq_table.snapshot().scan(spark)
    rows = dlq_scan.collect()
    assert len(rows) == 3
    assert all("coercion failed" in r["error"] for r in rows)
    assert all(r["json_string"] and "garbage-ts" in r["json_string"] for r in rows)


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_ingest_batch_job_budget(spark, tmp_path, spark_jobs):
    """One pass per batch: the dedupe and the parse are persisted once and
    the offsets, the dead-letter count and both writes read that result."""
    table, pipe = _pipeline(str(tmp_path / "t"), str(tmp_path / "dlq"))
    pipe.ingest_batch(spark, _msgs(spark, range(10)))  # offsets now stored
    batch = _msgs(spark, range(10, 40), bad={12, 25, 31})
    before = _persisted(spark)
    with spark_jobs() as jobs:
        m = pipe.ingest_batch(spark, batch)
    assert m["rows"] == 27 and m["dead"] == 3
    assert pipe.dlq_table.snapshot().scan(spark).count() == 3
    assert len(jobs) <= 8, jobs
    assert _persisted(spark) == before

    v, dv = table.latest_version(), pipe.dlq_table.latest_version()
    with spark_jobs() as jobs:
        m = pipe.ingest_batch(spark, batch)
    assert m.get("skipped_all")
    assert (table.latest_version(), pipe.dlq_table.latest_version()) == (v, dv)
    assert len(jobs) <= 3, jobs
    assert _persisted(spark) == before


def test_failed_main_commit_lands_no_dead_letters(spark, tmp_path, monkeypatch):
    """The dead letters commit only after the main commit: when it fails,
    neither lands and the persisted batch is released; re-sending the
    batch then commits it, dead letters included, exactly once."""
    table, pipe = _pipeline(str(tmp_path / "t"), str(tmp_path / "dlq"))
    batch = _msgs(spark, range(12), bad={2, 9})
    real_commit = Table.commit
    failed = []

    def commit_failing_once(self, *a, **kw):
        if self.root == table.root and not failed:
            failed.append(True)
            raise TableError("injected commit failure")
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(Table, "commit", commit_failing_once)
    v, dv = table.latest_version(), pipe.dlq_table.latest_version()
    before = _persisted(spark)
    with pytest.raises(TableError, match="injected"):
        pipe.ingest_batch(spark, batch)
    assert (table.latest_version(), pipe.dlq_table.latest_version()) == (v, dv)
    assert pipe.dlq_table.snapshot().scan(spark).count() == 0
    assert _persisted(spark) == before

    m = pipe.ingest_batch(spark, batch)
    assert m["rows"] == 10 and m["dead"] == 2
    assert pipe.ingest_batch(spark, batch).get("skipped_all")
    assert table.snapshot().scan(spark).count() == 10
    assert pipe.dlq_table.snapshot().scan(spark).count() == 2
    assert table.latest_version() == v + 1
    assert pipe.dlq_table.latest_version() == dv + 1
    assert _persisted(spark) == before


def test_stream_ingest_micro_batches(spark, tmp_path):
    """Structured Streaming file source → foreachBatch → table commits."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    table, pipe = _pipeline(str(tmp_path / "t"))

    stream_schema = "value string, _partition int, _offset long"
    # two source files = two Kafka partitions (offset order is only
    # guaranteed per partition; cross-file arrival order is arbitrary)
    _msgs(spark, range(0, 20), partition=0).coalesce(1).write.mode("overwrite").json(
        str(src_dir / "a")
    )
    _msgs(spark, range(0, 20), partition=1).coalesce(1).write.mode("overwrite").json(
        str(src_dir / "b")
    )
    stream = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", "4")
        .json(str(src_dir / "*"))
    )

    def handle(batch_df, batch_id):
        pipe.ingest_batch(spark, batch_df)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    scan = table.snapshot().scan(spark)
    assert scan.count() == 40
    assert table.snapshot().app_txns["stream-test-0"] == 19
    assert table.snapshot().app_txns["stream-test-1"] == 19


def test_ingest_metrics_stat_names(spark, tmp_path):
    """One ingest batch emits the reference's statsd stat-name surface
    (src/metrics.rs:223-301 StatType serializations, recorded through the
    IngestMetrics methods at metrics.rs:37-138)."""
    from kafka_delta_ingest_spark.metrics import (
        ALL_STATS,
        IngestMetrics,
        InMemorySink,
    )

    sink = InMemorySink()
    table = Table.create(str(tmp_path / "t"), SCHEMA, ["date"])
    pipe = IngestPipeline(
        table,
        app_id="metrics-test",
        transforms={"date": "substr(epoch_micros_to_iso8601(unix_micros(ts)), 0, 10)"},
        metrics=IngestMetrics(sink=sink, prefix="kafka_delta_ingest"),
        # broker high watermark for partition 0: true lag is computable,
        # so the reference-named buffer.lag.* gauges are emitted
        high_watermarks={0: 15},
    )
    m = pipe.ingest_batch(spark, _msgs(spark, range(10), bad={3}))
    assert m["rows"] == 9
    names = {n for n, _, _ in sink.records}
    prefix = "kafka_delta_ingest."
    assert all(n.startswith(prefix) for n in names)
    bare = {n[len(prefix):] for n in names}
    # every emitted stat is a reference stat name
    assert bare <= ALL_STATS, bare - ALL_STATS
    expected = {
        "recordbatch.started", "recordbatch.completed",
        "recordbatch.write_duration", "buffered.record_batches",
        "delta.write.started", "delta.write.completed", "delta.write.duration",
        "delta.add.size", "messages.deserialization.completed",
        "messages.transform.completed", "messages.transform.failed",
        "messages.size", "buffer.lag.num_partitions", "buffer.lag.total",
        "buffer.lag.max", "buffer.lag.min",
    }
    assert expected <= bare, expected - bare
    # counters carry batch-aggregate increments
    by_name = {}
    for n, kind, v in sink.records:
        by_name.setdefault(n[len(prefix):], []).append((kind, v))
    assert by_name["messages.transform.completed"] == [("counter", 9)]
    assert by_name["messages.transform.failed"] == [("counter", 1)]
    assert by_name["messages.deserialization.completed"] == [("counter", 10)]
    # lag = high watermark - (last committed offset + 1) = 15 - 10
    assert by_name["buffer.lag.total"] == [("gauge", 5)]
    # timers are milliseconds (ref metrics.rs elapsed().as_millis())
    (kind, dur_ms), = by_name["recordbatch.write_duration"]
    assert kind == "timer" and 0 <= dur_ms < 600_000


def test_stateful_offset_dedupe_across_restarts(spark, tmp_path):
    """applyInPandasWithState high-water dedupe: in-batch redeliveries are
    dropped, and the state store restores the per-partition mark across a
    full query restart (new query, same checkpoint) — the streaming form
    of the reference's buffer dedupe (buffers.rs / lib.rs consume loop)."""
    import json

    from kafka_delta_ingest_spark.streaming.stateful import (
        stateful_offset_dedupe,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "partition long, offset long, value string"

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for p, o in rows:
                f.write(json.dumps({"partition": p, "offset": o, "value": f"m{p}-{o}"}) + "\n")

    def run_once(qname):
        # foreachBatch, not the memory sink: memory refuses checkpoint
        # recovery, and recovery is exactly what this test exercises
        stream = spark.readStream.schema(schema).json(str(src))
        out = stateful_offset_dedupe(stream)
        emitted = []

        def capture(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(capture)
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {(r["partition"], r["offset"]): r["value"] for r in emitted}

    # batch 1: p0 offsets 0-4 with (0,2) redelivered mid-batch, p1 offsets 0-2
    write_file("b1.json", [(0, 0), (0, 1), (0, 2), (0, 3), (0, 2), (0, 4),
                           (1, 0), (1, 1), (1, 2)])
    got1 = run_once("dedupe_run1")
    assert got1 == {
        (0, 0): "m0-0", (0, 1): "m0-1", (0, 2): "m0-2", (0, 3): "m0-3",
        (0, 4): "m0-4", (1, 0): "m1-0", (1, 1): "m1-1", (1, 2): "m1-2",
    }

    # restart: p0 redelivers 3-4 then continues 5-7; p1 continues with 3
    write_file("b2.json", [(0, 3), (0, 4), (0, 5), (0, 6), (0, 7), (1, 3)])
    got2 = run_once("dedupe_run2")
    assert got2 == {
        (0, 5): "m0-5", (0, 6): "m0-6", (0, 7): "m0-7", (1, 3): "m1-3",
    }


def _cdc_msgs(spark, recs, partition=0, start_offset=0):
    """recs: list of (id, color) — one CDC record per row, offset = order."""
    rows = [
        (json.dumps({"id": i, "color": c,
                     "ts": f"2021-03-{(i % 28) + 1:02d}T10:00:00Z"}),
         partition, start_offset + k)
        for k, (i, c) in enumerate(recs)
    ]
    return spark.createDataFrame(rows, "value string, _partition int, _offset long")


def test_cdc_upsert_ingest_latest_wins_exactly_once(spark, tmp_path):
    """CDC mode: each batch upserts by key via equality deletes — within a
    batch the highest Kafka offset wins, across batches the latest batch
    wins, replays no-op, and no data file is ever rewritten."""
    table = Table.create(str(tmp_path / "t"), SCHEMA, ["date"])
    pipe = IngestPipeline(
        table,
        app_id="cdc-test",
        transforms={"date": "substr(epoch_micros_to_iso8601(unix_micros(ts)), 0, 10)"},
        upsert_key="id",
    )
    # batch 1: ids 0..9 red, with id=3 updated to green LATER in the batch
    b1 = _cdc_msgs(spark, [(i, "red") for i in range(10)] + [(3, "green")])
    m1 = pipe.ingest_batch(spark, b1)
    assert m1["rows"] == 10  # 11 records, 10 keys after latest-wins
    scan = table.snapshot().scan(spark)
    assert scan.count() == 10
    assert scan.where("id = 3").collect()[0]["color"] == "green"

    files_v1 = {f.path for f in table.snapshot().files}

    # replay batch 1: exactly-once no-op
    v = table.latest_version()
    m2 = pipe.ingest_batch(spark, b1)
    assert m2.get("skipped_all") and table.latest_version() == v

    # batch 2: update ids 3 and 5, insert id 100
    b2 = _cdc_msgs(
        spark, [(3, "blue"), (5, "blue"), (100, "blue")], start_offset=11
    )
    m3 = pipe.ingest_batch(spark, b2)
    assert m3["rows"] == 3
    snap = table.snapshot()
    # upsert never rewrites existing data files
    assert files_v1 <= {f.path for f in snap.files}
    # batch 1's delete entry is GONE: it applied to no older file (empty
    # table) and replay prunes dead entries; only batch 2's survives
    assert len(snap.equality_entries) == 1
    got = {r["id"]: r["color"] for r in snap.scan(spark).collect()}
    assert got[3] == "blue" and got[5] == "blue" and got[100] == "blue"
    assert got[0] == "red" and len(got) == 11

    # fold back to pure parquet; scan unchanged
    from kafka_delta_ingest_spark.maintenance.dml import rewrite_deletes

    rewrite_deletes(spark, table)
    snap2 = table.snapshot()
    assert snap2.delete_entries == []
    got2 = {r["id"]: r["color"] for r in snap2.scan(spark).collect()}
    assert got2 == got
