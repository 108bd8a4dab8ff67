"""B3 manifest rewrite, B4 snapshot expiry + orphan GC, B5 MERGE INTO."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.datagen import TOKENS_SCHEMA, make_small_file_table, tokens_df
from kafka_delta_ingest_spark.functions.verify import content_fingerprint
from kafka_delta_ingest_spark.maintenance.compact import compact
from kafka_delta_ingest_spark.maintenance.expire import expire_snapshots, gc_orphans
from kafka_delta_ingest_spark.maintenance.manifest import rewrite_manifests
from kafka_delta_ingest_spark.maintenance.merge import merge_into
from kafka_delta_ingest_spark.table.format import Table, TableError, Transaction


def test_manifest_rewrite_refreshes_stats(spark, tmp_table_root):
    t = make_small_file_table(spark, tmp_table_root, n_docs=300, n_files=4, max_tok=32)
    snap = t.snapshot()
    # wipe stats to simulate a stats-less writer
    stripped = [
        type(f)(path=f.path, size=f.size, num_records=f.num_records,
                partition_values=f.partition_values, stats={})
        for f in snap.files
    ]
    t.commit(Transaction(operation="strip", adds=stripped, data_change=False))
    assert all(not f.stats for f in t.snapshot().files)

    m = rewrite_manifests(spark, t)
    snap2 = t.snapshot()
    assert m["files"] == len(snap2.files)
    for f in snap2.files:
        assert f.stats["min"]["n_tok"] >= 1
        assert "tokens" not in f.stats["min"]
        assert f.stats["null_count"]["tokens"] == 0
    # same data files, no rewrite
    assert {f.path for f in snap2.files} == {f.path for f in snap.files}


def test_expire_snapshots_and_gc_orphans(spark, tmp_table_root):
    t = make_small_file_table(spark, tmp_table_root, n_docs=600, n_files=12, max_tok=32)
    fp = content_fingerprint(t.snapshot().scan(spark))
    compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="gc-c")
    head = t.latest_version()

    r = expire_snapshots(t, retain_last=1)
    assert r["oldest_readable"] == head
    with pytest.raises(TableError):
        t.snapshot(0)
    assert content_fingerprint(t.snapshot().scan(spark)) == fp

    # old (pre-compaction) data files are now unreferenced -> GC'able
    g0 = gc_orphans(spark, t, grace_s=0.0, dry_run=True)
    assert g0["candidates"] > 0
    g = gc_orphans(spark, t, grace_s=0.0)
    assert g["deleted"] == g0["candidates"]
    # live scan untouched
    assert content_fingerprint(t.snapshot().scan(spark)) == fp
    # second GC finds nothing
    assert gc_orphans(spark, t, grace_s=0.0)["candidates"] == 0


def test_gc_runs_on_driver_and_skips_vanished_files(
    spark, tmp_table_root, spark_jobs, monkeypatch
):
    t = make_small_file_table(spark, tmp_table_root, n_docs=300, n_files=6, max_tok=16)
    fp = content_fingerprint(t.snapshot().scan(spark))
    compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="gc-d")
    expire_snapshots(t, retain_last=1)
    with spark_jobs() as jobs:
        g0 = gc_orphans(spark, t, grace_s=0.0, dry_run=True)
    assert jobs == [] and g0["candidates"] >= 2

    # a concurrent GC takes one candidate between the listing and its unlink
    real_unlink = os.unlink
    vanished = []

    def unlink(path, *a, **kw):
        if not vanished and str(path).endswith(".parquet"):
            vanished.append(path)
            real_unlink(path, *a, **kw)
            raise FileNotFoundError(path)
        return real_unlink(path, *a, **kw)

    monkeypatch.setattr(os, "unlink", unlink)
    with spark_jobs() as jobs:
        g = gc_orphans(spark, t, grace_s=0.0)
    monkeypatch.undo()
    assert jobs == []
    assert vanished and not os.path.exists(vanished[0])
    assert g["candidates"] == g0["candidates"]
    assert g["deleted"] == g0["candidates"] - 1
    assert gc_orphans(spark, t, grace_s=0.0)["candidates"] == 0
    assert content_fingerprint(t.snapshot().scan(spark)) == fp


def test_time_travel_by_timestamp_and_age_expiry(spark, tmp_table_root):
    t = make_small_file_table(spark, tmp_table_root, n_docs=200, n_files=4, max_tok=16)
    v1 = t.latest_version()
    ts_v1 = t._read_commit(v1)["timestamp_ms"]
    fp1 = content_fingerprint(t.snapshot().scan(spark))
    compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="tt-c")
    v2 = t.latest_version()
    ts_v2 = t._read_commit(v2)["timestamp_ms"]

    # TIMESTAMP AS OF: at ts_v1 the pre-compaction snapshot was live
    assert t.version_as_of(ts_v1) == v1
    assert t.version_as_of(ts_v2 + 10_000) == v2
    assert content_fingerprint(t.snapshot_as_of(ts_v1).scan(spark)) == fp1
    with pytest.raises(TableError):
        t.version_as_of(ts_v1 - 1_000_000)

    # age-based expiry: nothing is old enough -> no-op even with
    # retain_last=1 (whichever bound retains more wins)
    r = expire_snapshots(t, retain_last=1, older_than_ms=ts_v1 - 1_000_000)
    assert r["expired"] == 0
    assert t.snapshot(v1) is not None
    # everything before "now" is old enough -> retain-K rule applies
    r2 = expire_snapshots(t, retain_last=1,
                          older_than_ms=ts_v2 + 1_000_000)
    assert r2["oldest_readable"] == v2
    with pytest.raises(TableError):
        t.snapshot(v1)


def test_gc_grace_protects_staged_files(spark, tmp_table_root):
    t = make_small_file_table(spark, tmp_table_root, n_docs=100, n_files=2, max_tok=16)
    # stage (write) without commit — in-flight work
    absd, _ = t.new_data_dir()
    tokens_df(spark, 50, max_tok=8).write.mode("overwrite").parquet(absd)
    expire_snapshots(t, retain_last=1)
    g = gc_orphans(spark, t, grace_s=3600.0)
    staged = [p for p in os.listdir(absd) if p.endswith(".parquet")]
    assert staged  # still on disk
    assert g["candidates"] == 0


def test_merge_into_update_insert(spark, tmp_table_root):
    t = make_small_file_table(spark, tmp_table_root, n_docs=1_000, n_files=10, max_tok=32)
    # source: update docs 0..99 with new tokens, insert 50 brand-new docs
    upd = tokens_df(spark, 100, seed=99, max_tok=16)  # doc-0..99, different tokens
    new = (
        tokens_df(spark, 50, seed=7, max_tok=16)
        .withColumn("doc_id", F.concat(F.lit("new-"), F.col("doc_id")))
    )
    src = upd.unionByName(new)
    m = merge_into(spark, t, src, key="doc_id", job_id="m1")
    snap = t.snapshot()
    assert snap.num_records() == 1_050
    # updated rows carry source tokens
    got = snap.scan(spark).where(F.col("doc_id") == "doc-000000000003").collect()[0]
    want = upd.where(F.col("doc_id") == "doc-000000000003").collect()[0]
    assert got["tokens"] == want["tokens"]
    # untouched rows unchanged
    keep = snap.scan(spark).where(F.col("doc_id") == "doc-000000000900").collect()[0]
    orig = tokens_df(spark, 1_000, max_tok=32).where(
        F.col("doc_id") == "doc-000000000900"
    ).collect()[0]
    assert keep["tokens"] == orig["tokens"]
    # inserts present
    assert snap.scan(spark).where(F.col("doc_id").startswith("new-")).count() == 50
    assert m["touched_files"] >= 1


def test_merge_prunes_untouched_files(spark, tmp_table_root):
    """Manifest min/max pruning: a source touching one narrow doc_id range
    must not rewrite every file (copy-on-write efficiency at scale)."""
    t = make_small_file_table(
        spark, tmp_table_root, n_docs=2_000, n_files=1, max_tok=16, partition_by_source=False
    )
    # cluster by doc_id so files have narrow doc_id ranges
    from kafka_delta_ingest_spark.maintenance.zorder import cluster

    cluster(spark, t, dims=["doc_id"], target_file_bytes=16 * 1024)
    n_files = len(t.snapshot().files)
    assert n_files >= 4
    src = tokens_df(spark, 10, seed=5, max_tok=8)  # doc-0..9: one narrow range
    m = merge_into(spark, t, src, key="doc_id", job_id="m2")
    assert m["touched_files"] < n_files
    assert t.snapshot().num_records() == 2_000


def test_merge_delete(spark, tmp_table_root):
    t = make_small_file_table(spark, tmp_table_root, n_docs=500, n_files=5, max_tok=16)
    victims = tokens_df(spark, 50, max_tok=16)  # doc-0..49
    merge_into(spark, t, victims, key="doc_id", when_matched="delete")
    snap = t.snapshot()
    assert snap.num_records() == 450
    assert snap.scan(spark).where(F.col("doc_id") < "doc-000000000050").count() == 0


def test_delete_where_prunes_and_deletes(spark, tmp_path):
    from kafka_delta_ingest_spark.maintenance.dml import delete_where

    t = make_small_file_table(spark, str(tmp_path / "t"), n_docs=400, n_files=8, max_tok=64)
    snap = t.snapshot()
    before = snap.scan(spark)
    expect_kept = before.where(~(F.col("n_tok") <= F.lit(5))).count()
    n_rows = before.count()

    m = delete_where(spark, t, [("n_tok", "<=", 5)])
    assert m["rows_before"] == n_rows
    assert m["rows_after"] == expect_kept
    assert m["rows_deleted"] == n_rows - expect_kept
    # manifest pruning engaged: files whose min n_tok > 5 were not touched
    untouchable = sum(1 for f in snap.files if int(f.stats["min"]["n_tok"]) > 5)
    assert m["files_touched"] == len(snap.files) - untouchable
    after = t.snapshot().scan(spark)
    assert after.count() == expect_kept
    assert after.where(F.col("n_tok") <= 5).count() == 0
    # pinned pre-delete snapshot still sees every row (snapshot isolation)
    assert snap.scan(spark).count() == n_rows


def test_update_where_rewrites_matched_rows(spark, tmp_path):
    import pytest

    from kafka_delta_ingest_spark.maintenance.dml import update_where

    t = make_small_file_table(spark, str(tmp_path / "t"), n_docs=300, n_files=6, max_tok=32)
    fp_unmatched = content_fingerprint(
        t.snapshot().scan(spark).where(F.col("n_tok") < 20)
    )
    m = update_where(
        spark, t, [("n_tok", ">=", 20)],
        {"tokens": "transform(tokens, x -> x + 7)"},
    )
    assert m["rows_after"] == m["rows_before"]
    after = t.snapshot().scan(spark)
    # unmatched rows byte-identical; matched rows shifted
    assert content_fingerprint(after.where(F.col("n_tok") < 20)) == fp_unmatched
    # every matched token was shifted up: none below 7 remain
    assert after.where(
        (F.col("n_tok") >= 20) & F.expr("exists(tokens, x -> x < 7)")
    ).count() == 0
    with pytest.raises(ValueError):
        update_where(spark, t, [("n_tok", ">=", 20)], {"source": "'x'"})
    with pytest.raises(ValueError):
        update_where(spark, t, [], {"tokens": "tokens"})
