"""Timed reads shared by the workloads: doc_id point lookups, n_tok range
lookups and full-table reads through both read paths.

Each call takes a fresh ``table.snapshot()``, so a lookup pays for the
snapshot load and file pruning as a reader would. The workloads
interleave these reads with their writes, so the samples of every read
metric are spread over the whole timed section.
"""

from __future__ import annotations


def row(r) -> tuple:
    """A tokens row as a comparable tuple."""
    return (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])


def point_lookup(spark, table, tracer, ops, doc_id: str, want: tuple) -> float:
    """``Snapshot.scan`` with ``doc_id = X`` as predicate and pruning
    conjunct; checks that exactly ``want`` comes back."""
    from pyspark.sql import functions as F

    with tracer.span("lookup.point"):
        def call():
            snap = table.snapshot()
            with tracer.span("table.scan.read") as rec:
                rows = snap.scan(
                    spark, predicate=F.col("doc_id") == doc_id,
                    predicate_stats=[("doc_id", "=", doc_id)],
                ).collect()
                rec["attrs"]["rows"] = len(rows)
            return rows

        rows, dt = ops.timed(call)
    ops.check([row(r) for r in rows] == [want], f"point lookup {doc_id}")
    return dt


def range_lookup(spark, table, tracer, ops, lo: int, hi: int, want: list) -> float:
    """``Snapshot.scan`` with ``lo <= n_tok <= hi``; checks the rows
    against ``want`` (sorted)."""
    from pyspark.sql import functions as F

    with tracer.span("lookup.range"):
        def call():
            snap = table.snapshot()
            with tracer.span("table.scan.read") as rec:
                rows = snap.scan(
                    spark, predicate=F.col("n_tok").between(lo, hi),
                    predicate_stats=[("n_tok", ">=", lo), ("n_tok", "<=", hi)],
                ).collect()
                rec["attrs"]["rows"] = len(rows)
            return rows

        rows, dt = ops.timed(call)
    ops.check(sorted(row(r) for r in rows) == want, f"range lookup {lo}..{hi}")
    return dt


def scan_read(spark, table, tracer, ops, want_fp: dict, what: str) -> float:
    """The whole table read through ``Snapshot.scan``, fingerprinted and
    checked against ``want_fp``; returns the wall time."""
    from kafka_delta_ingest_spark.functions.verify import content_fingerprint

    with tracer.span("table.scan.full"):
        fp, dt = ops.timed(lambda: content_fingerprint(table.snapshot().scan(spark)))
    ops.check(fp == want_fp, f"Snapshot.scan content {what}")
    return dt


def kdi_read(spark, table, tracer, ops, want_fp: dict, what: str) -> float:
    """The whole table read through ``spark.read.format("kdi-table")``,
    fingerprinted and checked against ``want_fp``; returns the wall time."""
    from kafka_delta_ingest_spark.functions.verify import content_fingerprint

    with tracer.span("sources.table_batch"):
        fp, dt = ops.timed(
            lambda: content_fingerprint(
                spark.read.format("kdi-table").option("path", table.root).load()
            )
        )
    ops.check(fp == want_fp, f"kdi-table content {what}")
    return dt
