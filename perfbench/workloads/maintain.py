"""``maintain``: one maintenance cycle over a fragmented table, repeated,
with reads of the clustered table in the middle of each cycle.

Set-up builds a fragmented, source-partitioned table
(``datagen.make_small_file_table``, zstd) and keeps it as the pristine
copy. Each cycle restores the pristine copy (untimed) and runs, timed:

1. ``optimize`` with Z-order on (n_tok, doc_id);
2. reads of the clustered table: a full read through ``Snapshot.scan``
   and one through ``kdi-table`` (whose content must equal the pristine
   table's), doc_id point lookups and one n_tok range lookup
   (``perfbench/workloads/reads.py``);
3. ``merge_into`` a CDC batch: 2% of the doc_ids get shifted tokens and
   1% new doc_ids are inserted, both drawn through the generator, so the
   batch follows its skewed source mix (~60% ``web``);
4. ``expire_snapshots(retain_last=1)``;
5. ``gc_orphans(grace_s=0)``;

then reads the result back through ``kdi-table`` and ``Snapshot.scan``.
A first cycle warms the JVM and is not reported. Every lookup answer is
computed beforehand from the generator.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench.host import median, percentile
from perfbench.ops import Ops, logical_bytes_col
from perfbench.workloads import reads

N_DOCS = 10_000
N_FILES = 40  # write tasks; × 6 sources ≈ 240 small files
MAX_TOK = 512
TARGET_FILE_BYTES = 512 * 1024
DIMS = ["n_tok", "doc_id"]
UPDATE_PCT, INSERT_PCT = 2, 1
PROPS = {"write.parquet.compression": "zstd"}
SETUP_REPEATS = 3
POINTS_PER_CYCLE = 7
RANGES_PER_CYCLE = 1
RANGE_WIDTH = 4  # n_tok values per range lookup
# a cycle with its reads and checks takes ~7.5 s at local[4] (3 cycles at
# --seconds 25); never fewer than 2
SECONDS_PER_CYCLE = 7.5
MIN_CYCLES = 2
WARMUP_CYCLES = 1


def plan(seconds: int) -> int:
    return max(MIN_CYCLES, round(seconds / SECONDS_PER_CYCLE))


def sizes(scale: float) -> tuple[int, int]:
    return max(200, int(N_DOCS * scale)), max(4, int(N_FILES * scale))


def cdc_frames(spark, seed: int, n_docs: int):
    """(CDC source, expected end state) as lazy frames over the generator:
    updated rows get every token shifted by one; inserts are the ids just
    past the table's."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.datagen import VOCAB, tokens_df

    base = tokens_df(spark, n_docs, seed=seed, max_tok=MAX_TOK)
    pick = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(100)) < UPDATE_PCT
    shifted = F.transform("tokens", lambda t: F.pmod(t + 1, F.lit(VOCAB)))
    n_new = max(1, n_docs * INSERT_PCT // 100)
    inserts = tokens_df(spark, n_docs + n_new, seed=seed, max_tok=MAX_TOK).where(
        F.col("doc_id") >= F.format_string("doc-%012d", F.lit(n_docs))
    )
    updates = base.where(pick).withColumn("tokens", shifted)
    source = updates.unionByName(inserts)
    end = base.withColumn("tokens", F.when(pick, shifted).otherwise(F.col("tokens")))
    return source, end.unionByName(inserts)


def build(spark, root: str, seed: int, n_docs: int, n_files: int):
    from kafka_delta_ingest_spark.datagen import make_small_file_table

    return make_small_file_table(
        spark, root, n_docs=n_docs, n_files=n_files, seed=seed,
        partition_by_source=True, max_tok=MAX_TOK, properties=PROPS,
    )


def pick_reads(seed: int, n_docs: int, n_points: int, n_ranges: int):
    """doc_ids to look up (distinct) and n_tok ranges, from the seed."""
    rng = random.Random(seed)
    points = [f"doc-{i:012d}" for i in rng.sample(range(n_docs), min(n_points, n_docs))]
    ranges = []
    for _ in range(n_ranges):
        lo = rng.randint(1, MAX_TOK - RANGE_WIDTH + 1)
        ranges.append((lo, lo + RANGE_WIDTH - 1))
    return points, ranges


def read_answers(spark, seed: int, n_docs: int, points, ranges):
    """The pristine rows each lookup must return, from the generator."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.datagen import tokens_df

    gen = tokens_df(spark, n_docs, seed=seed, max_tok=MAX_TOK)
    cond = F.col("doc_id").isin(list(points))
    for lo, hi in ranges:
        cond = cond | F.col("n_tok").between(lo, hi)
    rows = [reads.row(r) for r in gen.where(cond).collect()]
    by_id = {r[0]: r for r in rows}
    want_point = {d: by_id[d] for d in points}
    want_range = {(lo, hi): sorted(r for r in rows if lo <= r[2] <= hi) for lo, hi in ranges}
    return want_point, want_range


def _cycle(spark, pristine, root, source, tracer, ops, expect, lookups, out) -> None:
    """Restore ``pristine`` at ``root``, run one timed optimize → reads →
    merge → expire → gc cycle on it with its checks, read the result back
    through both paths and append the timings to ``out``. ``lookups`` is
    (points, ranges) for this cycle."""
    from kafka_delta_ingest_spark.maintenance.expire import expire_snapshots, gc_orphans
    from kafka_delta_ingest_spark.maintenance.merge import merge_into
    from kafka_delta_ingest_spark.maintenance.optimize import optimize
    from kafka_delta_ingest_spark.table.format import Table

    shutil.copytree(pristine.root, root)
    table = Table(root)
    with tracer.span("maintenance.optimize"):
        om, opt_s = ops.timed(
            lambda: optimize(spark, table, dims=DIMS, target_file_bytes=TARGET_FILE_BYTES)
        )
    optimized = table.snapshot()
    scan_s = reads.scan_read(spark, table, tracer, ops, expect["before"], "after OPTIMIZE")
    kdi_s = reads.kdi_read(spark, table, tracer, ops, expect["before"], "after OPTIMIZE")
    points, ranges = lookups
    for d in points:
        out["lookup_s"].append(
            reads.point_lookup(spark, table, tracer, ops, d, expect["point"][d])
        )
    for lo, hi in ranges:
        out["range_s"].append(
            reads.range_lookup(spark, table, tracer, ops, lo, hi, expect["range"][(lo, hi)])
        )
    with tracer.span("maintenance.merge"):
        mm, merge_s = ops.timed(lambda: merge_into(spark, table, source, key="doc_id"))
    merged = table.snapshot()
    with tracer.span("maintenance.expire"):
        _, expire_s = ops.timed(lambda: expire_snapshots(table, retain_last=1))
    with tracer.span("maintenance.gc"):
        gm, gc_s = ops.timed(lambda: gc_orphans(spark, table, grace_s=0))
    missing = [
        f.path for f in table.snapshot().files
        if not os.path.exists(os.path.join(table.root, f.path))
    ]
    ops.check(not missing, f"GC deleted {len(missing)} live files")
    ops.check(gm["deleted"] > 0, "GC deleted nothing after a rewrite")
    # the MERGE result, after expire and GC, read through both paths
    kdi2_s = reads.kdi_read(spark, table, tracer, ops, expect["after"], "after MERGE and GC")
    scan2_s = reads.scan_read(spark, table, tracer, ops, expect["after"], "after MERGE and GC")
    shutil.rmtree(root)

    kept = {f.path for f in optimized.files}
    out["cycle_s"].append(opt_s + merge_s + expire_s + gc_s)
    out["optimize_s"].append(opt_s)
    out["merge_s"].append(merge_s)
    out["scan_s"] += [scan_s, scan2_s]
    out["kdi_s"] += [kdi_s, kdi2_s]
    out["optimize"].append(om)
    out["merge"].append(mm)
    out["gc_deleted"].append(gm["deleted"])
    out["written_bytes"].append(
        optimized.total_bytes() + sum(f.size for f in merged.files if f.path not in kept)
    )


def _new_out() -> dict:
    return {k: [] for k in ("cycle_s", "optimize_s", "merge_s", "scan_s", "kdi_s",
                            "lookup_s", "range_s", "optimize", "merge", "gc_deleted",
                            "written_bytes")}


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.functions.verify import content_fingerprint

    spark, tracer, ops = ctx.spark, ctx.tracer, Ops()
    n_docs, n_files = sizes(ctx.scale)
    cycles = plan(ctx.seconds)
    n_cycles = WARMUP_CYCLES + cycles

    # inputs, materialized before anything is timed
    source_lazy, end = cdc_frames(spark, ctx.seed, n_docs)
    source = spark.createDataFrame(source_lazy.collect(), source_lazy.schema)
    source_rows = source.count()
    # updates keep n_tok, so the rows below the first inserted id carry the
    # pristine table's tokens
    old = F.col("doc_id") < F.format_string("doc-%012d", F.lit(n_docs))
    agg = end.agg(
        F.sum("n_tok").alias("t"),
        F.sum(logical_bytes_col()).alias("b"),
        F.sum(F.when(old, F.col("n_tok"))).alias("t0"),
    ).first()
    end_tokens, end_bytes, before_tokens = int(agg["t"]), int(agg["b"]), int(agg["t0"])
    points, ranges = pick_reads(
        ctx.seed, n_docs, POINTS_PER_CYCLE * n_cycles, RANGES_PER_CYCLE * n_cycles
    )
    want_point, want_range = read_answers(spark, ctx.seed, n_docs, points, ranges)
    expect = {"after": content_fingerprint(end), "point": want_point, "range": want_range}
    lookups = [
        (points[c * POINTS_PER_CYCLE:(c + 1) * POINTS_PER_CYCLE],
         ranges[c * RANGES_PER_CYCLE:(c + 1) * RANGES_PER_CYCLE])
        for c in range(n_cycles)
    ]

    setup_s = []
    for rep in range(SETUP_REPEATS):
        if rep:
            shutil.rmtree(pristine.root)
        t0 = time.perf_counter()
        with tracer.span("setup"):
            pristine = build(spark, ctx.run.path(f"pristine{rep}"), ctx.seed, n_docs, n_files)
        setup_s.append(time.perf_counter() - t0)
    files_before = len(pristine.snapshot().files)
    expect["before"] = content_fingerprint(pristine.snapshot().scan(spark))

    # the first cycles run on a cold JVM and are slower: not reported
    with tracer.span("warmup"):
        for c in range(WARMUP_CYCLES):
            _cycle(spark, pristine, ctx.run.path("cycle"), source, tracer, ops, expect,
                   lookups[c], _new_out())
    out = _new_out()
    for c in range(WARMUP_CYCLES, n_cycles):
        with tracer.span("cycle"):
            _cycle(spark, pristine, ctx.run.path("cycle"), source, tracer, ops, expect,
                   lookups[c], out)

    om, mm = out["optimize"][-1], out["merge"][-1]
    return {
        "ops": ops,
        "metrics": {
            "setup_s": median(setup_s),
            "op_p50_s": median(out["cycle_s"]),
            "tokens_per_s": before_tokens * cycles / sum(out["optimize_s"]),
            "lookup_p50_s": median(out["lookup_s"]),
            "scan_tokens_per_s": (before_tokens + end_tokens) * cycles / sum(out["scan_s"]),
            "kdi_scan_tokens_per_s": (before_tokens + end_tokens) * cycles / sum(out["kdi_s"]),
            "write_bytes_per_user_byte": median(out["written_bytes"]) / end_bytes,
        },
        "samples": {k: out[k] for k in ("cycle_s", "optimize_s", "merge_s", "scan_s",
                                        "kdi_s", "lookup_s", "range_s")}
        | {"setup_s": setup_s},
        "info": {"cycles": cycles, "docs": n_docs, "files_before": files_before,
                 "files_clustered": om["files_written"], "source_rows": source_rows,
                 "merge_p50_s": median(out["merge_s"]),
                 "lookup_p75_s": percentile(out["lookup_s"], 75),
                 "range_p50_s": median(out["range_s"])},
        "layer": {
            **{f"maintenance.optimize.{k}": median([o[k] for o in out["optimize"]])
               for k in ("bounds_s", "write_s", "stats_s", "commit_s")},
            "maintenance.optimize.files_rewritten": om["files_rewritten"],
            "maintenance.optimize.files_written": om["files_written"],
            "maintenance.merge.touched_files": mm["touched_files"],
            "maintenance.merge.untouched_files": mm["untouched_files"],
            "maintenance.merge.rows_written_per_source_row": mm["rows_written"] / source_rows,
            "maintenance.gc.deleted": median(out["gc_deleted"]),
        },
    }
