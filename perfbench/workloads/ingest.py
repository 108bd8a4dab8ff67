"""``ingest``: Kafka-style JSON micro-batches into a source-partitioned
tokens table, one ``IngestPipeline.ingest_batch`` call per batch.

Each batch holds 5,000 messages (the reference's max_messages_per_batch
default) spread over 4 partitions; about 0.5% are malformed (truncated
JSON or a non-integer ``n_tok``) and must land in the dead-letter table.
Halfway through, an already committed batch is sent again and must be a
no-op. After each batch a reader reads the whole table through
``Snapshot.scan``, looks up two of the batch's doc_ids, after every second
batch reads the table through ``kdi-table``, and reads it through
``Snapshot.scan`` once more (``perfbench/workloads/reads.py``). One client,
closed loop: the next call is made when the previous one has returned.
"""

from __future__ import annotations

import json
import random
import time

from perfbench.host import median, percentile
from perfbench.ops import Ops, logical_bytes
from perfbench.workloads import reads

BATCH_MESSAGES = 5_000
PARTITIONS = 4
MALFORMED_FRAC = 0.005
MAX_TOK = 128
VOCAB = 50_000
SOURCES = ["web", "books", "code", "wiki", "forums", "papers"]
SOURCE_WEIGHTS = [60, 20, 12, 4, 3, 1]
POINTS_PER_BATCH = 2
KDI_EVERY = 2  # batches between kdi-table reads (and after the last)
# a batch with its lookups and its share of the full reads takes ~5 s at
# local[4]; the plan is sized so the timed loop lasts about --seconds
SECONDS_PER_BATCH = 5.0
MIN_BATCHES = 4
SETUP_REPEATS = 3
# metadata-only versions the table starts with, so the timed batches write
# the version-10 checkpoint mid-run and later snapshots replay from it
HISTORY_VERSIONS = 6

MSG_SCHEMA = "value string, _partition int, _offset long"


def plan(seconds: int) -> int:
    return max(MIN_BATCHES, round(seconds / SECONDS_PER_BATCH))


def make_messages(seed: int, n_batches: int, batch_messages: int):
    """Batches of (value, _partition, _offset) tuples, plus what a correct
    ingest must commit: good and dead rows and good tokens per batch, the
    good rows' logical bytes, the last offset sent per partition, and per
    batch ``POINTS_PER_BATCH`` good rows to look up afterwards."""
    rng = random.Random(seed)
    pick_rng = random.Random(seed + 1)  # lookup targets leave the content alone
    offsets = [0] * PARTITIONS
    batches, good_per_batch, dead_per_batch, tokens_per_batch, points = [], [], [], [], []
    good_bytes = 0
    seq = 0
    for _ in range(n_batches):
        rows, good, dead, tokens, picked = [], 0, 0, 0, []
        candidates = set(pick_rng.sample(range(batch_messages), min(batch_messages, 8)))
        for k in range(batch_messages):
            p = k % PARTITIONS
            doc_id = f"doc-{seed}-{seq:09d}"
            n_tok = rng.randint(1, MAX_TOK)
            base = rng.getrandbits(31)
            toks = [(base + i * 2654435761) % VOCAB for i in range(n_tok)]
            source = rng.choices(SOURCES, SOURCE_WEIGHTS)[0]
            msg = {"doc_id": doc_id, "tokens": toks, "n_tok": n_tok, "source": source}
            if rng.random() < MALFORMED_FRAC:
                dead += 1
                if rng.random() < 0.5:
                    value = json.dumps(msg)[: rng.randint(1, 40)]  # undecodable
                else:
                    value = json.dumps({**msg, "n_tok": f"n{n_tok}"})  # uncoercible
            else:
                good += 1
                tokens += n_tok
                good_bytes += logical_bytes(doc_id, n_tok, source)
                value = json.dumps(msg)
                if k in candidates and len(picked) < POINTS_PER_BATCH:
                    picked.append((doc_id, tuple(toks), n_tok, source))
            rows.append((value, p, offsets[p]))
            offsets[p] += 1
            seq += 1
        batches.append(rows)
        good_per_batch.append(good)
        dead_per_batch.append(dead)
        tokens_per_batch.append(tokens)
        points.append(picked)
    expect = {
        "good_per_batch": good_per_batch,
        "dead_per_batch": dead_per_batch,
        "tokens_per_batch": tokens_per_batch,
        "points": points,
        "good_rows": sum(good_per_batch),
        "dead_rows": sum(dead_per_batch),
        "good_tokens": sum(tokens_per_batch),
        "good_bytes": good_bytes,
        "last_offsets": {p: offsets[p] - 1 for p in range(PARTITIONS)},
    }
    return batches, expect


def _setup(spark, root: str, dlq_root: str, batches, dlq_roots: set):
    """Create the table (with ``HISTORY_VERSIONS`` of history) and its
    dead-letter table, open the pipeline and materialize every batch in
    Spark memory."""
    from kafka_delta_ingest_spark.datagen import TOKENS_SCHEMA
    from kafka_delta_ingest_spark.ingest.dead_letters import DEAD_LETTER_SCHEMA
    from kafka_delta_ingest_spark.streaming.micro_batch import IngestPipeline
    from kafka_delta_ingest_spark.table.format import Table

    table = Table.create(root, TOKENS_SCHEMA, ["source"])
    for v in range(HISTORY_VERSIONS):
        table.set_properties({"perfbench.history": str(v)})
    dlq = Table.create(dlq_root, DEAD_LETTER_SCHEMA, ["date"])
    dlq_roots.add(dlq.root)
    pipe = IngestPipeline(table, app_id="perfbench", dlq_table=dlq)
    frames = []
    for rows in batches:
        df = spark.createDataFrame(rows, MSG_SCHEMA).cache()
        df.count()
        frames.append(df)
    return table, pipe, frames


def expected_fingerprint(frames):
    """The good rows parsed by Spark's own ``from_json`` — a path
    independent of the library's variant-based coercion."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.datagen import TOKENS_SCHEMA
    from kafka_delta_ingest_spark.functions.verify import content_fingerprint

    allm = frames[0]
    for f in frames[1:]:
        allm = allm.unionByName(f)
    parsed = allm.select(F.from_json("value", TOKENS_SCHEMA).alias("r")).select("r.*")
    good = parsed.where(
        F.col("doc_id").isNotNull() & F.col("n_tok").isNotNull() & F.col("tokens").isNotNull()
    )
    return content_fingerprint(good)


def _warmup(ctx) -> None:
    """The whole path once on a throwaway table, untimed: JSON parsing, the
    writer, the DLQ commit, a point lookup and a full read through both
    paths."""
    spark = ctx.spark
    batches, expect = make_messages(ctx.seed + 1, n_batches=1, batch_messages=400)
    table, pipe, frames = _setup(
        spark, ctx.run.path("warm", "t"), ctx.run.path("warm", "dlq"), batches, ctx.dlq_roots
    )
    want_fp = expected_fingerprint(frames)
    pipe.ingest_batch(spark, frames[0])
    frames[0].unpersist()
    ops = Ops()
    for want in expect["points"][0]:
        reads.point_lookup(spark, table, ctx.tracer, ops, want[0], want)
    reads.scan_read(spark, table, ctx.tracer, ops, want_fp, "after the warm-up batch")
    reads.kdi_read(spark, table, ctx.tracer, ops, want_fp, "after the warm-up batch")
    if ops.failed:
        raise RuntimeError(f"warm-up read back wrong results: {ops.errors}")


def run(ctx) -> dict:
    spark, tracer, ops = ctx.spark, ctx.tracer, Ops()
    n_batches = plan(ctx.seconds)
    batch_messages = max(50, int(BATCH_MESSAGES * ctx.scale))
    batches, expect = make_messages(ctx.seed, n_batches, batch_messages)
    with tracer.span("warmup"):
        _warmup(ctx)

    setup_s = []
    for rep in range(SETUP_REPEATS):
        if rep:
            for f in frames:
                f.unpersist()
        t0 = time.perf_counter()
        with tracer.span("setup"):
            table, pipe, frames = _setup(
                spark, ctx.run.path(f"t{rep}"), ctx.run.path(f"dlq{rep}"), batches, ctx.dlq_roots
            )
        setup_s.append(time.perf_counter() - t0)
    # the table's content after each batch; kdi-table reads after batch
    # KDI_EVERY, 2·KDI_EVERY, … and the last one
    want_fp = [expected_fingerprint(frames[: k + 1]) for k in range(n_batches)]
    kdi_after = sorted({*range(KDI_EVERY - 1, n_batches, KDI_EVERY), n_batches - 1})

    lat, point_s, scan_s, kdi_s = [], [], [], []
    scan_tokens = kdi_tokens = 0
    version = table.latest_version()
    replay_at = n_batches // 2
    for i, frame in enumerate(frames):
        if i == replay_at:
            with tracer.span("streaming.ingest_batch.replay"):
                m, _ = ops.timed(lambda: pipe.ingest_batch(spark, frames[i - 1]))
            ops.check(bool(m.get("skipped_all")), f"replayed batch {i - 1} was not a no-op: {m}")
            ops.check(table.latest_version() == version, "replayed batch bumped the version")
        with tracer.span("streaming.ingest_batch"):
            m, dt = ops.timed(lambda: pipe.ingest_batch(spark, frame))
        lat.append(dt)
        version += 1
        ops.check(m.get("version") == version, f"batch {i} committed {m.get('version')}")
        ops.check(m.get("rows") == expect["good_per_batch"][i], f"batch {i} rows {m.get('rows')}")
        ops.check(m.get("dead") == expect["dead_per_batch"][i], f"batch {i} dead {m.get('dead')}")
        in_table = sum(expect["tokens_per_batch"][: i + 1])
        scan_s.append(reads.scan_read(spark, table, tracer, ops, want_fp[i], f"after batch {i}"))
        for want in expect["points"][i]:
            point_s.append(reads.point_lookup(spark, table, tracer, ops, want[0], want))
        if i in kdi_after:
            kdi_s.append(reads.kdi_read(spark, table, tracer, ops, want_fp[i], f"after batch {i}"))
            kdi_tokens += in_table
        # a second sample a little later: on a shared host the speed of a
        # core changes from one second to the next
        scan_s.append(reads.scan_read(spark, table, tracer, ops, want_fp[i], f"after batch {i}"))
        scan_tokens += 2 * in_table

    snap = table.snapshot()
    ops.check(snap.num_records() == expect["good_rows"], "committed row count")
    dlq_rows = pipe.dlq_table.snapshot().num_records()
    ops.check(dlq_rows == expect["dead_rows"], "dead-letter row count")
    offsets = pipe.stored_offsets()
    ops.check(offsets == expect["last_offsets"], f"txn offsets {offsets}")
    for f in frames:
        f.unpersist()

    return {
        "ops": ops,
        "metrics": {
            "setup_s": median(setup_s),
            "op_p50_s": median(lat),
            "tokens_per_s": expect["good_tokens"] / sum(lat),
            "lookup_p50_s": median(point_s),
            "scan_tokens_per_s": scan_tokens / sum(scan_s),
            "kdi_scan_tokens_per_s": kdi_tokens / sum(kdi_s),
            "write_bytes_per_user_byte": snap.total_bytes() / expect["good_bytes"],
        },
        "samples": {"op_s": lat, "setup_s": setup_s, "lookup_s": point_s,
                    "scan_s": scan_s, "kdi_scan_s": kdi_s},
        "info": {
            "batch_p75_s": percentile(lat, 75),
            "batches": n_batches,
            "messages_per_batch": batch_messages,
            "kdi_reads_after_batches": kdi_after,
            "good_rows": expect["good_rows"],
            "dead_rows": expect["dead_rows"],
            "files": len(snap.files),
            "version": snap.version,
        },
        "layer": {"ingest.dead_letters.rows": expect["dead_rows"]},
    }
