"""Similarity search over embedding columns (``array<float>``).

- ``cosine_sim``: pure ``F.zip_with``/``F.aggregate`` expression — JVM
  vectorized, no Python, and directly mirrored by DuckDB's
  ``list_cosine_similarity`` in the oracle.
- ``ann_bruteforce``: exact top-k; queries are **broadcast** so the corpus
  never shuffles — the right baseline plan at any corpus size.
- ``ann_lsh``: random-hyperplane LSH buckets (deterministic planes from a
  seeded LCG, computed as SQL literals — no Python at run time); candidates
  only within matching buckets across ``n_tables`` hash tables, then exact
  re-rank. The scale path: shuffle is per-bucket, corpus scanned once.
- ``ivf_topk``: inverted-file (IVF) ANN — the other classic scale path.
  Centroids are a deterministic sample; every corpus vector is assigned to
  its nearest centroid by a single JVM expression (no shuffle), queries
  probe their ``n_probe`` nearest cells, and the exact re-rank runs only
  inside probed cells. At warehouse scale the assignment column becomes a
  partition key of a persisted index table, so a probe is partition
  pruning — cells/``n_probe`` of the corpus is never read at all.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.operators.spread import (
    MIN_BYTES_MILD,
    spread_small_input,
)


# --- SQL-text builders for constant-vector math -------------------------
#
# Building K×d-literal expressions through the Column API costs a py4j
# round-trip per F.lit and several per HOF lambda — measured ~13 s of
# driver time to CONSTRUCT the 16-centroid IVF query (execution: 1.7 s).
# Emitting the same expressions as SQL text parsed JVM-side by ONE
# F.expr call removes that entirely. Python ``repr`` of a double is its
# shortest exact round-trip form, so parsed literals are bit-identical.
#
# Expression SIZE is the lever that matters, in both directions:
# index-unrolled arithmetic chains (``v[0]*c0 + v[1]*c1 + …``) were
# measured and REJECTED — a 16-centroid×64-dim chain emits a >64 KB
# codegen method, Janino refuses it, and the whole stage drops to
# interpreted mode (slower than the HOF form it replaced). The fast
# shape is the opposite: ONE higher-order function over an
# array-of-arrays literal (_cell_structs below) — the literal carries
# the K×d constants compactly, the lambda body is constant-size, parse
# cost is ~0.5 s instead of ~3 s, and codegen stays on for the rest of
# the stage. All folds keep the 0.0D seed + left-associative order, so
# results are bit-identical across every formulation (and match the
# oracle's list_cosine_similarity / list_dot_product, which also fold
# left-to-right).

def _arr_sql(xs: list[float]) -> str:
    return "array(" + ",".join(repr(float(x)) + "D" for x in xs) + ")"


def _cast_vec_sql(col_name: str) -> str:
    return f"CAST(`{col_name}` AS ARRAY<DOUBLE>)"


def _dot_sql(vec_sql: str, arr_sql: str) -> str:
    return (
        f"aggregate(zip_with({vec_sql}, {arr_sql}, (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _norm_sql(vec_sql: str) -> str:
    return f"sqrt(aggregate({vec_sql}, 0.0D, (acc, v) -> acc + v * v))"


def _elem_sql(col_name: str, i: int) -> str:
    return f"CAST(`{col_name}`[{i}] AS DOUBLE)"


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def ann_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Queries broadcast; one corpus scan."""
    j = corpus.crossJoin(F.broadcast(queries))
    scored = j.select(
        F.col(q_id),
        F.col(c_id),
        cosine_sim(
            F.col(q_vec).cast("array<double>"), F.col(c_vec).cast("array<double>")
        ).alias("cos"),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cos"), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes via an LCG + Box-Muller —
    reproducible across runs/cluster sizes, no numpy state."""
    state = seed or 1
    out = []

    def nxt() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return (state >> 11) / float(1 << 52)  # uniform [0,1)

    for _ in range(n_planes):
        plane = []
        for _ in range(dim):
            u1, u2 = max(nxt(), 1e-12), nxt()
            plane.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2))
        out.append(plane)
    return out


def lsh_bucket(vec_name: str, planes: list[list[float]]) -> Column:
    """Sign-of-dot-product bit per plane, packed into one long. The whole
    bucket is ONE F.expr (see SQL-text builders above)."""
    v = _cast_vec_sql(vec_name)
    bits = " + ".join(
        f"(CASE WHEN {_dot_sql(v, _arr_sql(p))} >= 0 THEN {1 << i}L ELSE 0L END)"
        for i, p in enumerate(planes)
    )
    return F.expr(f"({bits})")


def ann_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact re-rank within the union of LSH buckets the
    query falls into across ``n_tables`` independent tables."""
    c_buckets, q_buckets = [], []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=42 + 1000 * t)
        c_buckets.append(F.xxhash64(F.lit(t), lsh_bucket(c_vec, planes)))
        q_buckets.append(F.xxhash64(F.lit(t), lsh_bucket(q_vec, planes)))
    corpus_b = corpus.select(
        F.col(c_id), F.col(c_vec), F.explode(F.array(*c_buckets)).alias("_bucket")
    )
    queries_b = queries.select(
        F.col(q_id), F.col(q_vec), F.explode(F.array(*q_buckets)).alias("_bucket")
    )
    cand = corpus_b.join(F.broadcast(queries_b), "_bucket").dropDuplicates([q_id, c_id])
    scored = cand.select(
        F.col(q_id),
        F.col(c_id),
        cosine_sim(
            F.col(q_vec).cast("array<double>"), F.col(c_vec).cast("array<double>")
        ).alias("cos"),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cos"), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cos", "rank")
    )


def _sample_centroids(
    corpus: DataFrame, n_centroids: int, c_id: str, c_vec: str
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid sample: the ``n_centroids`` corpus vectors
    with the smallest ``md5(id)`` — a seeded uniform draw that any engine
    (and the DuckDB oracle) reproduces exactly. K-means would sharpen cell
    balance but adds nothing to the plan shape; centroid *training* is a
    driver-side concern in every IVF system (FAISS trains on a sample too).
    The collect is n_centroids × dim floats — metadata-sized."""
    rows = (
        corpus.select(F.col(c_id), F.col(c_vec))
        .orderBy(F.md5(F.col(c_id).cast("string")), F.col(c_id))
        .limit(n_centroids)
        .collect()
    )
    return [(r[0], [float(x) for x in r[1]]) for r in rows]


def _cell_structs(
    vec_name: str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Array of ``struct(sim, -cid)`` per centroid. ``array_max`` over it =
    argmax by cosine with ties to the SMALLEST centroid id (max of -cid),
    mirroring the oracle's ``ORDER BY sim DESC, cid``. Pure JVM expression:
    assignment needs no join and no shuffle — O(K·d) multiply-adds per
    row.

    Compact form: the K centroid vectors travel as ONE array-of-arrays
    literal and the cosine is a constant-size lambda body zip_with'd over
    it — ~20 KB of SQL text instead of ~100 KB of per-centroid expansion
    (which cost ~3 s of parse per call and tripped Janino's 64 KB method
    limit, disabling whole-stage codegen for the stage). Every fold keeps
    the 0.0D seed + left-associative order of the expanded form, so the
    sims are bit-identical and the green oracles are unaffected."""
    carr = (
        "array("
        + ",".join(_arr_sql(cv) for _, cv in centroids)
        + ")"
    )
    negids = "array(" + ",".join(f"{-int(cid)}L" for cid, _ in centroids) + ")"
    v = _cast_vec_sql(vec_name)
    cos = (
        f"(aggregate(zip_with({v}, c, (x, y) -> x * y), 0.0D, "
        f"(acc, t) -> acc + t) / ({_norm_sql(v)} * {_norm_sql('c')}))"
    )
    return F.expr(
        f"zip_with({carr}, {negids}, (c, negc) -> "
        f"named_struct('sim', {cos}, 'negc', negc))"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact cosine re-rank inside the ``n_probe``
    cells nearest each query. ``centroids`` overrides the deterministic
    sample — pass ``kmeans_centroids(...)`` for trained cells.

    Plan: corpus→cell assignment is one codegen expression (no shuffle);
    probes explode from an ``array_sort`` slice on the tiny query side;
    the only join is a broadcast equi-join on ``_cell``. Each corpus row
    has exactly ONE cell (unlike multi-table LSH), so (q_id, c_id)
    candidate pairs are unique by construction — no dedup aggregate at
    all. With ``n_probe == n_centroids`` this degrades gracefully to the
    exact brute-force result (asserted in pytest).

    At 100-TB scale the assignment column is written as a partition key
    (``df.withColumn("_cell", ...).write.partitionBy("_cell")``) once, and
    every probe after that is partition pruning — reading ``n_probe/K`` of
    the corpus. This function expresses the same logical plan over an
    unmaterialized index."""
    # spread before the per-row K×d assignment + re-rank (r6 §1: one-split
    # corpus serialized assignment AND the probed-cell scoring)
    corpus = spread_small_input(corpus, c_id, MIN_BYTES_MILD)
    cents = centroids or _sample_centroids(corpus, n_centroids, c_id, c_vec)

    # per-VECTOR double cast + norm (bit-identical cosines — see semdedup)
    corpus_a = corpus.select(
        F.col(c_id),
        F.col(c_vec).cast("array<double>").alias("_vcd"),
        (-F.array_max(_cell_structs(c_vec, cents))["negc"]).alias("_cell"),
    ).withColumn("_nc", norm(F.col("_vcd")))
    # top-n_probe cells per query: sort the K-struct array ascending
    # (sim, -cid), reverse → sim DESC then cid ASC, slice, explode
    probes = queries.select(
        F.col(q_id),
        F.col(q_vec),
        F.explode(
            F.slice(
                F.reverse(F.array_sort(_cell_structs(q_vec, cents))),
                1,
                n_probe,
            )
        ).alias("_p"),
    ).select(
        F.col(q_id),
        F.col(q_vec).cast("array<double>").alias("_vqd"),
        (-F.col("_p.negc")).alias("_cell"),
    ).withColumn("_nq", norm(F.col("_vqd")))

    cand = corpus_a.join(F.broadcast(probes), "_cell")
    # cos = dot(q,c)/(norm(q)*norm(c)) — identical operand order to the
    # per-pair cosine_sim form, norms now computed once per vector
    scored = cand.select(
        F.col(q_id),
        F.col(c_id),
        (dot(F.col("_vqd"), F.col("_vcd")) / (F.col("_nq") * F.col("_nc"))).alias(
            "cos"
        ),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cos"), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cos", "rank")
    )


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd k-means over the corpus, orchestrated the way every
    distributed k-means is (MLlib included): per iteration, ONE job —
    assignment is the same no-shuffle codegen expression the IVF index
    uses, the element-wise mean is one hash aggregation with ``dim``
    per-component sum columns (NOT a posexplode: a generator re-evaluates
    the K-centroid assignment expression per emitted component row — a
    dim× recompute measured at 24 s/iteration vs ~1 s for the flat agg),
    and only the k×dim means cross to the driver.
    Init = the deterministic md5 sample, so results are reproducible at
    any parallelism. Cells that lose all members keep their previous
    centroid. Returns (centroid_id, vector) with ids 0..k-1.

    The element-wise mean is EXACT and engine-independent: components are
    quantized with ``floor(x * 1e6)`` (an IEEE-exact operation — no
    rounding-mode ambiguity, unlike double→decimal casts whose half-way
    rule differs between Spark's HALF_UP and DuckDB's banker's rounding),
    summed as integers (order-free), and the mean is one double division.
    Any engine replaying the same arithmetic — the DuckDB oracle unrolls
    both Lloyd iterations in SQL — reproduces the centroids bit-for-bit,
    so the trained-IVF query is value-hash checked, not rows-only."""
    # spread before the per-row assignment expression: every Lloyd
    # iteration evaluates K×d multiply-adds per vector, and a one-split
    # scan serializes ALL iterations on one core (r6: the 10× corpus ran
    # kmeans 8.6 s single-task). The quantized integer component sums are
    # order-free BY DESIGN (docstring above), so any partitioning yields
    # bit-identical centroids — this exchange cannot move the result.
    df = spread_small_input(df, c_id, MIN_BYTES_MILD)
    cents = [
        (i, cv)
        for i, (_, cv) in enumerate(
            _sample_centroids(df, n_centroids, c_id, c_vec)
        )
    ]
    dim = len(cents[0][1])
    for _ in range(iters):
        assigned = df.select(
            (-F.array_max(_cell_structs(c_vec, cents))["negc"]).alias("_cell"),
            F.col(c_vec),
        )
        rows = (
            assigned.groupBy("_cell")
            .agg(
                # decimal(38,0) sums: exact and ANSI-overflow-proof at any
                # corpus size (quantized components are ~1e6-magnitude longs)
                *[
                    F.sum(
                        F.floor(
                            F.expr(_elem_sql(c_vec, i)) * F.lit(1000000.0)
                        ).cast("decimal(38,0)")
                    ).alias(f"_s{i}")
                    for i in range(dim)
                ],
                F.count("*").alias("_c"),
            )
            .collect()
        )
        means: dict[int, list[float]] = {
            int(r["_cell"]): [
                float(r[f"_s{i}"]) / float(r["_c"]) / 1000000.0
                for i in range(dim)
            ]
            for r in rows
        }
        cents = [(cid, means.get(cid, cv)) for cid, cv in cents]
    return cents


def ivf_write_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF index: one pass assigning every vector to its
    nearest centroid, written as parquet PARTITIONED BY the cell id, with
    the centroids saved next to it. This is the 100-TB shape: the index
    build is a single embarrassingly-parallel scan+write, and every
    subsequent probe is partition PRUNING — Spark never opens the other
    ``(K - n_probe)/K`` of the files (asserted on the plan in pytest)."""
    import json
    import os

    cents = _sample_centroids(df, n_centroids, c_id, c_vec)
    (
        df.select(
            F.col(c_id),
            F.col(c_vec),
            (-F.array_max(_cell_structs(c_vec, cents))["negc"]).alias("_cell"),
        )
        .write.partitionBy("_cell")
        .mode("overwrite")
        .parquet(path)
    )
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as f:
        json.dump([[cid, cv] for cid, cv in cents], f)
    return cents


def _probe_cells(q: list[float], cents: list[tuple[int, list[float]]], n_probe: int) -> list[int]:
    """Driver-side probe-cell selection for a collected query vector.
    Sequential Python float ops are IEEE double in the same order as the
    JVM aggregate fold, so this ranks cells identically to _cell_structs."""
    import math

    sims = []
    for cid, cv in cents:
        d = 0.0
        for x, y in zip(q, cv):
            d += x * y
        nq = 0.0
        for x in q:
            nq += x * x
        nc = 0.0
        for y in cv:
            nc += y * y
        sims.append((d / (math.sqrt(nq) * math.sqrt(nc)), -cid))
    sims.sort(reverse=True)
    return [-negc for _, negc in sims[:n_probe]]


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Serve top-k from a materialized IVF index with partition pruning.

    The query set collects to the driver (ANN serving: queries are
    request-sized, never corpus-sized); their probe cells become a
    LITERAL ``_cell IN (...)`` predicate, which parquet partition
    discovery prunes BEFORE any file is opened. The exact re-rank then
    runs only over the probed partitions. ``max_queries`` guards the
    collect: a corpus-sized query frame is a caller bug — batch-score
    with ``ivf_topk`` instead of the serving path."""
    import json
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as f:
        cents = [(int(cid), [float(x) for x in cv]) for cid, cv in json.load(f)]
    qrows = queries.select(q_id, q_vec).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"ivf_search_index collects queries to the driver; got more "
            f"than max_queries={max_queries} rows — this serving path is "
            f"for request-sized query sets (use ivf_topk for batch scoring, "
            f"or raise max_queries deliberately)"
        )
    pairs = []  # (query id, probed cell)
    all_cells = set()
    for r in qrows:
        cells = _probe_cells([float(x) for x in r[1]], cents, n_probe)
        all_cells.update(cells)
        pairs.extend((r[0], c) for c in cells)
    from pyspark.sql import types as T

    qid_type = queries.schema[q_id].dataType
    pair_schema = T.StructType(
        [
            T.StructField(q_id, qid_type, False),
            T.StructField("_cell", T.LongType(), False),
        ]
    )
    probe_df = F.broadcast(
        spark.createDataFrame(pairs, pair_schema).join(F.broadcast(queries), q_id)
    )
    idx = spark.read.parquet(path).where(
        F.col("_cell").isin([int(c) for c in sorted(all_cells)])
    )
    scored = idx.join(probe_df, "_cell").select(
        F.col(q_id),
        F.col(c_id),
        cosine_sim(
            F.col(q_vec).cast("array<double>"), F.col(c_vec).cast("array<double>")
        ).alias("cos"),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cos"), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cos", "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, candidates
    from LSH self-buckets (high-threshold dedup: near-identical vectors
    collide in nearly all tables)."""
    # spread first: bucket hashing is n_tables×n_planes dot products per
    # row and the bucket self-join + per-pair scoring amplify from there —
    # all single-sourced on a one-split scan otherwise (r6 §1)
    df = spread_small_input(df, id_col, MIN_BYTES_MILD)
    buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=99 + 1000 * t)
        buckets.append(F.xxhash64(F.lit(t), lsh_bucket(vec_col, planes)))
    # candidates carry ONLY ids: deduping (id_a, id_b) with the vectors
    # attached would need first(array) aggregates, whose immutable buffers
    # degrade the whole dedup to SortAggregate (and push the vectors
    # through the exchange). Vectors re-attach via two hash joins after.
    b = df.select(F.col(id_col), F.explode(F.array(*buckets)).alias("_bucket"))
    cand = (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l._bucket") == F.col("r._bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # per-VECTOR double cast + norm instead of per-pair — identical
    # left-folded operand trees, bit-identical cosines (see semdedup)
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("_va"),
    ).withColumn("_na", norm(F.col("_va")))
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
    ).withColumn("_nb", norm(F.col("_vb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos",
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dups_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 20,
) -> DataFrame:
    """Exact top-k most-similar embedding pairs (id_a < id_b) by cosine.

    The exactness baseline for ``embedding_near_dups``: brute-force
    all-pairs, so O(n²) dot products — run it on samples or small corpora
    to measure the LSH variant's recall; the LSH path is the scale path.
    One side is broadcast, so the corpus partitioning never shuffles; ties
    broken by (id_a, id_b) for a fully deterministic result.

    Two per-task-work notes (guide §1.2 step 2): the stream side is spread
    to session parallelism first — the broadcast join amplifies each
    stream row |corpus| times before any exchange, so a one-split scan
    serialized all O(n²) scoring on one core (measured 24 s → ~2 s at
    sf0.1/local[32]); and each side's norm is computed once per VECTOR as
    a column instead of once per pair inside ``cosine_sim`` — same
    left-folded double arithmetic, so the cosines are bit-identical, but
    the O(n²) stage drops from 3 array folds per pair to 1."""
    from kafka_delta_ingest_spark.operators.spread import spread_small_input

    l = spread_small_input(df, id_col).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("_va"),
    ).withColumn("_na", norm(F.col("_va")))
    r = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
    ).withColumn("_nb", norm(F.col("_vb")))
    pairs = l.join(F.broadcast(r), F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a",
        "id_b",
        (dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias(
            "cos"
        ),
    )
    return scored.orderBy(F.desc("cos"), "id_a", "id_b").limit(k)


def semdedup(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    threshold: float = 0.35,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus. K-means clustering bounds the
    otherwise-O(n²) pairwise cosine search to within-cluster blocks; inside
    each cluster, a vector is PRUNED when its cosine to any smaller-id
    cluster-mate exceeds ``threshold`` (keeper = min id — deterministic,
    so any engine replays the verdicts exactly).

    Scale shape: cell assignment is the same no-shuffle whole-stage-codegen
    expression the IVF index uses; the only shuffle is the per-cell
    self-join, whose work is Σ|cell|² — with k ∝ √N cells (the paper's
    regime) block pairwise cost stays near-linear, and a skewed cell is
    bounded by k-means balance rather than corpus size. At 100 TB the
    assignment column doubles as the partition key of the materialized
    index (ivf_write_index), so the self-join is partition-local.

    Returns one row per input vector: (``c_id``, cell, kept)."""
    # spread before assignment + the within-cell self-join: the O(Σ|cell|²)
    # pairwise stage otherwise inherits the one-split scan width (r6: 30 s
    # single-sourced at the 10× corpus)
    df = spread_small_input(df, c_id, MIN_BYTES_MILD)
    cents = centroids or kmeans_centroids(
        df, n_centroids=n_centroids, iters=iters, c_id=c_id, c_vec=c_vec
    )
    assigned = df.select(
        F.col(c_id),
        F.col(c_vec),
        (-F.array_max(_cell_structs(c_vec, cents))["negc"]).alias("cell"),
    )
    # per-VECTOR double cast + norm instead of per-pair (r6, same change as
    # embedding_near_dups_exact): cos = dot(a,b)/(norm(a)*norm(b)) with the
    # identical left-folded operand trees, so every cosine double — and the
    # > threshold verdict — is bit-identical to the per-pair form; the
    # O(|cell|²) stage drops from 3 array folds + 2 array casts per pair to
    # 1 fold.
    l = assigned.select(
        F.col(c_id).alias("_ida"),
        F.col(c_vec).cast("array<double>").alias("_va"),
        "cell",
    ).withColumn("_na", norm(F.col("_va")))
    r = assigned.select(
        F.col(c_id).alias("_idb"),
        F.col(c_vec).cast("array<double>").alias("_vb"),
        "cell",
    ).withColumn("_nb", norm(F.col("_vb")))
    pruned = (
        l.join(r, "cell")
        .where(F.col("_ida") < F.col("_idb"))
        .where(
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
            > threshold
        )
        .select(F.col("_idb").alias(c_id))
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    return assigned.join(pruned, c_id, "left").select(
        F.col(c_id),
        "cell",
        F.coalesce(~F.col("_pruned"), F.lit(True)).alias("kept"),
    )


# ----------------------------------------------------------- product
# quantization (Jégou et al. 2011) — the ANN path that actually fits
# 10^12 vectors in memory: a 64-dim float vector (256 B) compresses to m
# sub-codes (m bytes at k<=256), distances are approximated from the
# codes alone, and only a small re-rank candidate set ever touches the
# original vectors.


def _slice_sql(col_name: str, start0: int, length: int) -> str:
    """1-based slice of the double-cast vector (subspace projection)."""
    return f"slice({_cast_vec_sql(col_name)}, {start0 + 1}, {length})"


def _l2_structs(vec_sql: str, centroids: list[tuple[int, list[float]]]) -> Column:
    """Array of ``struct(negd2, negc)`` per centroid: ``array_max`` picks
    the NEAREST centroid by squared L2 (max of -d2), ties to the smallest
    centroid id — mirrors the oracle's ``ORDER BY d2, cid``. Same compact
    array-of-arrays literal shape as the cosine version (_cell_structs)."""
    carr = "array(" + ",".join(_arr_sql(cv) for _, cv in centroids) + ")"
    negids = "array(" + ",".join(f"{-int(cid)}L" for cid, _ in centroids) + ")"
    d2 = (
        f"aggregate(zip_with({vec_sql}, c, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, t) -> acc + t)"
    )
    return F.expr(
        f"zip_with({carr}, {negids}, (c, negc) -> "
        f"named_struct('negd2', -({d2}), 'negc', negc))"
    )


def _pq_code_cols(
    codebooks: list[list[tuple[int, list[float]]]], c_vec: str
) -> list[Column]:
    """Per-subspace nearest-centroid code expressions — ONE definition
    shared by pq_encode and ivf_pq_topk so the L2 argmin + tie-break can
    never drift apart."""
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    return [
        (-F.array_max(
            _l2_structs(_slice_sql(c_vec, s * dsub, dsub), codebooks[s])
        )["negc"]).cast("int").alias(f"_c{s}")
        for s in range(m)
    ]


def _adc_expr(
    codebooks: list[list[tuple[int, list[float]]]], q_vec: str
) -> Column:
    """The ADC inner-product sum over a ``codes`` array column — shared
    by pq_topk and ivf_pq_topk (same fold shape and left-assoc term
    order, so oracle bit-identity holds for both)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    terms = []
    for s in range(m):
        carr = "array(" + ",".join(_arr_sql(cv) for _, cv in codebooks[s]) + ")"
        qslice = _slice_sql(q_vec, s * dsub, dsub)
        terms.append(
            f"(aggregate(zip_with({qslice}, element_at({carr}, codes[{s}] + 1), "
            f"(x, y) -> x * y), 0.0D, (acc, t) -> acc + t))"
        )
    return F.expr(" + ".join(terms))


def _exact_rerank(
    cands: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    q_id: str,
    q_vec: str,
    c_id: str,
    c_vec: str,
) -> DataFrame:
    """Refine ADC candidates with exact cosine on the original vectors —
    the only PQ stage that touches floats (shared by pq_topk and
    ivf_pq_topk)."""
    refined = (
        cands.join(corpus.select(c_id, c_vec), c_id)
        .join(F.broadcast(queries.select(q_id, q_vec)), q_id)
        .select(
            F.col(q_id),
            F.col(c_id),
            cosine_sim(
                F.col(q_vec).cast("array<double>"),
                F.col(c_vec).cast("array<double>"),
            ).alias("cos"),
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cos"), F.col(c_id))
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cos", "rank")
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 8,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """One codebook per subspace: the k deterministic md5-sampled corpus
    vectors (same seeded draw as the IVF centroids — reproducible at any
    parallelism, replayable by the oracle), sliced per subspace. Lloyd
    refinement per subspace is a drop-in (kmeans_centroids on the sliced
    frame) exactly as ivf_topk_trained does for IVF cells."""
    sampled = _sample_centroids(corpus, k, c_id, c_vec)
    dim = len(sampled[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    return [
        [
            (i, cv[sub * dsub : (sub + 1) * dsub])
            for i, (_, cv) in enumerate(sampled)
        ]
        for sub in range(m)
    ]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` nearest-subspace-centroid codes —
    ONE codegen expression per subspace, no shuffle, no Python. At scale
    this is the materialized index write (codes parquet is ~dim·4/m×
    smaller than the vectors)."""
    m = len(codebooks)
    # spread: encoding is m×k×dsub L2 folds per row, single-sourced on a
    # one-split scan otherwise (r6 §1)
    corpus = spread_small_input(corpus, c_id, MIN_BYTES_MILD)
    cols = _pq_code_cols(codebooks, c_vec)
    return corpus.select(F.col(c_id), *cols).select(
        F.col(c_id), F.array(*[F.col(f"_c{s}") for s in range(m)]).alias("codes")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 4,
    k_cb: int = 8,
    rerank: int = 0,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k by inner product (MIPS):
    ``score(q, x) ~= sum_sub dot(q_sub, codebook[sub][code_sub(x)])`` —
    the query stays full-precision, the corpus contributes only its
    codes, so the scoring scan reads m ints per vector instead of dim
    floats. ``rerank=R > 0`` refines: top-R by ADC, then exact cosine on
    the original vectors for those candidates only (the IVF-PQ refine
    step; at 10^12 vectors this is the only stage that touches floats).

    Plan: encode = per-subspace codegen argmin (no shuffle); scoring =
    broadcast the (small) query side over the codes, ADC as element_at
    into the codebook literal + one fold per subspace; ranking = one
    window per query. Everything JVM-side."""
    cbs = codebooks or pq_codebooks(corpus, m=m, k=k_cb, c_id=c_id, c_vec=c_vec)
    codes = pq_encode(corpus, cbs, c_id=c_id, c_vec=c_vec)

    cand = codes.join(F.broadcast(queries), how="cross")
    scored = cand.select(
        F.col(q_id), F.col(c_id), _adc_expr(cbs, q_vec).alias("adc")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("adc"), F.col(c_id))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return ranked.where(F.col("rank") <= k).select(q_id, c_id, "adc", "rank")
    cands = ranked.where(F.col("rank") <= rerank).select(q_id, c_id)
    return _exact_rerank(
        cands, corpus, queries, k, q_id, q_vec, c_id, c_vec
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    k_cb: int = 8,
    rerank: int = 0,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """IVF-PQ: the composition that actually serves ANN at 10^12 vectors
    (FAISS's IVFx,PQy) — the IVF coarse quantizer bounds the search to
    ``n_probe`` of ``n_centroids`` cells (at scale: partition pruning of
    a cell-partitioned codes index), and within probed cells candidates
    are scored by PQ asymmetric distance from the m sub-codes alone.
    ``rerank=R`` refines the top-R with exact cosine on the original
    vectors. With ``n_probe == n_centroids`` the candidate set degrades
    gracefully to plain PQ over the whole corpus (pytest-asserted).

    Plan: cell assignment + per-subspace code assignment are codegen
    expressions on the corpus scan (no shuffle); probes broadcast; the
    only join is the broadcast equi-join on ``_cell``; ADC is a fold per
    subspace; one window per query ranks."""
    # spread: cell + code assignment are K×d and m×k×dsub folds per row,
    # single-sourced on a one-split scan otherwise (r6 §1)
    corpus = spread_small_input(corpus, c_id, MIN_BYTES_MILD)
    cents = centroids or _sample_centroids(corpus, n_centroids, c_id, c_vec)
    cbs = codebooks or pq_codebooks(corpus, m=m, k=k_cb, c_id=c_id, c_vec=c_vec)
    m = len(cbs)

    corpus_a = corpus.select(
        F.col(c_id),
        (-F.array_max(_cell_structs(c_vec, cents))["negc"]).alias("_cell"),
        *_pq_code_cols(cbs, c_vec),
    ).select(
        F.col(c_id),
        F.col("_cell"),
        F.array(*[F.col(f"_c{s}") for s in range(m)]).alias("codes"),
    )
    probes = queries.select(
        F.col(q_id),
        F.col(q_vec),
        F.explode(
            F.slice(
                F.reverse(F.array_sort(_cell_structs(q_vec, cents))), 1, n_probe
            )
        ).alias("_p"),
    ).select(F.col(q_id), F.col(q_vec), (-F.col("_p.negc")).alias("_cell"))

    cand = corpus_a.join(F.broadcast(probes), "_cell")
    scored = cand.select(
        F.col(q_id), F.col(c_id), _adc_expr(cbs, q_vec).alias("adc")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("adc"), F.col(c_id))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return ranked.where(F.col("rank") <= k).select(q_id, c_id, "adc", "rank")
    cands = ranked.where(F.col("rank") <= rerank).select(q_id, c_id)
    return _exact_rerank(
        cands, corpus, queries, k, q_id, q_vec, c_id, c_vec
    )
