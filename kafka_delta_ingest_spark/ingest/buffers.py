"""Batch analogue of ValueBuffers
(/root/reference/src/value_buffers.rs:14-68): per-partition offset dedupe
and high-watermark tracking.

The reference rejects ``offset <= last_offset`` per partition
(``AlreadyProcessedPartitionOffset``, value_buffers.rs:26-30) and returns
per-partition max offsets at consume time (value_buffers.rs:43-68). In
batch form:

- drop rows at-or-below the ledgered offset (anti-condition join against
  the stored txn map — broadcast, it is one row per partition);
- drop duplicate (partition, offset) pairs within the batch;
- compute the new per-partition watermark with one groupBy/max.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def dedupe_against_ledger(
    spark: SparkSession,
    df: DataFrame,
    stored_offsets: dict[int, int],
    partition_col: str = "_partition",
    offset_col: str = "_offset",
) -> tuple[DataFrame, DataFrame]:
    """Returns (fresh_rows, new_watermarks_df).

    ``stored_offsets``: {partition: last_committed_offset} from the table's
    app_txns (ref delta_helpers.rs:70-80), i.e. last_offset initialized to
    -1 for unseen partitions (value_buffers.rs:88-97)."""
    if stored_offsets:
        led = spark.createDataFrame(
            [(int(p), int(o)) for p, o in stored_offsets.items()],
            f"{partition_col} int, __last_offset long",
        )
        df = (
            df.join(F.broadcast(led), partition_col, "left")
            .where(
                F.col("__last_offset").isNull()
                | (F.col(offset_col) > F.col("__last_offset"))
            )
            .drop("__last_offset")
        )
    fresh = df.dropDuplicates([partition_col, offset_col])
    watermarks = fresh.groupBy(partition_col).agg(
        F.max(offset_col).alias("max_offset"), F.count(F.lit(1)).alias("n_rows")
    )
    return fresh, watermarks


def consumer_lag(
    high_watermarks: dict[int, int], stored_offsets: dict[int, int]
) -> dict:
    """Lag gauges — calculate_lag / buffer_lags
    (/root/reference/src/lib.rs:671-712,1350-1379): per-partition
    high_watermark - (last_offset + 1), plus total/max/min rollups."""
    lags = {
        p: max(0, hw - (stored_offsets.get(p, -1) + 1))
        for p, hw in high_watermarks.items()
    }
    vals = list(lags.values())
    return {
        "per_partition": lags,
        "total": sum(vals) if vals else 0,
        "max": max(vals) if vals else 0,
        "min": min(vals) if vals else 0,
    }


def watermarks_to_app_txns(
    watermarks: DataFrame | Iterable[Row], app_id: str
) -> dict[str, int]:
    """``{app_id-partition: max_offset}`` — the Txn action keys
    (ref delta_helpers.rs:29-40: txn_app_id_for_partition).

    ``watermarks``: rows with ``_partition`` and ``max_offset``, already
    collected or as a DataFrame to collect."""
    if isinstance(watermarks, DataFrame):
        watermarks = watermarks.collect()
    return {f"{app_id}-{r['_partition']}": int(r["max_offset"]) for r in watermarks}
