"""Dead-letter queue (/root/reference/src/dead_letters.rs).

DeadLetter schema mirrors the reference struct exactly
(dead_letters.rs:27-38): ``base64_bytes`` (deserialization failures),
``json_string`` (transform/write failures), ``error``, ``timestamp``
(micros), plus the ``date`` partition the DeltaSinkDeadLetterQueue derives
via ``substr(epoch_micros_to_iso8601(timestamp), 0, 10)``
(dead_letters.rs:248-260).

The reference quarantines row-by-row on parquet-write errors
(src/writer.rs:617-637). The Spark-native equivalent is a vectorized
predicate split: rows whose coercion produced errors go to the DLQ branch,
the rest to the data branch — two filters over one plan, no Python. The
split itself caches nothing: a caller that runs both branches (the ingest
pipeline) persists the coerced input first, so the parse runs once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_delta_ingest_spark.functions.scalars import (
    epoch_micros_to_iso8601,
    substr0,
)

DEAD_LETTER_SCHEMA = T.StructType(
    [
        T.StructField("base64_bytes", T.StringType(), True),
        T.StructField("json_string", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)


def is_dead_letter(error_col: str = "_coercion_errors") -> Column:
    """True for a ``coerce_json`` row that belongs in the dead-letter queue."""
    return F.size(F.col(error_col)) > 0


def split_dead_letters(
    coerced: DataFrame,
    error_col: str = "_coercion_errors",
    raw_col: str = "_raw",
) -> tuple[DataFrame, DataFrame]:
    """Split a ``coerce_json`` output into (good_rows, dead_letters).

    good_rows keep the typed schema columns (error/raw dropped);
    dead_letters carry the reference DeadLetter schema."""
    is_dead = is_dead_letter(error_col)
    good = coerced.where(~is_dead).drop(error_col, raw_col)

    is_deser = F.array_contains(F.col(error_col), "deserialization")
    dead = coerced.where(is_dead).select(
        F.when(is_deser, F.base64(F.col(raw_col).cast("binary"))).alias("base64_bytes"),
        F.when(~is_deser, F.col(raw_col)).alias("json_string"),
        F.concat_ws(
            ",",
            F.transform(
                F.col(error_col), lambda e: F.concat(F.lit("coercion failed: "), e)
            ),
        ).alias("error"),
        F.current_timestamp().alias("timestamp"),
    )
    dead = dead.withColumn(
        "date",
        substr0(epoch_micros_to_iso8601(F.unix_micros(F.col("timestamp"))), 0, 10),
    )
    return good, dead
