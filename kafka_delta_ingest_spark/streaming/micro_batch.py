"""The reference's main ingest loop (/root/reference/src/lib.rs:388-523)
as a Spark pipeline: deserialize → transform → coerce → buffer-dedupe →
partitioned write + DLQ side output → atomic commit with per-partition
txn offsets.

Two entry points:
- ``IngestPipeline.ingest_batch``: one micro-batch = one transaction — the
  batch analogue of complete_record_batch + complete_file
  (src/lib.rs:889-1024). Exactly-once via offset dedupe (A10) + txn
  offsets in the commit (A18); re-delivering the same batch is a no-op.
- ``start_stream_ingest``: Structured Streaming ``foreachBatch`` wrapper —
  the micro-batch trigger (processing-time, like the reference's
  allowed_latency flush, src/lib.rs:1102-1145) with our table's commit
  protocol as the sink.

One pass per batch, like the reference's parse-once-then-route loop
(src/lib.rs:326-524): the ledger dedupe, the JSON coercion and the
transforms are persisted once, and everything after reads that result —

1. one ``groupBy(_partition)`` aggregate gives the txn offsets and the
   dead-letter count (an empty result is a replay: nothing is written);
2. the good rows are staged and committed with the offsets;
3. only then are the dead letters staged and committed to the DLQ table;
4. the persisted batch is released, also when a step fails.

Input contract (the Kafka-message analogue): columns
  ``value: string`` (JSON payload), ``_partition int``, ``_offset long``,
  optional ``_topic string``, ``_ts long``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.ingest.buffers import (
    dedupe_against_ledger,
    watermarks_to_app_txns,
)
from kafka_delta_ingest_spark.ingest.coercions import coerce_json
from kafka_delta_ingest_spark.ingest.dead_letters import (
    is_dead_letter,
    split_dead_letters,
)
from kafka_delta_ingest_spark.ingest.transforms import Transformer
from kafka_delta_ingest_spark.table.format import Table, Transaction
from kafka_delta_ingest_spark.table.writer import stage_dataframe


class IngestPipeline:
    def __init__(
        self,
        table: Table,
        app_id: str,
        transforms: dict[str, str] | None = None,
        dlq_table: Table | None = None,
        metrics=None,  # kafka_delta_ingest_spark.metrics.IngestMetrics
        high_watermarks: dict[int, int] | None = None,
        upsert_key: str | list[str] | None = None,
    ):
        self.table = table
        self.app_id = app_id
        self.transformer = Transformer(transforms or {})
        self.dlq_table = dlq_table
        self.metrics = metrics
        # CDC mode: when set, each batch UPSERTS by these key columns
        # instead of appending — latest record per key wins (ordered by
        # Kafka (_partition, _offset): CDC feeds partition by key, so
        # per-key order is per-partition order), committed as new data
        # files + an equality delete of the batch's keys in the SAME
        # atomic txn as the offsets (maintenance/upsert.py) — O(batch)
        # work, the table never read
        self.upsert_key = (
            [upsert_key] if isinstance(upsert_key, str) else upsert_key
        )
        # broker high watermarks (partition → next offset to be produced),
        # from the Kafka admin/consumer API when a broker exists; without
        # them TRUE lag is unknowable and the reference-named buffer.lag.*
        # gauges are skipped rather than fed absolute positions
        self.high_watermarks = high_watermarks

    def stored_offsets(self, snap=None) -> dict[int, int]:
        """Per-partition last committed offsets from the table's app txns
        (the seek_consumer analogue, src/lib.rs:1049-1084)."""
        prefix = f"{self.app_id}-"
        if snap is None:
            snap = self.table.snapshot()
        return {
            int(k[len(prefix) :]): v
            for k, v in snap.app_txns.items()
            if k.startswith(prefix)
        }

    def ingest_batch(self, spark: SparkSession, batch: DataFrame) -> dict:
        """Process one batch of messages; returns metrics
        (IngestMetrics analogue, src/metrics.rs:24-218)."""
        t0 = time.time()
        if self.metrics:
            self.metrics.batch_started()
        snap = self.table.snapshot()

        fresh, _ = dedupe_against_ledger(spark, batch, self.stored_offsets(snap))
        meta_cols = [c for c in ("_partition", "_offset", "_topic", "_ts") if c in batch.columns]
        coerced = coerce_json(fresh, snap.schema, json_col="value", keep_cols=meta_cols)
        # every action below reads this one materialization: the dedupe
        # shuffle and the JSON parse run once per batch, not once per action
        parsed = self.transformer.apply(coerced).persist()
        try:
            return self._write_parsed(spark, snap, parsed, meta_cols, t0)
        finally:
            parsed.unpersist()

    def _write_parsed(self, spark, snap, parsed: DataFrame, meta_cols, t0) -> dict:
        # one aggregate gives both the txn offsets and the dead-letter count.
        # It reads two columns of the in-memory batch in one task: a single
        # input partition satisfies the grouping, so no shuffle and no extra
        # job (the persisted batch is still built in parallel, by its own job)
        per_partition = (
            parsed.coalesce(1)
            .groupBy("_partition")
            .agg(
                F.max("_offset").alias("max_offset"),
                F.count_if(is_dead_letter()).alias("n_dead"),
            )
            .collect()
        )
        app_txns = watermarks_to_app_txns(per_partition, self.app_id)
        if not app_txns:
            # never commit empty (ref: no empty version bumps, lib.rs:1102-1124)
            return {"rows": 0, "dead": 0, "skipped_all": True, "duration_s": time.time() - t0}
        n_dead = sum(r["n_dead"] for r in per_partition)

        good, dead = split_dead_letters(parsed)
        if self.upsert_key:
            # latest-wins within the batch BEFORE meta columns drop: a CDC
            # feed carries several versions of a key per batch; Kafka order
            # within a partition is the authority (feeds partition by key)
            from pyspark.sql import Window

            order = [
                F.col(c).desc_nulls_last()
                for c in ("_offset", "_partition")
                if c in good.columns
            ] or [F.lit(1).asc()]
            w = Window.partitionBy(*self.upsert_key).orderBy(*order)
            good = (
                good.withColumn("_kdi_rn", F.row_number().over(w))
                .where(F.col("_kdi_rn") == 1)
                .drop("_kdi_rn")
            )
        good = good.drop(*meta_cols)

        if self.metrics:
            self.metrics.delta_write_started()
        t_write = time.time()
        adds = []
        try:
            if self.upsert_key:
                from kafka_delta_ingest_spark.maintenance.upsert import upsert

                um = upsert(
                    spark, self.table, good,
                    key=self.upsert_key, app_txns=app_txns,
                )
                v = um["version"]
                n_rows, n_bytes = um["rows_upserted"], um["bytes_written"]
            else:
                # rebalance-by-partition-keys: an ingest batch arrives
                # partitioned by Kafka offsets, orthogonal to the table
                # layout — without the clustering shuffle every task
                # writes every partition value (tasks×values small files;
                # measured 960 ~3 KB files for one sf0.1 batch, 30 after)
                _, adds = stage_dataframe(
                    spark, self.table, good, snap.partition_cols, snap.schema,
                    properties=snap.properties,
                    column_mapping=snap.column_mapping,
                    layout="rebalance",
                )
                v = self.table.commit(
                    Transaction(operation="ingest", adds=adds, app_txns=app_txns),
                    expected_schema=snap.schema,
                )
                n_rows = sum(a.num_records for a in adds)
                n_bytes = sum(a.size for a in adds)
        except Exception:
            if self.metrics:
                self.metrics.delta_write_failed()
            raise
        if self.metrics:
            self.metrics.delta_write_completed(t_write)
            for a in adds:
                self.metrics.delta_file_size(a.size)
        # DLQ commits strictly AFTER the main commit: if the main commit is
        # rejected (ConflictingOffsets on a replayed batch / CAS exhaustion)
        # the dead letters must not land either, or a replay would duplicate
        # DLQ rows — the main path's exactly-once guarantee extends to the
        # side output. (A crash between the two commits re-delivers the
        # batch, whose main commit is then rejected — so at-most-once DLQ
        # loss is the worst case, matching the reference's stance that dead
        # letters are best-effort diagnostics, src/dead_letters.rs.)
        if self.dlq_table is not None and n_dead:
            dsnap = self.dlq_table.snapshot()
            _, dadds = stage_dataframe(
                spark, self.dlq_table, dead, dsnap.partition_cols, dsnap.schema,
                properties=dsnap.properties,
                column_mapping=dsnap.column_mapping,
            )
            self.dlq_table.commit(Transaction(operation="dead-letters", adds=dadds))
        if self.metrics:
            self.metrics.message_deserialized(n_rows + n_dead)
            self.metrics.message_transformed(n_rows)
            if n_dead:
                self.metrics.message_transform_failed(n_dead)
            self.metrics.message_deserialized_size(n_bytes)
            # lag gauges only with real broker high watermarks: emitting
            # committed positions under the reference's buffer.lag.* names
            # would read as monotonically growing lag on ported dashboards
            if self.high_watermarks is not None:
                from kafka_delta_ingest_spark.ingest.buffers import consumer_lag

                prefix = f"{self.app_id}-"
                stored = {
                    int(k[len(prefix):]): v for k, v in app_txns.items()
                }
                lag = consumer_lag(self.high_watermarks, stored)
                self.metrics.buffer_lag(list(lag["per_partition"].values()))
            self.metrics.batch_completed(len(adds) or 1, t0)
        return {
            "version": v,
            "rows": n_rows,
            "bytes": n_bytes,
            "dead": n_dead,
            "watermarks": app_txns,
            "duration_s": time.time() - t0,
        }


def start_stream_ingest(
    spark: SparkSession,
    stream_df: DataFrame,
    pipeline: IngestPipeline,
    checkpoint_dir: str,
    trigger_seconds: int = 10,
):
    """Structured Streaming wrapper: every micro-batch runs through the same
    exactly-once transaction path (foreachBatch + txn-offset dedupe makes
    replays after failure idempotent)."""

    def handle(batch_df: DataFrame, batch_id: int):
        pipeline.ingest_batch(spark, batch_df)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
