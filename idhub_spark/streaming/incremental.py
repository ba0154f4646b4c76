"""Incremental-batch + Structured Streaming operators.

- incremental_file_merge: the REDCap/fragment pipeline's
  offset-checkpointed batch loop (redcap-pipeline/services/
  pipeline.py:33-122) re-expressed as a file-source stream with
  Trigger.AvailableNow + foreachBatch(merge): each micro-batch
  upserts on the natural key, so replays and late files are no-ops
  (the idempotence the reference gets from ON CONFLICT upserts).
- hourly_rollup_plan / session_agg_plan: one transformation function
  each, applied identically to a batch DataFrame or a readStream
  DataFrame — watermarking is attached only on the streaming path.

Scale notes: file-source streaming lists only new files per trigger
(checkpointed); the merge shuffles on the natural key exactly like
the batch path. Watermark bounds state: the hourly rollup keeps
open windows only within the lateness horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idhub_spark import commit
from idhub_spark.operators.merge import merge_upsert


def hourly_rollup_plan(events: DataFrame, *, watermark: str | None = None) -> DataFrame:
    """Tumbling 1-hour count/sum per event_type. Pass watermark
    (e.g. '2 hours') on the streaming path to bound state."""
    if watermark:
        events = events.withWatermark("ts", watermark)
    return events.groupBy(
        F.window("ts", "1 hour").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 1000000.0, 0).cast("bigint")).alias("value_scaled"),
    ).select(
        F.col("win.start").alias("hour"),
        "event_type",
        "n",
        (F.col("value_scaled").cast("double") / 1000000.0).alias("total_value"),
    )


def session_agg_plan(events: DataFrame, *, gap: str = "30 minutes",
                     watermark: str | None = None) -> DataFrame:
    """Session-window aggregation (F.session_window): the streaming
    twin of the batch lag/cumsum sessionizer in plans/windows_q.py."""
    if watermark:
        events = events.withWatermark("ts", watermark)
    return events.groupBy(
        F.session_window("ts", gap).alias("win"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        "user_id",
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        "n_events",
    )


def streaming_exact_dedup(
    events: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the batch exact-dedup (plans/dedup_q.py):
    keep the first occurrence of each key (e.g. a content hash) and
    drop later duplicates arriving within the watermark horizon.

    `dropDuplicatesWithinWatermark` bounds the dedup state by event
    time: a key's state is evicted once the watermark passes it, so
    state size is (arrival rate x horizon), not corpus size — the
    property that makes streaming dedup of a 100 TB/day feed feasible.
    (Plain dropDuplicates on a stream keeps ALL keys forever.)

    On a batch DataFrame this degrades to plain dropDuplicates so the
    same plan function serves both paths (the module's batch/stream
    parity convention).
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    # batch parity means FIRST occurrence, deterministically — plain
    # dropDuplicates keeps a partition-dependent arbitrary row
    from pyspark.sql.window import Window

    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in events.columns if c not in key_cols and c != ts_col
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_file_merge(
    spark: SparkSession,
    *,
    staging_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: str,
    natural_key: list[str],
    table_name: str = "table",
    order_col: str | None = None,
    layout: str = "snapshot",
    n_buckets: int = 1024,
    bucket_of=None,
    evolve: str = "reject",
) -> None:
    """Consume new parquet fragments from staging_dir and upsert them
    into the table at table_dir, exactly once per file, resumable
    via checkpoint (Trigger.AvailableNow: drain-and-stop semantics —
    the reference's cron batch, minus the offset bookkeeping code).

    layout='snapshot' (default): each micro-batch rewrites the full
    table image atomically (stage + swap) — registry-scale tables.
    layout='bucketed': the table is bucket-partitioned and each
    micro-batch goes through operators/merge_into.py:
    partition_pruned_upsert — write I/O per trigger is bounded by the
    batch's touched buckets, not table size, which is what makes
    continuous ingest into a 100 TB registry feasible; the first
    batch seeds the layout via seed_bucketed_table.

    `evolve` passes through to partition_pruned_upsert: with the
    default 'reject', a staged fragment carrying a NEW column fails
    the trigger AND every checkpoint-driven replay of it (a poison
    pill); pass evolve='rewrite' to let the evolving batch widen the
    whole table once and the stream proceed.
    """
    if layout not in ("snapshot", "bucketed"):
        raise ValueError(f"layout must be snapshot|bucketed, got {layout!r}")

    def _dedupe(batch_df: DataFrame) -> DataFrame:
        # two staged files in one AvailableNow trigger can carry the
        # same key; collapse to ONE deterministic winner per key before
        # the upsert so replays stay idempotent (order_col desc when
        # given — e.g. an ingest timestamp — else all value columns
        # desc for a stable arbitrary-but-deterministic pick)
        from pyspark.sql.window import Window

        if order_col and order_col in batch_df.columns:
            order = [F.col(order_col).desc_nulls_last()]
        else:
            order = [
                F.col(c).desc_nulls_last()
                for c in batch_df.columns
                if c not in natural_key
            ] or [F.lit(1)]
        w = Window.partitionBy(*natural_key).orderBy(*order)
        return (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_df = _dedupe(batch_df)
        # through the session's Hadoop FS: table_dir may be a URI
        # (file://, hdfs://, s3a://) that os.path cannot see
        fs, jtable = commit.hadoop_fs(s, table_dir)
        table_exists = fs.exists(jtable)
        if layout == "bucketed":
            from idhub_spark.operators.merge_into import (
                partition_pruned_upsert,
                seed_bucketed_table,
            )

            if table_exists:
                partition_pruned_upsert(
                    s, table_dir, batch_df, natural_key,
                    n_buckets=n_buckets, bucket_of=bucket_of, evolve=evolve,
                )
            else:
                seed_bucketed_table(
                    batch_df, table_dir, natural_key,
                    n_buckets=n_buckets, bucket_of=bucket_of,
                )
            return
        if table_exists:
            current = s.read.parquet(table_dir)
            merged = merge_upsert(
                batch_df, current, natural_key, table_name=table_name,
                batch_id=str(batch_id),
            ).merged
        else:
            merged = batch_df
        # snapshot-replace: stage then swap (object stores: write to a
        # new prefix and flip a pointer; Delta/Iceberg: MERGE INTO)
        tmp = table_dir + f".tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        out = s.read.parquet(tmp)
        out.write.mode("overwrite").parquet(table_dir)
        fs.delete(commit.hadoop_fs(s, tmp)[1], True)

    stream = (
        spark.readStream.schema(schema)
        .parquet(staging_dir)
        .writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
