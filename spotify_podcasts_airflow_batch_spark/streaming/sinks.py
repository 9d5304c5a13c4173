"""Streaming sinks: micro-batch → the same idempotent daily-partition
layout the batch pipeline writes (the reference's per-day S3 prefix,
continuously).

``foreachBatch`` hands each micro-batch to the BATCH writer, so the
partition-overwrite idempotency (sinks/writers.py) carries over: a
replayed micro-batch rewrites exactly the dates it contains. Combined
with the checkpoint location this gives effectively-once file output
from an at-least-once stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    latest_per_key,
)
from spotify_podcasts_airflow_batch_spark.sinks.writers import (
    write_daily_partitioned,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import read_parquet


def stream_to_daily_parquet(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
):
    """Continuously materialize an event stream into date partitions.
    Returns the started StreamingQuery (availableNow trigger: drain
    everything pending, then stop — the cron-batch replacement mode).

    Layout is ``snapshot_date=D/batch_epoch=N``: the dynamic
    partition overwrite keys on BOTH the date and the micro-batch
    epoch, so an at-least-once replay still rewrites exactly its own
    files (idempotent), while two DIFFERENT micro-batches that touch
    the same date land side by side instead of the later one silently
    clobbering the earlier one's rows — a live stream splits every
    date across many triggers, so date-only overwrite loses data
    (caught by the E6b driver-hash promotion; the date-aligned case
    the batch writer serves is unaffected). Readers scan ``out_path``
    and see ``batch_epoch`` as one more partition column; the E6
    compaction story is the same OPTIMIZE pass the index store uses."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_daily_partitioned(
            batch_df.withColumn(
                "snapshot_date", F.col(ts_col).cast("date").cast("string")
            ).withColumn("batch_epoch", F.lit(int(epoch_id))),
            out_path,
            partition_col=["snapshot_date", "batch_epoch"],
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_latest(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    buckets: int = 16,
):
    """Maintain a compacted CURRENT-STATE table (latest row per key)
    as the stream flows — the streaming form of A8 latest_per_key and
    of the reference's daily Kaggle republish (kaggle_update_dag.py),
    which keeps only each episode's newest record.

    Parquet-native upsert mechanics (no table format available here):
    the state table is hash-bucketed on the key; each micro-batch
    reduces to its own latest-per-key delta, touches ONLY the buckets
    its keys hash into, merges with the existing rows of those buckets,
    and dynamically overwrites exactly those partitions. Work per batch
    is O(batch + affected-bucket rows), never O(state). The merged
    result is localCheckpoint-materialized before the overwrite so the
    read-modify-write never reads files it is replacing. On Delta/
    Iceberg the same function body collapses to MERGE INTO; bucketing
    here plays the role of the format's file-level pruning.
    """
    import os

    from pyspark.sql import SparkSession

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = SparkSession.getActiveSession()
        order = [F.col(ts_col).desc(), F.col(tiebreak_col).desc()]
        delta = latest_per_key(batch_df, [key_col], order).withColumn(
            "__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(buckets))
        )
        touched = [
            r["__bucket"] for r in delta.select("__bucket").distinct().collect()
        ]
        merged = delta
        if os.path.isdir(out_path) and any(
            f.startswith("__bucket=") for f in os.listdir(out_path)
        ):
            existing = read_parquet(spark, out_path).filter(
                F.col("__bucket").isin(touched)
            )
            merged = latest_per_key(
                existing.unionByName(delta), [key_col], order
            )
        (
            merged.localCheckpoint()
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .mode("overwrite")
            .parquet(out_path)
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_versioned_table(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    manifest_dir: str,
    stats_cols: list[str],
):
    """Stream into a TIME-TRAVELABLE table: each micro-batch appends
    parquet, then commits a new manifest version (sinks/manifest.py)
    covering exactly the files now present. Readers pinned to version
    N never see later batches (snapshot isolation for a live stream);
    `snapshot_read(version=None)` follows the tip. The per-batch
    commit cost is O(files in that batch) — footer reads only for the
    new files, carried forward from the previous version. A replayed
    batch (restart before checkpoint advance) appends duplicate files;
    exactly-once delivery here comes from the checkpoint, as in every
    foreachBatch sink.

    Returns the started StreamingQuery (availableNow trigger)."""
    from spotify_podcasts_airflow_batch_spark.sinks.manifest import (
        commit_version,
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.write.mode("append").parquet(out_path)
        commit_version(spark, out_path, manifest_dir, stats_cols)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
