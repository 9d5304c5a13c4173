"""Streaming vector ingest into the incremental ANN store — the
streaming twin of plans/similarity4.append_batch (SURVEY §2 D42
runtime row).

Each micro-batch of (vec_id, embedding) rows is encoded against the
store's FROZEN day-0 quantizers (one shuffle-free O(batch)
projection) and landed as its own ``epoch=N`` segment partition of
the by-cell layout. ``append_batch`` dynamically OVERWRITES the epoch
partition, so an at-least-once replay of a micro-batch lands the
identical files instead of duplicating rows — the same idempotency
discipline as streaming/dedup.py. Stream ≡ batch is pinned in
tests/test_ann_stream_ingest.py: the same waves ingested via this
stream or via batch append_batch calls produce an identical live
index and identical served results.

At 100 TB this is the online path: vectors arrive continuously, the
index grows by partition-local appends, and the D40 staleness dial +
D34 centroid drift decide when the frozen quantizers earn a retrain.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
    append_batch,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import parquet_schema


def next_epoch(root: str) -> int:
    """First free segment epoch of the store at ``root``: max existing
    ``epoch=N`` partition + 1 (a fresh store with only the day-0 base
    returns 1). Listing is directory-level — O(epochs), no data read."""
    epochs = [0]
    for p in glob.glob(os.path.join(root, "segments", "epoch=*")):
        try:
            epochs.append(int(os.path.basename(p).split("=", 1)[1]))
        except ValueError:
            continue
    return max(epochs) + 1


def stream_ann_ingest(
    spark: SparkSession,
    vec_stream_dir: str,
    root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    epoch_base: int | None = None,
):
    """foreachBatch driver: encode each micro-batch with the frozen
    artifacts and append it as segment epoch ``epoch_base + epoch_id``
    (epoch 0 is the day-0 base build). Returns the started query
    (Trigger.AvailableNow — drains what is present; leave it running
    with a processing-time trigger for a live feed).

    ``epoch_base`` defaults to the store's next free epoch
    (``next_epoch``) so starting a stream on a store that already has
    batch appends lands AFTER them instead of dynamically overwriting
    their epoch partitions (ADVICE r9 collision hazard). An explicit
    ``epoch_base`` below the next free epoch is rejected for the same
    reason — pass it only when re-running the SAME stream over the
    same checkpoint, where the overwrite is the idempotent replay."""
    if epoch_base is None:
        # a restarted stream with an existing checkpoint must KEEP its
        # original base or replayed batches land as new epochs; the
        # checkpoint's committed offsets mark that case
        committed = glob.glob(os.path.join(checkpoint_dir, "commits", "*"))
        if committed:
            raise ValueError(
                "stream_ann_ingest: restarting from an existing "
                "checkpoint requires the original explicit epoch_base "
                "(deriving it from the store would re-land replayed "
                "batches as fresh epochs)"
            )
        epoch_base = next_epoch(root)
    elif not glob.glob(os.path.join(checkpoint_dir, "commits", "*")):
        free = next_epoch(root)
        if epoch_base < free:
            raise ValueError(
                f"stream_ann_ingest: epoch_base={epoch_base} collides "
                f"with existing segment epochs (next free: {free}) — "
                "the dynamic overwrite would clobber them"
            )
    schema = parquet_schema(spark, vec_stream_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(vec_stream_dir)
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch(
            batch_df.sparkSession,
            root,
            batch_df.select("vec_id", "embedding"),
            epoch=epoch_base + int(epoch_id),
        )

    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
