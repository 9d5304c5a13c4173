"""G — incremental materialized-aggregate maintenance: state after N
delta refreshes equals a full recompute, and clean refreshes are
no-ops."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.sinks.incremental_agg import (
    refresh_incremental_agg,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import table


def _rows(df):
    return {
        (r["event_type"], r["n_rows"], round(r["sum_value"], 4))
        for r in df.collect()
    }


def test_incremental_agg_matches_full_recompute(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    data = str(tmp_path / "ingest")
    state = str(tmp_path / "state")

    seen_batches = []
    for batch in range(3):
        part = ev.where(ev.event_id % 3 == batch)
        part.coalesce(1).write.mode("append").parquet(data)
        seen_batches.append(batch)

        got = refresh_incremental_agg(
            spark, data, state, ["event_type"], ["value"]
        )
        want = (
            ev.where(ev.event_id % 3 <= batch)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("value").alias("sum_value"),
            )
        )
        assert _rows(got) == _rows(want), f"divergence after batch {batch}"

    # nothing new → same state back, processed list unchanged
    with open(os.path.join(state, "processed_files.json")) as f:
        processed_before = json.load(f)
    again = refresh_incremental_agg(spark, data, state, ["event_type"], ["value"])
    assert _rows(again) == _rows(got)
    with open(os.path.join(state, "processed_files.json")) as f:
        assert json.load(f) == processed_before
    # every ingested file is accounted for
    assert len(processed_before) == 3


def test_refresh_skips_committer_staging(spark, sf_dir, tmp_path):
    """A part file under a committer's ``_temporary`` directory is not
    data: Spark's own scan skips it, and so must the refresh's file
    listing, or the staged rows are counted twice."""
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    data = str(tmp_path / "ingest")
    ev.coalesce(1).write.parquet(data)
    part = next(f for f in os.listdir(data) if f.startswith("part-"))
    staging = os.path.join(data, "_temporary", "0", "task_0")
    os.makedirs(staging)
    shutil.copy(os.path.join(data, part), staging)

    got = refresh_incremental_agg(
        spark, data, str(tmp_path / "state"), ["event_type"], ["value"]
    )
    want = (
        spark.read.parquet(data)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value").alias("sum_value"),
        )
    )
    assert _rows(got) == _rows(want)
