"""Incremental materialized-aggregate maintenance: keep a per-key
aggregate table current as new files land, reading ONLY the new files.

The 100 TB pattern: a daily ingest appends files; the rollup consumers
query (counts, sums, means per key) must never pay a full-history
rescan. Because count and sum are MERGEABLE, the refresh is

    state' = merge(state, partial_agg(new files))

— one scan of the delta plus a shuffle of |keys| rows. Means and rates
derive from the maintained sums at read time. This is the batch dual
of a streaming stateful aggregation (state lives in parquet instead of
a state store) and the aggregate-level analogue of
``manifest.refresh_manifest``'s file-level bookkeeping.

Reference parity: spotify_eps_union_dag.py:17-38 re-reads EVERY daily
parquet to rebuild its consolidated CSV on each run; this module is
that consolidation done right — O(new data) per refresh.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.sources.readers import (
    list_data_files,
    read_parquet,
)

_STATE_FILE = "agg_state"
_PROCESSED = "processed_files.json"


def _partial(df: DataFrame, key_cols: list[str], value_cols: list[str]) -> DataFrame:
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(c).alias(f"sum_{c}") for c in value_cols],
    )


def _merge(state: DataFrame, delta: DataFrame, key_cols: list[str]) -> DataFrame:
    measures = [c for c in state.columns if c not in key_cols]
    return (
        state.unionByName(delta)
        .groupBy(*key_cols)
        .agg(*[F.sum(c).alias(c) for c in measures])
    )


def refresh_incremental_agg(
    spark: SparkSession,
    data_path: str,
    state_dir: str,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Bring the per-key aggregate state up to date with ``data_path``
    and return it. Scans only files not yet folded into the state;
    a refresh with nothing new returns the stored state untouched.
    Crash safety: the processed-file list is written AFTER the state
    parquet, so a crash between the two re-folds the same delta on the
    next run — the merge is NOT idempotent per file, which is why the
    order matters and the list is the commit point."""
    os.makedirs(state_dir, exist_ok=True)
    state_path = os.path.join(state_dir, _STATE_FILE)
    processed_path = os.path.join(state_dir, _PROCESSED)

    processed: set[str] = set()
    if os.path.exists(processed_path):
        with open(processed_path) as f:
            processed = set(json.load(f))

    current = list_data_files(data_path)
    new_files = sorted(set(current) - processed)
    have_state = os.path.isdir(state_path) and list_data_files(state_path)

    if not new_files:
        if not have_state:
            raise ValueError(f"no data under {data_path}")
        return read_parquet(spark, state_path)

    delta = _partial(read_parquet(spark, *new_files), key_cols, value_cols)
    if have_state:
        merged = _merge(read_parquet(spark, state_path), delta, key_cols)
    else:
        merged = delta
    merged = merged.localCheckpoint()  # cut lineage before overwrite read-from-self
    merged.write.mode("overwrite").parquet(state_path)
    with open(processed_path, "w") as f:
        json.dump(sorted(processed | set(new_files)), f)
    return read_parquet(spark, state_path)
