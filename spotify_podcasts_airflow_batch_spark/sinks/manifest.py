"""File-manifest scan planning — a table-format-style data-skipping
layer over plain parquet directories.

Delta/Iceberg keep per-file column min/max in their transaction log so
query planning touches only files whose range intersects the
predicate. Neither package ships in this environment, so the engine
carries the mechanism itself: a manifest build reads ONLY parquet
footers (KBs per file, never data pages), distributed over executors
via ``mapInPandas`` — at 100 TB / 128 MB files that is ~800k footer
reads spread across the cluster, with one small manifest DataFrame
out. The manifest is itself a table: persist it next to the data and
rebuild incrementally for new files only.

Pruning then intersects a range predicate with each file's [min, max]
envelope and hands the surviving file list straight to
``spark.read.parquet`` — the same plan-time file skipping a table
format's scan planning does. Combined with the clustered layouts in
``writers.py`` (range-sorted or z-ordered, which make the per-file
envelopes tight), selective predicates touch a handful of files
instead of the whole table.

Reference parity: the closest ancestor is the S3 key-listing loop in
spotify_eps_union_dag.py:17-38 — here listing is metadata-driven and
predicate-aware rather than read-everything.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.sources.readers import (
    list_data_files,
    read_parquet,
)

_EPOCH_NAIVE = datetime(1970, 1, 1)
_EPOCH_UTC = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _num(v) -> float | None:
    """Normalize a footer statistic to double: numerics pass through,
    timestamps become epoch microseconds (matching unix_micros under
    the engine's pinned-UTC reads). The micros are computed as exact
    integers from the timedelta — epoch micros stay below 2^53, so the
    double is exact. Non-orderable types → None."""
    if v is None:
        return None
    if isinstance(v, datetime):
        td = v - (_EPOCH_UTC if v.tzinfo is not None else _EPOCH_NAIVE)
        return float(
            td.days * 86_400_000_000 + td.seconds * 1_000_000 + td.microseconds
        )
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    return float(v)


def build_manifest(
    spark: SparkSession,
    path: str,
    cols: list[str],
    files: list[str] | None = None,
) -> DataFrame:
    """Per-file stats manifest: ``path, n_rows, min_<c>, max_<c>``.

    Footer-only reads (pyarrow ``ParquetFile.metadata``), fanned out
    over executors; row-group stats fold into one per-file envelope.
    A file missing stats for a column gets nulls there — pruning then
    conservatively keeps it. ``files`` restricts the harvest to an
    explicit list (how refresh keeps its cost at O(new files)).
    """
    if files is None:
        files = list_data_files(path)
    schema = "path string, n_rows long, " + ", ".join(
        f"min_{c} double, max_{c} double" for c in cols
    )

    def scan(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                row: dict = {"path": p, "n_rows": md.num_rows}
                mins: dict = {}
                maxs: dict = {}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        name = col.path_in_schema
                        if name not in cols:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            mins[name] = maxs[name] = None
                            continue
                        lo, hi = _num(st.min), _num(st.max)
                        if name in mins and mins[name] is None:
                            continue  # a stats-less row group poisons the file
                        mins[name] = (
                            lo if name not in mins else min(mins[name], lo)
                        )
                        maxs[name] = (
                            hi if name not in maxs else max(maxs[name], hi)
                        )
                for c in cols:
                    row[f"min_{c}"] = mins.get(c)
                    row[f"max_{c}"] = maxs.get(c)
                out.append(row)
            yield pd.DataFrame(
                out,
                columns=["path", "n_rows"]
                + [f"{m}_{c}" for c in cols for m in ("min", "max")],
            )

    paths_df = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(min(max(len(files), 1), 64))
    return paths_df.mapInPandas(scan, schema)


def prune_files(
    manifest: DataFrame, col: str, lo: float | None, hi: float | None
) -> list[str]:
    """Files whose [min, max] envelope may intersect [lo, hi].

    Files with null stats survive (conservative). The manifest is one
    row per file — small enough to collect even at 100 TB scale; a
    cluster deployment would instead join this against the scan's file
    index, but the planning decision is identical.
    """
    keep = F.lit(True)
    if hi is not None:
        keep = keep & (
            F.col(f"min_{col}").isNull() | (F.col(f"min_{col}") <= F.lit(hi))
        )
    if lo is not None:
        keep = keep & (
            F.col(f"max_{col}").isNull() | (F.col(f"max_{col}") >= F.lit(lo))
        )
    return [r.path for r in manifest.filter(keep).select("path").collect()]


def pruned_read(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo: float | None,
    hi: float | None,
) -> DataFrame:
    """Manifest-planned scan: read only the files the predicate can
    touch. The residual filter still applies downstream (file skipping
    is a superset guarantee, same as any table format)."""
    files = prune_files(manifest, col, lo, hi)
    if not files:
        raise ValueError("no files survive the predicate; empty scan")
    return read_parquet(spark, *files)


def write_manifest(manifest: DataFrame, path: str) -> None:
    """Persist the manifest as its own (single-file) parquet table —
    the 'transaction log lite'. Re-running after new files land only
    needs footers for paths absent from the stored manifest."""
    manifest.coalesce(1).write.mode("overwrite").parquet(path)


def refresh_manifest(
    spark: SparkSession, data_path: str, manifest_path: str, cols: list[str]
) -> DataFrame:
    """Incremental manifest maintenance: footer-read only files not yet
    in the stored manifest, union, rewrite. Idempotent; cost is
    O(new files), matching a table-format commit."""
    current = list_data_files(data_path)
    if os.path.isdir(manifest_path) and list_data_files(manifest_path):
        old = read_parquet(spark, manifest_path)
        known = {r.path for r in old.select("path").collect()}
        new_files = [p for p in current if p not in known]
        if not new_files:
            return old
        schema_cols = [c[4:] for c in old.columns if c.startswith("min_")]
        if set(schema_cols) != set(cols):
            raise ValueError("manifest column set changed; rebuild required")
        # footer-read ONLY the new files — a post-hoc filter above the
        # harvest would still read every footer in the dataset
        tmp_manifest = build_manifest(spark, data_path, cols, files=new_files)
        merged = old.unionByName(tmp_manifest)
    else:
        merged = build_manifest(spark, data_path, cols)
    merged = merged.localCheckpoint()  # cut lineage before overwrite read-from-self
    write_manifest(merged, manifest_path)
    return merged


# ---------------------------------------------------------------------------
# Versioned snapshots — time travel over the manifest log
# ---------------------------------------------------------------------------
# A table format's log is a SEQUENCE of manifests; keeping every
# committed manifest (one small parquet file per version) buys snapshot
# isolation and time travel for free: "the table at version N" is
# exactly the file list manifest N records. Commits are incremental —
# version N+1 footer-reads only files absent from version N and drops
# rows for files deleted since (so a commit also records removals).
# Readers pin a version once and never see concurrent appends
# (snapshot isolation); old versions stay readable until the
# underlying files are physically vacuumed.

_VERSION_PREFIX = "v"


def list_versions(manifest_dir: str) -> list[int]:
    """Committed version numbers, ascending (empty if none)."""
    if not os.path.isdir(manifest_dir):
        return []
    out = []
    for name in os.listdir(manifest_dir):
        if name.startswith(_VERSION_PREFIX) and name[len(_VERSION_PREFIX):].isdigit():
            out.append(int(name[len(_VERSION_PREFIX):]))
    return sorted(out)


def _version_path(manifest_dir: str, version: int) -> str:
    return os.path.join(manifest_dir, f"{_VERSION_PREFIX}{version}")


def commit_version(
    spark: SparkSession, data_path: str, manifest_dir: str, cols: list[str]
) -> int:
    """Commit the data directory's current state as a new manifest
    version; returns the version number. Cost is O(changed files):
    footers are read only for paths new since the previous version,
    and rows for vanished paths are dropped. A no-op state (identical
    file set) returns the existing latest version WITHOUT creating a
    new one — commits are idempotent."""
    current = set(list_data_files(data_path))
    versions = list_versions(manifest_dir)
    if not versions:
        manifest = build_manifest(spark, data_path, cols, files=sorted(current))
        manifest.coalesce(1).write.mode("overwrite").parquet(
            _version_path(manifest_dir, 1)
        )
        return 1
    latest = versions[-1]
    old = read_parquet(spark, _version_path(manifest_dir, latest))
    known = {r.path for r in old.select("path").collect()}
    new_files = sorted(current - known)
    gone = known - current
    if not new_files and not gone:
        return latest
    schema_cols = [c[4:] for c in old.columns if c.startswith("min_")]
    if set(schema_cols) != set(cols):
        raise ValueError("manifest column set changed; rebuild required")
    kept = old.filter(~F.col("path").isin(list(gone))) if gone else old
    merged = (
        kept.unionByName(build_manifest(spark, data_path, cols, files=new_files))
        if new_files
        else kept
    )
    merged.coalesce(1).write.mode("overwrite").parquet(
        _version_path(manifest_dir, latest + 1)
    )
    return latest + 1


def read_manifest_version(
    spark: SparkSession, manifest_dir: str, version: int | None = None
) -> DataFrame:
    """The manifest as of ``version`` (default: latest committed)."""
    versions = list_versions(manifest_dir)
    if not versions:
        raise ValueError(f"no committed versions under {manifest_dir}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return read_parquet(spark, _version_path(manifest_dir, version))


def snapshot_read(
    spark: SparkSession,
    manifest_dir: str,
    version: int | None = None,
    col: str | None = None,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Time-travel scan: the table exactly as of ``version``, optionally
    manifest-pruned by a range predicate on ``col``. Files appended
    after the pinned version are invisible; files deleted after it
    raise on read (vacuum semantics — history is readable until the
    data is physically removed)."""
    manifest = read_manifest_version(spark, manifest_dir, version)
    if col is not None:
        files = prune_files(manifest, col, lo, hi)
    else:
        files = [r.path for r in manifest.select("path").collect()]
    if not files:
        raise ValueError("empty snapshot")
    return read_parquet(spark, *files)


def optimize_table(
    spark: SparkSession,
    data_path: str,
    manifest_dir: str,
    cols: list[str],
    target_files: int,
) -> int:
    """Delta-style OPTIMIZE: rewrite the current snapshot's files into
    ``target_files`` larger ones and commit the swap as a new version.
    The rewrite appends first and removes the replaced files only
    after the new ones exist, so a crash mid-way leaves a readable
    (over-complete) directory; the version flips atomically at the
    commit. Old versions referencing the removed files become
    unreadable — the vacuum trade-off every table format documents.
    Returns the new version number."""
    manifest = read_manifest_version(spark, manifest_dir)
    old_files = [r.path for r in manifest.select("path").collect()]
    df = read_parquet(spark, *old_files)
    df.repartition(target_files).write.mode("append").parquet(data_path)
    for p in old_files:
        os.remove(p)
    return commit_version(spark, data_path, manifest_dir, cols)
