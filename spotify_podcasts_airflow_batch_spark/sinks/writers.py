"""Sinks (SURVEY.md §2 G).

The reference's sinks are: daily parquet to S3 prefixes, one
consolidated CSV, and a Kaggle dataset upload
(spotify_eps_dag.py, kaggle.py). Spark-first:

- daily parquet  → ``partitionBy(date)`` with DYNAMIC partition
  overwrite: re-running a backfill date replaces exactly that
  partition (idempotent, the property the reference gets by
  overwriting one S3 key per day).
- consolidated CSV → a coalesced CSV directory; at 100 TB you would
  never single-file it, so single_file=True is an explicit small-data
  convenience that routes through one final task.
- Kaggle/S3 → external-credential sinks, stubbed: the interface is
  the contract; this environment has no credentials or kaggle CLI.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame

from spotify_podcasts_airflow_batch_spark.sources.readers import read_parquet


def write_daily_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str | list[str] = "snapshot_date",
) -> None:
    """Idempotent per-date snapshot writer (dynamic partition
    overwrite ≍ the backfill DAG's per-day S3 object replace).
    ``partition_col`` may be a list for layered layouts (the
    streaming sink adds a ``batch_epoch`` level so concurrent
    micro-batches never overwrite each other's date files)."""
    cols = (
        [partition_col] if isinstance(partition_col, str) else partition_col
    )
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .mode("overwrite")
        .parquet(path)
    )


def write_consolidated_csv(
    df: DataFrame, path: str, single_file: bool = False
) -> str:
    """Union-consolidated CSV (≍ top-podcasts-union/top_podcasts.csv).

    ``single_file`` coalesces to one task — only for dataset-export
    sized results (the Kaggle upload case), never for fact data. The
    one part file is renamed to ``consolidated.csv`` (its checksum file
    dropped), so the directory still reads as the chart, each row once."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").csv(path)
    if single_file:
        (part,) = glob.glob(os.path.join(path, "part-*.csv"))
        final = os.path.join(path, "consolidated.csv")
        os.replace(part, final)
        crc = os.path.join(path, f".{os.path.basename(part)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        return final
    return path


def upload_to_kaggle(csv_path: str, dataset_id: str, title: str) -> None:
    """External sink stub — reference shells out to the ``kaggle`` CLI
    (kaggle.py:create_kaggle_dataset). No credentials in this
    environment; the pipeline treats this sink as pluggable."""
    raise NotImplementedError(
        "kaggle upload requires external credentials; plug a real "
        "implementation via PodcastPipeline(kaggle_sink=...)"
    )


def upload_to_s3(local_path: str, bucket: str, key: str) -> None:
    """External sink stub — reference uses S3Hook.load_file. On a real
    cluster Spark writes s3a:// URIs directly; no driver-side upload
    step exists at all."""
    raise NotImplementedError(
        "write directly to s3a:// paths from Spark on a real cluster"
    )


def write_orc(df: DataFrame, path: str, partition_col: str | None = None) -> None:
    """Columnar ORC sink, optionally date-partitioned like the parquet
    snapshot writer."""
    w = df.write.mode("overwrite")
    if partition_col is not None:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(
            partition_col
        )
    w.orc(path)


def compact_partitions(
    spark, path: str, out_path: str, target_file_bytes: int = 128 << 20
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``target_file_bytes``. Streaming/backfill sinks accrete many small
    files per partition; at 100 TB the resulting scan-task explosion
    (one task per tiny file) and NameNode/object-store listing pressure
    dominate query time, so compaction is a first-class maintenance op.

    Sizing is derived from the dataset's actual on-disk bytes — not a
    guessed partition count — and the rewrite uses
    ``repartition(n)`` (round-robin) so output files are uniform even
    when the input's partitioning was skewed. Returns the file count
    written."""
    import math

    total = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    n = max(1, math.ceil(total / target_file_bytes))
    read_parquet(spark, path).repartition(n).write.mode("overwrite").parquet(
        out_path
    )
    return len(glob.glob(os.path.join(out_path, "*.parquet")))


def write_sorted_layout(
    df: DataFrame, path: str, order_cols: list[str], files: int
) -> None:
    """Range-partitioned, sorted-within-file layout: the write-time
    clustering that makes parquet min/max row-group stats selective, so
    later range predicates on ``order_cols`` prune whole files
    (data-skipping ≍ clustered index). ``repartitionByRange`` samples
    the key distribution to build balanced ranges — skew-resistant
    without manual bucketing — and ``sortWithinPartitions`` keeps each
    file internally ordered for row-group-level skipping."""
    (
        df.repartitionByRange(files, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(cols: list, bits: int = 8):
    """Morton (Z-order) key: interleave the top ``bits`` of each
    already-bucketed column expression (ints in [0, 2^bits)). Pure
    bit arithmetic — shiftleft/AND inside codegen, no UDF."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for ci, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + ci))
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    files: int,
    bits: int = 8,
) -> None:
    """Multi-dimensional clustered layout (Delta OPTIMIZE ZORDER BY
    semantics, plain-parquet mechanism): bucket each cluster column to
    2^bits equi-width cells, interleave the cell bits into a Morton
    key, and range-partition + sort by that key. Files then hold
    z-curve segments — TIGHT bounding boxes in EVERY cluster dimension
    — so parquet footer min/max prunes files for predicates on ANY of
    the columns, where a lexicographic sort only skips on its leading
    column. Bucketing here is min/max equi-width (one tiny aggregate,
    broadcast back as literals); a skew-heavy production table would
    derive the cell edges from approxQuantile instead — same key
    construction."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cluster_cols],
        *[F.max(c).alias(f"mx_{c}") for c in cluster_cols],
    ).collect()[0]
    cells = (1 << bits) - 1
    bucketed = []
    for c in cluster_cols:
        mn, mx = float(bounds[f"mn_{c}"]), float(bounds[f"mx_{c}"])
        span = (mx - mn) or 1.0
        bucketed.append(
            F.least(
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * cells),
                F.lit(cells),
            )
        )
    z = zorder_value(bucketed, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
