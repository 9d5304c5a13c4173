"""Source connectors.

The reference lists S3 keys with ``S3Hook.list_keys`` and downloads +
``pd.read_parquet``s them one by one on the driver
(spotify_eps_union_dag.py:17-38). Spark-first, the whole pattern is one
declarative multi-file scan: file listing is distributed, column
pruning and predicate pushdown reach each footer, and nothing flows
through the driver.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fan_out: bool | str | None = None,
) -> DataFrame:
    """Read one driver-generated table (``{sf_dir}/{name}.parquet``).

    The events table carries parquet TIMESTAMP(NANOS), which Spark
    cannot read natively; ``nanosAsLong`` (a runtime SQL conf) reads it
    as int64 nanoseconds and we convert with exact integer division to
    microseconds — the same truncation DuckDB applies, so both engines
    see identical values.

    Timestamps without a timezone (isAdjustedToUTC=false) must read as
    plain TIMESTAMP, not TIMESTAMP_NTZ: with ``inferTimestampNTZ``
    disabled the stored micros are used directly as epoch micros — the
    exact value DuckDB's naive timestamp sees — and every downstream
    ``unix_micros``/``window`` call works on any session. Session
    timezone is pinned UTC so date extraction from those micros matches
    the oracle even under a caller-provided SparkSession.

    ``fan_out=True`` is the caller's declaration that its per-row work
    is CPU-heavy (shingle explosion, hash families, vector math): the
    under-parallel-layout staging exchange then also triggers on byte
    volume, not just row count. ``fan_out="force"`` is the tier above
    it — for passes whose CPU dwarfs even the byte heuristic (PQ
    encoding evaluates ~1k interpreted HOF subexpressions per row),
    stage whenever the layout is under-parallel at all. Leave it unset
    for one-pass projections and aggregates — measured at sf0.1, the
    extra exchange + stage costs such plans ~3× more than the serial
    scan it replaces.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if name in _CPU_HEAVY_TABLES:
        df = _ensure_scan_parallelism(
            spark, df, path, _CPU_HEAVY_TABLES[name], fan_out
        )
    return df


# documents (regex/shingle/hash pipelines) and embeddings (vector
# arithmetic) spend far more CPU per row than the scan spends decoding
# it — for them scan parallelism IS the job's parallelism. The unique
# id column gives a sort-free hash exchange (round-robin would pay
# sortBeforeRepartition inside the serial scan task).
_CPU_HEAVY_TABLES = {"documents": "doc_id", "embeddings": "vec_id"}


def _ensure_scan_parallelism(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    fan_out: bool | str | None = None,
):
    """Parquet scans parallelize across ROW GROUPS; a file written as
    one giant row group (pandas/duckdb defaults at small scale) pins
    every downstream map stage to a single task no matter how many
    cores exist. When the layout's effective parallelism is below the
    session's AND the serial work is material, stage one hash
    repartition on the unique id so CPU-heavy per-row work fans out.
    At production scale (many files / many row groups) this detects
    adequate parallelism and no-ops — the check costs one driver-side
    footer read."""
    try:
        import pyarrow.parquet as pq

        cores = spark.sparkContext.defaultParallelism
        files = (
            [path]
            if os.path.isfile(path)
            else list_data_files(path)
        )
        # Each file holds ≥1 row group, so ≥cores files can never be
        # under-parallel — short-circuit before opening any footer
        # (also keeps the sampled footer count from being compared
        # against an unrelated total).
        if len(files) >= cores:
            return df
        cached = _LAYOUT_CACHE.get(path)
        if cached is None:
            metas = [pq.ParquetFile(p).metadata for p in files]
            cached = (
                sum(m.num_row_groups for m in metas),
                sum(m.num_rows for m in metas),
                sum(
                    m.row_group(i).total_byte_size
                    for m in metas
                    for i in range(m.num_row_groups)
                ),
            )
            _LAYOUT_CACHE[path] = cached
        groups, rows, nbytes = cached
        # Only pay the exchange when each row group carries enough work
        # that serial evaluation would dominate: below ~16k rows/group
        # the shuffle usually costs more than the parallelism returns.
        # Callers that declared fan_out=True (shingle/hash/vector
        # pipelines, where work rides bytes, not rows) additionally
        # trigger on uncompressed byte volume — a serial 1.5 MB group
        # is ~100 ms of shingle+hash CPU per MB, far above the ~50 ms
        # exchange.
        trigger = (
            rows / groups >= 16384
            or (bool(fan_out) and nbytes / groups >= 1 << 20)
            or fan_out == "force"
        )
        if 0 < groups < cores and trigger:
            return df.repartition(cores, F.col(key))
    except Exception:
        pass
    return df


# (row groups, rows, uncompressed row-group bytes) per path — footer
# layout is immutable for the driver-generated inputs, and re-probing
# per table() call would pay file I/O three times per benched query
_LAYOUT_CACHE: dict[str, tuple[int, int, int]] = {}


def read_parquet_many(
    spark: SparkSession, paths: list[str], merge_schema: bool = True
) -> DataFrame:
    """Scan many parquet files/dirs as one DataFrame.

    Replaces the reference's driver-side download-and-concat loop; with
    ``mergeSchema`` the union tolerates schema drift across daily
    snapshots (old snapshots missing later-added columns read as null).
    """
    reader = spark.read.option("mergeSchema", str(merge_schema).lower())
    return reader.parquet(*paths)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def list_data_files(root: str, suffix: str = ".parquet") -> list[str]:
    """Local analogue of ``S3Hook.list_keys(prefix=...)`` — enumerate
    data files under a prefix. On a cluster this is the object-store
    listing; Spark's own parallel listing is preferred (pass the
    directory straight to ``read_parquet_many``)."""
    return sorted(
        p
        for p in glob.glob(os.path.join(root, "**", f"*{suffix}"), recursive=True)
        if os.path.isfile(p)
    )


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan (native, vectorized, predicate-pushdown like parquet).
    The engine treats parquet and ORC as interchangeable columnar
    sources — same pruning/pushdown behavior through the DataSource V2
    path."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Opaque-media ingest: Spark's ``binaryFile`` source — one row per
    file with (path, modificationTime, length, content:binary). This
    is the standard front door for image/audio/video directories at
    scale (listing is distributed, each file is one task, column
    pruning drops ``content`` when only metadata is touched); rows
    feed straight into operators/multimodal.decode_media. Files larger
    than ``spark.sql.sources.binaryFile.maxLength`` (default 2 GB)
    are rejected rather than silently truncated."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    reader = reader.option("recursiveFileLookup", str(recursive).lower())
    return reader.load(path)


def read_text(spark: SparkSession, path: str, whole_text: bool = False) -> DataFrame:
    """Line-oriented text ingest (`value` string per line) — the rawest
    corpus format; ``whole_text`` reads one row per FILE instead (small
    documents-as-files layouts). Feeds the C-series text operators
    after a projection renames ``value`` → text."""
    return spark.read.text(path, wholetext=whole_text)


def read_xml(
    spark: SparkSession, path: str, row_tag: str, schema=None
) -> DataFrame:
    """XML source (built into Spark 4 — no external package): one row
    per ``row_tag`` element, schema inferred or supplied. Rounds out
    the format matrix (parquet/ORC/CSV/JSON/XML/binary); Avro is NOT
    available in this environment (external module)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def table_fingerprint(sf_dir: str, *names: str) -> tuple:
    """Stat-level identity of one or more dataset tables: (path,
    mtime_ns, size) for every data file of each named table under
    ``sf_dir`` — the generalized form of similarity2's
    ``_embeddings_fingerprint``, for memo keys that must cover the
    exact tables they cache (ADVICE r9: a bucketed lineitem/orders
    layout keyed on the *embeddings* fingerprint served stale tables
    when lineitem was regenerated). Cheap: a stat per file, no reads."""
    out = []
    for name in names:
        root = os.path.join(sf_dir, f"{name}.parquet")
        paths = (
            sorted(glob.glob(os.path.join(root, "*.parquet")))
            if os.path.isdir(root)
            else [root]
        )
        for p in paths:
            try:
                st = os.stat(p)
                out.append((p, st.st_mtime_ns, st.st_size))
            except OSError:
                out.append((p, 0, 0))
    return tuple(out)
