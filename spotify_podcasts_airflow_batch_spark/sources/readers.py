"""Source connectors.

The reference lists S3 keys with ``S3Hook.list_keys`` and downloads +
``pd.read_parquet``s them one by one on the driver
(spotify_eps_union_dag.py:17-38). Spark-first, the whole pattern is one
declarative multi-file scan: file listing is distributed, column
pruning and predicate pushdown reach each footer, and nothing flows
through the driver.

Every batch parquet read goes through ``read_parquet``, which hands
Spark the schema ``parquet_schema`` reads from the footer on the
driver: a schemaless ``spark.read.parquet`` first runs a one-task Spark
job just to infer what one footer already says.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import itertools
import json
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

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

    The events table may carry parquet TIMESTAMP(NANOS), which Spark
    cannot read natively; its footer decides. ``nanosAsLong`` (a
    runtime SQL conf) reads nanos as int64 nanoseconds and we convert
    with exact integer division to microseconds — the same truncation
    DuckDB applies, so both engines see identical values.

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
    it — for passes whose CPU dwarfs even the byte heuristic, stage
    whenever the layout is under-parallel at all: every PQ encode (flat
    PQ, OPQ, IVF-PQ and residual IVF-PQ) runs its per-row argmins in
    the IVF Arrow kernel (``ivf_assign_arrow``), whose tasks each pay a
    fixed Python-worker cost, so a fanned-out corpus spreads that work
    over the cores. Leave it unset
    for one-pass projections and aggregates — measured at sf0.1, the
    extra exchange + stage costs such plans ~3× more than the serial
    scan it replaces.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
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


def read_parquet(
    spark: SparkSession, *paths: str, merge_schema: bool = False
) -> DataFrame:
    """Scan parquet files/dirs as one DataFrame, with the schema
    ``parquet_schema`` reads from their footers, so no inference job
    runs.

    Replaces the reference's driver-side download-and-concat loop; with
    ``merge_schema`` the union tolerates schema drift across daily
    snapshots (old snapshots missing later-added columns read as null).
    """
    return spark.read.schema(
        parquet_schema(spark, *paths, merge=merge_schema)
    ).parquet(*paths)


def parquet_schema(
    spark: SparkSession, *paths: str, merge: bool = False
) -> StructType:
    """The schema a schemaless ``spark.read.parquet(*paths)`` infers
    (``merge``: Spark's ``mergeSchema`` option), read from parquet
    footers on the driver with pyarrow, without a Spark job.

    As in Spark, a plain read takes the first data file in path order
    and a merge unions every file's fields in that order. A
    Spark-written footer holds the schema Spark stored as JSON; any
    other is mapped from its arrow schema under the session's
    timestamp confs. Partition columns are left out: Spark infers them
    from the directory names on the driver either way.

    Where footers cannot give Spark's answer exactly, this returns
    Spark's own inference (partition columns included) or raises its
    error: a non-local or globbed path, no data file, summary files, a
    type Spark maps its own way (INT96, unsigned ints, nanos without
    ``nanosAsLong``), conflicting footers, or a merge over more files
    than ``spark.sql.sources.parallelPartitionDiscovery.threshold``,
    past which Spark itself stops listing on the driver.
    """
    try:
        return _footer_schema(spark, paths, merge)
    except _NotFromFooter:
        return spark.read.option("mergeSchema", merge).parquet(*paths).schema


class _NotFromFooter(Exception):
    """The footers cannot reproduce Spark's inference for this read."""


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# Spark globs a path holding any of these; a scheme means not local
_GLOB_OR_SCHEME = re.compile(r"[{}\[\]*?\\]|^[A-Za-z][A-Za-z0-9+.-]*:")
# parquet leaf annotations whose Spark type the arrow type gives
_MAPPED_LOGICAL = {"NONE", "STRING", "INT", "DECIMAL", "DATE", "TIMESTAMP"}
_MAPPED_ARROW = (
    "is_boolean",
    "is_signed_integer",
    "is_float32",
    "is_float64",
    "is_decimal128",
    "is_string",
    "is_large_string",
    "is_date32",
)


def _footer_schema(spark: SparkSession, paths, merge: bool) -> StructType:
    if not paths or any(_GLOB_OR_SCHEME.search(p) for p in paths):
        raise _NotFromFooter
    confs: dict[str, str] = {}

    def conf(key: str) -> str:
        if key not in confs:
            confs[key] = spark.conf.get(key).lower()
        return confs[key]

    roots = [os.path.abspath(p) for p in paths]
    if not merge:
        firsts = [
            (f, r) for r in roots for f in itertools.islice(_data_files(r), 1)
        ]
        if not firsts:
            raise _NotFromFooter
        first, root = min(firsts)
        return _file_schema(root, first, conf)
    limit = int(conf("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    every = ((f, r) for r in roots for f in _data_files(r))
    files = list(itertools.islice(every, limit + 1))
    if not files or len(files) > limit:
        raise _NotFromFooter
    merged: dict[str, StructField] = {}
    for path, root in sorted(files):
        for field in _file_schema(root, path, conf):
            if merged.setdefault(field.name.lower(), field) != field:
                raise _NotFromFooter
    return StructType(list(merged.values()))


def _data_files(root: str):
    """The data files Spark reads under ``root``, in path order: ``root``
    itself if it is a file; else its own files; else, when every
    subdirectory is a ``key=value`` partition, the files under them.
    Lazy, so a plain read lists only the directories on the way to its
    first file."""
    if os.path.isfile(root) and not _hidden(os.path.basename(root)):
        yield root
        return
    if not os.path.isdir(root):
        raise _NotFromFooter
    entries = _listing(root)
    files = [p for p, is_dir in entries if not is_dir]
    if files:
        yield from files
    elif all("=" in os.path.basename(p) for p, _ in entries):
        for p, _ in entries:
            yield from _leaf_files(p)
    else:
        raise _NotFromFooter


def _leaf_files(directory: str):
    for path, is_dir in _listing(directory):
        if is_dir:
            yield from _leaf_files(path)
        else:
            yield path


def _listing(directory: str) -> list[tuple[str, bool]]:
    """(path, is_dir) of what Spark lists in ``directory``, in the
    order of the file paths under each entry: a directory sorts as its
    name plus "/"."""
    entries = []
    with os.scandir(directory) as it:
        for e in it:
            if e.name.startswith(("_metadata", "_common_metadata")):
                raise _NotFromFooter  # summary files: Spark reads them first
            if not _hidden(e.name):
                is_dir = e.is_dir()
                key = e.name + "/" if is_dir else e.name
                entries.append((key, e.path, is_dir))
    return [(path, is_dir) for _, path, is_dir in sorted(entries)]


def _hidden(name: str) -> bool:
    """Spark's ``HadoopFSUtils.shouldFilterOutPathName``: names Spark
    never reads as data — committer staging (``_temporary``,
    ``.spark-staging-*``), markers (``_SUCCESS``), checksums and
    in-flight copies. ``key=value`` partition names are kept."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _file_schema(root: str, path: str, conf) -> StructType:
    """One footer's schema as Spark reads it (every field nullable, as
    Spark makes an inferred schema), or ``_NotFromFooter``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        meta = pq.read_metadata(path)
    except (OSError, pa.ArrowException) as e:
        raise _NotFromFooter from e
    stored = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        try:
            schema = _nullable(StructType.fromJson(json.loads(stored)))
        except (ValueError, KeyError, TypeError) as e:
            raise _NotFromFooter from e
    else:
        leaves = [meta.schema.column(i) for i in range(meta.num_columns)]
        if any(
            c.physical_type == "INT96"
            or c.logical_type.type not in _MAPPED_LOGICAL
            for c in leaves
        ):
            raise _NotFromFooter
        schema = StructType(
            [
                StructField(f.name, _spark_type(f.type, conf), True)
                for f in meta.schema.to_arrow_schema()
            ]
        )
    partition_keys = {
        part.split("=", 1)[0].lower()
        for part in os.path.relpath(path, root).split(os.sep)[:-1]
        if "=" in part
    }
    if partition_keys & {f.name.lower() for f in schema}:
        raise _NotFromFooter
    return schema


def _spark_type(at, conf) -> DataType:
    """Spark's type for an arrow type read from a non-Spark footer,
    containers nullable (``ParquetToSparkSchemaConverter`` semantics)."""
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_type

    if pat.is_timestamp(at):
        if at.unit == "ns":  # TIMESTAMP(NANOS): INT96 was ruled out
            if conf("spark.sql.legacy.parquet.nanosAsLong") == "true":
                return LongType()
            raise _NotFromFooter
        if at.tz is None and (
            conf("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        ):
            return TimestampNTZType()
        return TimestampType()
    if pat.is_list(at) or pat.is_large_list(at):
        return ArrayType(_spark_type(at.value_type, conf), True)
    if pat.is_map(at):
        return MapType(
            _spark_type(at.key_type, conf),
            _spark_type(at.item_type, conf),
            True,
        )
    if pat.is_struct(at):
        return StructType(
            [StructField(f.name, _spark_type(f.type, conf), True) for f in at]
        )
    if pat.is_binary(at) or pat.is_large_binary(at):
        if conf("spark.sql.parquet.binaryAsString") == "true":
            return StringType()
        return BinaryType()
    if any(getattr(pat, check)(at) for check in _MAPPED_ARROW):
        return from_arrow_type(at)
    raise _NotFromFooter


def _nullable(dt: DataType) -> DataType:
    """Spark's ``asNullable``, which every inferred schema gets."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


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
    data files under a prefix, skipping every path Spark's own listing
    skips (``_temporary`` committer staging, hidden and ``_`` names;
    see ``_hidden``). On a cluster this is the object-store listing;
    Spark's own parallel listing is preferred (pass the directory
    straight to ``read_parquet``)."""
    out = []
    for directory, dirs, files in os.walk(root, followlinks=True):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out += [
            os.path.join(directory, f)
            for f in files
            if f.endswith(suffix) and not _hidden(f)
        ]
    return sorted(out)


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
    ``sf_dir`` — the key of every trained-constant and index-store
    memo, which must cover the exact tables it caches (ADVICE r9: a
    bucketed lineitem/orders layout keyed on the *embeddings*
    fingerprint served stale tables when lineitem was regenerated).
    Cheap: a stat per file, no reads."""
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


# Built-once stores: directories written from one dataset table — index
# code tables, incremental stores, drained stream outputs — keyed by
# (table fingerprint, store name) like the trained constants. A store
# is a pure function of its (immutable-per-fingerprint) table, so the
# memo can never change a result: it turns a per-query rebuild into
# the one-off build production runs. Every store lives under ONE temp
# root removed at process exit, and a memoized root is re-validated
# before it is served (rebuilt on miss), so an externally-removed dir
# can't serve a dangling read (ADVICE r6).
_STORE_ROOT: list[str] = []


def store_root() -> str:
    if not _STORE_ROOT:
        root = tempfile.mkdtemp(prefix="built_store_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _STORE_ROOT.append(root)
    return _STORE_ROOT[0]


def built_store(
    memo: dict, sf_dir: str, table_name: str, name: str, build, valid
) -> str:
    """Root of the ``name`` store derived from ``sf_dir``'s
    ``table_name``: the root memoized in ``memo`` while ``valid(root)``
    holds, else a fresh build — the root is cleared, ``build(root)``
    writes it, and only then is the memo entry recorded. Each caller
    passes its own memo dict, so clearing one family's memo leaves the
    others' stores served."""
    key = (table_fingerprint(sf_dir, table_name), name)
    root = memo.get(key)
    if root is not None and valid(root):
        return root
    digest = hashlib.md5(repr(key).encode()).hexdigest()[:16]
    root = os.path.join(store_root(), f"{name}_{digest}")
    shutil.rmtree(root, ignore_errors=True)
    build(root)
    memo[key] = root
    return root
