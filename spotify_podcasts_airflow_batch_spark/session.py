"""SparkSession builder tuned for the workload.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs
are what we would ship to a 1000-executor cluster: AQE (runtime
re-planning + skew-join splitting + partition coalescing), a broadcast
threshold large enough to cover all dimension tables, and Arrow for any
Python exchange.

Python workers start from ``worker_daemon`` (``spark.python.daemon.module``):
``pyspark.daemon`` behind a zip-import cache guard. PySpark invalidates
the import caches once per task, and on Python 3.11 that re-reads every
zip archive on the worker's path (``pyspark.zip``, the py4j zip, the
``spark-core`` jar): about 170–190 ms of fixed setup per Python-evaluated
task, which the guard cuts to a few ``stat`` calls while the archives are
unchanged. The package root is appended to the workers' ``PYTHONPATH``,
so the daemon (and any kernel pickled by reference to a package module)
imports whatever the JVM's working directory is.

``file://`` paths go through ``graft.NioLocalFileSystem``
(``jvm/NioLocalFileSystem.java``, built into ``jvm/nio-local-fs.jar`` by
``tools/build_jar.py``). Without ``libhadoop``, Hadoop's local
filesystem sets each permission by forking a ``chmod`` process, and it
does so for every directory and every file it creates, checksum files
included: about 100 processes for one ``run_daily``. The class is
Hadoop's checksummed ``LocalFileSystem`` whose chmod is the ``chmod(2)``
system call; checksums and modes are unchanged. Without the setting,
``file://`` resolves to Hive's ``ProxyLocalFileSystem`` (registered by
Spark's Hive jar): the same forking filesystem, with a ``rename`` that
never replaces an existing file, which the class keeps. Hadoop's
``FileContext`` API, which Spark's streaming checkpoints write through,
resolves ``file://`` from its own setting: there ``graft.NioLocalFs``
(``jvm/NioLocalFs.java``, in the same jar) is Hadoop's checksummed
``LocalFs`` over the same syscall chmod. The jar goes on
``spark.driver.defaultExtraClassPath``, which Spark's launcher appends
after a caller's ``spark.driver.extraClassPath``, so both take effect.
Only the driver JVM gets the jar: this covers local-master sessions,
whose executors run in the driver; a cluster's executors would also
need it on their class path.

PySpark's per-call DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every Column or DataFrame API call made while a session is active sends
about six extra Py4J commands (the active-session lookup, a conf read,
``PySparkCurrentOrigin.set``/``clear``): 439 of them against 209 for one
``run_daily``. PySpark reads the flag once per process, at the first
Column call, so it is set here, at session build. The cost: an analysis
or runtime error no longer names the Python line that built the failing
expression, only the expression itself.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar"
)
LOCAL_FS_CLASS = "graft.NioLocalFileSystem"
LOCAL_AFS_CLASS = "graft.NioLocalFs"


def prefer_sort_merge_join() -> str:
    """``SPARK_GRAFT_PREFER_SMJ`` as Spark's boolean conf value:
    ``true``/``false`` in any case (default ``true``); anything else
    raises here instead of failing later at query planning."""
    raw = os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true")
    value = raw.lower()
    if value not in ("true", "false"):
        raise ValueError(
            f"SPARK_GRAFT_PREFER_SMJ must be 'true' or 'false', got {raw!r}"
        )
    return value


def get_spark(
    app_name: str = "spotify-podcasts-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if not os.path.isfile(LOCAL_FS_JAR):
        raise FileNotFoundError(
            f"{LOCAL_FS_JAR} is missing; build it with tools/build_jar.py"
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: coalesce post-shuffle partitions, split skewed ones, and
        # convert sort-merge joins to broadcast at runtime when a side
        # turns out small. Essential at 100 TB where static planning
        # can't see per-key skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # True dimension tables (region/nation/supplier/part) are KBs—
        # MBs and carry explicit broadcast() hints in the catalog; the
        # auto threshold only governs UNHINTED relations. Keep it small:
        # a generous threshold lets a filtered FACT slip under it, and
        # building a million-entry broadcast hash relation costs more
        # than the shuffle it avoids — and is impossible at 100 TB,
        # where that same relation is TBs. 8 MB ≈ "would still be
        # broadcastable on a 1000-executor cluster".
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else max(cpus, 32)),
        )
        # Shuffled-hash-join opt-in (guide §3.1): when false the planner
        # may pick ShuffledHashJoin where one side builds a per-partition
        # hash table that fits (skipping both sorts). Env-parameterized
        # for A/B measurement; the shipped default stays Spark's
        # sort-merge preference. No A/B over the SMJ-bearing headline
        # queries has been recorded yet (VERDICT.md, round 11; the
        # round's per-query walls are in PERF_r11.json). Sort-merge's
        # graceful spill is the safer default for 100 TB fact-fact
        # joins, where a skewed build-side partition would OOM a
        # shuffled-hash build.
        .config("spark.sql.join.preferSortMergeJoin", prefer_sort_merge_join())
        # 128 MB input splits — the parquet-side knob that keeps scan
        # tasks right-sized as files grow.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO footer min/max stats, so
        # timestamp predicates could never file-skip; int64 micros is
        # also what every other engine (DuckDB, Trino, Arrow) expects.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.python.daemon.module",
            "spotify_podcasts_airflow_batch_spark.worker_daemon",
        )
        .config("spark.driver.defaultExtraClassPath", LOCAL_FS_JAR)
        .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", LOCAL_AFS_CLASS)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    # Every Python function ships ``sc.environment`` (seeded from all
    # ``spark.executorEnv.*`` sources) as its worker's environment;
    # Spark merges its PYTHONPATH into the worker's.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_ROOT])
    return spark
