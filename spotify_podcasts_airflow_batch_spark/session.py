"""SparkSession builder tuned for the workload.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs
are what we would ship to a 1000-executor cluster: AQE (runtime
re-planning + skew-join splitting + partition coalescing), a broadcast
threshold large enough to cover all dimension tables, and Arrow for any
Python exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    )
    return builder.getOrCreate()
