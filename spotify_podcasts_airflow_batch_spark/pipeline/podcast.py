"""The reference pipeline end-to-end, Spark-first (SURVEY.md §2 G).

Reference flow (dags/spotify/):
  chart fetch → transform (rank, uri strip, date stamp) → parquet/day
  → episode enrichment (batched API, left merge, name validation)
  → union of all days → consolidated CSV → Kaggle.

Here each Airflow task is a plan stage over DataFrames; orchestration
is just function calls (any scheduler can invoke ``run_daily`` /
``run_backfill``). External fetch/upload are pluggable boundaries —
the engine's job is everything between them, distributed.

``run_daily`` builds the chart plan once: the reference's
raise-on-mismatch check (``spotify_eps.py:210-212``) is an
``assert_true`` inside the publishing write's own plan, not a separate
action that re-runs scan, top-k and enrich before the write runs them
again. A mismatching row fails the write job, and the commit protocol
then discards its staging output, so nothing is published.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.operators.joins import validated_left_join
from spotify_podcasts_airflow_batch_spark.operators.ranking import topk_per_group
from spotify_podcasts_airflow_batch_spark.sinks.writers import (
    write_consolidated_csv,
    write_daily_partitioned,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import read_parquet, table

MISMATCH_MESSAGE = "enrichment mismatch: joined dimension attributes disagree"


@dataclass
class PodcastPipeline:
    """Storage layout mirrors the reference's S3 prefixes."""

    spark: SparkSession
    sf_dir: str
    out_root: str
    chart_len: int = 10
    kaggle_sink: object | None = None  # callable(csv_path) or None

    charts_path: str = field(init=False)
    union_path: str = field(init=False)

    def __post_init__(self) -> None:
        self.charts_path = os.path.join(self.out_root, "top-charts")
        self.union_path = os.path.join(self.out_root, "top-podcasts-union")

    # -- stage 1: chart build (≍ spotify_chart_dag.spotify_chart_load)
    def build_charts(self) -> DataFrame:
        ev = table(self.spark, self.sf_dir, "events")
        ranked = topk_per_group(
            ev.select(
                F.col("ts").cast("date").alias("chart_date"),
                F.col("event_type").alias("chart"),
                F.col("event_id").alias("entry_id"),
                F.col("user_id"),
                F.col("value").alias("score"),
            ),
            group_cols=["chart_date", "chart"],
            order_by=[F.col("score").desc(), F.col("entry_id")],
            k=self.chart_len,
        )
        return ranked

    # -- stage 2: enrichment (≍ spotify_eps.get_charts_eps merge+validate)
    def enrich(self, charts: DataFrame) -> DataFrame:
        c = table(self.spark, self.sf_dir, "customer")
        joined = validated_left_join(
            charts,
            c.select("c_custkey", "c_name", "c_mktsegment", "c_nationkey"),
            left_on="user_id",
            right_on="c_custkey",
            validate=F.col("c_name").isNotNull(),
        )
        return joined

    def assert_no_mismatch(self, enriched: DataFrame) -> int:
        """Audit-only existence probe for the reference's
        ``episodeName != name`` rows (spotify_eps.py:210-212): 1 if the
        frame has at least one flagged row, else 0. It raises nothing
        and is not a count. It runs the whole enrich plan as its own
        action, so the pipeline does not call it; ``write_daily``
        enforces the check inside the write instead."""
        n = enriched.where(F.col("__mismatch")).limit(1).count()
        return n

    # -- stage 3: daily snapshot write (≍ upload_to_s3 per day)
    def write_daily(self, enriched: DataFrame) -> None:
        """Publish the enriched charts, raising ``ValueError`` if any
        row is flagged ``__mismatch``. The check is an ``assert_true``
        in the write's own plan, so the frame is evaluated once; a
        flagged row fails the write job, and dynamic partition
        overwrite then discards the job's staging output, so no
        partition is replaced."""
        guarded = (
            enriched.where(
                F.assert_true(~F.col("__mismatch"), MISMATCH_MESSAGE).isNull()
            )
            .drop("__mismatch")
            .withColumnRenamed("chart_date", "snapshot_date")
        )
        try:
            write_daily_partitioned(
                guarded, self.charts_path, partition_col="snapshot_date"
            )
        except SparkRuntimeException as e:
            if (
                e.getCondition() == "USER_RAISED_EXCEPTION"
                and MISMATCH_MESSAGE in str(e)
            ):
                raise ValueError(MISMATCH_MESSAGE) from e
            raise

    # -- stage 4: union + consolidated CSV (≍ union_parquet_files)
    def consolidate(self) -> str:
        all_days = read_parquet(self.spark, self.charts_path, merge_schema=True)
        return write_consolidated_csv(
            all_days, self.union_path, single_file=True
        )

    # -- orchestration entry points
    def run_daily(self) -> str:
        """Chart build → enrich → guarded daily write → consolidated
        CSV → Kaggle sink, in one pass over the chart plan. A mismatch
        raises ``ValueError`` from ``write_daily`` before anything is
        published, and the later stages never run."""
        enriched = self.enrich(self.build_charts())
        self.write_daily(enriched)
        csv = self.consolidate()
        if self.kaggle_sink is not None:
            self.kaggle_sink(csv)
        return csv

    def run_backfill(self, start_date: str, end_date: str) -> None:
        """Recompute a date range (≍ spotify_eps_backfill_dag params).
        Dynamic partition overwrite makes re-runs idempotent — only
        the targeted dates' partitions are replaced. The mismatch
        validation runs as in ``run_daily`` (the reference's backfill
        DAG merges and validates the same way): ``write_daily`` raises
        ``ValueError`` and replaces no partition, at no extra job."""
        charts = self.build_charts().where(
            F.col("chart_date").between(start_date, end_date)
        )
        enriched = self.enrich(charts)
        self.write_daily(enriched)
