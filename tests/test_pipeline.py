"""G — podcast pipeline end-to-end on sf0.001: daily run, consolidated
CSV, and idempotent backfill (the reference's core guarantees)."""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from spotify_podcasts_airflow_batch_spark.pipeline.podcast import (
    MISMATCH_MESSAGE,
    PodcastPipeline,
)

BACKFILL = ("2024-01-05", "2024-01-10")


@pytest.fixture()
def pipe(spark, sf_dir, tmp_path):
    return PodcastPipeline(spark=spark, sf_dir=sf_dir, out_root=str(tmp_path))


def test_run_daily_end_to_end(pipe, spark):
    csv = pipe.run_daily()
    assert os.path.exists(csv)
    consolidated = (
        spark.read.option("header", "true").csv(os.path.dirname(csv))
    )
    ranks = {int(r["rank"]) for r in consolidated.select("rank").distinct().collect()}
    assert ranks == set(range(1, 11))
    # partitioned layout exists (one dir per chart date)
    parts = [p for p in os.listdir(pipe.charts_path) if p.startswith("snapshot_date=")]
    assert len(parts) >= 25  # ~30 days of events


def test_backfill_is_idempotent(pipe, spark):
    pipe.run_daily()
    before = spark.read.parquet(pipe.charts_path).count()
    # re-run a date slice twice — partition overwrite must not duplicate
    pipe.run_backfill(*BACKFILL)
    pipe.run_backfill(*BACKFILL)
    after = spark.read.parquet(pipe.charts_path).count()
    assert before == after


def test_mismatch_audit_zero_on_clean_join(pipe):
    enriched = pipe.enrich(pipe.build_charts())
    assert pipe.assert_no_mismatch(enriched) in (0, 1)  # existence probe
    # users outside the customer dim produce NULL c_name → flagged
    flagged = enriched.where("__mismatch").count()
    unflagged = enriched.where("NOT __mismatch").count()
    assert flagged + unflagged == enriched.count()


def _tree_snapshot(root):
    """Every directory and file under ``root`` (hidden ``.crc`` and
    ``_SUCCESS`` files included), files mapped to their sha256."""
    snap = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for d in dirnames:
            snap[os.path.relpath(os.path.join(dirpath, d), root)] = "dir"
        for f in filenames:
            full = os.path.join(dirpath, f)
            with open(full, "rb") as fh:
                snap[os.path.relpath(full, root)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return snap


def test_mismatch_raises_and_publishes_nothing(
    pipe, spark, sf_dir, tmp_path_factory
):
    """The reference raises before it uploads anything
    (spotify_eps.py:210-212). The guard lives in the daily write's
    plan, so a mismatch must fail run_daily AND run_backfill with
    ValueError and leave the published tree byte-identical."""
    pipe.run_daily()
    before = _tree_snapshot(pipe.out_root)

    # a dimension missing a few users that chart inside the backfill
    # range: their chart rows enrich to NULL c_name → __mismatch
    charting = [
        r["user_id"]
        for r in pipe.build_charts()
        .where(f"chart_date BETWEEN '{BACKFILL[0]}' AND '{BACKFILL[1]}'")
        .select("user_id")
        .distinct()
        .orderBy("user_id")
        .limit(3)
        .collect()
    ]
    assert charting
    bad_dir = tmp_path_factory.mktemp("bad_dim")
    shutil.copyfile(
        os.path.join(sf_dir, "events.parquet"), bad_dir / "events.parquet"
    )
    cust = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    pq.write_table(
        cust.filter(
            pc.invert(pc.is_in(cust["c_custkey"], pa.array(charting, pa.int64())))
        ),
        bad_dir / "customer.parquet",
    )
    bad = PodcastPipeline(spark=spark, sf_dir=str(bad_dir), out_root=pipe.out_root)

    with pytest.raises(ValueError, match=MISMATCH_MESSAGE):
        bad.run_daily()
    with pytest.raises(ValueError, match=MISMATCH_MESSAGE):
        bad.run_backfill(*BACKFILL)

    after = _tree_snapshot(pipe.out_root)
    assert not [p for p in after if ".spark-staging-" in p]
    assert after == before


def test_run_daily_evaluates_chart_plan_once(pipe, spark):
    """run_daily's jobs at sf0.001: broadcast, window top-k stages,
    one guarded write and the consolidation, so the chart plan is built
    once. A standalone mismatch check before the write re-runs that
    plan and adds 4 jobs (11)."""
    sc = spark.sparkContext
    group = "test_run_daily_job_count"
    sc.setJobGroup(group, "run_daily job count")
    try:
        pipe.run_daily()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 7
