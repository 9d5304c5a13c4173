"""E3 — Structured Streaming equals batch on the same input."""

from __future__ import annotations

import os
import shutil

import pytest

from spotify_podcasts_airflow_batch_spark.plans.registry import all_queries


@pytest.fixture()
def events_dir(tmp_path, sf_dir):
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d / "events.parquet")
    return str(d)


def test_streaming_tumbling_equals_batch(spark, sf_dir, events_dir):
    from spotify_podcasts_airflow_batch_spark.streaming.windows import (
        run_stream_to_memory,
    )

    q = run_stream_to_memory(spark, events_dir, query_name="t_stream")
    q.awaitTermination(120)

    stream_rows = {
        tuple(r)
        for r in spark.sql(
            "SELECT window_start, event_type, n_events, total_value, avg_value"
            " FROM t_stream"
        ).collect()
    }
    batch = all_queries()["tumbling_window"].spark_fn(spark, sf_dir)
    batch_rows = {tuple(r) for r in batch.collect()}
    assert stream_rows == batch_rows


def test_builtin_session_window_matches_batch_sessionize(spark, sf_dir, events_dir):
    """Spark's built-in session_window (gap-merge) over the stream
    agrees with the batch lag+cumsum sessionize on session counts
    (ties at the exact gap boundary are measure-zero with µs data)."""
    from pyspark.sql import functions as F

    from spotify_podcasts_airflow_batch_spark.operators.sessionize import sessionize
    from spotify_podcasts_airflow_batch_spark.sources.readers import table
    from spotify_podcasts_airflow_batch_spark.streaming.windows import (
        read_events_stream,
    )

    stream = read_events_stream(spark, events_dir)
    q = (
        stream.withWatermark("ts", "10 days")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id,): r.n
        for r in spark.sql(
            "SELECT user_id, count(*) AS n FROM sess_win GROUP BY user_id"
        ).collect()
    }
    ev = table(spark, sf_dir, "events")
    batch = (
        sessionize(ev, gap_minutes=30)
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"))
        .collect()
    )
    want = {(r.user_id,): r.n_sessions for r in batch}
    assert got == want


def test_streaming_sessionize_counts(spark, sf_dir, events_dir):
    from spotify_podcasts_airflow_batch_spark.operators.sessionize import sessionize
    from spotify_podcasts_airflow_batch_spark.sources.readers import table
    from spotify_podcasts_airflow_batch_spark.streaming.sessionize import (
        streaming_sessionize,
    )
    from spotify_podcasts_airflow_batch_spark.streaming.windows import (
        read_events_stream,
    )
    from pyspark.sql import functions as F

    stream = streaming_sessionize(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("s_sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, r.n_sessions)
        for r in spark.sql(
            "SELECT user_id, n_events, n_sessions FROM s_sessions"
        ).collect()
    }

    ev = table(spark, sf_dir, "events")
    batch = (
        sessionize(ev, gap_minutes=30)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("session_id").alias("s"))
        .collect()
    )
    want = {r.user_id: (r.n, r.s) for r in batch}
    assert got == want


def test_stream_commits_versioned_table(spark, sf_dir, tmp_path):
    """Each micro-batch commits a manifest version: after a 2-batch
    run the version log holds one snapshot per batch, a reader pinned
    to version 1 sees only the first batch's files, and the tip sees
    everything (streaming time travel)."""
    from spotify_podcasts_airflow_batch_spark.sinks.manifest import (
        list_versions,
        read_manifest_version,
        snapshot_read,
    )
    from spotify_podcasts_airflow_batch_spark.sources.readers import table
    from spotify_podcasts_airflow_batch_spark.streaming.sinks import (
        stream_to_versioned_table,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "ts", "value")
    src = str(tmp_path / "src")
    for half in (0, 1):
        ev.where(ev.event_id % 2 == half).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "table")
    mdir = str(tmp_path / "mlog")
    q = stream_to_versioned_table(
        stream, out, str(tmp_path / "ckpt"), mdir, ["value"]
    )
    q.awaitTermination(120)

    assert list_versions(mdir) == [1, 2]
    total = ev.count()
    v1_rows = sum(
        r.n_rows for r in read_manifest_version(spark, mdir, 1).collect()
    )
    assert 0 < v1_rows < total
    assert snapshot_read(spark, mdir, 1).count() == v1_rows
    assert snapshot_read(spark, mdir).count() == total


_STREAM_FIXTURES = [
    ("stream_latest_state", "_latest_state_store", "state"),
    ("stream_daily_table", "_daily_table_store", "daily"),
    ("stream_closed_sessions", "_closed_sessions_store", "sessions"),
    ("stream_enriched_events", "_enriched_store", "enriched"),
]


@pytest.mark.parametrize("name, store, out", _STREAM_FIXTURES)
def test_removed_stream_output_triggers_rebuild(
    spark, sf_dir, name, store, out
):
    """An externally-removed output dir of a memoized stream fixture
    must rebuild, not read as a stream that saw no rows."""
    from spotify_podcasts_airflow_batch_spark.plans import stream_state

    fn = all_queries()[name].spark_fn
    before = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert before, name
    root = getattr(stream_state, store)(spark, sf_dir)
    shutil.rmtree(os.path.join(root, out))
    after = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert after == before


@pytest.mark.parametrize("name, store, out", _STREAM_FIXTURES)
def test_empty_stream_fixture_is_built_once(
    spark, sf_dir, tmp_path, name, store, out
):
    """A fixture drained from empty tables is a valid store: the second
    call serves the memo without running a job."""
    import pyarrow.parquet as pq

    from spotify_podcasts_airflow_batch_spark.plans import stream_state
    from tests.conftest import jobs_run

    for t in ("events", "customer", "nation"):
        schema = pq.read_schema(os.path.join(sf_dir, f"{t}.parquet"))
        pq.write_table(
            schema.empty_table(), str(tmp_path / f"{t}.parquet")
        )
    build = getattr(stream_state, store)
    root = build(spark, str(tmp_path))
    assert os.path.isdir(os.path.join(root, out))
    assert jobs_run(spark, lambda: build(spark, str(tmp_path))) == 0
    assert all_queries()[name].spark_fn(spark, str(tmp_path)).count() == 0
