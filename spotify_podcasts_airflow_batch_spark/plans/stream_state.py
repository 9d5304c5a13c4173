"""Streaming current-state table promoted to a driver-hashed query
(SURVEY §2 E14b — the B68 promotion pattern applied to the E14
runtime).

``streaming/sinks.stream_upsert_latest`` maintains a latest-row-per-
key parquet table as micro-batches flow: hash-bucketed state, each
batch merging only the buckets its keys hash into (O(batch +
affected-bucket rows), never O(state)). The runtime row was pinned
stream ≡ batch A8 in tests/test_streaming_enrich.py; registering the
POST-STREAM state table as a query puts the same equality under the
driver's cross-engine hash: the oracle is batch latest-per-key SQL
over the events table, so a green row proves the upsert sink
converged to exactly the batch answer (VERDICT r9 follow-up #4).

The fixture drains the events table through the stream once per
dataset fingerprint (two parity-split files → two micro-batches, so
the second batch must UPDATE bucket rows rather than only insert) and
memoizes the state dir; the registered query is then a plain read of
the state table.

Reference parity: kaggle_update_dag.py's daily republish keeps only
each episode's newest record — this is that maintenance loop run
continuously instead of per-DAG-run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import (
    built_store,
    list_data_files,
    read_parquet,
    table,
)

_STATE_CACHE: dict[tuple, str] = {}


def _stream_store(sf_dir: str, name: str, out: str, build) -> str:
    """Root of the ``name`` fixture, built once per events fingerprint
    by ``build(root)``, which drains a stream into ``root/<out>`` — the
    directory the fixture's query reads. The store is valid while that
    directory exists. A finished build always leaves it (empty when
    the stream saw no rows), so an externally-removed output dir
    rebuilds instead of reading as a stream that saw no rows."""

    def run(root: str) -> None:
        build(root)
        os.makedirs(os.path.join(root, out), exist_ok=True)

    return built_store(
        _STATE_CACHE, sf_dir, "events", name, run,
        lambda root: os.path.isdir(os.path.join(root, out)),
    )


def _read_out(
    spark: SparkSession, root: str, out: str, schema: str, *cols
) -> DataFrame:
    """``cols`` of the table a fixture drained into ``root/<out>``; an
    empty ``schema`` frame when the stream wrote no data files."""
    path = os.path.join(root, out)
    if not list_data_files(path):
        return spark.createDataFrame([], schema)
    return read_parquet(spark, path).select(*cols)


def _two_batch_source(spark: SparkSession, sf_dir: str, root: str) -> str:
    """The events table as two parity-split files under ``root/src``:
    two micro-batches with interleaved users."""
    src = os.path.join(root, "src")
    ev = table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    return src


_STATE_SCHEMA = (
    "user_id bigint, latest_ts timestamp, latest_event_id bigint, "
    "latest_event_type string, latest_value double"
)


def _latest_state_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) the streamed current-state
    table for ``sf_dir``'s events and return its root; ``state/`` under
    it holds the bucketed table (empty when the stream saw no rows)."""
    from spotify_podcasts_airflow_batch_spark.streaming.sinks import (
        stream_upsert_latest,
    )
    from spotify_podcasts_airflow_batch_spark.streaming.windows import (
        drain,
        read_events_stream,
    )

    def build(root: str) -> None:
        # batch 2 exercises the UPDATE path of the upsert
        src = _two_batch_source(spark, sf_dir, root)
        q = stream_upsert_latest(
            read_events_stream(spark, src, max_files_per_trigger=1),
            os.path.join(root, "state"),
            os.path.join(root, "ckpt"),
        )
        drain(q, "_latest_state_store: upsert stream")

    return _stream_store(sf_dir, "stream_latest", "state", build)


@register(
    "stream_latest_state",
    oracle="""
    SELECT user_id, ts AS latest_ts, event_id AS latest_event_id,
           event_type AS latest_event_type,
           round(value, 4) + 0 AS latest_value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn FROM events
    ) WHERE rn = 1
    """,
)
def stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14b — the current-state table MAINTAINED BY THE STREAMING
    UPSERT SINK, read back as a query. The oracle is batch
    latest-per-key (A8's shape on events), so the driver hash row
    proves the bucketed read-modify-write upsert — including the
    batch-2 updates of bucket rows batch 1 wrote — converged to the
    batch answer, cross-engine. At 100 TB the state table is the
    continuously-maintained serving view; per trigger it costs
    O(batch + touched buckets), never O(state)."""
    return _read_out(
        spark,
        _latest_state_store(spark, sf_dir),
        "state",
        _STATE_SCHEMA,
        "user_id",
        F.col("ts").alias("latest_ts"),
        F.col("event_id").alias("latest_event_id"),
        F.col("event_type").alias("latest_event_type"),
        (F.round(F.col("value"), 4) + F.lit(0)).alias("latest_value"),
    )


def _daily_table_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) the STREAMED daily-
    partitioned events table — the E6 sink (foreachBatch → the batch
    daily writer, replay-idempotent date-partition overwrites) drained
    over the same two-file micro-batch split as the E14b fixture."""
    from spotify_podcasts_airflow_batch_spark.streaming.sinks import (
        stream_to_daily_parquet,
    )
    from spotify_podcasts_airflow_batch_spark.streaming.windows import (
        drain,
        read_events_stream,
    )

    def build(root: str) -> None:
        src = _two_batch_source(spark, sf_dir, root)
        q = stream_to_daily_parquet(
            read_events_stream(spark, src, max_files_per_trigger=1),
            os.path.join(root, "daily"),
            os.path.join(root, "ckpt"),
        )
        drain(q, "_daily_table_store: daily-sink stream")

    return _stream_store(sf_dir, "stream_daily", "daily", build)


@register(
    "stream_daily_table",
    oracle="""
    SELECT event_id,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS snapshot_date,
           user_id, event_type,
           round(value, 4) + 0 AS value4
    FROM events
    """,
)
def stream_daily_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6b — the E6 streaming daily sink promoted to a driver-hashed
    query (the B68/E14b pattern): the events table drained through
    ``stream_to_daily_parquet`` (foreachBatch handing each micro-batch
    to the BATCH daily writer, so replayed batches dynamically
    overwrite exactly the date partitions they contain), then the
    date-partitioned table read back per-event. The oracle is the
    events table itself with the derived partition date, so a green
    hash row proves the continuous sink materialized every event into
    the correct date partition exactly once — the reference's per-day
    S3 prefix (spotify_eps_dag.py daily writes), maintained by a
    stream instead of a cron DAG."""
    return _read_out(
        spark,
        _daily_table_store(spark, sf_dir),
        "daily",
        "event_id bigint, snapshot_date string, user_id bigint, "
        "event_type string, value4 double",
        "event_id",
        F.col("snapshot_date").cast("string").alias("snapshot_date"),
        "user_id",
        "event_type",
        (F.round(F.col("value"), 4) + F.lit(0)).alias("value4"),
    )


_GAP_US = 30 * 60 * 1_000_000  # the B9 / E12 session gap


def _closed_sessions_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) the append-only table of
    COMPLETED sessions emitted by the stateful finalizer (E12,
    streaming/stateful.py): events streamed with a 0-second watermark,
    sessions emitted on gap-close inline or timer-close when the
    watermark passes last_ts + gap, parquet file sink."""
    import shutil

    from spotify_podcasts_airflow_batch_spark.streaming.stateful import (
        finalize_sessions,
    )
    from spotify_podcasts_airflow_batch_spark.streaming.windows import (
        drain,
        read_events_stream,
    )

    def build(root: str) -> None:
        src = os.path.join(root, "src")
        os.makedirs(src, exist_ok=True)
        ev_file = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(ev_file):
            shutil.copytree(ev_file, os.path.join(src, "events.parquet"))
        else:
            shutil.copy(ev_file, os.path.join(src, "events.parquet"))
        stream = read_events_stream(spark, src).withWatermark(
            "ts", "0 seconds"
        )
        q = (
            finalize_sessions(stream)
            .writeStream.format("parquet")
            .option("path", os.path.join(root, "sessions"))
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, "_closed_sessions_store: session stream")

    return _stream_store(sf_dir, "stream_sessions", "sessions", build)


@register(
    "stream_closed_sessions",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > {_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, value,
               CAST(1 + sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS sid
        FROM flagged
    ), agg AS (
        SELECT user_id, sid,
               min(ts) AS session_start,
               max(ts) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                   AS BIGINT) AS session_value_micros
        FROM sess GROUP BY user_id, sid
    ), mx AS (
        SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events
    ), labeled AS (
        -- closed_by must rank against ALL the user's sessions
        -- (including a still-open final one), so the window runs
        -- BEFORE the completed-session filter
        SELECT a.*,
               CASE WHEN a.sid < max(a.sid)
                        OVER (PARTITION BY a.user_id)
                    THEN 'gap' ELSE 'timer' END AS closed_by
        FROM agg a
    )
    SELECT l.user_id, l.session_start, l.session_end, l.n_events,
           l.session_value_micros, l.closed_by
    FROM labeled l, mx
    WHERE (epoch_us(l.session_end) + {_GAP_US}) // 1000 <= mx.wm_ms
    """,
)
def stream_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12b — the stateful session finalizer (E12,
    ``applyInPandasWithState`` with event-time timeouts) promoted to a
    driver-hashed query: the emit-on-close session table read back
    under a batch-SQL oracle. The oracle re-derives gap sessions
    (B9's chain), keeps only sessions the final watermark completed
    (end + gap ≤ max event time at millisecond watermark precision),
    and labels each 'gap' (a later event closed it inline) or 'timer'
    (the watermark timeout closed it) — so the hash row proves the
    custom stateful operator's boundaries, counts, exact integer
    micro-unit sums, AND close reasons against a from-scratch batch
    derivation, cross-engine. Session values accumulate as int64
    micro-units inside the pandas state (order-independent — the B9
    convention), which is what makes this hashable at all."""
    return _read_out(
        spark,
        _closed_sessions_store(spark, sf_dir),
        "sessions",
        "user_id bigint, session_start timestamp, "
        "session_end timestamp, n_events bigint, "
        "session_value_micros bigint, closed_by string",
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        "session_value_micros",
        "closed_by",
    )


def _enriched_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per dataset fingerprint) the STREAM-ENRICHED events
    table: the events stream broadcast-joined to the static customer →
    nation dimension chain per micro-batch (E4, streaming/enrich.py),
    parquet file sink."""
    from spotify_podcasts_airflow_batch_spark.streaming.enrich import (
        enrich_stream,
    )
    from spotify_podcasts_airflow_batch_spark.streaming.windows import (
        drain,
        read_events_stream,
    )

    def build(root: str) -> None:
        # two micro-batches: the dim side must be re-broadcast per batch
        src = _two_batch_source(spark, sf_dir, root)
        dim = (
            table(spark, sf_dir, "customer")
            .join(
                table(spark, sf_dir, "nation"),
                F.col("c_nationkey") == F.col("n_nationkey"),
                "left",
            )
            .select(
                F.col("c_custkey").alias("user_id"), "c_name", "n_name"
            )
        )
        q = (
            enrich_stream(
                read_events_stream(spark, src, max_files_per_trigger=1),
                dim,
                on="user_id",
            )
            .writeStream.format("parquet")
            .option("path", os.path.join(root, "enriched"))
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, "_enriched_store: enrich stream")

    return _stream_store(sf_dir, "stream_enrich", "enriched", build)


@register(
    "stream_enriched_events",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           round(e.value, 4) + 0 AS value4,
           c.c_name, n.n_name
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def stream_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4b — stream-static enrichment promoted to a driver-hashed
    query: every micro-batch of the events stream broadcast-joined to
    the customer → nation dimension chain (the streaming form of A3,
    and of the reference's chart × episode-API left merge), the sink
    table read back per-event under a plain batch LEFT JOIN oracle.
    A green hash row proves the per-batch broadcast join enriched
    every event exactly once with the same rows batch SQL derives —
    no event lost at a batch boundary, no dim row duplicated. At
    100 TB the dim snapshot re-broadcasts per trigger (swappable
    between batches) and the stream side never shuffles."""
    return _read_out(
        spark,
        _enriched_store(spark, sf_dir),
        "enriched",
        "event_id bigint, user_id bigint, event_type string, "
        "value4 double, c_name string, n_name string",
        "event_id",
        "user_id",
        "event_type",
        (F.round(F.col("value"), 4) + F.lit(0)).alias("value4"),
        "c_name",
        "n_name",
    )
