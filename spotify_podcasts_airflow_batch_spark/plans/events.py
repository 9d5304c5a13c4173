"""Event-stream analytics (SURVEY.md §2 E1-E2) — batch forms of the
windowed aggregations the streaming module runs continuously. Window
starts are computed with explicit epoch arithmetic (not the opaque
``window()`` struct) so the DuckDB oracle can reproduce them exactly;
the streaming wrappers in streaming/windows.py share the same helper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table


def window_start(ts: Column, slide_seconds: int, offset_seconds: int = 0) -> Column:
    """Epoch-aligned window start: floor(ts/slide)*slide - offset."""
    e = ts.cast("long")
    start = (F.floor(e / slide_seconds) * slide_seconds) - offset_seconds
    return start.cast("timestamp")


@register(
    "tumbling_window",
    oracle="""
    SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS window_start,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 4) AS total_value,
           floor((2 * round(sum(value) * 1000000, 0) + 100 * count(*))
                 / (2 * 100 * count(*))) / 10000.0 AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — 1-hour tumbling windows per event type. Partial (map-side)
    aggregation makes the shuffle O(windows × types), independent of
    event volume — the property that matters at 100 TB/day."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            window_start(F.col("ts"), 3600).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            # avg at 4 dp via integer micro-units with explicit HALF_UP:
            # floor((2N + D) / 2D) / 1e4, N = round(sum·1e6), D = 100·n.
            # Engine round() functions disagree on half-boundary doubles
            # (Java rounds the shortest decimal repr, DuckDB the exact
            # binary value; DuckDB decimal division degrades to DOUBLE),
            # so the only portable formulation keeps every intermediate
            # an exactly-representable integer-valued double — identical
            # IEEE ops → identical result on any engine.
            (
                F.floor(
                    (
                        2 * F.round(F.sum("value") * 1000000, 0)
                        + 100 * F.count(F.lit(1))
                    )
                    / (2 * 100 * F.count(F.lit(1)))
                )
                / 10000.0
            ).alias("avg_value"),
        )
    )


@register(
    "sliding_window",
    oracle="""
    SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900 - k * 900) AS TIMESTAMP) AS window_start,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    CROSS JOIN (SELECT unnest(range(4)) AS k)
    GROUP BY 1, 2
    """,
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — 1-hour windows sliding every 15 min. Each event belongs to
    4 windows; the explode is by a constant-4 array (no data-dependent
    blow-up), aggregation stays partial-aggregatable."""
    ev = table(spark, sf_dir, "events")
    exploded = ev.select(
        "ts", "event_type", "value", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k")
    )
    start = (
        (F.floor(F.col("ts").cast("long") / 900) * 900) - F.col("k") * 900
    ).cast("timestamp")
    return (
        exploded.groupBy(start.alias("window_start"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the JSON props
    column and aggregate. get_json_object runs JVM-side (no Python);
    at scale prefer parsing once with from_json into a struct column."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(k.cast("double")), 4).alias("avg_k"),
            F.max(k.cast("long")).alias("max_k"),
        )
    )


# ---------------------------------------------------------------- E9
@register(
    "gap_fill",
    oracle="""
    WITH agg AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
               count(*) AS n, round(sum(value), 4) AS tv
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, min(b) AS mn, max(b) AS mx FROM agg GROUP BY 1
    ), grid AS (
        SELECT event_type, mn + 3600 * k AS b
        FROM bounds, unnest(range(CAST((mx - mn) / 3600 + 1 AS BIGINT))) AS t(k)
    ), j AS (
        SELECT g.event_type, g.b, coalesce(a.n, 0) AS n_events, a.tv
        FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.b = g.b
    )
    SELECT CAST(to_timestamp(b) AS TIMESTAMP) AS bucket_start,
           event_type, n_events,
           coalesce(tv, 0.0) AS total_value,
           last_value(tv IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS locf_value
    FROM j
    """,
)
def gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 — hypertable-style gap-filled rollup: 1-hour buckets per
    event type, EVERY bucket between each type's first and last
    emitted (TimescaleDB ``time_bucket_gapfill``), empty buckets
    filled with zero counts and a last-observation-carried-forward
    value.

    Spark-first shape: the raw scan aggregates once (map-side partial,
    shuffle is O(types × buckets)); the dense grid is generated FROM
    THE AGGREGATE — per-type ``sequence(min, max, step)`` + explode,
    never a driver loop — and left-joins the sparse buckets. LOCF is
    ``last(ignorenulls)`` over an unbounded-preceding window, a single
    pass per type partition. Nothing downstream of the first aggregate
    touches raw-event volume, so the gap fill costs the same at 100 TB
    as at 10 MB."""
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.col("event_type"),
        (F.floor(F.col("ts").cast("long") / 3600) * 3600).alias("b"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("tv"),
    )  # hours×types rows; the bounds branch re-derives as a pruned
    # fact pass with map-side combine — 0.13 s cheaper cold at sf0.1
    # than persisting the grid
    bounds = agg.groupBy("event_type").agg(
        F.min("b").alias("mn"), F.max("b").alias("mx")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("b"),
    )
    j = grid.join(agg, ["event_type", "b"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        F.col("b").cast("timestamp").alias("bucket_start"),
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("tv", F.lit(0.0)).alias("total_value"),
        F.last("tv", ignorenulls=True).over(w).alias("locf_value"),
    )


# ---------------------------------------------------------------- E10
@register(
    "retention_cohorts",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
        FROM events
    ), co AS (
        SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1
    )
    SELECT co.cohort_week, uw.wk - co.cohort_week AS week_offset,
           count(*) AS n_users
    FROM uw JOIN co USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 — weekly retention cohorts: users grouped by first-activity
    week, counted in every later week they return. The classic
    formulation (distinct user-weeks, re-aggregate for cohorts, join
    back) shuffles the user-week set twice; here one shuffle on
    user_id produces BOTH the cohort week (min) and the distinct week
    set (collect_set) in the same aggregate, the offsets explode from
    the set, and the final cohort-cell aggregate is a plain count —
    per-user state bounded by distinct active weeks (≤ a few hundred
    for years of data)."""
    ev = table(spark, sf_dir, "events")
    wk = F.floor(F.col("ts").cast("long") / 604800)
    per_user = (
        ev.select("user_id", wk.alias("wk"))
        .groupBy("user_id")
        .agg(
            F.min("wk").alias("cohort_week"),
            F.collect_set("wk").alias("weeks"),
        )
    )
    return (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("wk")
        )
        .groupBy(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------- E11
@register(
    "value_histogram",
    oracle="""
    WITH b AS (
        SELECT event_type, min(value) AS mn, max(value) AS mx
        FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(least(floor((e.value - b.mn) / ((b.mx - b.mn) / 10)), 9) AS BIGINT) AS bin,
           count(*) AS n,
           round(min(e.value), 2) AS bin_min,
           round(max(e.value), 2) AS bin_max
    FROM events e JOIN b USING (event_type)
    GROUP BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 — equi-width 10-bin histogram of ``value`` per event type
    (the distribution-profiling pass behind data-quality dashboards).
    Two aggregates over one table: per-type min/max (map-side, tiny)
    broadcast back onto the scan, then bin assignment is pure
    arithmetic inside codegen and the bin counts partial-aggregate.
    Bin boundaries are IEEE-identical on both engines because both
    compute the same double expression — no rounding in the bin key
    itself."""
    ev = table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    binned = ev.join(F.broadcast(b), "event_type").withColumn(
        "bin",
        # try_divide ≡ DuckDB's NULL-on-zero: a constant value column
        # makes the bin width 0; least() skips the NULL ratio on BOTH
        # engines, so every row collapses into the top bin (9) — the
        # point is the engines agree and neither crashes
        F.least(
            F.floor(
                F.try_divide(
                    F.col("value") - F.col("mn"),
                    (F.col("mx") - F.col("mn")) / 10,
                )
            ),
            F.lit(9).cast("long"),
        ),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("bin_min"),
        F.round(F.max("value"), 2).alias("bin_max"),
    )


# ---------------------------------------------------------------- E7
@register(
    "click_attribution",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(c.ts) AS click_ts_us,
           epoch_us(p.ts) AS purchase_ts_us,
           p.value AS amount
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND epoch_us(p.ts) > epoch_us(c.ts)
     AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
    """,
)
def click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — click→purchase attribution: every purchase paired with the
    same user's clicks in the preceding 30 minutes. The SAME logical
    function (streaming/joins.py click_purchase_attribution) runs as a
    watermarked stream-stream join in tests/test_streaming_joins.py;
    here it runs in batch against the DuckDB oracle. Batch plan: both
    sides hash-join on user_id (one shuffle each), the time-range
    predicate rides the join as a residual filter — per-user fan-out is
    bounded by activity in the gap window, never |events|²."""
    from spotify_podcasts_airflow_batch_spark.streaming.joins import (
        click_purchase_attribution,
    )

    ev = table(spark, sf_dir, "events")
    out = click_purchase_attribution(ev, max_gap="30 minutes")
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "amount",
    )


# ---------------------------------------------------------------- E8
@register(
    "funnel_steps",
    oracle="""
    WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM p) AS n_purchase
    """,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — ordered funnel (view → click → purchase): users counted at
    each stage only if the stage's event strictly follows their FIRST
    qualifying event of the previous stage.

    Spark-first shape: instead of the SQL formulation (three
    aggregate+join rounds — one corpus shuffle per stage), each user's
    relevant events are collected and sorted ONCE and a single
    ``F.aggregate`` fold walks the timeline tracking (t1, t2, t3) —
    one shuffle total, stage count independent of shuffle count.
    Per-user state is bounded by that user's event count (filtered to
    funnel event types before the shuffle); timestamps compare in
    integer microseconds, the precision both engines share."""
    steps = ("view", "click", "purchase")
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin(*steps)
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("us"),
                    F.col("event_type").alias("et"),
                )
            )
        ).alias("seq")
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("t1"),
        F.lit(0).cast("long").alias("t2"),
        F.lit(0).cast("long").alias("t3"),
    )

    def step(acc, e):
        t1 = F.when(
            (acc["t1"] == 0) & (e["et"] == "view"), e["us"]
        ).otherwise(acc["t1"])
        t2 = F.when(
            (acc["t1"] > 0)
            & (acc["t2"] == 0)
            & (e["et"] == "click")
            & (e["us"] > acc["t1"]),
            e["us"],
        ).otherwise(acc["t2"])
        t3 = F.when(
            (acc["t2"] > 0)
            & (acc["t3"] == 0)
            & (e["et"] == "purchase")
            & (e["us"] > acc["t2"]),
            e["us"],
        ).otherwise(acc["t3"])
        return F.struct(t1.alias("t1"), t2.alias("t2"), t3.alias("t3"))

    walked = per_user.select(
        F.aggregate("seq", zero, step).alias("w")
    )
    return walked.agg(
        F.sum((F.col("w.t1") > 0).cast("long")).alias("n_view"),
        F.sum((F.col("w.t2") > 0).cast("long")).alias("n_click"),
        F.sum((F.col("w.t3") > 0).cast("long")).alias("n_purchase"),
    )


@register(
    "mode_per_group",
    oracle="""
    SELECT user_id, event_type AS mode_event, n
    FROM (
        SELECT user_id, event_type, n,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY n DESC, event_type ASC
               ) AS rn
        FROM (
            SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
    )
    WHERE rn = 1
    """,
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B39 — deterministic per-user modal event type (ties broken
    lexicographically). The count aggregate shrinks the data to
    |users|×|types| BEFORE the window sort, so the rank pass runs on
    the reduced relation — at 100 TB the raw scan partial-aggregates
    map-side and only the small (user,type) table shuffles twice."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), "n")
    )


@register(
    "latest_event_argmax",
    oracle="""
    SELECT user_id, event_type AS last_event_type, ts AS last_ts
    FROM (
        SELECT user_id, event_type, ts,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def latest_event_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B40 — latest event per user as an ALGEBRAIC aggregate
    (``max_by`` over a (ts, event_id) ordering struct), not a window
    sort: partial max_by combines map-side, so the shuffle carries one
    row per user per map task instead of every event — the same
    motivation as A8 but without any per-partition sort at all. The
    event_id tiebreak makes it deterministic under equal timestamps."""
    ev = table(spark, sf_dir, "events")
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", order_key).alias("last_event_type"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "zscore_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
        FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN stats s USING (event_type)
    WHERE abs(e.value - s.mu) > 2 * s.sigma
    """,
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 — events whose value sits >2σ from their type's mean.

    Two-pass: a tiny per-type (mu, sigma) aggregate — algebraic, so it
    partial-aggregates map-side — broadcasts back onto a second scan.
    A window over event_type would shuffle EVERY row by a low-
    cardinality (therefore skewed) key; the broadcast join touches no
    shuffle on the fact side at all."""
    from pyspark.sql.functions import broadcast

    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    return (
        ev.join(broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("mu")) > 2 * F.col("sigma"))
        .select("event_id", "event_type", "value")
    )


# ---------------------------------------------------------------- E15
@register(
    "session_window_agg",
    oracle="""
    WITH o AS (
        SELECT user_id, event_id, epoch_us(ts) AS us, value,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), m AS (
        SELECT user_id, event_id, us, value,
               CASE WHEN prev IS NULL OR us - prev > 600000000 THEN 1 ELSE 0 END AS brk
        FROM o
    ), s AS (
        -- (us, event_id) order in BOTH windows: with duplicate
        -- timestamps an un-tiebroken ROWS cumsum is nondeterministic —
        -- tied rows ordered before the brk row would attach to the
        -- previous session.
        SELECT user_id, us, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id,
           min(us)              AS session_start_us,
           max(us) + 600000000  AS session_end_us,
           count(*)             AS n_events,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_value_micros
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 — gap-based sessions via the NATIVE ``session_window``
    aggregation (10-minute gap): Spark merges an event into the open
    session when its timestamp is ≤ the session's current end
    (last event + gap) — verified empirically: a gap of EXACTLY 10
    minutes still merges, so the oracle breaks sessions only on
    strictly-greater gaps. Unlike B9's lag/cumsum formulation (two
    window passes over a shuffled sort), session_window is a single
    groupBy aggregate: partial session fragments build map-side and
    MERGE in the reducer, and the same expression runs unchanged under
    Structured Streaming with watermark-driven state eviction — the
    scale path for billions of user-events/day. Ends are reported as
    last-event + gap (the window struct's ``end``), in integer
    microseconds on both engines."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "10 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact integer micro-units, per-row HALF-UP floor(x·1e6+0.5):
            # round(sum(double), 4) is summation-order dependent (10×
            # replicate sweep caught a boundary session diverging).
            F.sum(
                F.floor(F.col("value") * 1000000 + 0.5).cast("long")
            ).alias("total_value_micros"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "total_value_micros",
        )
    )


# ---------------------------------------------------------------- E16
@register(
    "windowed_topk",
    oracle="""
    SELECT window_start, event_type, n, rn AS rank
    FROM (
        SELECT window_start, event_type, n,
               row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type ASC
               ) AS rn
        FROM (
            SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP)
                       AS window_start,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
    )
    WHERE rn <= 3
    """,
)
def windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 — trending detection: top-3 event types per 1-hour tumbling
    window (count desc, lexicographic tiebreak). The count aggregate
    partial-combines map-side down to |windows|×|types| rows BEFORE the
    rank window touches anything, so the row_number sort runs on the
    tiny aggregate — the raw event volume never reaches a window
    operator. Same shape as B39 mode_per_group but keyed by time
    bucket: the streaming form is this exact aggregate per watermarked
    window."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        window_start(F.col("ts"), 3600).alias("window_start"),
        F.col("event_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return topk_per_group(
        counts,
        ["window_start"],
        [F.col("n").desc(), F.col("event_type").asc()],
        3,
    ).select("window_start", "event_type", "n", "rank")


@register(
    "variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
    """,
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B42 — semi-structured filtering through VariantType (Spark 4):
    ``parse_json`` shreds the JSON once into the binary variant
    encoding, ``variant_get`` then extracts typed paths without
    re-parsing — the scale answer to B36's per-path get_json_object,
    which re-tokenizes the string for every path touched. At 100 TB
    the variant column would be materialized at ingest so every
    downstream path probe is O(shredded access), not O(reparse)."""
    ev = table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return ev.select("event_id", k.alias("k")).filter(F.col("k") >= 90)
