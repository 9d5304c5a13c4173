"""Structured Streaming: the continuous form of the E-series windowed
aggregates (SURVEY.md §2 E3).

The reference is a daily cron batch (Airflow ``schedule="15 20 * * *"``)
— its streaming analogue is a file-source stream with event-time
windows and a watermark bounding state. The aggregation logic is the
same groupBy the batch query runs; only the source/sink differ. Late
data within the watermark updates its window; beyond it, state is
dropped — that bound is what lets this run forever at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark.sql.types import TimestampType

from spotify_podcasts_airflow_batch_spark.sources.readers import parquet_schema

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over events parquet files dropped into
    ``directory`` (the streaming analogue of the reference's daily S3
    prefix scan). New files are discovered incrementally; each is read
    exactly once.

    A file stream needs a declared schema (no inference at start); the
    one quirk is the event-time column, which historical files may
    carry as TIMESTAMP(NANOS) — unreadable as a Spark timestamp. The
    footer schema (``parquet_schema``, no Spark job) decides: nanos
    files stream as int64 + exact-division to micros, native timestamp
    files stream as-is.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        ts_is_nanos = isinstance(
            parquet_schema(spark, directory)["ts"].dataType, LongType
        )
    except Exception:
        # empty/not-yet-populated directory (normal when the stream
        # starts before producers drop files): fall back to the
        # declared native-timestamp schema
        ts_is_nanos = False
    schema = StructType(
        [
            StructField("ts", LongType()) if f.name == "ts" and ts_is_nanos else f
            for f in EVENTS_SCHEMA.fields
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )
    if ts_is_nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def streaming_tumbling_agg(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """1-hour tumbling windows per event_type with a watermark.

    Same measures as the batch `tumbling_window` query; the window()
    struct is epoch-aligned so ``window.start`` equals the batch
    query's arithmetic ``window_start`` (session timezone is UTC).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            # same integer-micro-unit avg as the batch tumbling_window —
            # the stream≡batch test compares them row-for-row
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
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
    )


def run_stream_to_memory(
    spark: SparkSession, directory: str, query_name: str = "tumbling"
):
    """Drive the stream with availableNow (process-everything-then-stop)
    into an in-memory sink — the test/bench harness entry point."""
    agg = streaming_tumbling_agg(read_events_stream(spark, directory))
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def drain(query, what: str) -> None:
    """Block until an availableNow ``query`` has processed everything
    pending; a query still running after 600 s is stopped and raises,
    naming ``what`` (the fixture and its stream)."""
    if not query.awaitTermination(600):
        query.stop()
        raise RuntimeError(f"{what} did not drain")
