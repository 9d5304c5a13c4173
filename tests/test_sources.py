"""Source-connector round trips (SURVEY.md §2 G)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import StructType

from spotify_podcasts_airflow_batch_spark.sources.readers import (
    TABLES,
    list_data_files,
    parquet_schema,
    read_csv,
    read_json,
    read_parquet,
    table,
)
from tests.conftest import jobs_run


def test_read_parquet_merges_schema(spark, sf_dir, tmp_path):
    o = table(spark, sf_dir, "orders")
    a = str(tmp_path / "day_a")
    b = str(tmp_path / "day_b")
    o.select("o_orderkey", "o_orderstatus", "o_totalprice").write.parquet(a)
    o.select("o_orderkey", "o_orderstatus").write.parquet(b)  # schema drift
    merged = read_parquet(spark, a, b, merge_schema=True)
    assert set(merged.columns) == {"o_orderkey", "o_orderstatus", "o_totalprice"}
    assert merged.count() == 2 * o.count()
    assert merged.where("o_totalprice IS NULL").count() == o.count()


def _inferred(spark, *paths, merge=False):
    return spark.read.option("mergeSchema", merge).parquet(*paths).schema


def _assert_footer_schema(spark, *paths, merge=False, partitions=()):
    """parquet_schema gives Spark's inferred schema less its partition
    columns, without a job; reading with it gives Spark's whole
    schema."""
    want = _inferred(spark, *paths, merge=merge)

    def schema():
        return parquet_schema(spark, *paths, merge=merge)

    assert jobs_run(spark, schema) == 0
    assert schema() == StructType([f for f in want if f.name not in partitions])
    assert read_parquet(spark, *paths, merge_schema=merge).schema == want


def _assert_spark_fallback(spark, *paths, merge=False):
    """Spark's own inference job decides the schema."""
    want = _inferred(spark, *paths, merge=merge)

    def schema():
        return parquet_schema(spark, *paths, merge=merge)

    assert jobs_run(spark, schema) > 0
    assert schema() == want
    assert read_parquet(spark, *paths, merge_schema=merge).schema == want


def test_footer_schema_matches_inference(spark, sf_dir, tmp_path):
    from spotify_podcasts_airflow_batch_spark.pipeline.podcast import (
        PodcastPipeline,
    )
    from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
        ivfpq_incremental_store,
    )

    conf = spark.conf
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for name in TABLES:
        _assert_footer_schema(spark, os.path.join(sf_dir, f"{name}.parquet"))

    store = ivfpq_incremental_store(spark, sf_dir)
    _assert_footer_schema(
        spark, os.path.join(store, "segments"), partitions=("epoch", "cell_id")
    )
    _assert_footer_schema(spark, os.path.join(store, "tombstones"))

    pipe = PodcastPipeline(spark=spark, sf_dir=sf_dir, out_root=str(tmp_path))
    pipe.run_daily()
    _assert_footer_schema(
        spark, pipe.charts_path, merge=True, partitions=("snapshot_date",)
    )

    nanos = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_000_001_000, 2_000_000_999], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), nanos)
    _assert_footer_schema(spark, nanos)

    micros = str(tmp_path / "micros.parquet")
    us = pa.array([1_000_001, 2_000_000], pa.timestamp("us"))
    utc = pa.array([1_000_001, 2_000_000], pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table({"naive": us, "utc": utc}), micros)
    try:
        for ntz in ("true", "false"):
            conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
            _assert_footer_schema(spark, micros)
    finally:
        conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    # types Spark maps its own way: INT96 timestamps, unsigned ints
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"ts": ts, "u": pa.array([1, 2], pa.uint32())}),
        int96,
        use_deprecated_int96_timestamps=True,
    )
    _assert_spark_fallback(spark, int96)

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(AnalysisException):
        _inferred(spark, str(empty))
    with pytest.raises(AnalysisException):
        parquet_schema(spark, str(empty))

    drift = str(tmp_path / "drift")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for cols in (["o_orderkey"], ["o_orderkey", "o_totalprice"], ["o_totalprice"]):
        o.select(*cols).coalesce(1).write.mode("append").parquet(drift)
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    _assert_footer_schema(spark, drift, merge=True)
    conf.set(threshold, "2")
    try:
        _assert_spark_fallback(spark, drift, merge=True)
    finally:
        conf.unset(threshold)


def test_table_runs_no_job(spark, sf_dir):
    """Every table() read takes its schema from the footer: building
    the frames starts no Spark job."""
    assert jobs_run(spark, lambda: [table(spark, sf_dir, t) for t in TABLES]) == 0


def test_csv_round_trip(spark, sf_dir, tmp_path):
    c = table(spark, sf_dir, "customer")
    path = str(tmp_path / "customers_csv")
    c.write.option("header", "true").csv(path)
    back = read_csv(spark, path)
    assert back.count() == c.count()
    assert set(back.columns) == set(c.columns)


def test_json_round_trip(spark, tmp_path):
    path = tmp_path / "rows.json"
    with open(path, "w") as f:
        for i in range(10):
            f.write(json.dumps({"id": i, "name": f"row{i}", "score": i * 1.5}) + "\n")
    df = read_json(spark, str(path))
    assert df.count() == 10
    assert {"id", "name", "score"} <= set(df.columns)


def test_list_data_files(sf_dir):
    files = list_data_files(sf_dir)
    names = {os.path.basename(p) for p in files}
    assert "lineitem.parquet" in names and "events.parquet" in names
    assert all(p.endswith(".parquet") for p in files)


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Daily snapshots written with partitionBy(date) must let a date
    filter prune at the FILE level (PartitionFilters in the scan, not a
    post-scan Filter) — the property that makes reading one day out of
    a 3-year 100 TB history cost one day, not a full scan."""
    from pyspark.sql import functions as F

    from spotify_podcasts_airflow_batch_spark.sinks.writers import (
        write_daily_partitioned,
    )
    from spotify_podcasts_airflow_batch_spark.sources.readers import table

    ev = table(spark, sf_dir, "events").withColumn(
        "snapshot_date", F.col("ts").cast("date").cast("string")
    )
    out = str(tmp_path / "daily")
    write_daily_partitioned(ev, out)

    dates = [r.snapshot_date for r in ev.select("snapshot_date").distinct().collect()]
    pick = sorted(dates)[0]
    back = spark.read.parquet(out).where(F.col("snapshot_date") == pick)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert f"isnotnull(snapshot_date" in plan or pick in plan
    want = ev.where(F.col("snapshot_date") == pick).count()
    assert back.count() == want


def test_partition_overwrite_is_surgical(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite replaces ONLY the rewritten date —
    other partitions survive byte-for-byte (the reference's per-day S3
    key replace, distributed)."""
    from pyspark.sql import functions as F

    from spotify_podcasts_airflow_batch_spark.sinks.writers import (
        write_daily_partitioned,
    )
    from spotify_podcasts_airflow_batch_spark.sources.readers import table

    ev = table(spark, sf_dir, "events").withColumn(
        "snapshot_date", F.col("ts").cast("date").cast("string")
    )
    out = str(tmp_path / "daily2")
    write_daily_partitioned(ev, out)
    total_before = spark.read.parquet(out).count()

    dates = sorted(
        r.snapshot_date for r in ev.select("snapshot_date").distinct().collect()
    )
    pick = dates[1]
    one_day = ev.where(F.col("snapshot_date") == pick).limit(5)
    write_daily_partitioned(one_day, out)  # re-write just that date

    after = spark.read.parquet(out)
    assert after.where(F.col("snapshot_date") == pick).count() == 5
    other = after.where(F.col("snapshot_date") != pick).count()
    assert other == total_before - ev.where(F.col("snapshot_date") == pick).count()


def test_orc_round_trip(spark, sf_dir, tmp_path):
    from spotify_podcasts_airflow_batch_spark.sinks.writers import write_orc
    from spotify_podcasts_airflow_batch_spark.sources.readers import read_orc

    c = table(spark, sf_dir, "customer")
    path = str(tmp_path / "customers_orc")
    write_orc(c, path)
    back = read_orc(spark, path)
    assert back.schema == c.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, c.collect()))


def test_compact_partitions(spark, sf_dir, tmp_path):
    from spotify_podcasts_airflow_batch_spark.sinks.writers import (
        compact_partitions,
    )

    li = table(spark, sf_dir, "lineitem")
    small = str(tmp_path / "small_files")
    li.repartition(64).write.parquet(small)  # pathological small files
    import glob as g

    assert len(g.glob(os.path.join(small, "*.parquet"))) == 64
    out = str(tmp_path / "compacted")
    n_files = compact_partitions(spark, small, out, target_file_bytes=64 << 20)
    assert n_files < 64
    assert spark.read.parquet(out).count() == li.count()


def test_sorted_layout_enables_file_skipping(spark, sf_dir, tmp_path):
    """Range-partitioned write → per-file key ranges are disjoint, so
    a range predicate touches a strict subset of files (what parquet
    footer min/max pruning does at scale)."""
    from spotify_podcasts_airflow_batch_spark.sinks.writers import (
        write_sorted_layout,
    )

    li = table(spark, sf_dir, "lineitem").select("l_shipdate", "l_orderkey")
    path = str(tmp_path / "sorted_layout")
    write_sorted_layout(li, path, ["l_shipdate"], files=8)
    import glob as g

    files = sorted(g.glob(os.path.join(path, "part-*.parquet")))
    assert len(files) >= 4
    spans = []
    for p in files:
        row = (
            spark.read.parquet(p)
            .selectExpr("min(l_shipdate) AS lo", "max(l_shipdate) AS hi")
            .collect()[0]
        )
        spans.append((row["lo"], row["hi"]))
    spans.sort()
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next  # disjoint (or touching) key ranges
    assert spark.read.parquet(path).count() == li.count()


def test_read_text_lines_and_whole_files(spark, tmp_path):
    from spotify_podcasts_airflow_batch_spark.sources.readers import read_text

    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.txt").write_text("alpha beta\ngamma\n")
    (p / "b.txt").write_text("delta\n")
    lines = read_text(spark, str(p))
    assert sorted(r.value for r in lines.collect()) == [
        "alpha beta",
        "delta",
        "gamma",
    ]
    whole = read_text(spark, str(p), whole_text=True)
    assert whole.count() == 2
    assert {r.value for r in whole.collect()} == {
        "alpha beta\ngamma\n",
        "delta\n",
    }


def test_read_xml_rows(spark, tmp_path):
    from spotify_podcasts_airflow_batch_spark.sources.readers import read_xml

    f = tmp_path / "charts.xml"
    f.write_text(
        "<charts>"
        "<entry><rank>1</rank><region>us</region><name>A &amp; B</name></entry>"
        "<entry><rank>2</rank><region>gb</region><name>C</name></entry>"
        "</charts>"
    )
    df = read_xml(spark, str(f), row_tag="entry")
    rows = sorted((r.rank, r.region, r.name) for r in df.collect())
    assert rows == [(1, "us", "A & B"), (2, "gb", "C")]
