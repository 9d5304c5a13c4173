from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    from spotify_podcasts_airflow_batch_spark.session import get_spark

    # The warehouse dir is a static conf, fixed when the JVM starts. A
    # per-session one keeps pytest processes sharing a checkout from
    # deleting each other's managed tables in ./spark-warehouse.
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv(
            "PYSPARK_SUBMIT_ARGS",
            f"--conf spark.sql.warehouse.dir={warehouse} {submit}",
        )
        s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


def jobs_run(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs, counted under a job
    group of their own."""
    sc = spark.sparkContext
    group = f"jobs_run_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
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
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
