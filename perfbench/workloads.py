"""The benchmark workloads: what one op is, how it is isolated, and how
its output is checked.

A workload runs its ``setup_ops`` once, then rounds. Every round
issues the same op sequence, one op at a time (a closed loop with one
client). An op is ``(kind, label)``: kind ``primary`` feeds
``op_p50_s`` and ``cpu_s_per_op``, kind ``write`` feeds
``write_p50_s``.
"""

from __future__ import annotations

import os
import shutil

from perfbench import inputs, oracles
from spotify_podcasts_airflow_batch_spark.plans import similarity4


class Workload:
    name = ""
    setup_ops: list[tuple[str, str]] = []
    round_ops: list[tuple[str, str]] = []

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.duck = None
        self.expected: dict[str, object] = {}

    # inputs / oracle ---------------------------------------------------
    def generate(self) -> dict:
        raise NotImplementedError

    def prepare(self, tables: list[str]) -> None:
        self.duck = oracles.connect(
            self.data_dir, tables, os.path.join(self.work_dir, "duck")
        )

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
            self.duck = None

    # isolation ---------------------------------------------------------
    def isolate(self, label: str) -> None:
        """Every op pays its full work: drop Spark's cached relations
        and persisted RDDs and the package's in-process memos, then
        assert nothing cached is left."""
        from spotify_podcasts_airflow_batch_spark.plans import similarity2
        from spotify_podcasts_airflow_batch_spark.sources import readers

        spark = self.spark
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        for memo in (
            similarity2._PQ_CB_CACHE,
            similarity2._IVF_CC_CACHE,
            similarity2._INDEX_STORE_CACHE,
            readers._LAYOUT_CACHE,
        ):
            memo.clear()
        self.reset(label)
        cache = spark._jsparkSession.sharedState().cacheManager()
        if not cache.isEmpty() or not jsc.getPersistentRDDs().isEmpty():
            raise RuntimeError("a cached relation survived op isolation")

    def reset(self, label: str) -> None:
        """Workload state to drop before a ``label`` op, untimed."""

    # ops ---------------------------------------------------------------
    def run(self, label: str, tracer):
        raise NotImplementedError

    def check(self, label: str, result) -> bool:
        raise NotImplementedError

    def rows(self, label: str) -> int:
        """Input rows one ``label`` op processes (rows_per_s)."""
        raise NotImplementedError


class PodcastDaily(Workload):
    """The paper's job: ``run_daily`` (scan → window top-k → broadcast
    enrich → mismatch assert → date-partitioned parquet → one CSV),
    then ``run_backfill`` over seven days of the same output."""

    name = "podcast_daily"
    round_ops = [("primary", "run_daily"), ("write", "run_backfill")]
    chart_len = 10

    def generate(self) -> dict:
        info = inputs.podcast_tables(self.data_dir, self.seed)
        self._rows = info["events"]["rows"]
        self.prepare(["events", "customer"])
        self.expected["chart"] = oracles.podcast_expected(
            self.duck, self.chart_len
        )
        self._out = os.path.join(self.work_dir, "out", "podcast")
        self._pipe = None
        return info

    def reset(self, label: str) -> None:
        # each round's run_daily starts from an empty output root
        if label == "run_daily":
            shutil.rmtree(self._out, ignore_errors=True)

    def run(self, label: str, tracer):
        from spotify_podcasts_airflow_batch_spark.pipeline.podcast import (
            PodcastPipeline,
        )

        if label == "run_daily":
            self._pipe = PodcastPipeline(
                self.spark, self.data_dir, self._out, chart_len=self.chart_len
            )
            return self._pipe.run_daily()
        self._pipe.run_backfill(*inputs.BACKFILL_RANGE)
        return self._pipe.charts_path

    def check(self, label: str, result) -> bool:
        if label == "run_daily":
            got = oracles.consolidated_csv_hash(self.duck, result)
        else:
            got = oracles.daily_parquet_hash(self.duck, result)
        return got == self.expected["chart"]

    def rows(self, label: str) -> int:
        return self._rows


class AnnIndex(Workload):
    """Write-then-read over an incremental IVF-PQ store. Set-up builds
    the store cold (``build_base_store`` + ``tombstone_ids`` + two
    ``append_batch``). Each round then replays the day-2 append
    (``append_batch`` re-encodes the batch against the frozen
    quantizers and dynamically overwrites its own epoch partition, so
    the store's content is unchanged) and serves queries
    (``ivfpq_incremental_served``) from the store."""

    name = "ann_index"
    setup_ops = [("setup", "cold_build")]
    round_ops = [("write", "append"), ("primary", "serve"), ("primary", "serve")]

    def generate(self) -> dict:
        info = inputs.ann_tables(self.data_dir, self.seed)
        self.prepare(["embeddings"])
        self.expected["serve"] = oracles.ann_serve_expected(self.duck)
        # every vector lands in one wave; base-wave ids divisible by the
        # tombstone modulus are deleted
        self._rows, n_tomb = self.duck.execute(
            f"""SELECT count(*), count(*) FILTER (
                    vec_id % {similarity4._INC_WAVES} = 0
                    AND vec_id % {similarity4._INC_TOMB_MOD} = 0)
                FROM embeddings"""
        ).fetchone()
        self._append_rows = self.duck.execute(
            f"SELECT count(*) FROM embeddings WHERE vec_id % "
            f"{similarity4._INC_WAVES} = {similarity4._INC_WAVES - 1}"
        ).fetchone()[0]
        self.expected["store"] = (self._rows, n_tomb)
        self._root = None
        return info

    def reset(self, label: str) -> None:
        # a cold build forgets the store; the round's appends and serves
        # use the store it writes
        if label == "cold_build":
            similarity4._INC_STORE_CACHE.clear()
            if self._root:
                shutil.rmtree(self._root, ignore_errors=True)

    def run(self, label: str, tracer):
        from spotify_podcasts_airflow_batch_spark.plans.registry import (
            all_queries,
        )

        if label == "cold_build":
            self._root = similarity4.ivfpq_incremental_store(
                self.spark, self.data_dir
            )
            return self._root
        if label == "append":
            emb = similarity4._emb(self.spark, self.data_dir, fan_out="force")
            last = similarity4._INC_WAVES - 1
            similarity4.append_batch(
                self.spark, self._root, similarity4._wave(emb, last), last
            )
            return self._root
        fn = all_queries()["ivfpq_incremental_served"].spark_fn
        with tracer.span("plans.similarity4.ivfpq_incremental_served"):
            return fn(self.spark, self.data_dir).toPandas()

    def check(self, label: str, result) -> bool:
        if label == "serve":
            return oracles.canon_hash(result) == self.expected["serve"]
        counts = oracles.ann_store_counts(self.duck, result)
        return (
            similarity4._store_is_valid(result)
            and counts == self.expected["store"]
        )

    def rows(self, label: str) -> int:
        # an append encodes the store's last wave
        if label == "append":
            return self._append_rows
        return self._rows


WORKLOADS = {w.name: w for w in (PodcastDaily, AnnIndex)}
