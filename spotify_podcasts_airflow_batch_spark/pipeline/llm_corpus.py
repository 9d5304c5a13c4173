"""End-to-end LLM training-corpus preparation (SURVEY.md §2 G).

The podcast pipeline (pipeline/podcast.py) re-expresses the
reference's DAG; THIS pipeline composes the C/D-series operators into
the other workload the engine exists for — turning a raw 100 TB
document pile into a deduplicated, quality-gated, split, training-ready
corpus:

    scan → PII scrub → quality gate → exact dedup → MinHash-LSH
    near-dup (pairs → connected components → one representative per
    cluster) → optional per-domain quota cap → deterministic
    train/val/test split → partitioned write

Stage order is the cost order: the cheap map-only gates (scrub,
quality) run first and shed the bulk of the data before anything
shuffles; exact dedup (one hash aggregate) runs before MinHash
(explode + wide aggregate); the expensive near-dup machinery only ever
sees survivors. Every stage is a DataFrame→DataFrame function over one
lineage — Catalyst fuses the map-only stages into the scan.

All decisions (split membership, dedup representative = min doc_id)
are pure functions of document content/ids: re-running the pipeline on
re-partitioned input produces byte-identical output, which is what
makes an idempotent daily corpus refresh possible.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.hashing import split_bucket
from spotify_podcasts_airflow_batch_spark.functions.text import (
    pii_scrub,
    tokens,
)
from spotify_podcasts_airflow_batch_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    normalize_text,
)
from spotify_podcasts_airflow_batch_spark.operators.graph import (
    connected_components,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import table


@dataclass
class CorpusPipeline:
    spark: SparkSession
    sf_dir: str
    out_dir: str
    min_tokens: int = 30
    max_tokens: int = 1000
    min_distinct_ratio: float = 0.3
    near_dup_jaccard: float = 0.8
    domain_quota: int | None = None  # per-(source, lang) doc cap
    split_pcts: tuple[int, int] = (80, 90)  # train < 80 ≤ val < 90 ≤ test
    stats: dict = field(default_factory=dict)

    # -- stages (each DataFrame → DataFrame, individually testable) ----

    def load(self) -> DataFrame:
        return table(self.spark, self.sf_dir, "documents").select(
            "doc_id", "source", "lang", "text"
        )

    def scrub(self, docs: DataFrame) -> DataFrame:
        """Map-only: PII redaction fused into the scan projection."""
        return docs.withColumn("text", pii_scrub(F.col("text")))

    def quality_gate(self, docs: DataFrame) -> DataFrame:
        """Map-only Gopher-style gate: token count, distinct ratio.
        Runs before any shuffle — sheds data at scan cost."""
        staged = docs.withColumn("__toks", tokens(F.col("text")))
        n = F.size("__toks")
        distinct_ratio = F.size(F.array_distinct("__toks")) / n
        return (
            staged.where(
                (n >= self.min_tokens)
                & (n <= self.max_tokens)
                & (distinct_ratio >= self.min_distinct_ratio)
            )
            .withColumn("n_tokens", n)
            .drop("__toks")
        )

    def exact_dedup(self, docs: DataFrame) -> DataFrame:
        """Keep the min-doc_id representative of each exact-content
        group (one hash aggregate; map-side combinable)."""
        fp = F.md5(normalize_text(F.col("text")))
        w_rep = (
            docs.select("doc_id", fp.alias("__fp"))
            .groupBy("__fp")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        return docs.join(w_rep, "doc_id", "left_semi")

    def near_dedup(self, docs: DataFrame) -> DataFrame:
        """MinHash → LSH bucket pairs → connected components → keep
        each cluster's min-doc_id member. Only candidate pairs above
        the Jaccard estimate threshold become edges, so component size
        is bounded by true near-dup cluster size, not bucket size."""
        sig = minhash_signatures(docs, "doc_id", "text")
        pairs = lsh_candidate_pairs(sig, "doc_id").where(
            F.col("est_jaccard") >= self.near_dup_jaccard
        )
        comp = connected_components(
            pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            )
        )
        losers = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        return docs.join(losers, "doc_id", "left_anti")

    def domain_cap(self, docs: DataFrame) -> DataFrame:
        """Optional per-(source, lang) quota (SURVEY §2 C39): keep the
        ``domain_quota`` longest survivors per group so no domain
        dominates the corpus. Skew-safe via capped_top_q — within-quota
        groups never sort, hot groups are cut per-salt first. No-op
        when ``domain_quota`` is None."""
        if self.domain_quota is None:
            return docs
        from spotify_podcasts_airflow_batch_spark.operators.ranking import (
            capped_top_q,
        )

        return capped_top_q(
            docs,
            group_cols=("source", "lang"),
            order_by=[F.length("text").desc(), F.col("doc_id")],
            quota=self.domain_quota,
            salt_source=F.col("doc_id"),
        )

    def split(self, docs: DataFrame) -> DataFrame:
        """Deterministic hash split — membership is a pure function of
        doc_id (stable under re-partitioning, engine-portable)."""
        bucket = split_bucket(F.col("doc_id"))
        lo, hi = self.split_pcts
        return docs.withColumn(
            "split",
            F.when(bucket < lo, F.lit("train"))
            .when(bucket < hi, F.lit("val"))
            .otherwise(F.lit("test")),
        )

    def write(self, docs: DataFrame) -> None:
        """Partitioned by split so downstream training jobs read one
        directory; dynamic overwrite keeps re-runs idempotent."""
        (
            docs.write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("split")
            .mode("overwrite")
            .parquet(self.out_dir)
        )

    # -- end to end ----------------------------------------------------

    def run(self) -> dict:
        from pyspark.sql import Observation

        raw = self.load()
        self.stats["n_input"] = raw.count()
        scrubbed = self.scrub(raw)
        gated = self.quality_gate(scrubbed)
        self.stats["n_quality"] = gated.count()
        exact = self.exact_dedup(gated)
        self.stats["n_after_exact"] = exact.count()
        near = self.near_dedup(exact)
        capped = self.domain_cap(near)
        final = self.split(capped)
        # Final-stage metrics ride the write action itself (observe ≍
        # accumulators on the CollectMetrics node): total + per-split
        # counts cost ZERO extra jobs — no post-write read-back scan.
        # Only the straight-line tail may carry an observe node: the
        # dedup stages reference their input subtree twice (semi/anti
        # join + aggregate), and a duplicated observe node would
        # double-fire its counters.
        obs = Observation("corpus_write")
        final = final.observe(
            obs,
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("split") == "train").cast("long")).alias("train"),
            F.sum((F.col("split") == "val").cast("long")).alias("val"),
            F.sum((F.col("split") == "test").cast("long")).alias("test"),
        )
        self.write(final)
        got = obs.get
        # sum() over zero rows observes NULL — an empty final corpus
        # must report 0s, not crash the comparison
        self.stats["n_after_near"] = got["n_total"] or 0
        self.stats["splits"] = {
            s: got[s] for s in ("train", "val", "test") if (got[s] or 0) > 0
        }
        return dict(self.stats)
