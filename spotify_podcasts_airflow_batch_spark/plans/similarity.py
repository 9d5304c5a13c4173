"""Similarity queries over ``embeddings`` (SURVEY.md §2 C8, D1, D2)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.operators.similarity import (
    knn_brute_force,
    knn_lsh,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table

EMBED_DIMS = 64
NEAR_DUP_TAU = 0.3


@register(
    "embed_near_dup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {NEAR_DUP_TAU}
    """,
)
def embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 — embedding-cosine near-duplicate pairs (≥ τ), blocked by
    label. One shuffle on the block key, then a numpy GEMM per block
    (operators/similarity.blocked_allpairs_cosine) — ~6× faster than
    the self-join + per-pair ``zip_with`` dot it replaces, because the
    64-dim fold runs as BLAS over the whole block instead of codegen
    per pair. At 100 TB the block key would be an LSH bucket (see
    knn_lsh) instead of a label — semantics identical, block
    cardinality tunable."""
    from spotify_podcasts_airflow_batch_spark.operators.similarity import (
        blocked_allpairs_cosine,
    )

    e = table(spark, sf_dir, "embeddings")
    return blocked_allpairs_cosine(
        e, block_col="label", id_col="vec_id", vec_col="embedding",
        tau=NEAR_DUP_TAU, round_dp=4,
    )


@register(
    "knn_brute",
    oracle="""
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                            c.vec_id
               ) AS rank
        FROM embeddings q
        JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
    ) WHERE rank <= 10
    """,
)
def knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — exact cosine top-10 for 5 query vectors. The query set is
    broadcast; the corpus is scanned once and never shuffled."""
    e = table(spark, sf_dir, "embeddings")
    return knn_brute_force(
        corpus=e, queries=e.where(F.col("vec_id") < 5), k=10
    )


@register(
    "label_centroids",
    oracle="""
    SELECT label, i AS dim,
           round(avg(CAST(embedding[i+1] AS DOUBLE)), 4) + 0 AS centroid_val,
           count(*) AS n_vectors
    FROM embeddings, UNNEST(range(64)) AS t(i)
    GROUP BY label, i
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-ext — element-wise centroid per label in long form
    (label, dim, avg). posexplode keeps the aggregation partial-
    combinable: the shuffle carries (label, dim) partial sums, which is
    how you'd train IVF coarse centroids at 100 TB (one pass,
    mergeable state)."""
    e = table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            # + 0.0 canonicalizes IEEE -0.0 → +0.0 (an avg of values
            # summing to a tiny negative rounds to -0.0 on one engine
            # and +0.0 on the other)
            (F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0)).alias(
                "centroid_val"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid_val", "n_vectors")
    )


@register("ivf_ann", oracle=None)  # rows-only: approximate by design
def ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-ext — IVF-style ANN: 16 deterministic coarse centroids (the
    first 16 corpus vectors), every vector assigned to its nearest
    cell, queries probe their top-2 cells and brute-force within.
    Cell assignment is a broadcast join + max_by aggregate; the probe
    join key is the cell id — the corpus is never self-joined."""
    from spotify_podcasts_airflow_batch_spark.operators.similarity import ivf_knn

    e = table(spark, sf_dir, "embeddings")
    return ivf_knn(
        corpus=e,
        queries=e.where(F.col("vec_id") < 5),
        n_cells=16,
        n_probe=2,
        k=10,
    )


# --------------------------------------------------------------- D27
_IVF_SWEEP_NPROBE = (1, 2, 4)
_IVF_SWEEP_MOD = 31  # deterministic probe sample: vec_id % 31 == 0
_IVF_SWEEP_K = 10
_IVF_SWEEP_CELLS = 16
_IVF_COS = (
    "round(list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[]), 6)"
)


def _ivf_sweep_oracle() -> str:
    cos_cc = _IVF_COS.format(a="c.embedding", b="ct.embedding")
    cos_qc = _IVF_COS.format(a="q.embedding", b="ct.embedding")
    cos_qm = _IVF_COS.format(a="q.embedding", b="m.embedding")
    cos_qe = _IVF_COS.format(a="q.embedding", b="c.embedding")
    settings = ", ".join(str(n) for n in _IVF_SWEEP_NPROBE)
    return f"""
    WITH cents AS (
        SELECT vec_id AS cell_id, embedding
        FROM (SELECT * FROM embeddings ORDER BY vec_id
              LIMIT {_IVF_SWEEP_CELLS}) s
    ), corpus_cell AS (
        SELECT vec_id, cell_id FROM (
            SELECT c.vec_id, ct.cell_id,
                   row_number() OVER (PARTITION BY c.vec_id
                       ORDER BY {cos_cc} DESC, ct.cell_id) AS r
            FROM embeddings c CROSS JOIN cents ct
        ) WHERE r = 1
    ), cell_sizes AS (
        SELECT cell_id, count(*) AS n FROM corpus_cell GROUP BY cell_id
    ), q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id % {_IVF_SWEEP_MOD} = 0
    ), nq AS (SELECT count(*) AS n_queries FROM q),
    probe_rank AS (
        SELECT q.query_id, ct.cell_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {cos_qc} DESC, ct.cell_id) AS cr
        FROM q CROSS JOIN cents ct
    ), settings AS (SELECT unnest([{settings}]) AS nprobe),
    probed AS (
        SELECT s.nprobe, p.query_id, p.cell_id
        FROM settings s JOIN probe_rank p ON p.cr <= s.nprobe
    ), cand_counts AS (
        SELECT pr.nprobe,
               sum(cs.n) - sum(CASE WHEN cc.vec_id IS NOT NULL
                               THEN 1 ELSE 0 END) AS n_candidates
        FROM probed pr
        JOIN cell_sizes cs ON cs.cell_id = pr.cell_id
        LEFT JOIN corpus_cell cc
          ON cc.vec_id = pr.query_id AND cc.cell_id = pr.cell_id
        GROUP BY pr.nprobe
    ), approx AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT pr.nprobe, pr.query_id, m.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY pr.nprobe, pr.query_id
                       ORDER BY {cos_qm} DESC, m.vec_id) AS r
            FROM probed pr
            JOIN corpus_cell mc ON mc.cell_id = pr.cell_id
            JOIN embeddings m
              ON m.vec_id = mc.vec_id AND m.vec_id <> pr.query_id
            JOIN q ON q.query_id = pr.query_id
        ) WHERE r <= {_IVF_SWEEP_K}
    ), exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {cos_qe} DESC, c.vec_id) AS r
            FROM q JOIN embeddings c ON c.vec_id <> q.query_id
        ) WHERE r <= {_IVF_SWEEP_K}
    ), hits AS (
        SELECT a.nprobe, count(*) AS n_hits
        FROM approx a JOIN exact e
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY a.nprobe
    )
    SELECT s.nprobe,
           CAST(nq.n_queries AS BIGINT) AS n_queries,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(CASE WHEN nq.n_queries = 0 THEN 0
                ELSE coalesce(h.n_hits, 0) * 10000
                     // ({_IVF_SWEEP_K} * nq.n_queries)
                END AS BIGINT) AS recall_bp,
           CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates
    FROM settings s CROSS JOIN nq
    LEFT JOIN hits h ON h.nprobe = s.nprobe
    LEFT JOIN cand_counts c ON c.nprobe = s.nprobe
    """


@register("ivf_nprobe_recall", oracle=_ivf_sweep_oracle())
def ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D27 — the IVF probe-depth dial: recall@10 and candidate volume
    of the D-ext IVF index at nprobe in (1, 2, 4) over 16 cells,
    against exact brute-force cosine — the measurement that completes
    the ANN dial family (D15 grades LSH, D23 the JL sketch, D25/D25b
    the PQ codebooks). nprobe is THE serving knob of an IVF index:
    each extra probed cell buys recall with candidate volume
    (= distance computations per query), and at 100 TB you set it
    from this table, not the FAISS defaults.

    Candidate accounting is exact integer arithmetic: cells partition
    the corpus, so a query's candidate count is the sum of its probed
    cells' sizes minus one when its own cell is probed. Hit counting
    joins two top-k tables that are probes×k rows by construction.
    Every ranking pins ties with round(cos, 6) + id — the D1/D21
    cross-engine discipline (Spark scores normalized dots via GEMM /
    JVM folds, DuckDB list_cosine_similarity; round(6) equality is
    driver-proven by knn_brute and knn_label_probe). Scale shape: the
    corpus meets only the 16-row broadcast centroid relation and its
    own cell's probes — ONE corpus assignment and ONE candidate
    scoring pass shared by every setting (round 10; was one ivf_knn
    pipeline per setting = 3 corpus assignments + 3 scoring joins +
    a 4th assignment for the accounting). nprobe settings are nested
    prefixes of the SAME cell ranking — row_number over (round(cos,6)
    desc, cell_id) — so scoring once at max(nprobe) retaining the
    cell rank ``__cr`` and re-slicing ``__cr <= nprobe`` per setting
    is value-identical to scoring each setting independently; the
    per-setting top-k then runs as one window partitioned by
    (nprobe, query_id). No corpus self-join anywhere; the report is
    |settings| rows."""
    from spotify_podcasts_airflow_batch_spark.functions.vectors import (
        dot,
        l2_normalized,
    )
    from spotify_podcasts_airflow_batch_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_centroids,
        knn_brute_force,
    )

    e = table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") % _IVF_SWEEP_MOD == 0)
    # exact reference: probes×k rows, consumed once per setting —
    # persist to avoid re-running the GEMM scan per consumer
    exact = (
        knn_brute_force(corpus=e, queries=probes, k=_IVF_SWEEP_K)
        .select("query_id", "neighbor_id")
        .persist()
    )
    cents = ivf_centroids(e, _IVF_SWEEP_CELLS)
    # ONE corpus assignment (same ivf_assign window semantics as the
    # per-setting plans it replaces), persisted: it feeds candidate
    # scoring, cell_sizes and the own-cell accounting below — three
    # consumers that do NOT end in a shared exchange, so physical
    # reuse cannot dedup them.
    corpus_cell = (
        ivf_assign(
            l2_normalized(e, "embedding", "__nv").select(
                "vec_id", F.col("__nv").alias("cvec")
            ),
            cents,
            "vec_id",
            "cvec",
            1,
        )
        .select("vec_id", "cell_id", "cvec")
        .persist()
    )
    # ONE query assignment at the deepest probe setting, keeping the
    # cell rank so each shallower setting is the prefix __cr <= nprobe
    probe_rank = ivf_assign(
        l2_normalized(probes, "embedding", "__nv").select(
            F.col("vec_id").alias("query_id"),
            F.col("__nv").alias("qvec"),
        ),
        cents,
        "query_id",
        "qvec",
        max(_IVF_SWEEP_NPROBE),
    ).select("query_id", "qvec", "cell_id", F.col("__cr").alias("cr"))
    settings = spark.createDataFrame(
        [(n,) for n in _IVF_SWEEP_NPROBE], "nprobe int"
    )
    # score candidates ONCE at max depth (query side broadcast, the
    # corpus side meets only its own cell's probes), fan out by the
    # 3-row settings relation, and take per-(setting, query) top-k in
    # a single window
    scored = (
        F.broadcast(probe_rank)
        .join(corpus_cell.select("vec_id", "cell_id", "cvec"), "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", dot(F.col("qvec"), F.col("cvec")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "cr", "cos_raw")
        .crossJoin(F.broadcast(settings))
        .where(F.col("cr") <= F.col("nprobe"))
    )
    cand = cosine_topk(
        scored, _IVF_SWEEP_K, group_cols=("nprobe", "query_id")
    ).select("nprobe", "query_id", "neighbor_id")
    hits = cand.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "nprobe"
    ).agg(F.count(F.lit(1)).alias("n_hits"))

    # candidate accounting from the SAME assignment relations
    cell_sizes = corpus_cell.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    # broadcast the 3-row settings side: a bare crossJoin of two
    # non-broadcast relations plans a CartesianProduct
    probed = probe_rank.select("query_id", "cell_id", "cr").crossJoin(
        F.broadcast(settings)
    ).where(F.col("cr") <= F.col("nprobe"))
    # own-cell lookup only ever matches probe ids — filter before the
    # broadcast so the built relation is probe-sized, not corpus-sized
    own = corpus_cell.where(
        F.col("vec_id") % _IVF_SWEEP_MOD == 0
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell_id").alias("own_cell"),
        F.lit(1).alias("__own"),
    )
    cand_counts = (
        probed.join(F.broadcast(cell_sizes), "cell_id")
        .join(F.broadcast(own), ["query_id"], "left")
        .withColumn(
            "__self",
            F.when(F.col("own_cell") == F.col("cell_id"), 1).otherwise(0),
        )
        .groupBy("nprobe")
        .agg((F.sum("n") - F.sum("__self")).alias("n_candidates"))
    )
    nq = probes.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        settings.crossJoin(F.broadcast(nq))
        .join(F.broadcast(hits), "nprobe", "left")
        .join(F.broadcast(cand_counts), "nprobe", "left")
        .select(
            "nprobe",
            F.col("n_queries").cast("long").alias("n_queries"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                f"CASE WHEN n_queries = 0 THEN 0"
                f" ELSE coalesce(n_hits, 0) * 10000"
                f" div ({_IVF_SWEEP_K} * n_queries) END"
            ).cast("long").alias("recall_bp"),
            F.coalesce("n_candidates", F.lit(0))
            .cast("long")
            .alias("n_candidates"),
        )
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= {NEAR_DUP_TAU}
    ), sym AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ), walk(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u
    )
    SELECT u AS vec_id, least(u, min(v)) AS cluster_id
    FROM walk GROUP BY u
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 — near-duplicate PAIRS → duplicate GROUPS: connected
    components (min-label propagation, operators/graph.py) over the
    embed_near_dup edge list. cluster_id = min vec_id in the
    component, so 'keep the representative' is a trivial
    ``node == component`` filter. The oracle walks the same graph with
    a recursive CTE — exact agreement, not just cluster counts."""
    from spotify_podcasts_airflow_batch_spark.operators.graph import (
        connected_components,
    )

    edges = embed_near_dup(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components(edges, src="id_a", dst="id_b")
    return cc.select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )


@register("ann_lsh", oracle=None)  # rows-only: approximate by design
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — LSH-bucketed approximate top-10 for the same query set.
    Deterministic hyperplanes → reproducible output; recall properties
    are asserted in tests/test_similarity.py (exact duplicates always
    share a bucket)."""
    e = table(spark, sf_dir, "embeddings")
    return knn_lsh(
        corpus=e,
        queries=e.where(F.col("vec_id") < 5),
        dims=EMBED_DIMS,
        k=10,
    )


# ---------------------------------------------------------------- D8
@register(
    "embed_dim_stats",
    oracle="""
    WITH x AS (
        SELECT i - 1 AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    )
    SELECT dim, count(*) AS n,
           round(avg(v), 3) + 0 AS mean_v,
           round(stddev_samp(v), 3) + 0 AS std_v,
           round(min(v), 6) + 0 AS min_v,
           round(max(v), 6) + 0 AS max_v
    FROM x GROUP BY dim
    """,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 — per-dimension corpus statistics (mean/std/min/max): the
    normalization parameters every embedding pipeline computes before
    whitening, quantization (D6 uses the min/max), or drift monitoring.
    posexplode fans each vector into (dim, value) — a bounded 64×
    blow-up — and the per-dim aggregate is algebraic, so Spark
    map-side-combines to 64 rows per task before the one shuffle.
    mean/std round to 3dp: cross-engine sums differ in the last ulp
    because partition order differs; min/max are order-exact so 6dp.
    """
    e = table(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "f")).select(
        "dim", F.col("f").cast("double").alias("v")
    )
    return x.groupBy("dim").agg(
        F.count("*").alias("n"),
        (F.round(F.avg("v"), 3) + 0).alias("mean_v"),
        (F.round(F.stddev_samp("v"), 3) + 0).alias("std_v"),
        (F.round(F.min("v"), 6) + 0).alias("min_v"),
        (F.round(F.max("v"), 6) + 0).alias("max_v"),
    )


# ---------------------------------------------------------------- D9
_RERANK_DEPTH = 50


@register(
    "ann_hamming_rerank",
    oracle=f"""
    WITH thr AS (
        SELECT i - 1 AS dim,
               round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 3) AS t
        FROM embeddings, unnest(range(1, {EMBED_DIMS + 1})) AS u(i)
        GROUP BY 1
    ), sig AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN t.dim < 32
                              AND CAST(e.embedding[CAST(t.dim + 1 AS INT)] AS DOUBLE) > t.t
                             THEN 1::BIGINT << t.dim ELSE 0 END) AS BIGINT) AS sig_lo,
               CAST(sum(CASE WHEN t.dim >= 32
                              AND CAST(e.embedding[CAST(t.dim + 1 AS INT)] AS DOUBLE) > t.t
                             THEN 1::BIGINT << (t.dim - 32) ELSE 0 END) AS BIGINT) AS sig_hi
        FROM embeddings e, thr t
        GROUP BY e.vec_id
    ), ham AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               bit_count(xor(q.sig_lo, c.sig_lo))
               + bit_count(xor(q.sig_hi, c.sig_hi)) AS hamming
        FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
    ), shortlist AS (
        SELECT query_id, neighbor_id, hamming,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rn
        FROM ham
    )
    SELECT query_id, neighbor_id, hamming, cos_sim, rank FROM (
        SELECT s.query_id, s.neighbor_id, s.hamming,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            c.embedding::DOUBLE[]), 4) AS cos_sim,
               row_number() OVER (
                   PARTITION BY s.query_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
                                                         c.embedding::DOUBLE[]), 6) DESC,
                            s.neighbor_id
               ) AS rank
        FROM shortlist s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.neighbor_id
        WHERE s.rn <= {_RERANK_DEPTH}
    ) WHERE rank <= 10
    """,
)
def ann_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 — binary-quantized ANN: per-dim-mean sign bits pack each
    vector into 64 bits; XOR+popcount Hamming shortlists ``_RERANK_DEPTH``
    candidates per query; exact cosine reranks to top-10. Unlike D2/D4
    this quantized path is fully deterministic, so the oracle replays it
    bit-for-bit. Thresholds are a 64-row aggregate collected once and
    inlined as literals — the same broadcast-tiny-model shape as D7's
    centroids; everything after is one shuffle-free scan plus two
    per-query top-k windows."""
    from spotify_podcasts_airflow_batch_spark.operators.similarity import (
        knn_hamming_rerank,
    )

    e = table(spark, sf_dir, "embeddings")
    thr_rows = (
        e.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 3).alias("t"))
        .collect()
    )
    thresholds = [0.0] * EMBED_DIMS
    for r in thr_rows:
        thresholds[r["dim"]] = r["t"]
    return knn_hamming_rerank(
        corpus=e,
        queries=e.where(F.col("vec_id") < 5),
        thresholds=thresholds,
        k=10,
        rerank=_RERANK_DEPTH,
    )


# ---------------------------------------------------------------- D10
_PR_ITERS = 10
_PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as plain SQL (DuckDB forbids
    nothing here — the recursion is just 10 chained CTEs)."""
    base = """
    WITH edges AS (
        SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    outd AS (SELECT src, sum(w) AS tot FROM edges GROUP BY src),
    en AS (
        SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / outd.tot AS p
        FROM edges e JOIN outd USING (src)
    ),
    nn AS (SELECT count(*) AS n FROM nation),
    pr0 AS (
        SELECT n_nationkey AS node, 1.0 / nn.n AS r FROM nation, nn
    )"""
    step = """,
    pr{next} AS (
        SELECT n.n_nationkey AS node,
               0.15 / nn.n + 0.85 * coalesce(sum(p.r * en.p), 0.0) AS r
        FROM nation n
        CROSS JOIN nn
        LEFT JOIN en ON en.dst = n.n_nationkey
        LEFT JOIN pr{cur} p ON p.node = en.src
        GROUP BY n.n_nationkey, nn.n
    )"""
    parts = [base]
    for i in range(_PR_ITERS):
        parts.append(step.format(cur=i, next=i + 1))
    parts.append(
        f"""
    SELECT node AS nationkey, round(r, 6) + 0 AS pagerank FROM pr{_PR_ITERS}
    """
    )
    return "".join(parts)


@register("nation_pagerank", oracle=_pagerank_oracle())
def nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 — PageRank over the nation-to-nation trade graph (supplier
    nation → customer nation per lineitem, edge weight = shipment
    count), 10 damped iterations (d=0.85). The iterative-algorithm
    class beyond D5's connected components.

    Two-tier shape: the DISTRIBUTED work is contracting the fact
    (lineitem⋈supplier⋈orders⋈customer, one shuffle to the (src,dst)
    rollup) down to the nation graph — at 100 TB that is still the
    whole cost. The contracted graph is ≤|nations|² edges, so the
    iteration itself runs driver-side in deterministic sorted order:
    burning a cluster round-trip per iteration on a 25-node graph is
    the anti-pattern (measured ~0.4 s/round in fixed scheduling,
    broadcast, and lineage-checkpoint cost — >10× the arithmetic).
    For UNBOUNDED node sets (users, pages) the engine's Pregel-style
    loop is the path: per-round edges×ranks join + dst-sum, edges
    partitioned once and reused — exactly the layout of D12's BFS
    (operators/graph.py), which keeps that class covered. Dangling
    mass is not redistributed — identically on both engines, so ranks
    agree after round(6)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = F.broadcast(table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    edges = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = sorted(r.node for r in n.collect())
    erows = sorted(
        (r.src, r.dst, r.w) for r in edges.collect()
    )
    outd: dict = {}
    for src_, _dst, w in erows:
        outd[src_] = outd.get(src_, 0) + w
    n_nodes = len(nodes)
    ranks = {v: 1.0 / n_nodes for v in nodes}
    for _ in range(_PR_ITERS):
        mass = {v: 0.0 for v in nodes}
        for src_, dst_, w in erows:
            mass[dst_] += ranks[src_] * (float(w) / outd[src_])
        ranks = {
            v: 0.15 / n_nodes + _PR_DAMP * mass[v] for v in nodes
        }
    # Quantize HALF-UP explicitly: Python round() is half-to-even,
    # but the DuckDB oracle's round(x, 6) (and F.round) are half-up —
    # a rank landing exactly on a 0.5e-6 boundary must not diverge.
    out = [
        (v, math.floor(ranks[v] * 1e6 + 0.5) / 1e6 + 0.0) for v in nodes
    ]
    return spark.createDataFrame(out, "nationkey int, pagerank double")


# ---------------------------------------------------------------- D11
_TRI_EDGES = """
        SELECT DISTINCT least(s_nationkey, c_nationkey) AS a,
                        greatest(s_nationkey, c_nationkey) AS b
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE s_nationkey <> c_nationkey
"""


@register(
    "trade_triangles",
    oracle=f"""
    WITH ed AS MATERIALIZED ({_TRI_EDGES}),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM ed e1
        JOIN ed e2 ON e2.a = e1.b
        JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT a AS node FROM ed UNION ALL SELECT b AS node FROM ed
        ) GROUP BY node
    ),
    pern AS (
        SELECT node, count(*) AS n_triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y AS node FROM tri
            UNION ALL SELECT z AS node FROM tri
        ) GROUP BY node
    )
    SELECT deg.node AS nationkey, deg.degree,
           coalesce(pern.n_triangles, 0) AS n_triangles,
           round(CASE WHEN deg.degree >= 2
                 THEN coalesce(pern.n_triangles, 0) * 2.0
                      / (deg.degree * (deg.degree - 1))
                 ELSE 0.0 END, 4) AS clustering
    FROM deg LEFT JOIN pern USING (node)
    """,
)
def trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 — triangle counting + local clustering coefficient on the
    undirected nation trade graph (edge = any shipment between two
    nations). Node-iterator enumeration over canonically ordered edges
    (a<b): each triangle {x<y<z} is found exactly once by joining
    (x,y)⋈(y,z) and closing with (x,z). On a real (power-law) graph
    the scale refinement is degree-ordering the edge direction first
    (Schank-Wagner) so the two-path fan-out is bounded by the LOWER
    degree endpoint; the join shape is identical. Per-node triangle
    membership and degree are map-side-combinable counts; clustering
    = 2·tri / (deg·(deg−1))."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = F.broadcast(table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ed = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # tiny; reused three times below
    )
    e1 = ed.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = ed.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = ed.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    deg = (
        ed.select(F.col("a").alias("node"))
        .unionAll(ed.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    pern = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_tri = F.coalesce(F.col("n_triangles"), F.lit(0))
    return deg.join(pern, "node", "left").select(
        F.col("node").alias("nationkey"),
        "degree",
        n_tri.alias("n_triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                n_tri * 2.0 / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(0.0),
            4,
        ).alias("clustering"),
    )
