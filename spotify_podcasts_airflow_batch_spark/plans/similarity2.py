"""Similarity / embedding-quality operators, part 2 (SURVEY.md §2
D14-D16, D18): SemDeDup-style semantic dedup, a first-class ANN-recall
evaluation query, zero-copy Arrow vector norms, and centroid-distance
outlier screening.

D14 turns the near-dup PAIR diagnostic (D-series `embed_near_dup`)
into the artifact a training pipeline actually ships — the kept
corpus; D15 turns the test-only recall assertion into a queryable
evaluation table, because at 100 TB you tune LSH plane counts from a
recall dashboard, not a unit test.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    salted_topk_per_group,
    topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.operators.similarity import (
    blocked_allpairs_cosine,
    cosine_topk,
    knn_brute_force,
    knn_lsh,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import (
    built_store,
    read_parquet,
    table,
    table_fingerprint,
)

_SEMDEDUP_TAU = 0.3
_EMBED_DIMS = 64


@register(
    "semdedup_keep",
    oracle=f"""
    SELECT a.vec_id, a.label
    FROM embeddings a
    WHERE NOT EXISTS (
        SELECT 1 FROM embeddings b
        WHERE b.label = a.label
          AND b.vec_id < a.vec_id
          AND list_cosine_similarity(
                  a.embedding::DOUBLE[], b.embedding::DOUBLE[]
              ) >= {_SEMDEDUP_TAU}
    )
    """,
)
def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D14 — SemDeDup (Abbas et al. 2023) cleaned-corpus output: a
    vector is dropped when ANY earlier vector (smaller id) in its
    cluster is cosine-similar ≥ τ. The rule is a pure function of the
    pair set — no sequential greedy pass — so it parallelizes: compute
    blocked all-pairs once (numpy GEMM per cluster block, cost bounded
    by Σ block², never corpus²), distinct the later-id side, anti-join
    the corpus against it. The oracle keeps the quadratic NOT EXISTS
    form. At 100 TB the cluster blocks come from k-means cells
    (D7/D3); here the pre-assigned ``label`` stands in."""
    e = table(spark, sf_dir, "embeddings")
    pairs = blocked_allpairs_cosine(
        e, block_col="label", id_col="vec_id", vec_col="embedding",
        tau=_SEMDEDUP_TAU, round_dp=4,
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return e.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


@register("ann_recall", oracle=None)  # rows-only: grades an approximate index
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 — recall@10 of the LSH index (D2) against exact brute force
    (D1), per query: |approx ∩ exact| / |exact|. The join is on
    (query, neighbor) between two top-k tables that are tiny by
    construction (queries × k rows) — the expensive parts are the
    underlying scans, each of which runs exactly once. Rows-only by
    nature (it GRADES an approximate structure); the metric itself is
    cross-checked value-for-value against an independent numpy
    recomputation in tests/test_similarity.py."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    exact = knn_brute_force(corpus=e, queries=q, k=10).select(
        "query_id", "neighbor_id"
    )
    approx = knn_lsh(corpus=e, queries=q, dims=_EMBED_DIMS, k=10).select(
        "query_id", F.col("neighbor_id").alias("approx_id")
    )
    hits = exact.join(
        F.broadcast(approx),  # queries×k rows — never a sort-merge join
        (exact.query_id == approx.query_id)
        & (exact.neighbor_id == approx.approx_id),
        "left",
    ).select(exact.query_id, F.col("approx_id").isNotNull().alias("hit"))
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.round(F.avg(F.col("hit").cast("double")), 4).alias("recall_at_k"),
    )


@register(
    "embed_norms_arrow",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_aggregate(
               list_transform(embedding::DOUBLE[], x -> x * x), 'sum')), 6)
               AS l2_norm,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def embed_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16 — per-vector L2 norms via ``mapInArrow``: the zero-copy
    Arrow-batch escape hatch below even Pandas (no Series boxing — the
    fixed-size-list column is viewed as one flat numpy buffer and
    reshaped, one BLAS reduction per batch). The norm table is what a
    vector pipeline materializes before cosine work so downstream dots
    skip the sqrt. Embarrassingly parallel: no shuffle, cost linear in
    rows, constant memory per batch. Float parity: the squared terms
    sum in array order in both engines (numpy row reduction ≡ DuckDB
    list_aggregate fold), round(6) absorbs the last ulp."""
    import pyarrow as pa

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norms(batches):
        import numpy as np

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("vec_id").to_numpy()
            lst = batch.column("embedding")
            # list<float> → flat values buffer (no per-row boxing),
            # reshaped on the uniform vector length
            X = lst.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64
            ).reshape(len(ids), -1)
            l2 = np.sqrt(np.einsum("ij,ij->i", X, X))
            yield pa.record_batch(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(np.round(l2, 6), type=pa.float64()),
                    pa.array(np.full(len(ids), X.shape[1]), type=pa.int64()),
                ],
                names=["vec_id", "l2_norm", "dim"],
            )

    return emb.mapInArrow(norms, "vec_id long, l2_norm double, dim long")


_OUTLIER_RADIUS = 1.2


@register(
    "embed_centroid_outliers",
    oracle=f"""
    WITH c AS (
        SELECT label, i AS dim,
               round(avg(CAST(embedding[i + 1] AS DOUBLE)), 4) AS cv
        FROM embeddings, unnest(range(64)) AS t(i)
        GROUP BY label, i
    ),
    cent AS (
        SELECT label, list(cv ORDER BY dim) AS cvec FROM c GROUP BY label
    )
    SELECT e.vec_id, e.label,
           round(sqrt(list_aggregate(
               list_transform(range(1, 65),
                   i -> pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                            - cent.cvec[CAST(i AS INT)], 2)),
               'sum')), 4) AS centroid_dist,
           round(sqrt(list_aggregate(
               list_transform(range(1, 65),
                   i -> pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                            - cent.cvec[CAST(i AS INT)], 2)),
               'sum')), 4) > {_OUTLIER_RADIUS} AS is_outlier
    FROM embeddings e JOIN cent USING (label)
    """,
)
def embed_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D18 — mislabel/outlier screening: each vector's Euclidean
    distance to its OWN label's centroid, flagged beyond a fixed
    radius (the SSL-Prototypes / cleanlab-style signal — a point far
    from its class center is suspect). Centroids are per-dim averages
    ROUNDED to 4 dp before differencing — the sum-order ulp wobble of
    a distributed mean must not leak into the distance — and the
    squared-difference fold runs in dim order in both engines. One
    (label, dim) rollup (map-side combined, D8's shape), centroids
    broadcast back, distance inside a JVM-side fold; the fixed radius
    avoids the percentile-threshold boundary trap entirely. At 100 TB
    swap the fixed radius for a per-label MAD gate computed the E23
    way."""
    e = table(spark, sf_dir, "embeddings")
    exploded = e.select("label", F.posexplode("embedding").alias("dim", "v"))
    cent = (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 4).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col("cvec"),
                    lambda x, c: F.pow(x.cast("double") - c, 2),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        ),
        4,
    )
    return e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        dist.alias("centroid_dist"),
        (dist > _OUTLIER_RADIUS).alias("is_outlier"),
    )


# ---------------------------------------------------------------- D19
@register(
    "silhouette_labels",
    oracle="""
    WITH c AS (
        SELECT label, i AS dim,
               round(avg(CAST(embedding[i + 1] AS DOUBLE)), 4) AS cv
        FROM embeddings, unnest(range(64)) AS t(i)
        GROUP BY label, i
    ),
    cent AS (
        SELECT label AS clabel, list(cv ORDER BY dim) AS cvec
        FROM c GROUP BY label
    ),
    d AS (
        SELECT e.vec_id, e.label, cent.clabel,
               sqrt(list_aggregate(
                   list_transform(range(1, 65),
                       i -> pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                                - cent.cvec[CAST(i AS INT)], 2)),
                   'sum')) AS dist
        FROM embeddings e CROSS JOIN cent
    ),
    s AS (
        SELECT vec_id, label,
               round((min(CASE WHEN clabel <> label THEN dist END)
                      - min(CASE WHEN clabel = label THEN dist END))
                     / greatest(min(CASE WHEN clabel <> label THEN dist END),
                                min(CASE WHEN clabel = label THEN dist END)),
                     4) AS sil
        FROM d GROUP BY vec_id, label
    )
    SELECT label, count(*) AS n_vectors,
           round(avg(sil), 4) AS mean_silhouette,
           CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative
    FROM s GROUP BY label
    """,
)
def silhouette_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D19 — simplified silhouette score per label: s = (b − a) /
    max(a, b) with a = distance to the OWN label centroid and b =
    distance to the nearest OTHER centroid — the clustering-quality
    metric that grades the label geometry D3/D7/D18 assume (mean s
    near 0 = labels are not separated in embedding space; negative s
    = the vector sits closer to another class's center, D18's
    outlier signal sharpened into "which class it should be").
    Simplified (centroid-based) silhouette replaces the classic
    all-pairs a/b with centroid distances exactly so the cost is
    n·L folds instead of n² pair distances — THE standard large-n
    relaxation, and the only one that distributes with a broadcast.
    Centroids round to 4 dp before differencing and the fold runs in
    dim order (D18's discipline); per-vector s rounds before the
    per-label mean; the negative count is integer-exact."""
    e = table(spark, sf_dir, "embeddings")
    exploded = e.select("label", F.posexplode("embedding").alias("dim", "v"))
    cent = (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 4).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
        .select(F.col("label").alias("clabel"), "cvec")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("cvec"),
                lambda x, c: F.pow(x.cast("double") - c, 2),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    d = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel", dist.alias("dist")
    )
    own = F.min(F.when(F.col("clabel") == F.col("label"), F.col("dist")))
    other = F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist")))
    s = d.groupBy("vec_id", "label").agg(
        F.round((other - own) / F.greatest(other, own), 4).alias("sil")
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("sil"), 4).alias("mean_silhouette"),
        F.sum((F.col("sil") < 0).cast("long")).alias("n_negative"),
    )


# ---------------------------------------------------------------- D20
@register(
    "mrl_truncation",
    oracle="""
    WITH d AS (SELECT unnest([8, 16, 32, 64]) AS td),
    r AS (
        SELECT d.td, e.vec_id,
               round(sqrt(list_aggregate(
                   list_transform(range(1, d.td + 1),
                       i -> pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE),
                                2)),
                   'sum'))
                 / nullif(sqrt(list_aggregate(
                   list_transform(range(1, 65),
                       i -> pow(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE),
                                2)),
                   'sum')), 0), 4) AS retention
        FROM embeddings e CROSS JOIN d
    )
    SELECT td AS trunc_dim, count(*) AS n_vectors,
           round(avg(retention), 4) AS avg_retention,
           round(min(retention), 4) AS min_retention
    FROM r GROUP BY td
    """,
)
def mrl_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 — Matryoshka (MRL) truncation quality: for each candidate
    truncation width d ∈ {8,16,32,64}, the cosine between the full
    vector and its d-prefix — which for a prefix collapses to the
    norm ratio ‖x[:d]‖/‖x‖, i.e. the fraction of the vector's energy
    the prefix retains. This is the curve that decides how small the
    ANN index (D2/D4/D9) can store vectors: MRL-trained embeddings
    hold ~1.0 at small d; these synthetic embeddings spread energy
    uniformly (retention ≈ √(d/64)) — exactly what the metric should
    report for a non-Matryoshka space. Per-vector folds run in dim
    order (D18's discipline), retention rounds before the avg/min
    reduction, zero-norm vectors pin to NULL via nullif in both
    engines. One scan, 4 folds per vector, no shuffle beyond the
    4-row aggregate."""
    e = table(spark, sf_dir, "embeddings")
    dims = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in (8, 16, 32, 64)])).alias("td")
    )
    sq_sum = lambda col: F.aggregate(
        col, F.lit(0.0), lambda acc, x: acc + F.pow(x.cast("double"), 2)
    )
    retention = F.round(
        F.sqrt(sq_sum(F.slice(F.col("embedding"), 1, F.col("td"))))
        / F.nullif(F.sqrt(sq_sum(F.col("embedding"))), F.lit(0.0)),
        4,
    )
    r = e.crossJoin(F.broadcast(dims)).select(
        "td", retention.alias("retention")
    )
    return r.groupBy(F.col("td").alias("trunc_dim")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("retention"), 4).alias("avg_retention"),
        F.round(F.min("retention"), 4).alias("min_retention"),
    )


# ---------------------------------------------------------------- D21
_PROBE_MOD = 29  # ~1/29 of vectors serve as eval probes
_PROBE_K = 5


@register(
    "knn_label_probe",
    oracle=f"""
    WITH nn AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                                    q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]), 6) DESC,
                                c.vec_id) AS r
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id % {_PROBE_MOD} = 0
        ) WHERE r <= {_PROBE_K}
    ), votes AS (
        SELECT nn.query_id, e.label AS nlabel, count(*) AS n
        FROM nn JOIN embeddings e ON nn.neighbor_id = e.vec_id
        GROUP BY nn.query_id, e.label
    ), pred AS (
        SELECT query_id, nlabel AS pred_label FROM (
            SELECT query_id, nlabel,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n DESC, nlabel) AS r
            FROM votes
        ) WHERE r = 1
    )
    SELECT t.label AS true_label, p.pred_label,
           CAST(count(*) AS BIGINT) AS n_probes
    FROM pred p JOIN embeddings t ON p.query_id = t.vec_id
    GROUP BY t.label, p.pred_label
    """,
)
def knn_label_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D21 — k-NN probe accuracy as a confusion matrix: a deterministic
    ~1/29 sample of vectors is classified by majority label of its 5
    nearest neighbors (self excluded; vote ties break to the smaller
    label), and predictions roll up against true labels. THE standard
    embedding-quality eval — a label that can't be recovered from its
    own neighborhood means the embedding doesn't encode it, caught
    before anything trains on these vectors.

    Neighbor search is D1's GEMM scan (corpus scanned once, probes
    closed over, no corpus shuffle); everything after operates on
    probesx5 rows, so the label join BROADCASTS the tiny vote relation
    against the corpus labels and the confusion rollup shuffles
    |labels|² rows at most. Rank ties pin via round(cos,6)+id — the
    exact-reproducibility discipline of D1/D9."""
    e = table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") % _PROBE_MOD == 0)
    nn = knn_brute_force(corpus=e, queries=probes, k=_PROBE_K).select(
        "query_id", "neighbor_id"
    )
    lab = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    votes = (
        lab.join(F.broadcast(nn), "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    w = Window.partitionBy("query_id").orderBy(
        F.desc("n"), F.asc("nlabel")
    )
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("query_id", F.col("nlabel").alias("pred_label"))
    )
    truth = e.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        truth.join(F.broadcast(pred), "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_probes"))
    )


# ---------------------------------------------------------------- D22
_JL_OUT_DIMS = 8
_JL_LCG_A = 1103515245
_JL_LCG_C = 12345
_JL_LCG_M = 2147483648  # 2^31


def _jl_proj_sql(j: int) -> str:
    """The DuckDB expression for output dim ``j`` of the JL sketch —
    shared by the D22 oracle and the D23 recall-eval oracle so both
    compare against the identical sketch."""
    lcg = (
        f"((({_JL_LCG_A} * ((i - 1) * {_JL_OUT_DIMS} + {j})"
        f" + {_JL_LCG_C}) % {_JL_LCG_M}) // 65536) % 2"
    )
    return (
        "CASE WHEN len(embedding) = 0 THEN 0.0 ELSE "
        "round(list_reduce(list_transform(embedding, "
        f"(x, i) -> CAST(x AS DOUBLE) * (1 - 2 * ({lcg}))), "
        f"(a, b) -> a + b), 6) + 0 END"
    )


def _jl_oracle() -> str:
    cols = [f"{_jl_proj_sql(j)} AS p{j}" for j in range(_JL_OUT_DIMS)]
    return f"SELECT vec_id, {', '.join(cols)} FROM embeddings"


@register("random_projection_jl", oracle=_jl_oracle())
def random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D22 — Johnson-Lindenstrauss random projection: every embedding
    is sketched to 8 dimensions through a deterministic Rademacher
    (±1) matrix, the classic dimensionality-reduction front-end that
    makes 100 TB ANN affordable — distances survive within (1±eps), so
    coarse candidate search runs on the 8-dim sketch (8x less shuffle
    IO than the 64-dim vectors) and only the shortlist touches full
    vectors. Complements D2's sign-LSH (which keeps only bucket bits):
    the JL sketch preserves metric structure, not just proximity
    buckets.

    The sign matrix is never materialized or shuffled: sign(i,j)
    derives arithmetically from an LCG step on the flat index
    i·8+j — each executor recomputes it inside the projection
    expression, so the operator ships zero side state (the same
    replicated-generation discipline as the minhash universal family,
    functions/hashing.py). The whole projection is one narrow
    map-side transform+fold per output dim — no shuffle, no UDF,
    whole-stage codegen end-to-end; both engines fold the SAME
    float→double casts in the SAME element order with an IEEE-exact
    ±1 multiply, so the sums agree bit-for-bit before round(6).
    """
    e = table(spark, sf_dir, "embeddings")

    def proj(j: int):
        def signed(x, i):
            k = i.cast("bigint") * _JL_OUT_DIMS + F.lit(j)
            h = (F.lit(_JL_LCG_A) * k + F.lit(_JL_LCG_C)) % F.lit(_JL_LCG_M)
            bit = F.floor(h / F.lit(65536)).cast("bigint") % F.lit(2)
            return x.cast("double") * (F.lit(1) - F.lit(2) * bit)

        s = F.aggregate(
            F.transform(F.col("embedding"), signed),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (F.round(s, 6) + F.lit(0.0)).alias(f"p{j}")

    return e.select("vec_id", *[proj(j) for j in range(_JL_OUT_DIMS)])


# ---------------------------------------------------------------- D23
_JL_CAND = 50  # sketch-cosine candidates per probe
_JL_EXACT_K = 10


def _jl_recall_oracle() -> str:
    sk_cols = ", ".join(
        f"{_jl_proj_sql(j)} AS p{j}" for j in range(_JL_OUT_DIMS)
    )
    dot = " + ".join(f"q.p{j} * c.p{j}" for j in range(_JL_OUT_DIMS))
    qn = " + ".join(f"q.p{j} * q.p{j}" for j in range(_JL_OUT_DIMS))
    cn = " + ".join(f"c.p{j} * c.p{j}" for j in range(_JL_OUT_DIMS))
    return f"""
    WITH sk AS MATERIALIZED (SELECT vec_id, {sk_cols} FROM embeddings),
    cand AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(CASE
                           WHEN ({qn}) > 0 AND ({cn}) > 0
                           THEN ({dot}) / (sqrt({qn}) * sqrt({cn}))
                           ELSE -2.0 END, 6) DESC, c.vec_id
                   ) AS r
            FROM sk q JOIN sk c ON c.vec_id <> q.vec_id
            WHERE q.vec_id % {_PROBE_MOD} = 0
        ) WHERE r <= {_JL_CAND}
    ),
    exact AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                                    q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]), 6) DESC,
                                c.vec_id
                   ) AS r
            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
            WHERE q.vec_id % {_PROBE_MOD} = 0
        ) WHERE r <= {_JL_EXACT_K}
    ),
    hits AS (
        SELECT e.query_id, count(*) AS n
        FROM exact e JOIN cand c
          ON c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT q.vec_id AS query_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) * 10000 // {_JL_EXACT_K} AS BIGINT)
               AS recall_bp
    FROM embeddings q LEFT JOIN hits h ON h.query_id = q.vec_id
    WHERE q.vec_id % {_PROBE_MOD} = 0
    """


@register("ann_jl_recall", oracle=_jl_recall_oracle())
def ann_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D23 — recall@10 of JL-sketch candidate search against exact
    cosine, per probe: the eval that makes D22 an ANN PATH rather than
    a transform. Candidate generation ranks by cosine BETWEEN 8-dim
    sketches (JL preserves inner products, so sketch cosine tracks
    true cosine); the top-50 shortlist is then scored against the
    exact top-10 — at 100 TB this is precisely the coarse-then-rerank
    pipeline (sketch scan 8x cheaper than full vectors, exact rerank
    touches only 50 rows/query), and THIS query is the dial for
    choosing the shortlist width. Same probe set as D21 (~1/29), same
    deterministic tie-pins (round(cos,6), then id) as D1/D9.

    Shape: sketches come from D22's shuffle-free projection; both
    ranking joins broadcast the tiny probe side against a single
    corpus scan; everything downstream of the row_number windows is
    |probes|x50 rows. Both engines rank the IDENTICAL rounded sketch
    values through the same explicit dot/norm arithmetic — no float
    path is engine-local."""
    e = table(spark, sf_dir, "embeddings")
    sk = random_projection_jl(spark, sf_dir)
    probes_sk = sk.where(F.col("vec_id") % _PROBE_MOD == 0)
    q = probes_sk.select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"p{j}").alias(f"q{j}") for j in range(_JL_OUT_DIMS)],
    )
    c = sk.select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"p{j}") for j in range(_JL_OUT_DIMS)],
    )
    dot = sum(
        F.col(f"q{j}") * F.col(f"p{j}") for j in range(_JL_OUT_DIMS)
    )
    qn = sum(F.col(f"q{j}") * F.col(f"q{j}") for j in range(_JL_OUT_DIMS))
    cn = sum(F.col(f"p{j}") * F.col(f"p{j}") for j in range(_JL_OUT_DIMS))
    cos_sk = F.when(
        (qn > 0) & (cn > 0), dot / (F.sqrt(qn) * F.sqrt(cn))
    ).otherwise(F.lit(-2.0))
    cand = cosine_topk(
        F.broadcast(q).join(c, F.col("neighbor_id") != F.col("query_id")),
        _JL_CAND,
        cos=cos_sk,
        rank_col="r",
    ).select("query_id", "neighbor_id")
    exact = knn_brute_force(
        corpus=e,
        queries=e.where(F.col("vec_id") % _PROBE_MOD == 0),
        k=_JL_EXACT_K,
    ).select("query_id", "neighbor_id")
    probes = e.where(F.col("vec_id") % _PROBE_MOD == 0).select(
        F.col("vec_id").alias("query_id")
    )
    return _recall_report(
        probes, exact, cand, _JL_EXACT_K, id_col="neighbor_id"
    )


# ---------------------------------------------------------------- D23
_PQ_M = 8  # subspaces
_PQ_SUB = _EMBED_DIMS // _PQ_M  # dims per subspace
_PQ_K = 16  # centroids per subspace (4-bit codes)
_PQ_NQ = 4  # probe queries (smallest vec_ids)
_PQ_TOPK = 5
_PQ_SALTS = 32  # first-stage top-k fan-out
# every PQ/IVF-PQ serving query's result — an empty corpus serves none
_SERVE_SCHEMA = "query_id bigint, rank int, vec_id bigint, adc_dist double"
_PQ_TRAIN_MOD = 4  # deterministic training sample: vec_id % 4 == 0
_PQ_TRAIN_ITERS = 3


def _pq_dist_sql(m: int, a: str, b: str) -> str:
    """Left-associated 8-term squared L2 over subspace ``m`` between
    two DuckDB list columns — term order matches the Spark fold."""
    terms = [
        f"(CAST({a}[{m * _PQ_SUB + j + 1}] AS DOUBLE)"
        f" - CAST({b}[{m * _PQ_SUB + j + 1}] AS DOUBLE))"
        f" * (CAST({a}[{m * _PQ_SUB + j + 1}] AS DOUBLE)"
        f" - CAST({b}[{m * _PQ_SUB + j + 1}] AS DOUBLE))"
        for j in range(_PQ_SUB)
    ]
    return "(" + " + ".join(terms) + ")"


def _pq_case_sql(a: str, b: str) -> str:
    arms = " ".join(
        f"WHEN {m} THEN {_pq_dist_sql(m, a, b)}" for m in range(_PQ_M)
    )
    return f"(CASE m {arms} END)"


def _pq_quant_sql(expr: str) -> str:
    """BIGINT micro-unit quantization of one embedding element —
    round-half-away-from-zero in both engines (DuckDB round(),
    Spark HALF_UP), so the quantized training inputs are bit-equal."""
    return f"CAST(round(CAST({expr} AS DOUBLE) * 1e6, 0) AS BIGINT)"


def _pq_lloyd_sql() -> str:
    """Unrolled Lloyd k-means per subspace, generated as a CTE chain
    ending in ``cb(cid, embedding)`` — the SQL twin of
    ``pq_train_codebook``. Every quantity is BIGINT micro-units
    (quantized inputs, squared-distance argmin, truncating-division
    centroid update), so the fixed point after the fixed iteration
    count is EXACTLY equal cross-engine: no floating-point averaging
    order can diverge. Empty clusters keep their previous centroid
    (LEFT JOIN + CASE), ties in assignment break on lowest cid —
    both matching the Spark min(struct(d2u, cid)) discipline."""
    dims = range(_PQ_SUB)
    samp_cols = ", ".join(
        f"{_pq_quant_sql(f'e.embedding[ms.m * {_PQ_SUB} + {j + 1}]')} AS x{j}"
        for j in dims
    )
    seed_cols = ", ".join(
        f"{_pq_quant_sql(f's.embedding[ms.m * {_PQ_SUB} + {j + 1}]')} AS c{j}"
        for j in dims
    )
    d2u = " + ".join(
        f"(s.x{j} - c.c{j}) * (s.x{j} - c.c{j})" for j in dims
    )
    parts = [
        f"""samp AS (
        SELECT e.vec_id, ms.m, {samp_cols}
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) ms
        WHERE e.vec_id % {_PQ_TRAIN_MOD} = 0
    ), seedv AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}) s0
    ), cents0 AS (
        SELECT ms.m, s.cid, {seed_cols}
        FROM seedv s CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) ms
    )"""
    ]
    for i in range(1, _PQ_TRAIN_ITERS + 1):
        sums = ", ".join(f"sum(x{j}) AS s{j}" for j in dims)
        newc = ", ".join(
            f"CASE WHEN u.n IS NULL THEN c.c{j}"
            f" ELSE u.s{j} // u.n END AS c{j}"
            for j in dims
        )
        xs = ", ".join(f"s.x{j}" for j in dims)
        parts.append(
            f"""assign{i} AS (
        SELECT s.vec_id, s.m, c.cid, {xs},
               row_number() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {d2u}, c.cid) AS rn
        FROM samp s JOIN cents{i - 1} c ON c.m = s.m
    ), upd{i} AS (
        SELECT m, cid, count(*) AS n, {sums}
        FROM assign{i} WHERE rn = 1 GROUP BY m, cid
    ), cents{i} AS (
        SELECT c.m, c.cid, {newc}
        FROM cents{i - 1} c
        LEFT JOIN upd{i} u ON u.m = c.m AND u.cid = c.cid
    )"""
        )
    case_c = " ".join(f"WHEN {j} THEN c{j}" for j in dims)
    parts.append(
        f"""cb AS (
        SELECT cid, list(cu ORDER BY pos) AS embedding
        FROM (
            SELECT cid, m * {_PQ_SUB} + j AS pos,
                   CAST(CASE j {case_c} END AS DOUBLE) / 1e6 AS cu
            FROM cents{_PQ_TRAIN_ITERS}
            CROSS JOIN (SELECT unnest(range({_PQ_SUB})) AS j) js
        ) long
        GROUP BY cid
    )"""
    )
    return ", ".join(parts)


def _pq_serve_sql() -> str:
    """Serving tail — encode + ADC + top-k. Assumes a CTE
    ``cb(cid, embedding)`` is already in scope (sampled or trained)."""
    return f"""q AS (
        SELECT vec_id AS query_id, embedding
        FROM embeddings ORDER BY vec_id LIMIT {_PQ_NQ}
    ), ms AS (SELECT unnest(range({_PQ_M})) AS m),
    enc AS (
        SELECT e.vec_id, ms.m, cb.cid,
               {_pq_case_sql('e.embedding', 'cb.embedding')} AS d,
               row_number() OVER (
                   PARTITION BY e.vec_id, ms.m
                   ORDER BY {_pq_case_sql('e.embedding', 'cb.embedding')},
                            cb.cid
               ) AS rn
        FROM embeddings e CROSS JOIN ms CROSS JOIN cb
    ), codes AS (
        SELECT vec_id, m, cid FROM enc WHERE rn = 1
    ), adc AS (
        SELECT q.query_id, ms.m, cb.cid,
               CAST(round({_pq_case_sql('q.embedding', 'cb.embedding')}
                          * 1e6, 0) AS BIGINT) AS cell_u
        FROM q CROSS JOIN ms CROSS JOIN cb
    ), scored AS (
        SELECT a.query_id, c.vec_id, sum(a.cell_u) AS score_u
        FROM codes c
        JOIN adc a ON a.m = c.m AND a.cid = c.cid
        GROUP BY a.query_id, c.vec_id
    ), ranked AS (
        SELECT query_id, vec_id, score_u,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score_u, vec_id
               ) AS rank
        FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           round(score_u / 1e6, 6) + 0 AS adc_dist
    FROM ranked WHERE rank <= {_PQ_TOPK}
    """


def _pq_oracle() -> str:
    """Sampled-codebook ANN (the D25b eval control): codebook = the 16
    lexicographically-first vectors."""
    return f"""
    WITH cb AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}) s0
    ), {_pq_serve_sql()}"""


def _pq_trained_oracle() -> str:
    """Trained-codebook ANN (the D24 serving path): the unrolled
    integer-micro-unit Lloyd chain feeds the same serving tail."""
    return f"""
    WITH {_pq_lloyd_sql()}, {_pq_serve_sql()}"""


@register("pq_adc_ann", oracle=_pq_trained_oracle())
def pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D24 — product-quantization ANN with asymmetric distance
    computation (Jegou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): vectors compress to 8 subspace codes (16
    centroids each — 4 bits/subspace, 4 bytes/vector instead of 256),
    and each query scans CODES against a precomputed 8x16 distance
    table instead of touching raw floats.

    The SERVING codebook is TRAINED: per-subspace Lloyd k-means
    (``pq_train_codebook`` — 3 iterations on the deterministic
    vec_id%4 sample, seeded with the 16 lexicographically-first
    vectors, measured: sample distortion 0.74 -> 0.49 at sf0.01; mean
    recall@5 vs the sampled seed +1000 bp at sf0.1, tied at sf0.01 —
    recall movement is data-dependent, distortion descent is not). Training is pure
    BIGINT micro-unit arithmetic (quantized inputs, integer squared
    distances, truncating-division centroid updates), so the DuckDB
    oracle reproduces the EXACT fixed point by unrolling the three
    Lloyd iterations in SQL (``_pq_lloyd_sql``) — the trained path is
    hash-checkable, not rows-only. The sampled seed remains the eval
    control (``pq_sampled_recall``).

    Training contracts to 8x16x8 values driver-side; the full-corpus
    encode then sees the frozen centroids as a constant of the Arrow
    kernel (``_pq_encode``: an IVF-PQ encode with one zero cell) — at
    100 TB the training sample is fixed-size and the corpus only ever
    meets the constant. Encoding is a map over the corpus, and NOTHING
    shuffles until the final top-k. ADC cells quantize to BIGINT
    micro-units so each (query, vector) score is an exact integer sum
    — bit-equal to the oracle regardless of aggregation order. Top-k
    per query runs the two-stage salted window (per-salt top-k, then
    global top-k over <= salts*k rows) so no single task ever sees the
    corpus.

    At 100 TB: the code table is ~4 bytes/vector (10^4 x smaller than
    the float corpus), the ADC scan is embarrassingly parallel over
    it, and recall tuning follows the D15/ann_jl_recall evaluation
    pattern. Argmin ties break on first (lowest) centroid id in both
    engines; serving distances are double-precision left-associated
    folds over identical centroid doubles (exact micro-unit integers
    / 1e6), IEEE-identical cross-engine (the D22 discipline).
    """
    cents = pq_train_codebook_cached(spark, sf_dir)
    if not cents or not cents[0]:
        # empty embeddings table → no codebook, no probes
        return spark.createDataFrame([], _SERVE_SCHEMA)
    emb = table(spark, sf_dir, "embeddings", fan_out="force").select(
        "vec_id", "embedding"
    )
    emb_1t = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return _served_adc(_pq_adc_topk(_pq_encode(emb, cents), emb_1t, cents))


def pq_codes_index_path(spark: SparkSession, sf_dir: str) -> str:
    def build():
        cents = pq_train_codebook_cached(spark, sf_dir)
        emb = table(spark, sf_dir, "embeddings", fan_out="force").select(
            "vec_id", "embedding"
        )
        return _pq_encode(emb, cents)

    return materialized_index_path(spark, sf_dir, "pqcodes", build)


@register("pq_adc_ann_served", oracle=_pq_trained_oracle())
def pq_adc_ann_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D24c — trained-PQ ADC serving from a MATERIALIZED code table:
    the D28c/D29c split applied to flat PQ (VERDICT r6 item 3). The
    first call per dataset writes the (vec_id, codes) relation to
    parquet (4 bytes/vector of payload); every run after scans codes
    only — the per-run cost left is |queries|×|corpus| integer ADC
    lookups, which is flat PQ's actual serving complexity (no cells to
    prune — that is D28/D29's job). Identical rows to D24 under the
    identical unrolled-Lloyd oracle."""
    cents = pq_train_codebook_cached(spark, sf_dir)
    if not cents or not cents[0]:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    codes = read_parquet(spark, pq_codes_index_path(spark, sf_dir))
    emb_1t = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return _served_adc(_pq_adc_topk(codes, emb_1t, cents))


# PQ constants and per-row PQ expressions are Spark SQL text parsed by
# ONE F.expr call each: built node by node through the Column DSL, the
# same trees cost one Py4J round trip per node (~1,000 per codebook,
# ~5,700 per served query). tests/test_pq.py proves with sameSemantics
# that the text parses to the tree the DSL built (same literal types,
# same left-associated term order). Lambda variables are pq_-prefixed
# so they cannot shadow a column.


def _sql_literal(v) -> str:
    """``v`` as a Spark SQL literal typed as ``F.lit(v)`` types it over
    Py4J: a float is a DOUBLE (``repr`` round-trips exactly, and
    ``-x.yD`` lexes as a negative literal, so -0.0 survives); lists
    nest as ``array(...)``. Only float codebooks come through here, so
    any other type (an int included) raises ``TypeError``."""
    if isinstance(v, list):
        return "array(" + ", ".join(_sql_literal(x) for x in v) + ")"
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"no SQL literal for {v!r}")
        return f"{float(v)!r}D"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def _pq_sub_dist_sql() -> str:
    """Left-associated 8-term squared L2 between ``embedding`` and the
    centroid ``pq_c`` over subspace ``pq_m``; mirrors the oracle's
    term order exactly."""
    diffs = [
        f"(CAST(element_at(embedding, pq_m * {_PQ_SUB} + {j}) AS DOUBLE)"
        f" - CAST(element_at(pq_c, pq_m * {_PQ_SUB} + {j}) AS DOUBLE))"
        for j in range(1, _PQ_SUB + 1)
    ]
    return " + ".join(f"{d} * {d}" for d in diffs)


# adc[m][c] = round(subspace distance * 1e6) in BIGINT micro-units
_PQ_ADC_SQL = (
    f"transform(sequence(0, {_PQ_M - 1}), pq_m -> transform(cbs, pq_c -> "
    f"CAST(round(({_pq_sub_dist_sql()}) * 1000000.0D, 0) AS BIGINT)))"
)
# score_u = Σ_m adc[m][codes[m]]
_PQ_ADC_SCORE_SQL = (
    f"aggregate(sequence(0, {_PQ_M - 1}), CAST(0 AS BIGINT), "
    "(pq_acc, pq_m) -> pq_acc + element_at(element_at(adc, pq_m + 1), "
    "CAST(element_at(codes, pq_m + 1) AS INT) + 1))"
)

# The integer-Lloyd core every trainer shares (PQ, residual PQ, IVF
# cells, kmeans_audit): BIGINT micro-units throughout, so the unrolled
# SQL twins reproduce each fixed point bit for bit.
# d2u = Σ (xu - cu)² — exact integer squared L2
_D2U_SQL = (
    "aggregate(zip_with(xu, cu, (pq_x, pq_c) -> (pq_x - pq_c) * (pq_x - pq_c)),"
    " CAST(0 AS BIGINT), (pq_acc, pq_v) -> pq_acc + pq_v)"
)
# (m, xu): the quantized vector ``vu`` cut into its _PQ_M subvectors
_PQ_SUBSPACES_SQL = (
    f"posexplode(transform(sequence(0, {_PQ_M - 1}), pq_m -> "
    f"slice(vu, pq_m * {_PQ_SUB} + 1, {_PQ_SUB}))) AS (m, xu)"
)


def _means_u_sql(dims: int) -> str:
    """Per-group centroid of ``xu``: truncating integer division per
    dim, the twin of DuckDB's ``//``."""
    return (
        "array("
        + ", ".join(f"sum(xu[{j}]) div count(1)" for j in range(dims))
        + ")"
    )


def _lloyd_update_u(assigned: DataFrame, keys: list[str], dims: int) -> dict:
    """One Lloyd update over ``assigned`` (``keys``…, xu): {(key
    values…): centroid} for each non-empty cluster. Empty clusters are
    absent, so callers keep their previous centroid."""
    rows = (
        assigned.groupBy(*keys)
        .agg(F.expr(_means_u_sql(dims)).alias("cu"))
        .collect()
    )
    return {tuple(r)[:-1]: [int(v) for v in r.cu] for r in rows}


def _pq_cents_df(spark: SparkSession, cents_u: list) -> DataFrame:
    """(m, cid, cu) rows of a per-subspace codebook cents_u[m][cid]."""
    return spark.createDataFrame(
        [(m, k, c) for m, cm in enumerate(cents_u) for k, c in enumerate(cm)],
        "m int, cid int, cu array<bigint>",
    )


def _pq_lloyd_u(
    spark: SparkSession, seeds: DataFrame, sample: DataFrame, iters: int
) -> list:
    """Per-subspace integer Lloyd over quantized (vec_id, vu) frames:
    seeds = the _PQ_K lowest vec_ids of ``seeds`` (fewer on a tinier
    corpus — the SQL twin's LIMIT-bounded seedv), assignment = integer
    d2u argmin with lowest-cid ties (min(struct(d2u, cid))), update =
    ``_lloyd_update_u``. Returns cents_u[m][cid][j]; [] without seeds."""
    init = seeds.orderBy("vec_id").limit(_PQ_K).collect()
    if not init:
        return []
    init.sort(key=lambda r: r.vec_id)
    cents_u = [
        [[int(v) for v in r.vu[m * _PQ_SUB : (m + 1) * _PQ_SUB]] for r in init]
        for m in range(_PQ_M)
    ]
    # sample-sized and consumed once per Lloyd iteration — the
    # persist-pays regime (recomputation repeats the corpus scan +
    # explode every iteration)
    sub = sample.select("vec_id", F.expr(_PQ_SUBSPACES_SQL)).persist()
    for _ in range(iters):
        assigned = (
            sub.join(F.broadcast(_pq_cents_df(spark, cents_u)), "m")
            .withColumn("__d2u", F.expr(_D2U_SQL))
            .groupBy("vec_id", "m")
            .agg(
                F.min(F.struct(F.col("__d2u"), F.col("cid"))).alias("__b"),
                F.first("xu").alias("xu"),
            )
            .select("m", F.col("__b.cid").alias("cid"), "xu")
        )
        got = _lloyd_update_u(assigned, ["m", "cid"], _PQ_SUB)
        cents_u = [
            [got.get((m, k), c) for k, c in enumerate(cents_u[m])]
            for m in range(_PQ_M)
        ]
    sub.unpersist()
    return cents_u


def _pq_encode(emb, cents) -> DataFrame:
    """Flat PQ encode: (vec_id, codes) of every vector against the
    trained centroids ``cents[m][k][j]``. A flat PQ is an IVF-PQ with
    one cell, so this is ``ivf_assign_arrow``'s codes emit over a
    single zero cell. Shuffle-free."""
    return ivf_assign_arrow(
        emb, [[0] * _EMBED_DIMS], emit="codes", codebook=cents
    ).select("vec_id", "codes")


def _pq_adc_table(qdf, cbs) -> DataFrame:
    """Per-query 8x16 ADC table in BIGINT micro-units against the
    codebook column ``cbs``, broadcast. ``qdf`` must expose (query_id,
    embedding)."""
    return F.broadcast(
        qdf.withColumn("cbs", cbs).select(
            "query_id", F.expr(_PQ_ADC_SQL).alias("adc")
        )
    )


def _pq_adc_score():
    """score_u = Σ_m adc[m][codes[m]] — the exact integer ADC sum."""
    return F.expr(_PQ_ADC_SCORE_SQL)


# ------------------------------------------- shared serve-and-grade tail
def _salted_topk(scored: DataFrame, k: int, *order) -> DataFrame:
    """The ANN binding of ``salted_topk_per_group``: per query_id,
    ranked by ``order`` then vec_id (the tie-pin), salted on vec_id
    mod _PQ_SALTS. Adds ``__srn`` and ``rank``."""
    return salted_topk_per_group(
        scored, ["query_id"], [*order, "vec_id"], k, F.col("vec_id"), _PQ_SALTS
    )


def _served_adc(ranked: DataFrame, units: float = 1e6) -> DataFrame:
    """The _SERVE_SCHEMA projection of a ranked (query_id, rank,
    vec_id, score_u) frame: adc_dist = score_u / ``units`` (1e6, or
    1e12 for residual IVF-PQ's squared micro-units) rounded to 6 dp,
    with -0.0 canonicalized."""
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        (F.round(F.col("score_u") / units, 6) + F.lit(0.0)).alias(
            "adc_dist"
        ),
    )


def _recall_report(
    probes: DataFrame,
    exact: DataFrame,
    cand: DataFrame,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-probe recall@k: the ``cand`` rows that hit the ``exact``
    top-k on (query_id, ``id_col``), counted per query and left-joined
    onto every probe, so a query with no hit reports 0 —
    (query_id, n_hits, recall_bp = n_hits * 10000 div k)."""
    hits = (
        exact.join(cand, ["query_id", id_col])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return probes.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_hits"),
        F.expr(f"coalesce(n, 0) * 10000 div {k}").alias("recall_bp"),
    )


def _pq_probes(emb_1t: DataFrame, *cols) -> DataFrame:
    """The flat-PQ probe set: the _PQ_NQ smallest vec_ids as
    (query_id, *cols)."""
    return (
        emb_1t.orderBy("vec_id")
        .limit(_PQ_NQ)
        .select(F.col("vec_id").alias("query_id"), *cols)
    )


_PQ_RECALL_SCHEMA = "query_id long, n_hits long, recall_bp long"


def _pq_recall(emb_1t: DataFrame, cand: DataFrame) -> DataFrame:
    """Recall@_PQ_TOPK of ``cand`` over the flat-PQ probes against the
    exact L2 top-k (``_pq_exact_topk(emb_1t)``); the query's own row
    stays in the corpus (see pq_adc_recall)."""
    return _recall_report(
        _pq_probes(emb_1t), _pq_exact_topk(emb_1t), cand, _PQ_TOPK
    )


def _ivf_probes(emb_1t: DataFrame, *cols) -> DataFrame:
    """The IVF-PQ probe set: vec_id % _IVFPQ_MOD == 0 as
    (query_id, *cols)."""
    return emb_1t.where(F.col("vec_id") % _IVFPQ_MOD == 0).select(
        F.col("vec_id").alias("query_id"), *cols
    )


def _ivfpq_recall(
    spark: SparkSession, sf_dir: str, served: DataFrame, live=None
) -> DataFrame:
    """Recall@_IVFPQ_K of the ``served`` rows over the IVF-PQ probes
    against the exact L2 top-k of the embeddings where ``live`` holds
    (default: all of them), self-excluded on both sides (the D27
    vec_id <> query_id discipline): the query is a corpus member and
    its own cell is always probed, so a self-hit would be guaranteed."""
    cand = served.select("query_id", "vec_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    emb_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qdf = _ivf_probes(emb_1t, "embedding")
    exact = _pq_exact_topk(
        emb_1t if live is None else emb_1t.where(live),
        qdf=qdf,
        k=_IVFPQ_K,
        exclude_self=True,
    )
    return _recall_report(qdf.select("query_id"), exact, cand, _IVFPQ_K)


def _pq_adc_topk(codes, emb_1t, cents, qdf=None) -> DataFrame:
    """The flat-PQ serving tail over any (vec_id, codes) relation —
    inline-encoded (``_pq_encode``) or materialized — against the
    centroids ``cents`` (sampled or trained): per-query integer ADC
    tables, exact ADC scores, two-stage salted top-k. ``qdf``
    (query_id, embedding) overrides the default probe set (the _PQ_NQ
    smallest vec_ids) — the D37b dial passes its wide probe slice.
    Returns (query_id, rank, vec_id, score_u)."""
    if qdf is None:
        qdf = _pq_probes(emb_1t, "embedding")
    q = _pq_adc_table(qdf, _pq_trained_cbs(cents))

    scored = codes.crossJoin(q).select(
        "query_id",
        "vec_id",
        _pq_adc_score().alias("score_u"),
    )
    return _salted_topk(scored, _PQ_TOPK, "score_u").select(
        "query_id", "rank", "vec_id", "score_u"
    )


def _pq_exact_topk(
    emb_1t, qdf=None, k: int = _PQ_TOPK, exclude_self: bool = False
) -> DataFrame:
    """Exact L2 top-k per probe query (identical left-associated
    64-term distance both engines, salted two-stage window). Returns
    (query_id, vec_id). ``qdf`` (query_id, embedding) overrides the
    default probe set (the _PQ_NQ smallest vec_ids). ``exclude_self``
    drops the query's own corpus row BEFORE ranking (the D27
    discipline) — used by the D28b/D29b compound-recall dials so every
    reference neighbor is a real retrieval target, not the
    near-guaranteed self-hit (ADVICE r5)."""
    if qdf is None:
        qdf = _pq_probes(emb_1t, "embedding")
    q = F.broadcast(
        qdf.select(
            "query_id",
            F.col("embedding").alias("q_emb"),
        )
    )

    def full_dist(v, c):
        d = None
        for m in range(_PQ_M):
            for j in range(_PQ_SUB):
                idx = m * _PQ_SUB + j + 1
                t = F.element_at(v, idx).cast("double") - F.element_at(
                    c, idx
                ).cast("double")
                d = t * t if d is None else d + t * t
        return d

    scored = q.join(emb_1t).select(
        "query_id",
        "vec_id",
        F.round(full_dist(F.col("q_emb"), F.col("embedding")), 6).alias(
            "d"
        ),
    )
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    return _salted_topk(scored, k, "d").select("query_id", "vec_id")


# ---------------------------------------------------------------- D25
def _pq_full_dist_sql(a: str, b: str) -> str:
    """Full 64-dim squared L2 as the left-associated sum of the 8
    subspace chains — same nesting the Spark side generates."""
    return "(" + " + ".join(_pq_dist_sql(m, a, b) for m in range(_PQ_M)) + ")"


def _pq_recall_oracle(cand_sql: str) -> str:
    return f"""
    WITH cand AS MATERIALIZED ({cand_sql}),
    q AS (
        SELECT vec_id AS query_id, embedding
        FROM embeddings ORDER BY vec_id LIMIT {_PQ_NQ}
    ),
    exact AS MATERIALIZED (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(
                           {_pq_full_dist_sql('q.embedding', 'c.embedding')},
                           6), c.vec_id
                   ) AS r
            FROM q CROSS JOIN embeddings c
        ) WHERE r <= {_PQ_TOPK}
    ),
    hits AS (
        SELECT e.query_id, count(*) AS n
        FROM exact e JOIN cand c
          ON c.query_id = e.query_id AND c.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) * 10000 // {_PQ_TOPK} AS BIGINT)
               AS recall_bp
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    """


@register("pq_adc_recall", oracle=_pq_recall_oracle(_pq_trained_oracle()))
def pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D25 — recall@5 of the SERVING PQ-ADC path (trained codebook,
    D24) against exact L2, per query: the eval that makes D24 a
    tunable ANN path (codebook size / M vs recall) rather than a
    compression trick — same loop D23 closes for the JL sketch. The
    oracle reproduces the trained candidates via the unrolled Lloyd
    SQL, so this dial is hash-checked end-to-end; the sampled-seed
    control lives in ``pq_sampled_recall``. The exact side ranks by
    round(L2², 6) with a vec_id tie-pin; both engines build the
    64-term distance as the identical left-associated sum of the 8
    subspace chains, so the rounded keys are bit-equal. Exact top-5
    runs the same two-stage salted window as D24 (no task holds a
    query's corpus); the hit join and the final report are
    |queries|-sized. NOTE when comparing across the dial family: D25/
    D25b keep the query in the corpus (the self-row is a legitimate
    reconstruction target for a distortion dial), worth ~10000/k bp of
    guaranteed hit; D27/D28b/D29b exclude self (vec_id <> query_id) —
    retrieval dials measure finding OTHER neighbors."""
    emb_1t = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return _pq_recall(
        emb_1t, pq_adc_ann(spark, sf_dir).select("query_id", "vec_id")
    )


@register("pq_sampled_recall", oracle=_pq_recall_oracle(_pq_oracle()))
def pq_sampled_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D25b — recall@5 of PQ-ADC under the UNTRAINED sampled codebook
    (the 16 lexicographically-first vectors): the eval control that
    quantifies what Lloyd training buys the serving path (measured:
    3500 bp sampled vs 4500 bp trained at sf0.1; tied 4500 bp at
    sf0.01). Same
    exact-L2 reference, hit join, and report shape as D25 so the two
    dials read side by side; fully hash-checked (the sampled codebook
    is SQL-reconstructible by construction)."""
    emb = table(spark, sf_dir, "embeddings", fan_out="force").select(
        "vec_id", "embedding"
    )
    emb_1t = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # codebook: the 16 first embeddings in vec_id order, collected
    # once as cents[m][k][j] (float32 widens to double exactly)
    seeds = emb_1t.orderBy("vec_id").limit(_PQ_K).collect()
    if not seeds:
        return spark.createDataFrame([], _PQ_RECALL_SCHEMA)
    cents = [
        [r.embedding[m * _PQ_SUB : (m + 1) * _PQ_SUB] for r in seeds]
        for m in range(_PQ_M)
    ]
    cand = _pq_adc_topk(_pq_encode(emb, cents), emb_1t, cents)
    return _pq_recall(emb_1t, cand.select("query_id", "vec_id"))


# ---------------------------------------------------------------- D26
# Trained-codebook memo, keyed (dataset fingerprint, iters): production
# ships the trained quantizer as a FROZEN artifact — re-deriving it
# inside every serving query would re-run a training job per report.
# Training is deterministic (pure integer arithmetic over immutable
# input), so the memo can never change a result, only skip repeated
# work within one process; the correctness driver and the bench both
# see first-call training, subsequent calls serve the constant. The
# key includes a cheap file fingerprint (mtime + size of every
# embeddings parquet under sf_dir), so regenerating the data at the
# same path within one process retrains instead of serving a stale
# codebook (ADVICE r5).
_PQ_CB_CACHE: dict[tuple, list] = {}


def pq_train_codebook_cached(
    spark: SparkSession, sf_dir: str, iters: int = _PQ_TRAIN_ITERS
) -> list[list[list[float]]]:
    key = (table_fingerprint(sf_dir, "embeddings"), iters)
    if key not in _PQ_CB_CACHE:
        _PQ_CB_CACHE[key] = pq_train_codebook(spark, sf_dir, iters)
    return _PQ_CB_CACHE[key]


def pq_train_codebook(
    spark: SparkSession,
    sf_dir: str,
    iters: int = _PQ_TRAIN_ITERS,
    emb: DataFrame | None = None,
) -> list[list[list[float]]]:
    """Lloyd k-means per subspace over a deterministic hash sample
    (vec_id % 4 == 0), seeded with the 16 lexicographically-first
    vectors. Returns centroids[m][cid][j] (8 x 16 x 8 floats — a
    bounded contraction, the D6/D7 'train then ship as constant'
    shape). ALL training arithmetic is BIGINT micro-units: sample
    dims quantize to round(x*1e6) longs, assignment argmins integer
    squared distances (min(struct(d2u, cid)) — tie → lowest cid), and
    the centroid update is a truncating integer division
    (sum(xu) div n, matching DuckDB //). The fixed point is therefore
    EXACTLY reproducible by the unrolled SQL twin (_pq_lloyd_sql):
    no floating-point summation order exists anywhere in the loop, so
    the trained serving path (pq_adc_ann) stays hash-checkable.
    Empty clusters keep their previous centroid. At 100 TB training
    always runs on a fixed-size sample — the full corpus only ever
    sees the frozen codebook. Returned floats are cu/1e6, an exact
    double both engines derive identically. ``emb`` overrides the
    corpus relation (the OPQ path trains on its rotated view). The
    loop itself is ``_pq_lloyd_u``."""
    if emb is None:
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    vu = emb.select("vec_id", _ivfpq_xu_of(F.col("embedding")).alias("vu"))
    cents_u = _pq_lloyd_u(
        spark, vu, vu.where(F.col("vec_id") % _PQ_TRAIN_MOD == 0), iters
    )
    return [[[cu / 1e6 for cu in ck] for ck in cm] for cm in cents_u]


def _pq_trained_cbs(cents) -> Column:
    """Codebook column for the query-side ADC table
    (``_pq_adc_table``): the 16 trained centroids re-assembled to full
    64-dim vectors (subspace m of centroid k = cents[m][k]) as a
    constant-folded literal array.
    The array is ONE SQL literal (``_sql_literal``): one Py4J round
    trip, where a Column per value costs one each (~1,000). As a
    literal column it needs no join, so no job broadcasts it."""
    full = [
        [cents[m][k][j] for m in range(_PQ_M) for j in range(_PQ_SUB)]
        # a corpus below _PQ_K seeds trains (and serves) fewer
        # centroids — see pq_train_codebook's LIMIT-bounded seeding
        for k in range(len(cents[0]))
    ]
    return F.expr(_sql_literal(full))


# training-path twin of D25: same value by construction, same oracle
@register("pq_trained_recall", oracle=_pq_recall_oracle(_pq_trained_oracle()))
def pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D26 — recall@5 under the trained PQ codebook via the
    INDEPENDENT training path: exercises ``pq_train_codebook`` and the
    encode directly rather than going through the registered D24
    serving query, so a regression in either half shows up as a
    D25/D26 split. The training loop is pure BIGINT micro-units, so
    the value equals D25's by construction and D25's oracle (the
    unrolled-Lloyd candidates graded against exact L2) hash-checks it
    too. Lloyd's distortion monotonicity (trained <= seed on the
    training sample) is asserted in tests/test_pq.py (0.74 -> 0.49 at
    sf0.01; recall +1000 bp at sf0.1), and the recall schema matches
    D25 so the dials read side by side."""
    cents = pq_train_codebook_cached(spark, sf_dir)
    if not cents or not cents[0]:
        # empty embeddings table → no codebook, no probes: empty
        # result with the contract schema (same guard family as the
        # kNN/PCA contractions)
        return spark.createDataFrame([], _PQ_RECALL_SCHEMA)
    emb = table(spark, sf_dir, "embeddings", fan_out="force").select(
        "vec_id", "embedding"
    )
    emb_1t = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cand = _pq_adc_topk(_pq_encode(emb, cents), emb_1t, cents)
    return _pq_recall(emb_1t, cand.select("query_id", "vec_id"))


# ---------------------------------------------------------------- D28
# IVF coarse-cell count scales with the corpus: cells ≈ √n (the FAISS
# nlist convention the docstrings cite), clamped to [1, cap]. A
# frozen cell count couples per-cell occupancy — and therefore
# probed-cell serving cost — to corpus size (measured: ×100 corpus →
# ×100 serving wall at 16 cells, VERDICT r7 item 2); √n holds the
# probed fraction shrinking as the corpus grows, so the served-index
# walls stay ~flat. The count is chosen at INDEX-BUILD time from
# count(embeddings) with the same ceil(sqrt(double)) expression on
# both engines (IEEE sqrt is correctly rounded — perfect squares are
# exact, and off-by-one at the ceil needs an error ≥ 1/(2√n), 10
# orders above sqrt's half-ulp for any feasible corpus), so the
# unrolled-Lloyd oracle derives the SAME k from the data without a
# literal in the SQL.
_IVF_CELL_CAP = 4096  # bounds the broadcast centroid constant (~1 MB)
_IVFPQ_NPROBE = 2
_IVFPQ_K = 10
_IVFPQ_MOD = 31  # deterministic probe sample: vec_id % 31 == 0

# Trained coarse quantizer for the IVF-PQ family (D28/D28b/D29/D29b,
# VERDICT r5 item 2): FAISS trains the IVF coarse centroids — an
# untrained quantizer skews cell occupancy on clustered corpora, and
# probed-cell cost (the whole point of IVF) degrades on hot cells.
# Full-vector integer-micro-unit Lloyd with the kmeans_audit
# discipline: quantized inputs, integer squared-distance argmin with
# lowest-cell tie-break, truncating-division updates, empty cells keep
# their previous centroid — so the fixed point is EXACTLY reproduced
# by the unrolled SQL twin (_ivf_lloyd_sql) and every downstream stage
# stays hash-checkable. Memoized per dataset fingerprint like the PQ
# codebook (frozen-artifact shape; at 100 TB training runs once on the
# fixed-size sample, the corpus only ever sees the constant).
_IVF_CC_CACHE: dict[tuple, list] = {}


def ivf_train_cells_cached(
    spark: SparkSession, sf_dir: str
) -> list[list[int]]:
    key = table_fingerprint(sf_dir, "embeddings")
    if key not in _IVF_CC_CACHE:
        _IVF_CC_CACHE[key] = ivf_train_cells(spark, sf_dir)
    return _IVF_CC_CACHE[key]


def ivf_n_cells(n: int) -> int:
    """Coarse-cell count for an ``n``-vector corpus: ceil(sqrt(n))
    clamped to [1, _IVF_CELL_CAP]. Python mirrors the oracle's
    ``ceil(sqrt(CAST(n AS DOUBLE)))`` through the same IEEE double
    sqrt, so both engines choose the identical k."""
    import math

    return max(1, min(_IVF_CELL_CAP, int(math.ceil(math.sqrt(float(n))))))


def ivf_train_mod(n: int) -> int:
    """Coarse-training sample stride: FAISS-style bounded sample of
    ~96 points per centroid — max(_PQ_TRAIN_MOD, n // (96·cells)),
    floor division on both engines. Below ~150k vectors this IS
    _PQ_TRAIN_MOD (the fixed point at every test SF is unchanged);
    past it the stride grows so training cost is ~96·cells² ≈ 96·n —
    linear in the corpus instead of the n·√n the fixed stride gave."""
    return max(_PQ_TRAIN_MOD, n // (96 * ivf_n_cells(n)))


def ivf_train_cells(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> list[list[int]]:
    """Lloyd over FULL 64-dim quantized vectors for ivf_n_cells(n)
    coarse centroids: sample vec_id % _PQ_TRAIN_MOD == 0, seeds = the
    lexicographically-first cells (the round-5 untrained quantizer is
    exactly iteration 0), _PQ_TRAIN_ITERS updates. Returns
    cents_u[cell][j] BIGINT micro-units; len(result) carries the
    chosen cell count to every downstream consumer. ``emb`` overrides
    the training corpus (the incremental-index path trains on its
    day-0 base slice and FREEZES the result)."""
    if emb is None:
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    n = emb.count()
    init = (
        emb.orderBy("vec_id")
        .limit(ivf_n_cells(n))
        .select("vec_id", _ivfpq_xu_of(F.col("embedding")).alias("xu"))
        .collect()
    )
    if not init:
        return []
    init.sort(key=lambda r: r.vec_id)
    cents_u = [[int(v) for v in r.xu] for r in init]
    sub = (
        emb.where(F.col("vec_id") % ivf_train_mod(n) == 0)
        # sample-sized, consumed once per Lloyd iteration — the
        # persist-pays regime (see pq_train_codebook)
        .persist()
    )
    for _ in range(_PQ_TRAIN_ITERS):
        # assignment via the Arrow GEMM kernel (exact integer
        # distances, lowest-cell ties — see ivf_assign_arrow); the
        # interpreted fold was sample × cells × 64 element evals and
        # dominated the ×100 index build
        got = _lloyd_update_u(
            ivf_assign_arrow(sub, cents_u, emit="cell+xu"),
            ["cell_id"],
            _EMBED_DIMS,
        )
        cents_u = [got.get((k,), c) for k, c in enumerate(cents_u)]
    sub.unpersist()
    return cents_u


def _ivf_lloyd_sql() -> str:
    """Unrolled full-vector Lloyd for the coarse cells, the SQL twin
    of ``ivf_train_cells``. Assumes a CTE ``pts(vec_id, x0..x63)``
    (quantized BIGINT micro-units) is already in scope; ends in
    ``ccents(cell_id, c0..c63)``. Same integer discipline as
    _pq_lloyd_sql, so the fixed point is bit-equal cross-engine."""
    dims = range(_EMBED_DIMS)
    d2u = " + ".join(
        f"(s.x{j} - c.c{j}) * (s.x{j} - c.c{j})" for j in dims
    )
    parts = [
        f"""cn AS (
        SELECT greatest(1, least({_IVF_CELL_CAP},
            CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS k
        FROM pts
    ), cm AS (
        SELECT greatest({_PQ_TRAIN_MOD},
            (SELECT count(*) FROM pts) // (96 * k)) AS md
        FROM cn
    ), csamp AS MATERIALIZED (
        SELECT * FROM pts WHERE vec_id % (SELECT md FROM cm) = 0
    ), ccents0 AS (
        SELECT rn - 1 AS cell_id,
               {', '.join(f'x{j} AS c{j}' for j in dims)}
        FROM (SELECT *, row_number() OVER (ORDER BY vec_id) AS rn
              FROM pts) s0
        WHERE rn <= (SELECT k FROM cn)
    )"""
    ]
    for i in range(1, _PQ_TRAIN_ITERS + 1):
        sums = ", ".join(f"sum(x{j}) AS s{j}" for j in dims)
        newc = ", ".join(
            f"CASE WHEN u.n IS NULL THEN c.c{j}"
            f" ELSE u.s{j} // u.n END AS c{j}"
            for j in dims
        )
        xs = ", ".join(f"s.x{j}" for j in dims)
        parts.append(
            f"""cassign{i} AS (
        SELECT s.vec_id, c.cell_id, {xs},
               row_number() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY ({d2u}), c.cell_id) AS rn
        FROM csamp s CROSS JOIN ccents{i - 1} c
    ), cupd{i} AS (
        SELECT cell_id, count(*) AS n, {sums}
        FROM cassign{i} WHERE rn = 1 GROUP BY cell_id
    ), ccents{i} AS (
        SELECT c.cell_id, {newc}
        FROM ccents{i - 1} c
        LEFT JOIN cupd{i} u USING (cell_id)
    )"""
        )
    parts.append(
        f"ccents AS MATERIALIZED (SELECT * FROM ccents{_PQ_TRAIN_ITERS})"
    )
    return ", ".join(parts)


def _ivfpq_oracle(k: int = _IVFPQ_K) -> str:
    """IVF-PQ serving twin: TRAINED integer micro-unit coarse
    assignment (the unrolled full-vector Lloyd chain _ivf_lloyd_sql —
    the kmeans_audit discipline, zero float risk in candidate
    generation) + the trained-PQ encode/ADC tail filtered to probed
    cells. The PQ Lloyd chain supplies ``cb``; the coarse chain
    supplies ``ccents``. ``k`` is the per-query cut (default the D28
    top-k; D28d passes its shortlist depth)."""
    dims = range(_EMBED_DIMS)

    def qx(e: str) -> str:
        return f"CAST(round(CAST({e} AS DOUBLE) * 1e6, 0) AS BIGINT)"

    pts_cols = ", ".join(f"{qx(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims)
    d2u = " + ".join(f"(p.x{j} - ct.c{j}) * (p.x{j} - ct.c{j})" for j in dims)
    return f"""
    WITH {_pq_lloyd_sql()},
    pts AS MATERIALIZED (SELECT e.vec_id, {pts_cols} FROM embeddings e),
    {_ivf_lloyd_sql()},
    cell_rank AS (
        SELECT p.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY ({d2u}), ct.cell_id) AS r
        FROM pts p CROSS JOIN ccents ct
    ),
    corpus_cell AS (SELECT vec_id, cell_id FROM cell_rank WHERE r = 1),
    qsel AS (
        SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id % {_IVFPQ_MOD} = 0
    ),
    probe_cells AS (
        SELECT q.query_id, cr.cell_id
        FROM qsel q JOIN cell_rank cr ON cr.vec_id = q.query_id
        WHERE cr.r <= {_IVFPQ_NPROBE}
    ),
    ms AS (SELECT unnest(range({_PQ_M})) AS m),
    enc AS (
        SELECT e.vec_id, ms.m, cb.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id, ms.m
                   ORDER BY {_pq_case_sql('e.embedding', 'cb.embedding')},
                            cb.cid
               ) AS rn
        FROM embeddings e CROSS JOIN ms CROSS JOIN cb
    ),
    codes AS (SELECT vec_id, m, cid FROM enc WHERE rn = 1),
    adc AS (
        SELECT q.query_id, ms.m, cb.cid,
               CAST(round({_pq_case_sql('q.embedding', 'cb.embedding')}
                          * 1e6, 0) AS BIGINT) AS cell_u
        FROM qsel q CROSS JOIN ms CROSS JOIN cb
    ),
    scored AS (
        SELECT pr.query_id, cc.vec_id, sum(a.cell_u) AS score_u
        FROM probe_cells pr
        JOIN corpus_cell cc ON cc.cell_id = pr.cell_id
        JOIN codes c ON c.vec_id = cc.vec_id
        JOIN adc a ON a.query_id = pr.query_id
                  AND a.m = c.m AND a.cid = c.cid
        GROUP BY pr.query_id, cc.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, score_u,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score_u, vec_id
               ) AS rank
        FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           round(score_u / 1e6, 6) + 0 AS adc_dist
    FROM ranked WHERE rank <= {k}
    """


def _ivfpq_xu_of(col):
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.round(x * 1e6, 0).cast("long"),
    )


def ivf_assign_arrow(
    df: DataFrame,
    cells_u: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top: int = 1,
    emit: str = "cell",
    codebook: list | None = None,
) -> DataFrame:
    """Integer-exact coarse-cell assignment as ONE Arrow GEMM pass —
    the √n-cells replacement for the per-row ``zip_with`` fold.

    Catalyst's higher-order functions are interpreted per ELEMENT, so
    the JVM-side fold costs rows × cells × 64 element evaluations —
    fine at 16 cells, but with cells ≈ √n the probe-ranking step alone
    grew to ~20 s of the ×100 serving wall. This kernel computes the
    same BIGINT micro-unit squared distances via the expansion
    ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² in float64 BLAS: every operand is an
    exact integer (|xu| ≤ ~7e6 → products ≤ ~5e13 and 64-term sums
    < 2⁵³), so each distance is the EXACT integer the fold computes —
    argmin ties are genuine ties and resolve to the lowest cell_id via
    stable ordering, identical to the (d2u, cell_id) discipline the
    oracle unrolls. Quantization mirrors F.round(x·1e6, 0) HALF-UP
    away from zero (floor(s+0.5) / ceil(s−0.5) — the pinned _q spec in
    tests/test_ivf_cells.py).

    ``top`` rows per input row, best cells first. ``emit``:
      "cell"     → (id, cell_id)
      "codes"    → (id, codes array<bigint>, cell_id)  [top must be 1;
                    needs ``codebook``, the trained PQ centroids
                    cents[m][k][j]; codes[m] is the first argmin over
                    subspace m's float distances — see pq_argmin. Flat
                    PQ and OPQ are a single zero cell (``_pq_encode``);
                    this is the package's only PQ encode]
      "cell+ru"  → (id, cell_id, ru array<bigint>)     [top must be 1;
                    ru = xu − cu[cell], the exact integer residual]
      "cell+xu"  → (id, cell_id, xu array<bigint>)     [top must be 1;
                    the quantized vector, for Lloyd update sums]
      "rcodes"   → (id, cell_id, codes array<bigint>)  [top must be 1;
                    needs ``codebook``, the trained RESIDUAL centroids
                    rcb[m][k][j] in micro-units; codes[m] is the first
                    (lowest-cid) argmin of T[m] — the residual encode]
      "radc"     → (id, cell_id, adc array<array<bigint>>) — one row
                    per probed cell with adc = T of the residual w.r.t.
                    THAT cell (the residual serve's ADC table)
    where T[m][k] = Σ_j (ru[m·_PQ_SUB + j] − rcb[m][k][j])² in int64:
    the guard below bounds every |xu|, |cu| and |rcb| by b < 2^22.5, so
    |ru − rcb| ≤ 3b and T ≤ _PQ_SUB·9b² < 2^52: the residual table is
    exact and its argmin ties are genuine ties.

    At small sizes the kernel's wall is mostly a fixed per-task cost:
    the Python worker's per-task setup plus the Arrow round trip, about
    0.09 s on a 4-core host with the package's ``worker_daemon`` and
    0.24 s without it (``tools/pyworker_overhead.py``). The event log's
    ``exec_cpu_s`` counts JVM threads only, so it never shows this: the
    1k-vector probe ranking of ``ivfpq_incremental_served`` ran 199 ms
    on 12 ms of JVM CPU without the daemon.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(cells_u, dtype=np.float64)  # (k, d) exact micro-units
    CU = C.astype(np.int64)
    k = len(cells_u)
    top_n = min(top, k)
    C2 = (C * C).sum(axis=1)
    bound = float(np.abs(C).max(initial=0.0))
    schema = f"{id_col} long, " + {
        "cell": "cell_id int",
        "codes": "codes array<bigint>, cell_id int",
        "cell+ru": "cell_id int, ru array<bigint>",
        "cell+xu": "cell_id int, xu array<bigint>",
        "rcodes": "cell_id int, codes array<bigint>",
        "radc": "cell_id int, adc array<array<bigint>>",
    }[emit]
    if emit not in ("cell", "radc") and top != 1:
        raise ValueError(f"{emit} emits the single best cell only")
    if emit == "codes":
        PQ = np.asarray(codebook, dtype=np.float64)  # (m, k, j)
    elif emit in ("rcodes", "radc"):
        RCB = np.asarray(codebook, dtype=np.int64)  # (m, k, j) micro-units
        bound = max(bound, float(np.abs(RCB).max(initial=0)))

    def pq_argmin(X, PQ):
        """Per subspace m, the first (lowest-id) argmin over the PQ
        centroids of the double distance that ``_pq_sub_dist_sql``
        folds JVM-side, computed with the same IEEE operations in the
        same order: widened components, d·d per dim, the _PQ_SUB terms
        added one at a time left to right. Elementwise numpy ops round
        exactly as Java's do; a BLAS product, ``einsum`` or
        ``sum(axis=…)`` (pairwise summation) would reorder the adds and
        could flip an argmin on a last-ulp tie."""
        n_m, _, n_sub = PQ.shape
        codes = np.empty((len(X), n_m), dtype=np.int64)
        for m in range(n_m):
            dist = None
            for j in range(n_sub):
                d = X[:, m * n_sub + j, None] - PQ[None, m, :, j]
                dist = d * d if dist is None else dist + d * d
            codes[:, m] = dist.argmin(axis=1)  # first minimum
        return codes

    def residual_table(RU):
        """T[row][m][k], exact int64 (integer sums are order-free)."""
        n_m, _, n_sub = RCB.shape
        d = RU.reshape(len(RU), n_m, 1, n_sub) - RCB[None]
        return (d * d).sum(axis=3)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if not np.isfinite(X).all():
                raise ValueError(
                    "ivf_assign_arrow: non-finite vector component"
                )
            s = X * 1e6
            XU = np.where(s >= 0, np.floor(s + 0.5), np.ceil(s - 0.5))
            # exactness guard: the final fused distance
            # X2 − 2·XU@C + C2 can reach 64·(|xu|+|cu|)² ≤ 256·b²
            # (worst case |xu| = |cu| = b in all 64 dims), so THAT is
            # the bound that must stay under 2^53 — not just the
            # 192·b² of the three partial sums (ADVICE r8).
            b = max(bound, float(np.abs(XU).max(initial=0.0)))
            if 256.0 * b * b >= 2.0**53:  # pragma: no cover - huge values
                raise ValueError(
                    "ivf_assign_arrow: |x|·1e6 too large for exact "
                    f"float64 integer arithmetic (max {b:.3g})"
                )
            X2 = (XU * XU).sum(axis=1)
            D = X2[:, None] - 2.0 * (XU @ C.T) + C2[None, :]
            if top_n == 1:
                # argmin returns the FIRST minimum → lowest cell_id
                order = D.argmin(axis=1)[:, None]
            else:
                # stable sort on exact-integer doubles → ties keep the
                # lower cell_id, the oracle's (d2u, cell_id) order
                order = np.argsort(D, axis=1, kind="stable")[:, :top_n]
            rows = np.repeat(np.arange(len(pdf)), order.shape[1])
            cell = order.ravel()
            # columns in the schema's order
            out = {id_col: pdf[id_col].to_numpy()[rows]}
            if emit == "codes":
                out["codes"] = list(pq_argmin(X, PQ))
            out["cell_id"] = cell.astype(np.int32)
            if emit == "cell+xu":
                out["xu"] = list(XU.astype(np.int64))
            elif emit not in ("cell", "codes"):
                # residual w.r.t. each emitted cell, exact integers
                RU = XU.astype(np.int64)[rows] - CU[cell]
                if emit == "cell+ru":
                    out["ru"] = list(RU)
                elif emit == "rcodes":
                    out["codes"] = list(residual_table(RU).argmin(axis=2))
                else:  # radc
                    out["adc"] = [list(t) for t in residual_table(RU)]
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(kernel, schema)


def _ivfpq_encoded(
    spark: SparkSession,
    sf_dir: str,
    *,
    cents=None,
    cells=None,
    emb: DataFrame | None = None,
) -> DataFrame:
    """The D28 index relation (vec_id, codes, cell_id): PQ codes +
    coarse cell from ONE shuffle-free Arrow pass against the two
    trained constants. ``cents``/``cells``/``emb`` override the
    artifacts and the slice to encode — the incremental-index append
    path encodes ONLY its new batch against FROZEN day-0 artifacts
    (plans/similarity4.py); defaults reproduce D28 unchanged.

    The kernel that assigns the cell also takes each subspace's PQ
    code, so the vectors never return to the JVM. The codes equal the
    oracle's CASE chain: the kernel builds every distance with the same
    IEEE double operations in the same order (float32 widened to
    double, d·d, the 8 terms added left to right) and takes the FIRST
    minimum, so exact ties resolve to the lowest centroid id; the Spark
    fold in tests/pq_fold.py is the reference it is checked against.
    Non-finite input raises."""
    if cents is None:
        cents = pq_train_codebook_cached(spark, sf_dir)
    if cells is None:
        cells = ivf_train_cells_cached(spark, sf_dir)
    e = emb
    if e is None:
        e = table(spark, sf_dir, "embeddings", fan_out="force").select(
            "vec_id", "embedding"
        )
    return ivf_assign_arrow(e, cells, emit="codes", codebook=cents)


def _ivfpq_serve(
    spark: SparkSession,
    sf_dir: str,
    encoded: DataFrame,
    k: int = _IVFPQ_K,
    *,
    cents=None,
    cells=None,
    rebalance: bool = False,
) -> DataFrame:
    """The D28 serving tail over any index relation (inline-encoded or
    materialized): probe-cell ranking, broadcast ADC tables, salted
    two-stage top-k. ``k`` is the per-query cut (default the D28
    top-k; D28d passes its shortlist depth). ``cents``/``cells``
    override the trained artifacts — the incremental-index path
    serves with its FROZEN day-0 quantizers; defaults reproduce D28c
    unchanged.

    ``rebalance`` re-hashes the candidate rows onto the salted top-k
    keys BEFORE the ADC fold, so the fold computes post-shuffle on
    evenly-hashed partitions and the first window stage REUSES the
    exchange (no extra shuffle vs the default plan — the exchange
    just moves below the fold and carries codes instead of scores).
    Use it when the index side's byte-based scan splits misestimate
    fold work — e.g. the one-file-per-cell compacted layout, where a
    hot probed cell rides one split: measured at the ×100 replicate
    (26.8M candidates, 190k live rows, 259 cells) the incremental
    serve drops 34.6 → ~12 s, matching D28c's many-files-per-cell
    accidental granularity. Results are identical by construction
    (same rows, same fold, same windows)."""
    if cents is None:
        cents = pq_train_codebook_cached(spark, sf_dir)
    if cells is None:
        cells = ivf_train_cells_cached(spark, sf_dir)
    cbs = _pq_trained_cbs(cents)
    e_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qsel = _ivf_probes(e_1t, "embedding")
    # probe ranking via the Arrow GEMM kernel: with cells ≈ √n the old
    # posexplode-over-cell-dists fold was queries × cells × 64
    # interpreted evals + a window shuffle — the dominant term of the
    # ×100 serving wall; the kernel emits the top-nprobe cells per
    # query directly in (d2u, cell_id) order
    probe_cells = ivf_assign_arrow(
        qsel,
        cells,
        id_col="query_id",
        top=_IVFPQ_NPROBE,
    )
    adc = _pq_adc_table(qsel, cbs)
    cand = F.broadcast(probe_cells).join(encoded, "cell_id")
    if rebalance:
        # hash onto the salted-window keys while rows are still
        # skinny (query_id, vec_id, codes) — the window below reuses
        # this exchange, so the plan has the SAME number of shuffles
        cand = cand.repartition(
            F.col("query_id"), F.pmod(F.col("vec_id"), F.lit(_PQ_SALTS))
        )
    scored = cand.join(adc, "query_id").select(
        "query_id", "vec_id", _pq_adc_score().alias("score_u")
    )
    return _served_adc(_salted_topk(scored, k, "score_u"))


@register("ivfpq_ann", oracle=_ivfpq_oracle())
def ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28 — IVF-PQ, the composition production ANN actually ships
    (FAISS IVFPQ): an inverted-file coarse quantizer restricts each
    query to its nprobe=2 best of the ~sqrt(n) trained cells, and
    scoring inside the
    probed cells runs the trained-PQ asymmetric distance over 4-bit
    codes — search cost drops from |corpus| ADC sums per query (D24)
    to the probed cells' occupancy, recall tuned by the D27 nprobe
    dial and the D25 codebook dial together.

    Exactness stack (every stage hash-checked): coarse assignment is
    INTEGER micro-unit L2 against TRAINED centroids — full-vector
    Lloyd (ivf_train_cells, seeds = the round-5 untrained cells,
    unrolled-CTE oracle _ivf_lloyd_sql), matching FAISS, which trains
    the coarse quantizer so cell occupancy stays balanced on
    clustered corpora (quantized inputs, integer argmin, lowest-cell
    ties — the kmeans_audit discipline, zero float risk in candidate
    generation; see ivf_cell_occupancy for the measured spread); PQ
    codes and ADC cells reuse D24's trained-codebook machinery
    (unrolled-Lloyd oracle, BIGINT micro-unit scores).

    Scale shape: the ENTIRE index build is one shuffle-free
    projection — each corpus vector computes its 8 PQ codes against
    the broadcast codebook AND its coarse cell against the broadcast
    centroid constants in the same select; serving broadcasts the
    probes×nprobe cell list and the per-query ADC tables against the
    encoded corpus and runs the salted two-stage top-k. Nothing
    corpus-sized ever shuffles before the final per-query cut. At
    100 TB this is the architecture: 4 bytes/vector of codes + a cell
    id, brute force only within probed cells. (This inline form
    re-encodes per run; D28c ``ivfpq_ann_served`` materializes the
    index once and serves from it — identical rows, same oracle.)"""
    cents = pq_train_codebook_cached(spark, sf_dir)
    if not cents or not cents[0]:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    return _ivfpq_serve(spark, sf_dir, _ivfpq_encoded(spark, sf_dir))


# Materialized-index store: the written code-table parquets, one
# built-once store per (embeddings fingerprint, index name)
# (readers.built_store). Measured at 200k vectors / 6.5k probe
# queries: inline re-encode+serve 66 s per run, served-from-codes 24 s
# per run after a 31 s one-off build — the residual 24 s IS the
# probed-occupancy scoring, ~3.7 ms/query (SURVEY §6 round-6 scale-up
# note).
_INDEX_STORE_CACHE: dict[tuple, str] = {}


def materialized_index_path(
    spark: SparkSession, sf_dir: str, name: str, build, partition_by=None
) -> str:
    """Path of the ``name`` index parquet for ``sf_dir``'s embeddings,
    building it via ``build() -> DataFrame`` on first use (or when the
    memoized path no longer holds data). ``partition_by`` lays the
    index out hive-partitioned on that column — the 100 TB layout for
    cell-restricted serving (see ivfpq_index_path)."""

    def write(path: str) -> None:
        w = build().write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)

    # a partitioned write leaves only _SUCCESS + cell_id=*/ dirs at the
    # top level, so validate on the success marker, not *.parquet
    return built_store(
        _INDEX_STORE_CACHE,
        sf_dir,
        "embeddings",
        name,
        write,
        lambda path: os.path.isfile(os.path.join(path, "_SUCCESS")),
    )


def ivfpq_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The D28c index, hive-partitioned BY CELL: serving joins the
    broadcast probe-cell list on the partition column, so Spark's
    dynamic partition pruning restricts the scan to probed cells —
    the plan carries a dynamicpruning subquery on the index scan's
    PartitionFilters (pinned in tests/test_plan_shape.py). At 100 TB
    this is the lake layout where per-query serving cost is probed
    occupancy by CONSTRUCTION: unprobed cells are never read."""
    return materialized_index_path(
        spark,
        sf_dir,
        "ivfpq",
        lambda: _ivfpq_encoded(spark, sf_dir),
        partition_by="cell_id",
    )


@register("ivfpq_ann_served", oracle=_ivfpq_oracle())
def ivfpq_ann_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28c — IVF-PQ serving from a MATERIALIZED index: the first call
    per dataset writes the (vec_id, codes, cell_id) relation to
    parquet (the one-off index-build job — 5 bytes/vector); every
    query after that scans only the codes. Identical rows to D28
    under the identical oracle — the difference is purely WHERE the
    encode cost lands: measured at 200k vectors with 6.5k probe
    queries, inline D28 costs 66 s per run while this path serves in
    24 s per run after a 31 s one-off build — and the remaining 24 s
    is pure probed-occupancy ADC scoring (~3.7 ms/query at the
    measurement's then-16-cell layout), the cost the CELL-COUNT dial
    controls — and since round 8 the cell count IS sqrt(n)
    (ivf_n_cells, chosen at index-build time from the corpus count),
    so occupancy, and with it per-query cost, stays flat as the
    corpus grows. At 100 TB the
    index lives in the lake like any other table — partition by
    cell_id and partition pruning does the cell restriction for
    free."""
    cents = pq_train_codebook_cached(spark, sf_dir)
    if not cents or not cents[0]:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    encoded = read_parquet(spark, ivfpq_index_path(spark, sf_dir))
    return _ivfpq_serve(spark, sf_dir, encoded)


# ADC shortlist depth before the exact rerank (D28d): 3x the final
# top-k, the usual production ratio — deep enough to recover most
# code-distortion misses, shallow enough that the exact pass touches
# 30 vectors/query instead of the corpus.
_RERANK_SHORT = 30


def _ivfpq_recall_oracle(cand_sql: str | None = None) -> str:
    # self-exclusion on BOTH the candidate and the exact side (the
    # D27 vec_id <> query_id discipline): the query is a corpus member
    # and its own cell is always probed, so without it every query
    # gets a guaranteed self-hit inflating recall_bp (ADVICE r5).
    # ``cand_sql`` swaps in a different candidate relation (D28e uses
    # the exact-rerank output) against the SAME exact reference.
    if cand_sql is None:
        cand_sql = _ivfpq_oracle()
    return f"""
    WITH cand AS MATERIALIZED (
        SELECT * FROM ({cand_sql})
        WHERE vec_id <> query_id
    ),
    q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id % {_IVFPQ_MOD} = 0
    ),
    exact AS MATERIALIZED (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(
                           {_pq_full_dist_sql('q.embedding', 'c.embedding')},
                           6), c.vec_id
                   ) AS r
            FROM q CROSS JOIN embeddings c
            WHERE c.vec_id <> q.query_id
        ) WHERE r <= {_IVFPQ_K}
    ),
    hits AS (
        SELECT e.query_id, count(*) AS n
        FROM exact e JOIN cand c
          ON c.query_id = e.query_id AND c.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) * 10000 // {_IVFPQ_K} AS BIGINT)
               AS recall_bp
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    """


def _ivfpq_rerank_oracle() -> str:
    dims = range(_EMBED_DIMS)

    def qx(e: str) -> str:
        return f"CAST(round(CAST({e} AS DOUBLE) * 1e6, 0) AS BIGINT)"

    d2u = " + ".join(
        f"({qx(f'qe.embedding[{j + 1}]')} - {qx(f'ce.embedding[{j + 1}]')})"
        f" * ({qx(f'qe.embedding[{j + 1}]')} - {qx(f'ce.embedding[{j + 1}]')})"
        for j in dims
    )
    return f"""
    WITH short AS MATERIALIZED (
        SELECT query_id, vec_id FROM ({_ivfpq_oracle(_RERANK_SHORT)})
    ),
    rescored AS (
        SELECT s.query_id, s.vec_id, ({d2u}) AS d2u
        FROM short s
        JOIN embeddings qe ON qe.vec_id = s.query_id
        JOIN embeddings ce ON ce.vec_id = s.vec_id
    ),
    rranked AS (
        SELECT query_id, vec_id, d2u,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY d2u, vec_id
               ) AS rank
        FROM rescored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           round(d2u / 1e12, 6) + 0 AS exact_dist
    FROM rranked WHERE rank <= {_IVFPQ_K}
    """


@register("ivfpq_exact_rerank", oracle=_ivfpq_rerank_oracle())
def ivfpq_exact_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28d — IVF-PQ retrieve + EXACT rerank, the two-stage serving
    pattern production ANN actually runs (FAISS refine / DiskANN
    rerank): the served code table supplies a cheap ADC shortlist
    (3x the final k), then ONLY the shortlisted vectors are re-scored
    against the raw embeddings at full precision and the top-k is cut
    on the exact distance. Code distortion stops costing recall and
    starts costing only shortlist depth — D28e measures exactly what
    that buys over raw ADC ranking (D28b) at identical probe cost.

    Scale shape: the rerank side is shortlist-sized, never
    corpus-sized — the |queries|x30 id list broadcasts onto the raw
    embeddings scan (one broadcast hash join), so full-precision
    vectors are touched for 30 rows/query regardless of corpus size;
    the exact distance is the integer micro-unit L2 (BIGINT,
    structural cross-engine equality, 1e-12 units like D29)."""
    cents = pq_train_codebook_cached(spark, sf_dir)
    if not cents or not cents[0]:
        return spark.createDataFrame(
            [],
            "query_id bigint, rank int, vec_id bigint, exact_dist double",
        )
    encoded = read_parquet(spark, ivfpq_index_path(spark, sf_dir))
    short = _ivfpq_serve(spark, sf_dir, encoded, k=_RERANK_SHORT).select(
        "query_id", "vec_id"
    )
    e_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = F.broadcast(
        _ivf_probes(e_1t, _ivfpq_xu_of(F.col("embedding")).alias("__qu"))
    )
    cand = (
        F.broadcast(short)
        .join(e_1t, "vec_id")
        .select(
            "query_id",
            "vec_id",
            _ivfpq_xu_of(F.col("embedding")).alias("__cu"),
        )
    )
    scored = cand.join(qv, "query_id").select(
        "query_id",
        "vec_id",
        F.aggregate(
            F.zip_with("__cu", "__qu", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d2u"),
    )
    return topk_per_group(
        scored, ["query_id"], ["d2u", "vec_id"], _IVFPQ_K
    ).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        (F.round(F.col("d2u") / 1e12, 6) + F.lit(0.0)).alias("exact_dist"),
    )


@register(
    "ivfpq_rerank_recall",
    oracle=_ivfpq_recall_oracle(_ivfpq_rerank_oracle()),
)
def ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28e — recall@10 of the rerank pipeline (D28d) against exact
    L2, self-excluded like D28b: the dial that prices the rerank
    stage. Read against D28b (raw ADC ranking at the same
    cells/nprobe/codebook): the delta IS what 30 exact distance
    computations per query buy back from code distortion — on this
    corpus at sf0.1 it recovers most of it (see SURVEY §6). Same
    exact reference, same report shape as the other recall dials."""
    return _ivfpq_recall(spark, sf_dir, ivfpq_exact_rerank(spark, sf_dir))


@register("ivfpq_recall", oracle=_ivfpq_recall_oracle())
def ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28b — recall@10 of IVF-PQ against exact L2, per probe query:
    the end-to-end quality number where BOTH approximations compound
    (cells pruned by the coarse quantizer AND 4-bit code distortion) —
    read alongside D27 (cell pruning alone) and D25 (code distortion
    alone) to attribute recall loss to the right knob. Same hash-check
    stack as its components; the exact side is the D25 salted L2
    reference over the D28 probe sample. Self-hits are EXCLUDED from
    both the exact reference and the candidates (the D27
    vec_id <> query_id discipline), so this dial is directly
    comparable with D27; D25/D25b keep the query in the corpus by
    design (their probes measure codebook distortion, where the
    self-row is a legitimate reconstruction target) — noted there.
    Candidates come from the SERVED index (D28c) — identical rows to
    inline D28 under the identical oracle, without re-encoding the
    corpus every time the dial is read (VERDICT r6 item 3)."""
    return _ivfpq_recall(spark, sf_dir, ivfpq_ann_served(spark, sf_dir))


# ---------------------------------------------------------------- D30
def _ivf_occupancy_oracle() -> str:
    dims = range(_EMBED_DIMS)

    def qx(e: str) -> str:
        return f"CAST(round(CAST({e} AS DOUBLE) * 1e6, 0) AS BIGINT)"

    pts_cols = ", ".join(
        f"{qx(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims
    )
    cols = ", ".join(f"c{j}" for j in dims)
    d2u = " + ".join(
        f"(p.x{j} - b.c{j}) * (p.x{j} - b.c{j})" for j in dims
    )
    # ccents0 in the Lloyd chain IS the seeded (untrained) quantizer —
    # iteration 0 — so both variants fall out of one chain
    return f"""
    WITH pts AS MATERIALIZED (SELECT e.vec_id, {pts_cols} FROM embeddings e),
    {_ivf_lloyd_sql()},
    bothc AS (
        SELECT 'seeded' AS variant, cell_id, {cols} FROM ccents0
        UNION ALL
        SELECT 'trained' AS variant, cell_id, {cols} FROM ccents
    ),
    arank AS (
        SELECT b.variant, p.vec_id, b.cell_id,
               row_number() OVER (
                   PARTITION BY b.variant, p.vec_id
                   ORDER BY ({d2u}), b.cell_id) AS rn
        FROM pts p CROSS JOIN bothc b
    ),
    counts AS (
        SELECT variant, cell_id, count(*) AS n
        FROM arank WHERE rn = 1 GROUP BY variant, cell_id
    )
    SELECT g.variant, CAST(g.cell_id AS INT) AS cell_id,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_vectors
    FROM (SELECT variant, cell_id FROM bothc) g
    LEFT JOIN counts c
      ON c.variant = g.variant AND c.cell_id = g.cell_id
    """


@register("ivf_cell_occupancy", oracle=_ivf_occupancy_oracle())
def ivf_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D30 — IVF cell-occupancy spread, seeded vs trained coarse
    quantizer: the balance audit behind D28's training decision.
    Probed-cell cost IS IVF's value proposition, and it is set by the
    occupancy of the hottest probed cells — an untrained quantizer
    skews occupancy on clustered corpora and serving cost degrades to
    the hot cell's size. This dial reports per-cell corpus counts
    (zeros included) under BOTH quantizers so the spread (max/mean,
    empty-cell count) and D28b's recall read together when choosing
    whether to spend the training job. Measured on the uniform
    synthetic corpus at sf0.1 (mean 125/cell): seeded max cell 148,
    trained 157, 0 empty either way — uniform data is already
    balanced, so here training buys nothing on COST; what it bought
    is RECALL (lower coarse quantization error → the true neighbors'
    cells get probed): D28b 1108 → 1231 bp and D29b 400 → 1385 bp at
    sf0.1 (self-excluded, same nprobe). On a real clustered corpus
    the same dial shows the cost story instead — that is the FAISS
    motivation for training, and this report is how you check which
    regime you are in before spending the job.

    Exactness: both assignments are the integer micro-unit argmin
    (quantized inputs, lowest-cell tie-break) against constant
    centroid rows; counts are exact integers — fully hash-checked,
    the seeded variant doubling as the oracle's iteration-0
    cross-check of the Lloyd chain. Scale shape: one shuffle-free
    projection per variant against a broadcast cells-row constant,
    then a cells-row map-side-combinable rollup; the report is
    2·cells rows (cells = ivf_n_cells(n) ≈ √n since round 8)."""
    trained = ivf_train_cells_cached(spark, sf_dir)
    if not trained:
        return spark.createDataFrame(
            [], "variant string, cell_id int, n_vectors bigint"
        )
    e_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    seeded_rows = (
        e_1t.orderBy("vec_id")
        .limit(len(trained))
        .select("vec_id", _ivfpq_xu_of(F.col("embedding")).alias("xu"))
        .collect()
    )
    seeded_rows.sort(key=lambda r: r.vec_id)
    seeded = [[int(v) for v in r.xu] for r in seeded_rows]

    counts = None
    for variant, cells in (("seeded", seeded), ("trained", trained)):
        e = table(spark, sf_dir, "embeddings", fan_out="force").select(
            "vec_id", "embedding"
        )
        assigned = (
            ivf_assign_arrow(e, cells, emit="cell")
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(variant).alias("variant"), "cell_id", "n")
        )
        counts = assigned if counts is None else counts.unionByName(assigned)
    grid = spark.createDataFrame(
        [
            (v, k)
            for v in ("seeded", "trained")
            for k in range(len(trained))
        ],
        "variant string, cell_id int",
    )
    return grid.join(counts, ["variant", "cell_id"], "left").select(
        "variant",
        "cell_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_vectors"),
    )


# ---------------------------------------------------------------- D29
# Residual IVF-PQ: PQ over residuals from the coarse centroid — the
# encoding FAISS IVFPQ actually ships (codes describe x - c(cell), so
# one codebook serves every cell at much lower distortion than coding
# raw vectors). In QUANTIZED integer space the residual is an exact
# integer (ru = xu - cu), which makes the ENTIRE path integer: coarse
# assignment, residual Lloyd training, encode argmin, ADC cells, and
# scores — no float exists anywhere, so cross-engine equality is
# structural, not rounding-managed. The trained residual codebook is
# memoized per dataset here; the encode and the per-(query, probed
# cell) ADC tables are both taken in the IVF Arrow kernel
# (ivf_assign_arrow's "rcodes" / "radc" emits) against that constant.
_RPQ_CB_CACHE: dict[tuple, list] = {}


def _rpq_sub_cols(src: str, prefix: str, m: int) -> str:
    return ", ".join(
        f"{src}.r{m * _PQ_SUB + j} AS {prefix}{j}" for j in range(_PQ_SUB)
    )


def _rpq_oracle() -> str:
    dims = range(_EMBED_DIMS)

    def qx(e: str) -> str:
        return f"CAST(round(CAST({e} AS DOUBLE) * 1e6, 0) AS BIGINT)"

    pts_cols = ", ".join(f"{qx(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims)
    coarse_d2u = " + ".join(
        f"(p.x{j} - ct.c{j}) * (p.x{j} - ct.c{j})" for j in dims
    )
    res_cols = ", ".join(f"p.x{j} - ct.c{j} AS r{j}" for j in dims)
    # per-subspace slice extraction as an 8-way UNION ALL
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, {_rpq_sub_cols('cr', 'x', m)}"
        f" FROM corpus_res cr"
        for m in range(_PQ_M)
    )
    qsubs = " UNION ALL ".join(
        f"SELECT query_id, cell_id, {m} AS m, {_rpq_sub_cols('qr', 'x', m)}"
        f" FROM query_res qr"
        for m in range(_PQ_M)
    )
    sd = range(_PQ_SUB)
    d2u = " + ".join(f"(s.x{j} - c.c{j}) * (s.x{j} - c.c{j})" for j in sd)
    parts = []
    # Lloyd over residual slices: seeds = the 16 smallest vec_ids'
    # residual subvectors; inputs are already exact integers
    parts.append(
        f"""rsamp AS MATERIALIZED (
        SELECT * FROM allsub WHERE vec_id % {_PQ_TRAIN_MOD} = 0
    ), rseed AS (
        SELECT a.*, dense_rank() OVER (ORDER BY a.vec_id) - 1 AS cid
        FROM allsub a
        WHERE a.vec_id IN (
            SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ), rcents0 AS (
        SELECT m, cid, {', '.join(f'x{j} AS c{j}' for j in sd)} FROM rseed
    )"""
    )
    for i in range(1, _PQ_TRAIN_ITERS + 1):
        sums = ", ".join(f"sum(x{j}) AS s{j}" for j in sd)
        newc = ", ".join(
            f"CASE WHEN u.n IS NULL THEN c.c{j}"
            f" ELSE u.s{j} // u.n END AS c{j}"
            for j in sd
        )
        xs = ", ".join(f"s.x{j}" for j in sd)
        parts.append(
            f"""rassign{i} AS (
        SELECT s.vec_id, s.m, c.cid, {xs},
               row_number() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {d2u}, c.cid) AS rn
        FROM rsamp s JOIN rcents{i - 1} c ON c.m = s.m
    ), rupd{i} AS (
        SELECT m, cid, count(*) AS n, {sums}
        FROM rassign{i} WHERE rn = 1 GROUP BY m, cid
    ), rcents{i} AS MATERIALIZED (
        SELECT c.m, c.cid, {newc}
        FROM rcents{i - 1} c
        LEFT JOIN rupd{i} u ON u.m = c.m AND u.cid = c.cid
    )"""
        )
    lloyd = ", ".join(parts)
    final_cents = f"rcents{_PQ_TRAIN_ITERS}"
    code_d2u = " + ".join(
        f"(a.x{j} - c.c{j}) * (a.x{j} - c.c{j})" for j in sd
    )
    adc_d2u = " + ".join(
        f"(qs.x{j} - c.c{j}) * (qs.x{j} - c.c{j})" for j in sd
    )
    return f"""
    WITH pts AS MATERIALIZED (SELECT e.vec_id, {pts_cols} FROM embeddings e),
    {_ivf_lloyd_sql()},
    cell_rank AS MATERIALIZED (
        SELECT p.vec_id, ct.cell_id,
               row_number() OVER (PARTITION BY p.vec_id
                   ORDER BY ({coarse_d2u}), ct.cell_id) AS r
        FROM pts p CROSS JOIN ccents ct
    ),
    corpus_cell AS MATERIALIZED (SELECT vec_id, cell_id FROM cell_rank WHERE r = 1),
    corpus_res AS MATERIALIZED (
        SELECT p.vec_id, cc.cell_id, {res_cols}
        FROM pts p
        JOIN corpus_cell cc ON cc.vec_id = p.vec_id
        JOIN ccents ct ON ct.cell_id = cc.cell_id
    ),
    allsub AS MATERIALIZED ({subs}),
    {lloyd},
    codes AS MATERIALIZED (
        SELECT vec_id, m, cid FROM (
            SELECT a.vec_id, a.m, c.cid,
                   row_number() OVER (PARTITION BY a.vec_id, a.m
                       ORDER BY ({code_d2u}), c.cid) AS rn
            FROM allsub a JOIN {final_cents} c ON c.m = a.m
        ) WHERE rn = 1
    ),
    qsel AS (
        SELECT vec_id AS query_id FROM embeddings
        WHERE vec_id % {_IVFPQ_MOD} = 0
    ),
    probe_cells AS (
        SELECT q.query_id, cr.cell_id
        FROM qsel q JOIN cell_rank cr ON cr.vec_id = q.query_id
        WHERE cr.r <= {_IVFPQ_NPROBE}
    ),
    query_res AS (
        SELECT pr.query_id, pr.cell_id, {res_cols}
        FROM probe_cells pr
        JOIN pts p ON p.vec_id = pr.query_id
        JOIN ccents ct ON ct.cell_id = pr.cell_id
    ),
    qsub AS ({qsubs}),
    adc AS (
        SELECT qs.query_id, qs.cell_id, qs.m, c.cid,
               ({adc_d2u}) AS cell_u
        FROM qsub qs JOIN {final_cents} c ON c.m = qs.m
    ),
    scored AS (
        SELECT pr.query_id, cc.vec_id, sum(a.cell_u) AS score_u
        FROM probe_cells pr
        JOIN corpus_cell cc ON cc.cell_id = pr.cell_id
        JOIN codes k ON k.vec_id = cc.vec_id
        JOIN adc a ON a.query_id = pr.query_id
                  AND a.cell_id = pr.cell_id
                  AND a.m = k.m AND a.cid = k.cid
        GROUP BY pr.query_id, cc.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, score_u,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score_u, vec_id
               ) AS rank
        FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           round(score_u / 1e12, 6) + 0 AS adc_dist
    FROM ranked WHERE rank <= {_IVFPQ_K}
    """


def _rpq_residuals(spark: SparkSession, sf_dir: str, where=None):
    """(vec_id, cell_id, ru): exact integer residual of every vector
    from its integer-argmin coarse cell, via the Arrow GEMM kernel
    (shuffle-free map pass) — the residual trainer's input. ``where``
    filters the SCAN before the Python exchange — a post-kernel filter
    would not push through mapInPandas."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if where is not None:
        e = e.where(where)
    cells_u = ivf_train_cells_cached(spark, sf_dir)
    if not cells_u:
        return None
    return ivf_assign_arrow(e, cells_u, emit="cell+ru")


def _rpq_train(spark: SparkSession, sf_dir: str) -> list:
    """Integer Lloyd over residual subvectors (seeds = the 16 smallest
    vec_ids' residuals), memoized per dataset like the raw codebook.
    Returns cents_u[m][cid][j] BIGINT micro-units."""
    key = table_fingerprint(sf_dir, "embeddings")
    if key in _RPQ_CB_CACHE:
        return _RPQ_CB_CACHE[key]
    res = _rpq_residuals(spark, sf_dir)
    if res is None:
        _RPQ_CB_CACHE[key] = []
        return []
    # training sample filtered at the SCAN (inside the helper — a
    # .where() after the Arrow kernel would not push through)
    sample = _rpq_residuals(
        spark, sf_dir, where=F.col("vec_id") % _PQ_TRAIN_MOD == 0
    )
    cents_u = _pq_lloyd_u(
        spark,
        res.select("vec_id", F.col("ru").alias("vu")),
        sample.select("vec_id", F.col("ru").alias("vu")),
        _PQ_TRAIN_ITERS,
    )
    _RPQ_CB_CACHE[key] = cents_u
    return cents_u


def _rpq_encoded(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The D29 index relation (vec_id, cell_id, codes): coarse cell and
    residual PQ codes from ONE shuffle-free Arrow pass. The residual
    path is integer end-to-end, so the kernel takes each code as the
    first argmin of the exact int64 residual table — the lowest-cid
    tie-break the oracle's row_number order pins."""
    cells_u = ivf_train_cells_cached(spark, sf_dir)
    if not cells_u:
        return None
    e = table(spark, sf_dir, "embeddings", fan_out="force").select(
        "vec_id", "embedding"
    )
    return ivf_assign_arrow(
        e, cells_u, emit="rcodes", codebook=_rpq_train(spark, sf_dir)
    )


def _rpq_serve(
    spark: SparkSession, sf_dir: str, encoded: DataFrame
) -> DataFrame:
    """The D29 serving tail over any index relation (inline-encoded or
    materialized). With the vec_id probe filter pushed into the SCAN
    (|corpus|/mod rows), ONE Arrow pass ranks each query's coarse cells
    and emits, per top-nprobe cell, the integer ADC table of the
    query's residual w.r.t. that cell; the centroid and codebook
    matrices stay numpy constants, never JVM literals. That probe-sized
    relation is broadcast onto the index's cell_id (its broadcast also
    drives the index scan's dynamic partition pruning), scored and cut
    by the salted two-stage top-k."""
    probe_adc = ivf_assign_arrow(
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % _IVFPQ_MOD == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding"),
        ivf_train_cells_cached(spark, sf_dir),
        id_col="query_id",
        top=_IVFPQ_NPROBE,
        emit="radc",
        codebook=_rpq_train(spark, sf_dir),
    )
    scored = (
        F.broadcast(probe_adc)
        .join(encoded, "cell_id")
        .select("query_id", "vec_id", _pq_adc_score().alias("score_u"))
    )
    return _served_adc(_salted_topk(scored, _IVFPQ_K, "score_u"), 1e12)


@register("ivfpq_residual_ann", oracle=_rpq_oracle())
def ivfpq_residual_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D29 — residual IVF-PQ, the encoding FAISS IVFPQ actually ships:
    PQ codes describe x − c(cell) rather than x — on clustered real
    data one codebook then serves every cell at lower distortion than
    coding raw vectors (D28). The round-6 dials (trained coarse
    cells, self-excluded recall) show residual coding now PAYS here
    too: D29b 1385 bp vs D28b's 1231 at sf0.1 (2059 vs 2118 — par —
    at sf0.01); under the round-5 UNTRAINED cells it lost (400 vs
    1108 at sf0.1) because residuals from arbitrary seed vectors are
    no smaller than the vectors — exactly the coupled
    train-the-coarse-quantizer-first / raw-vs-residual decision the
    dial family exists to make per corpus. Worked in QUANTIZED
    INTEGER SPACE the residual is
    an exact integer (ru = xu − cu), which makes this the engine's
    first FULLY integer ANN path: coarse assignment, residual Lloyd
    training, encode argmin, per-(query, probed-cell) ADC tables, and
    scores are all BIGINT — no float exists anywhere in the query
    path, so cross-engine equality is structural rather than
    rounding-managed (scores report at their native 1e-12 units).

    The asymmetric distance is cell-aware: candidate x in cell c is
    scored against the QUERY'S residual w.r.t. c — hence one ADC
    table per (query, probed cell), still |queries|·nprobe·8·16
    integers, broadcast. Scale shape matches D28: cells + codes (corpus
    side) and cells + ADC tables (query side) come from one
    shuffle-free Arrow pass each; serving is one broadcast join + the
    salted two-stage top-k. (This inline form
    re-encodes per run; D29c ``ivfpq_residual_ann_served``
    materializes the code table once and serves from it — identical
    rows, same oracle.)"""
    encoded = _rpq_encoded(spark, sf_dir)
    if encoded is None:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    return _rpq_serve(spark, sf_dir, encoded)


def rpq_index_path(spark: SparkSession, sf_dir: str) -> str:
    # cell-partitioned like ivfpq_index_path: dynamic partition
    # pruning restricts the serving scan to probed cells
    return materialized_index_path(
        spark,
        sf_dir,
        "rpq",
        lambda: _rpq_encoded(spark, sf_dir),
        partition_by="cell_id",
    )


@register("ivfpq_residual_ann_served", oracle=_rpq_oracle())
def ivfpq_residual_ann_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D29c — residual IVF-PQ serving from a MATERIALIZED code table:
    the D28c split applied to D29 (VERDICT r6 item 3). The first call
    per dataset writes the (vec_id, cell_id, codes) relation to
    parquet — the one-off index-build job, 5 bytes/vector — and every
    run after that scans only the codes; the per-run cost left is the
    query-side residual projection (probe filter pushed into the
    scan, |corpus|/mod rows) plus probed-occupancy ADC scoring.
    Identical rows to D29 under the identical oracle. The index
    partitions by cell_id, and the broadcast probe relation prunes the
    scan to probed cells at run time (dynamic partition pruning), so
    building the frame runs no job."""
    cells_u = ivf_train_cells_cached(spark, sf_dir)
    if not cells_u:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    encoded = read_parquet(spark, rpq_index_path(spark, sf_dir))
    return _rpq_serve(spark, sf_dir, encoded)


@register(
    "ivfpq_residual_recall",
    # self-exclusion on both sides — see _ivfpq_recall_oracle
    oracle=f"""
    WITH cand AS MATERIALIZED (
        SELECT * FROM ({{cand}}) WHERE vec_id <> query_id
    ),
    q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id % {_IVFPQ_MOD} = 0
    ),
    exact AS MATERIALIZED (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(
                           {{full_dist}},
                           6), c.vec_id
                   ) AS r
            FROM q CROSS JOIN embeddings c
            WHERE c.vec_id <> q.query_id
        ) WHERE r <= {_IVFPQ_K}
    ),
    hits AS (
        SELECT e.query_id, count(*) AS n
        FROM exact e JOIN cand c
          ON c.query_id = e.query_id AND c.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) * 10000 // {_IVFPQ_K} AS BIGINT)
               AS recall_bp
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    """.format(
        cand=_rpq_oracle(),
        full_dist=_pq_full_dist_sql("q.embedding", "c.embedding"),
    ),
)
def ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D29b — recall@10 of residual IVF-PQ against exact L2, per probe
    query: quantifies what residual encoding buys over raw-vector
    codes (D28b) under identical cells/nprobe/codebook budget — the
    last dial in the ANN family (probe depth D27, code distortion
    D25/D25b, raw compound D28b, residual compound here). Same exact
    reference and report shape as D28b so the two read side by side —
    including D28b's self-exclusion on both the exact reference and
    the candidates (the D27 vec_id <> query_id discipline).
    Candidates come from the SERVED code table (D29c) — identical
    rows to inline D29 under the identical oracle, without
    re-encoding the corpus every time the dial is read (VERDICT r6
    item 3)."""
    return _ivfpq_recall(spark, sf_dir, ivfpq_residual_ann_served(spark, sf_dir))


# ---------------------------------------------------------------- D31
# Scalar quantization (FAISS SQ8 shape): one byte per dimension via
# per-dim linear min/max quantization — the simplest production
# quantizer, 4x smaller than float32 with no codebook training at all.
# Completes the compression family: D24 PQ (trained codebook), D28/D29
# IVF-PQ (+cells, +residuals), D31 SQ (codebook-free). Kept integer-
# exact end-to-end so it is fully hash-checkable: inputs quantize to
# 1e4-unit BIGINTs (coarser than the PQ family's 1e6 so the 255x-
# scaled distances stay far inside int64: 64 dims x (255 x 2e4)^2
# ~ 1.7e15 << 9.2e18), codes are (x-min)*255 div (max-min) (numerator
# nonnegative, so Spark div == DuckDB // == floor), and the asymmetric
# distance compares EXACT integers scaled by 255^2:
#   d_su = sum_j (255*(q_j - min_j) - c_j*(max_j - min_j))^2.
_SQ_SCALE = 1e4


def _sq8_oracle() -> str:
    dims = range(_EMBED_DIMS)

    def q4(e: str) -> str:
        return (
            f"CAST(round(CAST({e} AS DOUBLE) * {_SQ_SCALE:.0f}, 0) AS BIGINT)"
        )

    xu_cols = ", ".join(f"{q4(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims)
    b_cols = ", ".join(
        f"min(x{j}) AS mn{j}, max(x{j}) AS mx{j}" for j in dims
    )
    code_cols = ", ".join(
        f"CASE WHEN b.mx{j} = b.mn{j} THEN 0"
        f" ELSE (x.x{j} - b.mn{j}) * 255 // (b.mx{j} - b.mn{j})"
        f" END AS c{j}"
        for j in dims
    )
    q_cols = ", ".join(f"x{j} AS q{j}" for j in dims)
    score = " + ".join(
        f"(255 * (q.q{j} - b.mn{j}) - c.c{j} * (b.mx{j} - b.mn{j}))"
        f" * (255 * (q.q{j} - b.mn{j}) - c.c{j} * (b.mx{j} - b.mn{j}))"
        for j in dims
    )
    return f"""
    WITH xu AS MATERIALIZED (SELECT e.vec_id, {xu_cols} FROM embeddings e),
    b AS MATERIALIZED (SELECT {b_cols} FROM xu),
    codes AS MATERIALIZED (
        SELECT x.vec_id, {code_cols} FROM xu x CROSS JOIN b
    ),
    q AS (
        SELECT vec_id AS query_id, {q_cols}
        FROM xu ORDER BY vec_id LIMIT {_PQ_NQ}
    ),
    scored AS (
        SELECT q.query_id, c.vec_id, ({score}) AS score_su
        FROM q CROSS JOIN codes c CROSS JOIN b
    ),
    ranked AS (
        SELECT query_id, vec_id, score_su,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score_su, vec_id
               ) AS rank
        FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           CAST(score_su AS BIGINT) AS score_su
    FROM ranked WHERE rank <= {_PQ_TOPK}
    """


@register("sq8_ann", oracle=_sq8_oracle())
def sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D31 — scalar-quantization ANN (the FAISS SQ8 shape): per-dim
    linear min/max quantization to ONE BYTE per dimension, asymmetric
    distance from the full-precision query to the decoded byte codes,
    top-k per probe query (same probes/k as the D24/D25 dials so the
    quantizer family reads side by side). No training, no codebook —
    the control that tells you whether PQ's codebook earns its
    training job on a given corpus.

    Exactness: quantized inputs, integer floor-division codes, and
    distances compared at the 255^2-scaled integer grid (see the
    section comment) — every reported number is a BIGINT both engines
    derive identically; fully hash-checked.

    Scale shape: the bounds are one 128-value rollup (min+max per dim,
    map-side combinable) broadcast back as a constant; encoding is a
    shuffle-free projection (corpus never moves); serving broadcasts
    the probe rows against the encoded corpus and runs the salted
    two-stage top-k. Index size: 64 B/vector + one 128-number bounds
    row — at 100 TB the byte codes are the only thing serving ever
    scans. (This inline form re-derives bounds and codes per run;
    D31c ``sq8_ann_served`` materializes them once — identical rows,
    same oracle.)"""
    encoded = _sq8_encoded(spark, sf_dir)
    return _sq8_serve(spark, sf_dir, encoded)


def _sq8_xu_of(col):
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.round(x * _SQ_SCALE, 0).cast("long"),
    )


def _sq8_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D31 index relation (vec_id, mns, mxs, codes): per-dim byte
    codes plus the global bounds constant carried on every row (RLE
    compresses the constant columns to nothing in parquet, and
    keeping them beside the codes makes the index self-contained —
    production's frozen SQ artifact is exactly codes + bounds)."""
    e = table(spark, sf_dir, "embeddings", fan_out="force").select(
        "vec_id", "embedding"
    )
    e_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    dims = range(_EMBED_DIMS)
    bounds_row = F.broadcast(
        e_1t.select(_sq8_xu_of(F.col("embedding")).alias("__xu"))
        .agg(
            *[F.min(F.element_at("__xu", j + 1)).alias(f"mn{j}") for j in dims],
            *[F.max(F.element_at("__xu", j + 1)).alias(f"mx{j}") for j in dims],
        )
        .select(
            F.array(*[F.col(f"mn{j}") for j in dims]).alias("mns"),
            F.array(*[F.col(f"mx{j}") for j in dims]).alias("mxs"),
        )
    )

    # integer floor-division: numerator is nonnegative (x >= min), so
    # Spark's truncating `div` equals DuckDB's `//` here
    return (
        e.crossJoin(bounds_row)
        .withColumn("__xu", _sq8_xu_of(F.col("embedding")))
        .select(
            "vec_id",
            "mns",
            "mxs",
            F.expr(
                "transform(sequence(0, {d}), j -> CASE"
                " WHEN element_at(mxs, j + 1) = element_at(mns, j + 1)"
                " THEN CAST(0 AS BIGINT)"
                " ELSE ((element_at(__xu, j + 1) - element_at(mns, j + 1))"
                "       * 255) div"
                "      (element_at(mxs, j + 1) - element_at(mns, j + 1))"
                " END)".format(d=_EMBED_DIMS - 1)
            ).alias("codes"),
        )
    )


def _sq8_serve(
    spark: SparkSession, sf_dir: str, encoded: DataFrame
) -> DataFrame:
    """The D31 serving tail over any (vec_id, mns, mxs, codes)
    relation — inline-encoded or materialized."""
    e_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = F.broadcast(
        _pq_probes(e_1t, _sq8_xu_of(F.col("embedding")).alias("__qu"))
    )
    scored = probes.join(encoded).select(
        "query_id",
        "vec_id",
        F.expr(
            "aggregate(sequence(0, {d}), CAST(0 AS BIGINT), (acc, j) ->"
            " acc + (255 * (element_at(__qu, j + 1)"
            "               - element_at(mns, j + 1))"
            "        - element_at(codes, j + 1)"
            "          * (element_at(mxs, j + 1) - element_at(mns, j + 1)))"
            "     * (255 * (element_at(__qu, j + 1)"
            "               - element_at(mns, j + 1))"
            "        - element_at(codes, j + 1)"
            "          * (element_at(mxs, j + 1) - element_at(mns, j + 1)))"
            ")".format(d=_EMBED_DIMS - 1)
        ).alias("score_su"),
    )
    return _salted_topk(scored, _PQ_TOPK, "score_su").select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        F.col("score_su").cast("long").alias("score_su"),
    )


def sq8_index_path(spark: SparkSession, sf_dir: str) -> str:
    return materialized_index_path(
        spark, sf_dir, "sq8", lambda: _sq8_encoded(spark, sf_dir)
    )


@register("sq8_ann_served", oracle=_sq8_oracle())
def sq8_ann_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D31c — SQ8 serving from a MATERIALIZED code table: completes
    the encode-vs-serve split across the whole quantizer family (D24c
    flat PQ, D28c IVF-PQ, D29c residual IVF-PQ, here the codebook-free
    control). The one-off build writes (vec_id, mns, mxs, codes) —
    byte codes plus the RLE-compressed global bounds, the frozen SQ
    artifact production ships — and every run after scans codes only:
    no bounds rollup over the raw corpus, no re-encode. Identical rows
    to D31 under the identical oracle."""
    encoded = read_parquet(spark, sq8_index_path(spark, sf_dir))
    return _sq8_serve(spark, sf_dir, encoded)


@register("sq8_recall", oracle=_pq_recall_oracle(_sq8_oracle()))
def sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D31b — recall@5 of SQ8 against exact L2, per probe query: the
    codebook-free control for the quantizer dial family. Read beside
    D25 (trained PQ) and D25b (untrained PQ): SQ8 spends 64 B/vector
    with no training; PQ spends 4 B/vector plus a training job —
    this dial prices that trade on the actual corpus (measured at
    sf0.1: SQ8 10000 bp — byte-exact per-dim coding loses nothing on
    this corpus at k=5 — vs trained PQ 4500 / untrained 3500; same
    probe set and self-inclusion convention as D25, see the note
    there)."""
    cand = sq8_ann(spark, sf_dir).select("query_id", "vec_id")
    emb_1t = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return _pq_recall(emb_1t, cand)


# ---------------------------------------------------------------- D32
# Maximum inner-product search (MIPS): the retrieval objective of
# recommendation serving (score = <user, item>, NOT distance — the
# item's own norm matters, so cosine/L2 top-k give different answers).
# Exact integer path: micro-unit quantized dot products are BIGINTs
# (64 dims x 1e6 x 1e6 = 6.4e13 per pair, far inside int64), so the
# ranking keys are bit-equal cross-engine with no rounding management.
def _mips_oracle() -> str:
    dims = range(_EMBED_DIMS)

    def qx(e: str) -> str:
        return f"CAST(round(CAST({e} AS DOUBLE) * 1e6, 0) AS BIGINT)"

    xu_cols = ", ".join(f"{qx(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims)
    dot = " + ".join(f"q.x{j} * c.x{j}" for j in dims)
    return f"""
    WITH xu AS MATERIALIZED (SELECT e.vec_id, {xu_cols} FROM embeddings e),
    q AS (SELECT * FROM xu ORDER BY vec_id LIMIT {_PQ_NQ}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id, ({dot}) AS score_u
        FROM q CROSS JOIN xu c
        WHERE c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, score_u,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_u DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           CAST(score_u AS BIGINT) AS score_u
    FROM ranked WHERE rank <= {_PQ_TOPK}
    """


@register("mips_brute", oracle=_mips_oracle())
def mips_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D32 — exact maximum-inner-product top-k per probe query
    (self-excluded): the recommendation-serving objective, distinct
    from D1's cosine (item norm matters — a popular high-norm item
    should win MIPS and lose cosine). The baseline the ANN family is
    graded against when the objective is <q, x> rather than distance;
    the classic MIPS→cosine reduction (augment a norm dimension) runs
    on top of the same machinery when an approximate path is wanted.

    Exactness: integer micro-unit dot products, descending-score
    rank with vec_id tie-pins — every ranking key is an exact BIGINT.
    Scale shape: broadcast probe rows against the corpus scan (the
    corpus never shuffles), salted two-stage top-k."""
    e = table(spark, sf_dir, "embeddings", fan_out="force").select(
        "vec_id", "embedding"
    )
    e_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    probes = F.broadcast(
        _pq_probes(e_1t, _ivfpq_xu_of(F.col("embedding")).alias("__qu"))
    )
    dot = F.aggregate(
        F.zip_with("__qu", "__xu", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        probes.join(e.withColumn("__xu", _ivfpq_xu_of(F.col("embedding"))))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dot.alias("score_u"))
    )
    return _salted_topk(scored, _PQ_TOPK, F.col("score_u").desc()).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        F.col("score_u").cast("long").alias("score_u"),
    )




# ---------------------------------------------------------------- D37
# OPQ-style rotated product quantization (Ge et al., CVPR'13,
# "Optimized Product Quantization"; FAISS OPQ). Full OPQ alternates
# PQ training with a Procrustes SVD for a dense rotation — a float
# eigensolve no SQL oracle can replay. This implementation uses the
# paper's other half, EIGENVALUE/ENERGY ALLOCATION, restricted to a
# PERMUTATION matrix (orthogonal by construction): dimensions are
# ranked by their integer second moment and snake-dealt across the 8
# subspaces so each carries a balanced energy share. A permutation
# moves vector COMPONENTS without arithmetic, so the rotated corpus
# is bit-identical floats and the whole trained-PQ stack (integer
# micro-unit Lloyd, unrolled SQL twin, ADC serving) applies
# unchanged — the fixed point stays hash-exact cross-engine, with
# the rotation derived INSIDE the oracle (oen/ork/operm CTEs), not
# shipped as a constant.
#
# The rotation is then GATED on its own training objective: it ships
# only if the integer training-sample distortion improves by ≥ 1%
# over the unrotated D24 codebook (du_rot·100 ≤ du_id·99, exact
# BIGINT on both engines — the same accept test FAISS users apply
# when deciding whether OPQ pre-processing pays on their corpus).
# On isotropic data the candidate rotation is energy-neutral and the
# gate keeps identity — opq_ann then serves BIT-IDENTICAL rows to
# pq_adc_ann, so the rotation can never regress the serving path; on
# anisotropic corpora (the OPQ motivation) the gate opens. Measured
# here: sf0.01 accepts (2.1% distortion win, wide-probe recall@5
# 60/150 vs baseline 54/150); sf0.001/sf0.1 reject (0.9%/0.7%,
# below margin — improvements that small are recall noise).
_OPQ_PERM_CACHE: dict[tuple, list] = {}
_OPQ_CB_CACHE: dict[tuple, list] = {}
_OPQ_GATE_CACHE: dict[tuple, bool] = {}
_OPQ_MARGIN = 99  # accept iff du_rot * 100 <= du_id * _OPQ_MARGIN
_OPQ_DIAL_MOD = 17  # wide probe set for the D37b dial: vec_id % 17


def _opq_energy_sql() -> str:
    """Integer per-dimension second moment: (xu·xu) // 1e6 summed —
    bounded at ~4e6/row/dim, exact int64 to ~2e12 rows."""
    xq = _pq_quant_sql("e.embedding[di.i + 1]")
    return f"""oen AS (
        SELECT di.i AS dim,
               sum(({xq}) * ({xq}) // 1000000) AS eu
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range({_EMBED_DIMS})) AS i) di
        GROUP BY di.i
    )"""


def _opq_perm_sql() -> str:
    """CTE chain oen → ork → operm → remb: rank dims by energy
    (ties → lowest dim), snake-deal rank r to subspace
    (r%M if even row else M−1−r%M) slot r//M, and materialize the
    PERMUTED corpus ``remb(vec_id, embedding)`` — the same floats in
    a trained order."""
    return f"""{_opq_energy_sql()},
    ork AS (
        SELECT dim, row_number() OVER (ORDER BY eu DESC, dim) - 1 AS r
        FROM oen
    ),
    operm AS (
        SELECT CASE WHEN (r // {_PQ_M}) % 2 = 0 THEN r % {_PQ_M}
                    ELSE {_PQ_M - 1} - (r % {_PQ_M}) END * {_PQ_SUB}
               + (r // {_PQ_M}) AS pos,
               dim
        FROM ork
    ),
    remb AS MATERIALIZED (
        SELECT e.vec_id,
               list(e.embedding[p.dim + 1] ORDER BY p.pos) AS embedding
        FROM embeddings e CROSS JOIN operm p
        GROUP BY e.vec_id
    )"""


def _opq_renamed_lloyd() -> str:
    """The unrolled Lloyd chain re-pointed at ``remb`` with every CTE
    name prefixed ``r`` (rsamp/rseedv/rcents{i}/rassign{i}/rupd{i}/
    rcb) so it coexists with the identity chain in one WITH."""
    import re as _re

    sql = _pq_lloyd_sql().replace("FROM embeddings", "FROM remb")
    for name in ("samp", "seedv", "cents", "assign", "upd", "cb"):
        # anchor BOTH sides: match the bare name or name{i} only, so a
        # future identifier merely PREFIXED by one of these (e.g.
        # "sampled", "cbs") cannot be silently mangled (ADVICE r8)
        sql = _re.sub(rf"\b{name}(\d*)\b", rf"r{name}\1", sql)
    return sql


def _opq_gate_sql() -> str:
    """dist_id / dist_rot / pick: exact-integer training distortion of
    each candidate codebook over its own sample, and the ≥1% accept
    test. Assumes both Lloyd chains are in scope."""
    # the rename in _opq_renamed_lloyd prefixes CTE NAMES only —
    # column names x{j}/c{j} are identical in both chains, so one
    # d2u text serves both distortion CTEs
    d2u_id = " + ".join(
        f"(s.x{j} - c.c{j}) * (s.x{j} - c.c{j})" for j in range(_PQ_SUB)
    )
    return f"""dist_id AS (
        SELECT coalesce(sum(md), 0) AS du FROM (
            SELECT min({d2u_id}) AS md
            FROM samp s JOIN cents{_PQ_TRAIN_ITERS} c ON c.m = s.m
            GROUP BY s.vec_id, s.m)
    ),
    dist_rot AS (
        SELECT coalesce(sum(md), 0) AS du FROM (
            SELECT min({d2u_id}) AS md
            FROM rsamp s JOIN rcents{_PQ_TRAIN_ITERS} c ON c.m = s.m
            GROUP BY s.vec_id, s.m)
    ),
    pick AS (
        SELECT (SELECT du FROM dist_rot) * 100
               <= (SELECT du FROM dist_id) * {_OPQ_MARGIN} AS rot
    )"""


def _opq_oracle() -> str:
    """Gated OPQ serving: derive rotation + both codebooks + the
    distortion gate in SQL, then run the D24 serving tail over the
    CHOSEN (corpus, codebook) pair."""
    serve = (
        _pq_serve_sql()
        .replace("FROM embeddings", "FROM scorpus")
        .replace("CROSS JOIN cb", "CROSS JOIN scb")
        .replace("cb.embedding", "scb.embedding")
        .replace("cb.cid", "scb.cid")
    )
    return f"""
    WITH {_opq_perm_sql()}, {_pq_lloyd_sql()}, {_opq_renamed_lloyd()},
    {_opq_gate_sql()},
    scorpus AS MATERIALIZED (
        SELECT e.vec_id,
               CASE WHEN (SELECT rot FROM pick) THEN r.embedding
                    ELSE e.embedding END AS embedding
        FROM embeddings e JOIN remb r USING (vec_id)
    ),
    scb AS (
        SELECT cb.cid,
               CASE WHEN (SELECT rot FROM pick) THEN rcb.embedding
                    ELSE cb.embedding END AS embedding
        FROM cb JOIN rcb USING (cid)
    ), {serve}"""


def opq_perm_cached(spark: SparkSession, sf_dir: str) -> list[int]:
    key = table_fingerprint(sf_dir, "embeddings")
    if key not in _OPQ_PERM_CACHE:
        _OPQ_PERM_CACHE[key] = opq_train_perm(spark, sf_dir)
    return _OPQ_PERM_CACHE[key]


def opq_train_perm(spark: SparkSession, sf_dir: str) -> list[int]:
    """Energy-allocation permutation: perm[pos] = source dim.
    Integer second moments (same (xu·xu) // 1e6 expression as the
    oracle's oen CTE), rank desc with lowest-dim ties, snake-deal."""
    emb = table(spark, sf_dir, "embeddings").select("embedding")
    rows = (
        emb.select(
            F.posexplode(_ivfpq_xu_of(F.col("embedding"))).alias("dim", "xu")
        )
        .groupBy("dim")
        .agg(F.sum(F.expr("(xu * xu) div 1000000")).alias("eu"))
        .collect()
    )
    if not rows:
        return []
    eu = {r.dim: int(r.eu) for r in rows}
    order = sorted(range(_EMBED_DIMS), key=lambda d: (-eu[d], d))
    perm = [0] * _EMBED_DIMS
    for r, dim in enumerate(order):
        row, col = divmod(r, _PQ_M)
        pm = col if row % 2 == 0 else _PQ_M - 1 - col
        perm[pm * _PQ_SUB + row] = dim
    return perm


def _opq_rotated(
    spark: SparkSession, sf_dir: str, perm: list[int], fan_out=None
) -> DataFrame:
    """The permuted corpus view: a pure projection (no arithmetic —
    the floats are moved, not transformed), so it composes with the
    whole PQ stack without touching its float discipline."""
    e = table(spark, sf_dir, "embeddings", fan_out=fan_out).select(
        "vec_id", "embedding"
    )
    cols = ", ".join(f"embedding[{d}]" for d in perm)
    return e.select("vec_id", F.expr(f"array({cols})").alias("embedding"))


def opq_train_codebook_cached(spark: SparkSession, sf_dir: str) -> list:
    key = (table_fingerprint(sf_dir, "embeddings"), "opq")
    if key not in _OPQ_CB_CACHE:
        perm = opq_perm_cached(spark, sf_dir)
        _OPQ_CB_CACHE[key] = (
            pq_train_codebook(
                spark, sf_dir, emb=_opq_rotated(spark, sf_dir, perm)
            )
            if perm
            else []
        )
    return _OPQ_CB_CACHE[key]


def _pq_cents_u_of(cents: list) -> list:
    """Recover the exact BIGINT micro-unit centroids from the float
    codebook (cu/1e6 round-trips exactly below 2^52)."""
    return [
        [[int(round(v * 1e6)) for v in ck] for ck in cm] for cm in cents
    ]


def _pq_sample_distortion_u(
    spark: SparkSession, emb: DataFrame, cents: list
) -> int:
    """EXACT integer training-sample distortion Σ min_cid d2u over the
    (vec_id % _PQ_TRAIN_MOD) sample — the quantity the gate compares,
    bit-equal to the oracle's dist_id/dist_rot CTEs."""
    cents_u = _pq_cents_u_of(cents)
    sub = (
        emb.where(F.col("vec_id") % _PQ_TRAIN_MOD == 0)
        .select("vec_id", _ivfpq_xu_of(F.col("embedding")).alias("vu"))
        .select("vec_id", F.expr(_PQ_SUBSPACES_SQL))
    )
    row = (
        sub.join(F.broadcast(_pq_cents_df(spark, cents_u)), "m")
        .withColumn("__d2u", F.expr(_D2U_SQL))
        .groupBy("vec_id", "m")
        .agg(F.min("__d2u").alias("md"))
        .agg(F.coalesce(F.sum("md"), F.lit(0)).alias("du"))
        .collect()[0]
    )
    return int(row.du)


def opq_gate_cached(spark: SparkSession, sf_dir: str) -> bool:
    """True iff the trained rotation improves integer training
    distortion by ≥ 1% (du_rot·100 ≤ du_id·99) — the accept test the
    oracle's pick CTE replays."""
    key = table_fingerprint(sf_dir, "embeddings")
    if key not in _OPQ_GATE_CACHE:
        perm = opq_perm_cached(spark, sf_dir)
        if not perm:
            _OPQ_GATE_CACHE[key] = False
        else:
            cents_id = pq_train_codebook_cached(spark, sf_dir)
            cents_rot = opq_train_codebook_cached(spark, sf_dir)
            emb_raw = table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            )
            du_id = _pq_sample_distortion_u(spark, emb_raw, cents_id)
            du_rot = _pq_sample_distortion_u(
                spark, _opq_rotated(spark, sf_dir, perm), cents_rot
            )
            _OPQ_GATE_CACHE[key] = du_rot * 100 <= du_id * _OPQ_MARGIN
    return _OPQ_GATE_CACHE[key]


@register("opq_ann", oracle=_opq_oracle())
def opq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D37 — OPQ-rotated product-quantization ANN, distortion-gated
    (module header above): train the energy-allocation permutation,
    train a PQ codebook in the rotated space, and SERVE the rotated
    pipeline only when it beats the unrotated D24 codebook by ≥ 1%
    exact integer training distortion — otherwise serve the identity
    pipeline (bit-identical to pq_adc_ann), so the rotation can never
    regress serving. All trained constants are memoized per dataset
    fingerprint; the oracle derives rotation, both codebooks, the
    gate, and the serving tail end-to-end from the data — fully
    hash-checked, not rows-only."""
    perm = opq_perm_cached(spark, sf_dir)
    cents_id = pq_train_codebook_cached(spark, sf_dir)
    if not perm or not cents_id or not cents_id[0]:
        return spark.createDataFrame([], _SERVE_SCHEMA)
    if opq_gate_cached(spark, sf_dir):
        cents = opq_train_codebook_cached(spark, sf_dir)
        emb = _opq_rotated(spark, sf_dir, perm, fan_out="force")
        emb_1t = _opq_rotated(spark, sf_dir, perm)
    else:
        cents = cents_id
        emb = table(spark, sf_dir, "embeddings", fan_out="force").select(
            "vec_id", "embedding"
        )
        emb_1t = table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    return _served_adc(_pq_adc_topk(_pq_encode(emb, cents), emb_1t, cents))


def _opq_wide_cand_sql(suffix: str, corpus: str, cbn: str, qn: str) -> str:
    """Encode + ADC + per-query top-5 candidates over the wide probe
    set, CTE-suffixed so the dial can run both variants in one
    query."""
    case_enc = _pq_case_sql("e.embedding", f"{cbn}.embedding")
    case_adc = _pq_case_sql("q.embedding", f"{cbn}.embedding")
    return f"""enc{suffix} AS (
        SELECT e.vec_id, ms.m, {cbn}.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id, ms.m
                   ORDER BY {case_enc}, {cbn}.cid) AS rn
        FROM {corpus} e CROSS JOIN ms CROSS JOIN {cbn}
    ), codes{suffix} AS (
        SELECT vec_id, m, cid FROM enc{suffix} WHERE rn = 1
    ), adc{suffix} AS (
        SELECT q.query_id, ms.m, {cbn}.cid,
               CAST(round({case_adc} * 1e6, 0) AS BIGINT) AS cell_u
        FROM {qn} q CROSS JOIN ms CROSS JOIN {cbn}
    ), scored{suffix} AS (
        SELECT a.query_id, c.vec_id, sum(a.cell_u) AS score_u
        FROM codes{suffix} c
        JOIN adc{suffix} a ON a.m = c.m AND a.cid = c.cid
        GROUP BY a.query_id, c.vec_id
    ), cand{suffix} AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_u, vec_id) AS rank
            FROM scored{suffix}
        ) WHERE rank <= {_PQ_TOPK}
    )"""


def _opq_recall_oracle() -> str:
    return f"""
    WITH {_opq_perm_sql()}, {_pq_lloyd_sql()}, {_opq_renamed_lloyd()},
    {_opq_gate_sql()},
    ms AS (SELECT unnest(range({_PQ_M})) AS m),
    qw AS (
        SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id % {_OPQ_DIAL_MOD} = 0
    ),
    qwr AS (
        SELECT vec_id AS query_id, embedding FROM remb
        WHERE vec_id % {_OPQ_DIAL_MOD} = 0
    ),
    {_opq_wide_cand_sql('_id', 'embeddings', 'cb', 'qw')},
    {_opq_wide_cand_sql('_rot', 'remb', 'rcb', 'qwr')},
    exactw AS MATERIALIZED (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(
                           {_pq_full_dist_sql('q.embedding', 'c.embedding')},
                           6), c.vec_id
                   ) AS r
            FROM qw q CROSS JOIN embeddings c
        ) WHERE r <= {_PQ_TOPK}
    ),
    hits_id AS (
        SELECT count(*) AS n FROM exactw e
        JOIN cand_id c
          ON c.query_id = e.query_id AND c.vec_id = e.vec_id
    ),
    hits_rot AS (
        SELECT count(*) AS n FROM exactw e
        JOIN cand_rot c
          ON c.query_id = e.query_id AND c.vec_id = e.vec_id
    ),
    np AS (SELECT count(*) AS np FROM qw)
    SELECT * FROM (
        SELECT 'baseline' AS variant,
               CAST(np.np AS BIGINT) AS n_probes,
               CAST((SELECT n FROM hits_id) AS BIGINT) AS n_hits,
               CASE WHEN np.np > 0 THEN CAST(
                   (SELECT n FROM hits_id) * 10000
                   // (np.np * {_PQ_TOPK}) AS BIGINT) END AS recall_bp,
               NOT (SELECT rot FROM pick) AS chosen
        FROM np
        UNION ALL
        SELECT 'rotated',
               CAST(np.np AS BIGINT),
               CAST((SELECT n FROM hits_rot) AS BIGINT),
               CASE WHEN np.np > 0 THEN CAST(
                   (SELECT n FROM hits_rot) * 10000
                   // (np.np * {_PQ_TOPK}) AS BIGINT) END,
               (SELECT rot FROM pick)
        FROM np
    ) WHERE n_probes > 0
    ORDER BY variant
    """


@register("opq_recall", oracle=_opq_recall_oracle())
def opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D37b — the rotation dial: recall@5 of BOTH candidate pipelines
    (unrotated D24 codebook vs OPQ-rotated) against exact L2 over a
    WIDE probe set (vec_id % {mod} — ~6% of the corpus, vs D25's 4
    probes whose ±2000 bp per-hit granularity drowns a rotation-sized
    effect), plus the gate's decision as a ``chosen`` flag — so the
    dial shows what the rotation would buy AND which pipeline D37
    actually serves. Exact reference is ranked in the ORIGINAL space
    (a permutation is an isometry); the self-row stays in the corpus
    (distortion-dial convention, see D25). Measured: sf0.01 rotated
    4000 bp vs baseline 3600 bp (gate OPEN — 2.1% distortion win);
    sf0.1 2814 vs 2881 bp (gate CLOSED at 0.7% — the shipped path
    stays the baseline, and the dial records both numbers)."""
    perm = opq_perm_cached(spark, sf_dir)
    cents_id = pq_train_codebook_cached(spark, sf_dir)
    out_schema = (
        "variant string, n_probes bigint, n_hits bigint, "
        "recall_bp bigint, chosen boolean"
    )
    if not perm or not cents_id or not cents_id[0]:
        return spark.createDataFrame([], out_schema)
    use_rot = opq_gate_cached(spark, sf_dir)
    cents_rot = opq_train_codebook_cached(spark, sf_dir)
    raw_1t = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    raw_full = table(spark, sf_dir, "embeddings", fan_out="force").select(
        "vec_id", "embedding"
    )
    rot_1t = _opq_rotated(spark, sf_dir, perm)
    rot_full = _opq_rotated(spark, sf_dir, perm, fan_out="force")
    qdf_raw = raw_1t.where(
        F.col("vec_id") % _OPQ_DIAL_MOD == 0
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    qdf_rot = rot_1t.where(
        F.col("vec_id") % _OPQ_DIAL_MOD == 0
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = _pq_exact_topk(raw_1t, qdf=qdf_raw, k=_PQ_TOPK)
    cand_id = _pq_adc_topk(
        _pq_encode(raw_full, cents_id), raw_1t, cents_id, qdf=qdf_raw
    ).select("query_id", "vec_id")
    cand_rot = _pq_adc_topk(
        _pq_encode(rot_full, cents_rot), rot_1t, cents_rot, qdf=qdf_rot
    ).select("query_id", "vec_id")
    np_df = qdf_raw.agg(F.count(F.lit(1)).alias("n_probes"))

    def side(variant: str, cand: DataFrame, chosen: bool) -> DataFrame:
        h = exact.join(cand, ["query_id", "vec_id"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        return np_df.crossJoin(h).select(
            F.lit(variant).alias("variant"),
            F.col("n_probes").cast("long").alias("n_probes"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.when(
                F.col("n_probes") > 0,
                F.expr(f"n_hits * 10000 div (n_probes * {_PQ_TOPK})"),
            ).cast("long").alias("recall_bp"),
            F.lit(chosen).alias("chosen"),
        )

    return (
        side("baseline", cand_id, not use_rot)
        .unionByName(side("rotated", cand_rot, use_rot))
        .where(F.col("n_probes") > 0)
        .orderBy("variant")
    )


# ---------------------------------------------------------------- D38
@register(
    "ivf_config_audit",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n FROM embeddings),
    cfg AS (
        SELECT n,
               greatest(1, least({_IVF_CELL_CAP},
                   CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT)))
                   AS n_cells
        FROM n
    ),
    cfg2 AS (
        SELECT n, n_cells,
               greatest({_PQ_TRAIN_MOD}, n // (96 * n_cells))
                   AS train_mod
        FROM cfg
    )
    SELECT CAST(c.n AS BIGINT) AS n_vectors,
           CAST(c.n_cells AS BIGINT) AS n_cells,
           CAST(c.train_mod AS BIGINT) AS train_mod,
           CAST((SELECT count(*) FROM embeddings e, cfg2 c2
                 WHERE e.vec_id % c2.train_mod = 0) AS BIGINT)
               AS train_sample_n
    FROM cfg2 c
    """,
)
def ivf_config_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D38 — the round-8 index-sizing dial: the corpus-derived IVF
    configuration (cell count ≈ √n, FAISS-style bounded training
    stride, resulting sample size) as a one-row queryable audit — the
    numbers an operator checks before paying an index build, and the
    cross-engine pin that the Python helpers (ivf_n_cells /
    ivf_train_mod) and the oracle CTEs (cn / cm) can never drift
    apart: the driver hash-compares the two derivations on every
    rotation. One count + one filtered count; nothing shuffles."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    n = emb.count()
    cells = ivf_n_cells(n)
    mod = ivf_train_mod(n)
    sample_n = emb.where(F.col("vec_id") % mod == 0).count()
    return spark.createDataFrame(
        [(n, cells, mod, sample_n)],
        "n_vectors long, n_cells long, train_mod long, "
        "train_sample_n long",
    )
