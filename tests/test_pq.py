"""D24/D25/D26 — product-quantization ANN: Lloyd monotonicity of the
trained codebook, the recall dial's schema/range contract, the
semantic identity of the SQL-text PQ builders with the Column-DSL
form they replaced, and of the shared serve/recall tail with the
inline chains it replaced."""

from __future__ import annotations

import struct

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from spotify_podcasts_airflow_batch_spark.plans.registry import all_queries
from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
    _EMBED_DIMS,
    _IVFPQ_K,
    _IVFPQ_MOD,
    _PQ_M,
    _PQ_NQ,
    _PQ_SALTS,
    _PQ_SUB,
    _PQ_TOPK,
    _PQ_TRAIN_ITERS,
    _ivf_probes,
    _pq_adc_score,
    _pq_adc_table,
    _pq_encode,
    _pq_exact_topk,
    _pq_sample_distortion_u,
    _pq_trained_cbs,
    _rpq_train,
    ivf_train_cells,
    ivfpq_ann_served,
    ivfpq_recall,
    ivfpq_residual_ann_served,
    mips_brute,
    pq_adc_ann,
    pq_adc_recall,
    pq_train_codebook,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import table
from tests.conftest import jobs_run
from tests.pq_fold import dsl_cbs, dsl_sub_dist


def test_lloyd_training_reduces_distortion(spark, sf_dir):
    """k-means guarantees non-increasing quantization error on the
    training sample, and the integer micro-unit distortion is exact,
    so the decrease holds with no slack. This is the theorem-backed
    check that training actually trained (recall improvements are
    data-dependent; this is not)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed = pq_train_codebook(spark, sf_dir, iters=0)
    trained = pq_train_codebook(spark, sf_dir, iters=3)
    d_seed = _pq_sample_distortion_u(spark, emb, seed)
    d_trained = _pq_sample_distortion_u(spark, emb, trained)
    assert d_trained <= d_seed, (d_seed, d_trained)
    # and it should be a real improvement, not a no-op fixed point
    assert d_trained < d_seed * 0.999, (d_seed, d_trained)


def test_trained_recall_schema_and_range(spark, sf_dir):
    rows = (
        all_queries()["pq_trained_recall"].spark_fn(spark, sf_dir).collect()
    )
    assert len(rows) == _PQ_NQ
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert r.recall_bp == r.n_hits * 2000


def test_serving_path_equals_training_path(spark, sf_dir):
    """D24 serves the trained codebook; D26 rebuilds it via the
    training path directly. Their recalls must be identical rows —
    a split means serving and training diverged."""
    d25 = sorted(
        tuple(r)
        for r in all_queries()["pq_adc_recall"].spark_fn(spark, sf_dir).collect()
    )
    d26 = sorted(
        tuple(r)
        for r in all_queries()["pq_trained_recall"]
        .spark_fn(spark, sf_dir)
        .collect()
    )
    assert d25 == d26


def test_sampled_control_schema_and_range(spark, sf_dir):
    """The D25b control reports the same shape as D25. (No ordering
    assertion between trained and sampled recall: distortion descent
    is the theorem — recall movement is data-dependent, measured
    +1000 bp at sf0.1 but negative on the 500-vector sf0.001 toy.)"""
    rows = (
        all_queries()["pq_sampled_recall"].spark_fn(spark, sf_dir).collect()
    )
    assert len(rows) == _PQ_NQ
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert r.recall_bp == r.n_hits * 2000


def test_codebook_memo_is_keyed_per_dataset(spark, sf_dir):
    """The serving memo must (a) return the identical trained constant
    for repeated calls — one training job per (process, dataset) —
    and (b) never leak a codebook across datasets or iteration
    counts."""
    from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
        _PQ_CB_CACHE,
        pq_train_codebook_cached,
    )

    a1 = pq_train_codebook_cached(spark, sf_dir)
    a2 = pq_train_codebook_cached(spark, sf_dir)
    assert a1 is a2  # cache hit, not retrain
    b = pq_train_codebook_cached(spark, sf_dir, iters=0)
    assert b is not a1 and b != a1  # different key → different model
    # keys carry the dataset FINGERPRINT (file path + mtime + size),
    # not the bare sf_dir string (ADVICE r5 — see test_ivf_cells for
    # the invalidation-on-rewrite check)
    assert all(
        isinstance(k[0], tuple) and k[0] and sf_dir in k[0][0][0]
        for k in _PQ_CB_CACHE
        if any(sf_dir in f[0] for f in k[0])
    )


def _q(x: float) -> int:
    """round(x·1e6) half away from zero — the micro-unit quantizer."""
    import math

    scaled = x * 1e6
    return int(math.floor(scaled + 0.5)) if scaled >= 0 else int(
        math.ceil(scaled - 0.5)
    )


def _py_int_lloyd(vecs: dict[int, list], iters: int):
    """Independent pure-Python reimplementation of the integer
    micro-unit Lloyd spec (third implementation besides the Spark plan
    and the unrolled SQL twin — a shared spec bug in those two would
    still diverge from this one): quantize round-half-away-from-zero
    (float inputs; int inputs are already micro-units), integer
    squared-distance argmin with lowest-cid ties, centroid update by
    division TRUNCATING TOWARD ZERO (Python // floors, so negative
    sums need the explicit adjustment). Returns cents_u[m][cid][j]."""
    M, SUB, K = 8, 8, 16

    def q(x) -> int:
        return x if isinstance(x, int) else _q(float(x))

    def trunc_div(a: int, b: int) -> int:
        return -((-a) // b) if (a < 0) != (b < 0) else a // b

    xu = {
        vid: [q(x) for x in v]
        for vid, v in vecs.items()
        if vid % 4 == 0
    }
    seeds = sorted(vecs)[:K]
    cents = [
        [[q(vecs[s][m * SUB + j]) for j in range(SUB)] for s in seeds]
        for m in range(M)
    ]
    for _ in range(iters):
        assign: dict[tuple[int, int], int] = {}
        for vid, v in xu.items():
            for m in range(M):
                best = None
                for cid in range(K):
                    d = sum(
                        (v[m * SUB + j] - cents[m][cid][j]) ** 2
                        for j in range(SUB)
                    )
                    if best is None or (d, cid) < best:
                        best = (d, cid)
                assign[(vid, m)] = best[1]
        new = []
        for m in range(M):
            row = []
            for cid in range(K):
                members = [
                    xu[vid][m * SUB : m * SUB + SUB]
                    for vid in xu
                    if assign[(vid, m)] == cid
                ]
                if not members:
                    row.append(cents[m][cid])
                else:
                    n = len(members)
                    row.append(
                        [
                            trunc_div(sum(mm[j] for mm in members), n)
                            for j in range(SUB)
                        ]
                    )
            new.append(row)
        cents = new
    return cents


def _embedding_rows(spark, sf_dir) -> dict[int, list[float]]:
    return {
        r.vec_id: list(r.embedding)
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }


def test_training_matches_independent_python_reference(spark, sf_dir):
    """pq_train_codebook's fixed point must equal a from-scratch
    Python implementation of the same integer spec — catching a spec
    bug the Spark plan and its SQL twin could share."""
    got = pq_train_codebook(spark, sf_dir, iters=2)
    want = _py_int_lloyd(_embedding_rows(spark, sf_dir), iters=2)
    assert got == [[[cu / 1e6 for cu in ck] for ck in cm] for cm in want]


def test_residual_training_matches_independent_python_reference(
    spark, sf_dir
):
    """_rpq_train's residual codebook must equal the Python Lloyd over
    residuals computed here: each quantized vector minus its coarse
    cell, the integer-argmin cell with lowest-cell ties."""
    cells = ivf_train_cells(spark, sf_dir)
    residuals = {}
    for vid, v in _embedding_rows(spark, sf_dir).items():
        xu = [_q(float(x)) for x in v]
        cell = min(
            range(len(cells)),
            key=lambda c: (sum((a - b) ** 2 for a, b in zip(xu, cells[c])), c),
        )
        residuals[vid] = [a - b for a, b in zip(xu, cells[cell])]
    assert _rpq_train(spark, sf_dir) == _py_int_lloyd(
        residuals, iters=_PQ_TRAIN_ITERS
    )


def test_residual_served_frame_job_count(spark, sf_dir):
    """Once the D29c index and the residual codebook are memoized,
    building the served frame runs no job: the probed cells reach the
    index scan through the broadcast join's dynamic partition pruning,
    not through a collect at plan-build time. Collecting it runs 4
    jobs, and nothing is left in the cache."""
    ivfpq_residual_ann_served(spark, sf_dir)  # first-call memo fills
    spark.catalog.clearCache()
    frame = []
    assert jobs_run(
        spark, lambda: frame.append(ivfpq_residual_ann_served(spark, sf_dir))
    ) == 0
    assert jobs_run(spark, frame[0].collect) == 4
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_flat_pq_job_counts(spark, sf_dir):
    """With the codebooks memoized, collecting pq_adc_ann runs 5 jobs,
    pq_sampled_recall 11 (its sampled codebook's collect included,
    once) and opq_recall 18. A lost memo or a second collect shows up
    as more."""
    queries = all_queries()
    want = {"pq_adc_ann": 5, "pq_sampled_recall": 11, "opq_recall": 18}
    for key in want:
        queries[key].spark_fn(spark, sf_dir).collect()  # memo fills
    got = {
        key: jobs_run(
            spark, lambda: queries[key].spark_fn(spark, sf_dir).collect()
        )
        for key in want
    }
    assert got == want


# ------------------------------------------------------------------
# The PQ constants and per-row PQ expressions are built as SQL text
# (one Py4J round trip each). The Column-DSL builders below and in
# tests/pq_fold.py are the form they replaced, kept as the reference:
# the SQL text must parse to the same analyzed tree, so every
# PQ/IVF/OPQ/ANN result is unchanged by construction.


def _dsl_adc():
    return F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.transform(
            F.col("cbs"),
            lambda c: F.round(
                dsl_sub_dist(F.col("embedding"), c, m) * 1e6, 0
            ).cast("long"),
        ),
    )


def _dsl_adc_score():
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(
            F.element_at("adc", m + 1),
            F.element_at("codes", m + 1).cast("int") + 1,
        ),
    )


def _assert_same_tree(got, want):
    """Same schema and analyzed tree. ``sameSemantics`` erases hints (a
    hint never changes a result), so the broadcast hints are counted
    separately: a builder that drops an ``F.broadcast`` fails here."""
    assert got.schema == want.schema
    assert got.sameSemantics(want)

    def hints(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        return plan.count("strategy=broadcast")

    assert hints(got) == hints(want)


@pytest.mark.fast
def test_sql_text_builders_match_dsl_trees(spark):
    """Codebook, ADC table and ADC score built from SQL text are
    semantically identical to the DSL form. The centroids carry
    negatives, exponent-form reprs, -0.0 and fewer than _PQ_K rows
    (the LIMIT-bounded small-corpus case)."""
    vals = [0.5, -0.25, 1e-06, -5e-07, -0.0, 0.0, 0.123456, -3.0, 1e22]
    n_k = 3  # fewer than _PQ_K centroids
    cents = [
        [
            [vals[(m * 7 + k * 3 + j) % len(vals)] for j in range(_PQ_SUB)]
            for k in range(n_k)
        ]
        for m in range(_PQ_M)
    ]
    cb = _pq_trained_cbs(cents)
    one = spark.range(1)
    _assert_same_tree(
        one.select(cb.alias("cbs")), one.select(dsl_cbs(cents).alias("cbs"))
    )
    # Literal equality treats -0.0 == 0.0, so pin the bits separately
    want = [
        [cents[m][k][j] for m in range(_PQ_M) for j in range(_PQ_SUB)]
        for k in range(n_k)
    ]
    got = [list(v) for v in one.select(cb.alias("cbs")).collect()[0].cbs]
    assert [[struct.pack(">d", x) for x in r] for r in got] == [
        [struct.pack(">d", x) for x in r] for r in want
    ]

    emb = spark.range(3).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(_EMBED_DIMS)),
            lambda i: (i / 97.0 - F.col("id")).cast("float"),
        ).alias("embedding"),
    )
    qdf = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    adc = _pq_adc_table(qdf, cb)
    _assert_same_tree(
        adc,
        F.broadcast(
            qdf.withColumn("cbs", cb).select("query_id", _dsl_adc().alias("adc"))
        ),
    )
    scored = _pq_encode(emb, cents).crossJoin(adc)
    _assert_same_tree(
        scored.select(_pq_adc_score().alias("score_u")),
        scored.select(_dsl_adc_score().alias("score_u")),
    )


@pytest.mark.fast
def test_served_frame_matches_dsl_tree(spark, sf_dir, monkeypatch):
    """The whole ivfpq_incremental_served frame (codebook, ADC table,
    ADC score) is semantically identical to its DSL-built twin."""
    from spotify_podcasts_airflow_batch_spark.plans import similarity2
    from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
        ivfpq_incremental_served,
    )

    got = ivfpq_incremental_served(spark, sf_dir)
    monkeypatch.setattr(similarity2, "_pq_trained_cbs", dsl_cbs)
    monkeypatch.setattr(
        similarity2,
        "_pq_adc_table",
        lambda qdf, cbs: F.broadcast(
            qdf.withColumn("cbs", cbs).select("query_id", _dsl_adc().alias("adc"))
        ),
    )
    monkeypatch.setattr(similarity2, "_pq_adc_score", _dsl_adc_score)
    _assert_same_tree(got, ivfpq_incremental_served(spark, sf_dir))


# ------------------------------------------------------------------
# Every ANN serve and recall dial goes through one salted top-k
# (``_salted_topk``) and one recall report (``_recall_report``). The
# chains below are the hand-rolled copies those helpers replaced, kept
# as the reference: each query must build the same analyzed tree.


def _inline_topk(scored, k, *order, rank="rank"):
    salted = Window.partitionBy(
        "query_id", F.pmod(F.col("vec_id"), F.lit(_PQ_SALTS))
    ).orderBy(*order, "vec_id")
    final = Window.partitionBy("query_id").orderBy(*order, "vec_id")
    return (
        scored.withColumn("__srn", F.row_number().over(salted))
        .where(F.col("__srn") <= k)
        .withColumn(rank, F.row_number().over(final))
        .where(F.col(rank) <= k)
    )


def _inline_recall(probes, exact, cand, k):
    hits = (
        exact.join(cand, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return probes.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_hits"),
        F.expr(f"coalesce(n, 0) * 10000 div {k}").alias("recall_bp"),
    )


def _inline_pq_adc_recall(spark, sf_dir):
    emb_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact = _pq_exact_topk(emb_1t)
    cand = pq_adc_ann(spark, sf_dir).select("query_id", "vec_id")
    probes = (
        emb_1t.orderBy("vec_id")
        .limit(_PQ_NQ)
        .select(F.col("vec_id").alias("query_id"))
    )
    return _inline_recall(probes, exact, cand, _PQ_TOPK)


def _inline_ivfpq_recall(spark, sf_dir):
    cand = (
        ivfpq_ann_served(spark, sf_dir)
        .select("query_id", "vec_id")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    emb_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qdf = emb_1t.where(F.col("vec_id") % _IVFPQ_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = _pq_exact_topk(emb_1t, qdf=qdf, k=_IVFPQ_K, exclude_self=True)
    return _inline_recall(qdf.select("query_id"), exact, cand, _IVFPQ_K)


@pytest.mark.fast
def test_shared_tails_match_inline_trees(spark, sf_dir, monkeypatch):
    """Ascending (pq_adc_ann's score_u) and descending (mips_brute)
    top-k, the exact-L2 reference with self-exclusion, the rebalanced
    store serve, and one recall dial per k build the trees of the
    inline chains; the exact reference's old ``r`` rank alias is erased
    by canonicalization."""
    from spotify_podcasts_airflow_batch_spark.plans import similarity2
    from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
        ivfpq_incremental_served,
    )

    emb_1t = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def exact():
        return _pq_exact_topk(
            emb_1t,
            qdf=_ivf_probes(emb_1t, "embedding"),
            k=_IVFPQ_K,
            exclude_self=True,
        )

    shared = {
        "pq_adc_ann": pq_adc_ann(spark, sf_dir),
        "mips_brute": mips_brute(spark, sf_dir),
        "ivfpq_incremental_served": ivfpq_incremental_served(spark, sf_dir),
        "pq_adc_recall": pq_adc_recall(spark, sf_dir),
        "ivfpq_recall": ivfpq_recall(spark, sf_dir),
    }
    got_exact = exact()

    monkeypatch.setattr(similarity2, "_salted_topk", _inline_topk)
    inline = {
        "pq_adc_ann": pq_adc_ann(spark, sf_dir),
        "mips_brute": mips_brute(spark, sf_dir),
        "ivfpq_incremental_served": ivfpq_incremental_served(spark, sf_dir),
        "pq_adc_recall": _inline_pq_adc_recall(spark, sf_dir),
        "ivfpq_recall": _inline_ivfpq_recall(spark, sf_dir),
    }
    for name, got in shared.items():
        _assert_same_tree(got, inline[name])

    monkeypatch.setattr(
        similarity2,
        "_salted_topk",
        lambda scored, k, *order: _inline_topk(scored, k, *order, rank="r"),
    )
    _assert_same_tree(got_exact, exact())


# ------------------------------------------------------------------
# Every salted two-stage cut and the k-NN cosine tail go through
# ``operators/ranking`` (``salted_topk_per_group``, ``topk_per_group``).
# The chains below are the hand-written copies they replaced, kept as
# the reference: each caller must build the same analyzed tree.


def _inline_cap_buckets(banded, id_col, max_bucket):
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        md5_hash31,
    )
    from spotify_podcasts_airflow_batch_spark.operators.dedup import (
        _LSH_CAP_SALTS,
    )

    hk = md5_hash31(
        F.concat(
            F.lit("lshcap:"),
            F.col("band_id").cast("string"),
            F.lit(":"),
            F.col("band_hash").cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    salted = Window.partitionBy(
        "band_id",
        "band_hash",
        F.pmod(F.col(id_col), F.lit(_LSH_CAP_SALTS)),
    ).orderBy("__hk", id_col)
    final = Window.partitionBy("band_id", "band_hash").orderBy(
        "__hk", id_col
    )
    return (
        banded.withColumn("__hk", hk)
        .withColumn("__srn", F.row_number().over(salted))
        .where(F.col("__srn") <= max_bucket)
        .withColumn("__rn", F.row_number().over(final))
        .where(F.col("__rn") <= max_bucket)
        .drop("__hk", "__srn", "__rn")
    )


def _inline_sweep_cap_buckets(banded, max_bucket):
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        md5_hash31,
    )
    from spotify_podcasts_airflow_batch_spark.operators.dedup import (
        _LSH_CAP_SALTS,
    )

    hk = md5_hash31(
        F.concat(
            F.lit("lshcap:"),
            F.col("band_id").cast("string"),
            F.lit(":"),
            F.col("band_hash").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    salted = Window.partitionBy(
        "bands",
        "band_id",
        "band_hash",
        F.pmod(F.col("doc_id"), F.lit(_LSH_CAP_SALTS)),
    ).orderBy("__hk", "doc_id")
    final = Window.partitionBy("bands", "band_id", "band_hash").orderBy(
        "__hk", "doc_id"
    )
    return (
        banded.withColumn("__hk", hk)
        .withColumn("__srn", F.row_number().over(salted))
        .where(F.col("__srn") <= max_bucket)
        .withColumn("__rn", F.row_number().over(final))
        .where(F.col("__rn") <= max_bucket)
        .drop("__hk", "__srn", "__rn")
    )


def _inline_strat_cut(ranked):
    from spotify_podcasts_airflow_batch_spark.plans.llm_pipeline2 import (
        _STRAT_SALTS,
    )

    salted = Window.partitionBy(
        "source", F.pmod(F.col("doc_id"), F.lit(_STRAT_SALTS))
    ).orderBy("__hk", "doc_id")
    final = Window.partitionBy("source").orderBy("__hk", "doc_id")
    return (
        ranked.withColumn("__srn", F.row_number().over(salted))
        .where(F.col("__srn") <= F.col("alloc"))
        .withColumn("rn", F.row_number().over(final))
        .where(F.col("rn") <= F.col("alloc"))
    )


def _inline_knn_tail(scored, k, *extra):
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_raw"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            *extra,
            F.round(F.col("cos_raw"), 4).alias("cos_sim"),
            "rank",
        )
    )


@pytest.mark.fast
def test_shared_topk_matches_inline_trees(spark, sf_dir, monkeypatch):
    """The LSH bucket cap (``lsh_candidate_pairs(max_bucket=...)``),
    lsh_param_sweep's per-setting cap (``_cap_buckets`` with ``bands``
    in the bucket key), the stratified per-source cut with its Column
    quota (``stratified_sample_exact``) and knn_brute_force's cosine
    tail (``knn_brute``) build the trees of the inline chains they
    replaced. (lsh_param_sweep as a whole builds a fresh
    ``createDataFrame`` relation per call, so its cap is compared on a
    shared banded frame.)"""
    from spotify_podcasts_airflow_batch_spark.operators import (
        dedup,
        similarity as sim_ops,
    )
    from spotify_podcasts_airflow_batch_spark.plans import llm_pipeline2

    queries = all_queries()
    keys = ("stratified_sample_exact", "knn_brute")
    sig = dedup.minhash_signatures(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    banded = dedup._banded(
        sig, "doc_id", dedup.NUM_MINHASHES, dedup.LSH_BANDS
    ).select(
        "doc_id", F.lit(dedup.LSH_BANDS).alias("bands"), "band_id", "band_hash"
    )

    def build(sweep_cap):
        return {
            "lsh_candidate_pairs": dedup.lsh_candidate_pairs(
                sig, "doc_id", max_bucket=8
            ),
            "sweep_cap": sweep_cap(),
            **{k: queries[k].spark_fn(spark, sf_dir) for k in keys},
        }

    shared = build(lambda: dedup._cap_buckets(banded, "doc_id", 8, ("bands",)))
    monkeypatch.setattr(dedup, "_cap_buckets", _inline_cap_buckets)
    monkeypatch.setattr(
        llm_pipeline2,
        "salted_topk_per_group",
        lambda ranked, *args: _inline_strat_cut(ranked),
    )
    monkeypatch.setattr(sim_ops, "_cosine_rows", _inline_knn_tail)
    inline = build(lambda: _inline_sweep_cap_buckets(banded, 8))
    for name, got in shared.items():
        _assert_same_tree(got, inline[name])
