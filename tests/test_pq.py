"""D24/D25/D26 — product-quantization ANN: Lloyd monotonicity of the
trained codebook, the recall dial's schema/range contract, and the
semantic identity of the SQL-text PQ builders with the Column-DSL
form they replaced."""

from __future__ import annotations

import struct

import pyspark.sql.functions as F
import pytest

from spotify_podcasts_airflow_batch_spark.plans.registry import all_queries
from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
    _EMBED_DIMS,
    _PQ_M,
    _PQ_NQ,
    _PQ_SUB,
    _pq_adc_score,
    _pq_adc_table,
    _pq_codes,
    _pq_trained_cb_row,
    _rpq_cb_row,
    pq_sample_distortion,
    pq_train_codebook,
)


def test_lloyd_training_reduces_distortion(spark, sf_dir):
    """k-means guarantees non-increasing quantization error on the
    training sample; with 6dp centroid pinning the decrease holds up
    to rounding slack. This is the theorem-backed check that training
    actually trained (recall improvements are data-dependent; this is
    not)."""
    seed = pq_train_codebook(spark, sf_dir, iters=0)
    trained = pq_train_codebook(spark, sf_dir, iters=3)
    d_seed = pq_sample_distortion(spark, sf_dir, seed)
    d_trained = pq_sample_distortion(spark, sf_dir, trained)
    assert d_trained <= d_seed + 1e-6, (d_seed, d_trained)
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


def _py_int_lloyd(vecs: dict[int, list[float]], iters: int):
    """Independent pure-Python reimplementation of the integer
    micro-unit Lloyd spec (third implementation besides the Spark plan
    and the unrolled SQL twin — a shared spec bug in those two would
    still diverge from this one): quantize round-half-away-from-zero,
    integer squared-distance argmin with lowest-cid ties, centroid
    update by division TRUNCATING TOWARD ZERO (Python // floors, so
    negative sums need the explicit adjustment)."""
    import math

    M, SUB, K = 8, 8, 16

    def q(x: float) -> int:
        scaled = x * 1e6
        return int(math.floor(scaled + 0.5)) if scaled >= 0 else int(
            math.ceil(scaled - 0.5)
        )

    def trunc_div(a: int, b: int) -> int:
        return -((-a) // b) if (a < 0) != (b < 0) else a // b

    xu = {
        vid: [q(float(x)) for x in v]
        for vid, v in vecs.items()
        if vid % 4 == 0
    }
    seeds = sorted(vecs)[:K]
    cents = [
        [[q(float(vecs[s][m * SUB + j])) for j in range(SUB)] for s in seeds]
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
    return [
        [[cu / 1e6 for cu in cents[m][k]] for k in range(16)]
        for m in range(8)
    ]


def test_training_matches_independent_python_reference(spark, sf_dir):
    """pq_train_codebook's fixed point must equal a from-scratch
    Python implementation of the same integer spec — catching a spec
    bug the Spark plan and its SQL twin could share."""
    from spotify_podcasts_airflow_batch_spark.sources.readers import table

    vecs = {
        r.vec_id: list(r.embedding)
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    got = pq_train_codebook(spark, sf_dir, iters=2)
    want = _py_int_lloyd(vecs, iters=2)
    assert got == want


# ------------------------------------------------------------------
# The PQ constants and per-row PQ expressions are built as SQL text
# (one Py4J round trip each). The Column-DSL builders below are the
# form they replaced, kept as the reference: the SQL text must parse
# to the same analyzed tree, so every PQ/IVF/OPQ/ANN result is
# unchanged by construction.


def _dsl_sub_dist(v, c, m):
    d = None
    for j in range(_PQ_SUB):
        idx = m * _PQ_SUB + F.lit(j + 1)
        t = F.element_at(v, idx).cast("double") - F.element_at(
            c, idx
        ).cast("double")
        d = t * t if d is None else d + t * t
    return d


def _dsl_cb_row(spark, cents):
    full = [
        F.array(
            *[
                F.lit(cents[m][k][j])
                for m in range(_PQ_M)
                for j in range(_PQ_SUB)
            ]
        )
        for k in range(len(cents[0]))
    ]
    return F.broadcast(spark.range(1).select(F.array(*full).alias("cbs")))


def _dsl_rpq_cb_row(spark, cents_u):
    return F.broadcast(
        spark.range(1).select(
            F.array(
                *[
                    F.array(
                        *[
                            F.array(*[F.lit(v) for v in cents_u[m][k]])
                            for k in range(len(cents_u[m]))
                        ]
                    )
                    for m in range(_PQ_M)
                ]
            ).alias("rcbs")
        )
    )


def _dsl_codes():
    def argmin_code(v, m):
        dists = F.transform(F.col("cbs"), lambda c: _dsl_sub_dist(v, c, m))
        return F.array_position(dists, F.array_min(dists)) - 1

    return F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: argmin_code(F.col("embedding"), m),
    )


def _dsl_adc():
    return F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.transform(
            F.col("cbs"),
            lambda c: F.round(
                _dsl_sub_dist(F.col("embedding"), c, m) * 1e6, 0
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
    assert got.schema == want.schema
    assert got.sameSemantics(want)


@pytest.mark.fast
def test_sql_text_builders_match_dsl_trees(spark):
    """Codebook, residual codebook, codes, ADC table and ADC score
    built from SQL text are semantically identical to the DSL form.
    The centroids carry negatives, exponent-form reprs, -0.0 and
    fewer than _PQ_K rows (the LIMIT-bounded small-corpus case); the
    residual codebook mixes INT- and BIGINT-typed integers."""
    vals = [0.5, -0.25, 1e-06, -5e-07, -0.0, 0.0, 0.123456, -3.0, 1e22]
    n_k = 3  # fewer than _PQ_K centroids
    cents = [
        [
            [vals[(m * 7 + k * 3 + j) % len(vals)] for j in range(_PQ_SUB)]
            for k in range(n_k)
        ]
        for m in range(_PQ_M)
    ]
    cb = _pq_trained_cb_row(spark, cents)
    _assert_same_tree(cb, _dsl_cb_row(spark, cents))
    # Literal equality treats -0.0 == 0.0, so pin the bits separately
    want = [
        [cents[m][k][j] for m in range(_PQ_M) for j in range(_PQ_SUB)]
        for k in range(n_k)
    ]
    got = [list(v) for v in cb.collect()[0].cbs]
    assert [[struct.pack(">d", x) for x in r] for r in got] == [
        [struct.pack(">d", x) for x in r] for r in want
    ]

    ints = [0, -1, 7, -(2**31), 2**31 - 1, 2**31, -(2**31) - 1, 4_000_000]
    cents_u = [
        [
            [ints[(m + k * 5 + j) % len(ints)] for j in range(_PQ_SUB)]
            for k in range(n_k)
        ]
        for m in range(_PQ_M)
    ]
    _assert_same_tree(
        _rpq_cb_row(spark, cents_u), _dsl_rpq_cb_row(spark, cents_u)
    )

    emb = spark.range(3).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(_EMBED_DIMS)),
            lambda i: (i / 97.0 - F.col("id")).cast("float"),
        ).alias("embedding"),
    )
    codes = _pq_codes(emb, cb)
    _assert_same_tree(
        codes, emb.crossJoin(cb).select("vec_id", _dsl_codes().alias("codes"))
    )
    qdf = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    adc = _pq_adc_table(qdf, cb)
    _assert_same_tree(
        adc,
        F.broadcast(
            qdf.crossJoin(cb).select("query_id", _dsl_adc().alias("adc"))
        ),
    )
    scored = codes.crossJoin(adc)
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
    monkeypatch.setattr(similarity2, "_pq_trained_cb_row", _dsl_cb_row)
    monkeypatch.setattr(
        similarity2,
        "_pq_adc_table",
        lambda qdf, cb_row: F.broadcast(
            qdf.crossJoin(cb_row).select("query_id", _dsl_adc().alias("adc"))
        ),
    )
    monkeypatch.setattr(similarity2, "_pq_adc_score", _dsl_adc_score)
    _assert_same_tree(got, ivfpq_incremental_served(spark, sf_dir))
