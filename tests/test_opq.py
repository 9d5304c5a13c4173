"""D37/D37b — OPQ energy-allocation rotation: permutation validity,
gate agreement with the SQL pick CTE, the gate opening on genuinely
anisotropic data (the OPQ motivation), and identity-serving when it
stays closed."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from spotify_podcasts_airflow_batch_spark.plans.registry import all_queries
from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
    _EMBED_DIMS,
    _opq_gate_sql,
    _opq_perm_sql,
    _opq_renamed_lloyd,
    _opq_rotated,
    _pq_lloyd_sql,
    _pq_quant_sql,
    _pq_sample_distortion_u,
    _pq_cents_u_of,
    opq_gate_cached,
    opq_perm_cached,
    opq_train_codebook_cached,
    opq_train_perm,
    pq_train_codebook_cached,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import table


def test_perm_is_a_bijection(spark, sf_dir):
    perm = opq_perm_cached(spark, sf_dir)
    assert sorted(perm) == list(range(_EMBED_DIMS))


def test_gate_agrees_with_oracle_pick(spark, sf_dir):
    """The Spark gate (integer distortions + margin) must equal the
    oracle's pick CTE on the same data — the property that keeps
    opq_ann hash-checked whichever way the gate goes."""
    got = opq_gate_cached(spark, sf_dir)
    dims = range(_EMBED_DIMS)
    pts_cols = ", ".join(
        f"{_pq_quant_sql(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'embeddings.parquet')}'"
    )
    (rot,) = con.execute(
        f"""WITH {_opq_perm_sql()}, {_pq_lloyd_sql()},
        {_opq_renamed_lloyd()}, {_opq_gate_sql()},
        pts AS (SELECT e.vec_id, {pts_cols} FROM embeddings e)
        SELECT rot FROM pick"""
    ).fetchone()
    assert bool(rot) == got


def _write_embeddings(path: str, rows):
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.string()),
        ]
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array(["a"] * len(rows), pa.string()),
            },
            schema=schema,
        ),
        path,
    )


def test_gate_opens_on_anisotropic_corpus(spark, tmp_path):
    """A corpus whose energy concentrates in ADJACENT dims (the first
    identity subspace) is exactly what OPQ corrects: the snake deal
    spreads the hot dims across subspaces, training distortion drops
    past the margin, and the gate opens."""
    import hashlib

    d = str(tmp_path)

    def noise(i: int, j: int) -> float:
        # deterministic iid-ish noise in [-0.5, 0.5] — a lattice
        # pattern here makes the hot dims perfectly correlated (a 1-D
        # manifold 16 centroids capture fine) and the gate correctly
        # stays closed; independence is what makes concentration hurt
        h = hashlib.md5(f"opq:{i}:{j}".encode()).hexdigest()
        return int(h[:8], 16) / float(1 << 32) - 0.5

    rows = []
    for i in range(96):
        # dims 0..7 carry 10x the scale — one hot identity block
        v = [
            noise(i, j) * (10.0 if j < 8 else 0.3)
            for j in range(_EMBED_DIMS)
        ]
        rows.append((i, v))
    _write_embeddings(os.path.join(d, "embeddings.parquet"), rows)
    perm = opq_train_perm(spark, d)
    assert sorted(perm) == list(range(_EMBED_DIMS))
    # the hot dims 0..7 land in 8 DIFFERENT subspaces under the snake
    hot_subspaces = {perm.index(dim) // 8 for dim in range(8)}
    assert len(hot_subspaces) == 8
    assert opq_gate_cached(spark, d) is True
    cents_id = pq_train_codebook_cached(spark, d)
    cents_rot = opq_train_codebook_cached(spark, d)
    emb_raw = table(spark, d, "embeddings").select("vec_id", "embedding")
    du_id = _pq_sample_distortion_u(spark, emb_raw, cents_id)
    du_rot = _pq_sample_distortion_u(
        spark, _opq_rotated(spark, d, perm), cents_rot
    )
    assert du_rot * 100 <= du_id * 99
    assert _pq_cents_u_of(cents_rot)  # trained, non-empty


def test_opq_serves_identity_rows_when_gate_closed(spark, sf_dir):
    """At the test SFs the gate is closed (sub-margin improvement):
    opq_ann must serve BIT-identical rows to pq_adc_ann — the
    cannot-regress property."""
    if opq_gate_cached(spark, sf_dir):
        pytest.skip("gate open on this corpus — covered by the dial")
    qs = all_queries()
    a = sorted(map(tuple, qs["opq_ann"].spark_fn(spark, sf_dir).collect()))
    b = sorted(
        map(tuple, qs["pq_adc_ann"].spark_fn(spark, sf_dir).collect())
    )
    assert a == b


@pytest.mark.fast
def test_rotated_view_matches_dsl_tree(spark, sf_dir):
    """The permuted corpus view, built as one SQL expression, is
    semantically identical to the per-element Column-DSL array it
    replaced (one Py4J round trip per element)."""
    perm = [(d * 29 + 3) % _EMBED_DIMS for d in range(_EMBED_DIMS)]
    got = _opq_rotated(spark, sf_dir, perm)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    want = e.select(
        "vec_id",
        F.array(*[F.col("embedding")[d] for d in perm]).alias("embedding"),
    )
    assert got.schema == want.schema
    assert got.sameSemantics(want)
