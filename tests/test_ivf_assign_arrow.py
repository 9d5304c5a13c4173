"""ivf_assign_arrow — the exact-integer Arrow cell-assignment kernel
behind the √n-cells IVF family: distances must equal the pure-integer
spec (quantize → squared L2 → (d2u, cell_id) argmin) bit-for-bit,
including quantization half-boundaries, ties, zero vectors, and
negative components; emits must agree across modes. The kernel is the
package's only PQ encode: the codes it emits next to the cell, and
the flat-PQ encode (``_pq_encode``, the same emit over one zero cell),
must equal the reference Spark fold (tests/pq_fold.py) on the fixture
corpus, on vectors placed exactly at centroids and under a duplicated
centroid (exact ties); the residual codes and ADC tables must equal a
pure-Python integer reference, duplicated residual centroid
included."""

from __future__ import annotations

import math
import os
import re

import pytest
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
    _PQ_M,
    _PQ_SUB,
    _pq_encode,
    ivf_assign_arrow,
)
from tests.pq_fold import fold_codes

_DIMS = 64


def _flat_codes(df, cents):
    """vec_id → codes from the flat-PQ encode (one zero cell)."""
    return {r.vec_id: list(r.codes) for r in _pq_encode(df, cents).collect()}


def _kernel_codes(df, cells_u, cents):
    """vec_id → (codes, cell_id) from the kernel's codes emit."""
    return {
        r.vec_id: (list(r.codes), r.cell_id)
        for r in ivf_assign_arrow(
            df, cells_u, emit="codes", codebook=cents
        ).collect()
    }


def _q(x: float) -> int:
    scaled = x * 1e6
    return (
        int(math.floor(scaled + 0.5))
        if scaled >= 0
        else int(math.ceil(scaled - 0.5))
    )


def _py_assign(vecs, cells_u, top):
    """Pure-Python integer reference: per vector, rank cells by
    (d2u, cell_id), return the first ``top``."""
    out = {}
    for vid, v in vecs:
        xu = [_q(float(x)) for x in v]
        ranked = sorted(
            (
                (
                    sum((xu[j] - c[j]) ** 2 for j in range(_DIMS)),
                    cid,
                )
                for cid, c in enumerate(cells_u)
            )
        )
        out[vid] = [cid for _, cid in ranked[:top]]
    return out


def _py_residual_table(ru, rcb):
    """T[m][k] = Σ_j (ru[m·_PQ_SUB + j] − rcb[m][k][j])², pure ints."""
    return [
        [
            sum((ru[m * _PQ_SUB + j] - c[j]) ** 2 for j in range(_PQ_SUB))
            for c in rcb[m]
        ]
        for m in range(_PQ_M)
    ]


def _adversarial_corpus():
    """Vectors engineered at the kernel's edges: exact ties (equal
    vectors), the zero vector, negative components, values on the
    0.5e-6 quantization boundary, and large-ish magnitudes."""
    vecs = []
    for i in range(24):
        v = []
        for j in range(_DIMS):
            k = (i * 37 + j * 11) % 9
            v.append(
                [
                    0.0,
                    1.0,
                    -1.0,
                    0.0000005,  # rounds to 1 micro-unit (HALF_UP)
                    -0.0000005,  # rounds to -1 (away from zero)
                    0.1234567,
                    -2.5,
                    1.9999995,
                    ((i + j) % 7 - 3) / 3.0,
                ][k]
            )
        vecs.append((i, v))
    # duplicates of rows 0 and 5 → guaranteed distance ties with a
    # lower-cell_id winner to pin the tie-break
    vecs.append((100, list(vecs[0][1])))
    vecs.append((101, list(vecs[5][1])))
    return vecs


def test_kernel_matches_integer_spec_all_emits(spark):
    vecs = _adversarial_corpus()
    # cells = quantized copies of a few corpus rows (exact ties by
    # construction) plus a zero centroid
    cells_u = [
        [_q(float(x)) for x in vecs[i][1]] for i in (0, 3, 5, 7)
    ] + [[0] * _DIMS]
    df = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in vecs],
        "vec_id long, embedding array<float>",
    )
    # NOTE: float32 storage — the reference must quantize the FLOAT32
    # value, exactly as the kernel receives it through Arrow
    f32 = {
        r.vec_id: list(r.embedding)
        for r in df.select("vec_id", "embedding").collect()
    }
    vecs32 = [(vid, f32[vid]) for vid, _ in vecs]

    for top in (1, 3):
        want = _py_assign(vecs32, cells_u, top)
        got_rows = ivf_assign_arrow(
            df, cells_u, top=top, emit="cell"
        ).collect()
        got: dict[int, list[int]] = {}
        for r in got_rows:
            got.setdefault(r.vec_id, []).append(r.cell_id)
        # "cell" emit returns rows in rank order within each vec_id
        assert {k: v for k, v in got.items()} == want, top

    # cell+ru: residual = xu − cu[best], exact integers
    want1 = _py_assign(vecs32, cells_u, 1)
    for r in ivf_assign_arrow(df, cells_u, emit="cell+ru").collect():
        assert [r.cell_id] == want1[r.vec_id]
        xu = [_q(float(x)) for x in f32[r.vec_id]]
        cu = cells_u[r.cell_id]
        assert list(r.ru) == [xu[j] - cu[j] for j in range(_DIMS)]

    # rcodes / radc: the residual codebook's centroid 0 is zero, 1–3
    # are residual subvectors of corpus rows, and 4 duplicates 1, so
    # row 1 ties exactly between 1 and 4 in every subspace: the first
    # (lowest-cid) minimum must win, in the codes and in the reference
    def ru_of(vid, cell):
        xu = [_q(float(x)) for x in f32[vid]]
        return [a - b for a, b in zip(xu, cells_u[cell])]

    rrows = [[0] * _DIMS] + [ru_of(v, want1[v][0]) for v in (1, 2, 6, 1)]
    rcb = [
        [r[m * _PQ_SUB : (m + 1) * _PQ_SUB] for r in rrows]
        for m in range(_PQ_M)
    ]
    got = {
        r.vec_id: (r.cell_id, list(r.codes))
        for r in ivf_assign_arrow(
            df, cells_u, emit="rcodes", codebook=rcb
        ).collect()
    }
    want = {}
    for vid, (cell,) in want1.items():
        t = _py_residual_table(ru_of(vid, cell), rcb)
        want[vid] = (cell, [tm.index(min(tm)) for tm in t])
    assert got == want
    assert want[1][1] == [1] * _PQ_M
    assert all(4 not in codes for _, codes in want.values())
    for top in (1, 3):
        got = {}
        for r in ivf_assign_arrow(
            df, cells_u, top=top, emit="radc", codebook=rcb
        ).collect():
            got.setdefault(r.vec_id, []).append(
                (r.cell_id, [list(t) for t in r.adc])
            )
        assert got == {
            vid: [(c, _py_residual_table(ru_of(vid, c), rcb)) for c in cells]
            for vid, cells in _py_assign(vecs32, cells_u, top).items()
        }, top

    # cell+xu: the quantized vector itself
    for r in ivf_assign_arrow(df, cells_u, emit="cell+xu").collect():
        assert list(r.xu) == [_q(float(x)) for x in f32[r.vec_id]]

    # codes: the PQ codebook's centroids ARE corpus rows (rows 0, 3,
    # 5, 7 at distance 0 from a centroid), and centroid 4 duplicates
    # centroid 1, so every row at row 3 ties exactly between them
    rows = [f32[vid] for vid in (0, 3, 5, 7, 3)]
    cents = [
        [
            [float(v[m * _PQ_SUB + j]) for j in range(_PQ_SUB)]
            for v in rows
        ]
        for m in range(_PQ_M)
    ]
    got = _kernel_codes(df, cells_u, cents)
    want = fold_codes(df, cents)
    assert {vid: codes for vid, (codes, _) in got.items()} == want
    assert _flat_codes(df, cents) == want
    assert {vid: [cell] for vid, (_, cell) in got.items()} == want1
    # centroid-located rows code to their own centroid; the duplicate
    # (id 4) never wins over id 1
    assert want[0] == [0] * _PQ_M and want[3] == [1] * _PQ_M
    assert all(4 not in codes for codes in want.values())


def test_kernel_matches_jvm_fold_on_fixture_corpus(spark, sf_dir):
    """Cross-implementation: the kernel's best cell equals the JVM
    interpreted-fold argmin (the pre-round-8 plan) on the real
    fixture embeddings."""
    from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
        ivf_train_cells_cached,
    )
    from spotify_podcasts_airflow_batch_spark.sources.readers import table

    cells_u = ivf_train_cells_cached(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    got = {
        r.vec_id: r.cell_id
        for r in ivf_assign_arrow(e, cells_u, emit="cell").collect()
    }
    xu = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1e6, 0).cast("long"),
    )
    ccs = F.array(
        *[F.array(*[F.lit(int(v)) for v in c]) for c in cells_u]
    )
    dists = F.transform(
        ccs,
        lambda c: F.aggregate(
            F.zip_with(F.col("__xu"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    want = {
        r.vec_id: r.cell_id
        for r in e.withColumn("__xu", xu)
        .select(
            "vec_id",
            (
                F.array_position(dists, F.array_min(dists)) - 1
            ).cast("int").alias("cell_id"),
        )
        .collect()
    }
    assert got == want


def test_codes_match_sql_fold_on_fixture_corpus(spark, sf_dir):
    """The kernel's PQ codes under the trained codebook, with the
    trained cells and with the flat encode's one zero cell, equal the
    reference fold's on the real fixture embeddings, and its cells
    equal the cell emit's."""
    from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
        ivf_train_cells_cached,
        pq_train_codebook_cached,
    )
    from spotify_podcasts_airflow_batch_spark.sources.readers import table

    cents = pq_train_codebook_cached(spark, sf_dir)
    cells_u = ivf_train_cells_cached(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    got = _kernel_codes(e, cells_u, cents)
    assert got
    want = fold_codes(e, cents)
    assert {vid: codes for vid, (codes, _) in got.items()} == want
    assert _flat_codes(e, cents) == want
    cell = {
        r.vec_id: r.cell_id
        for r in ivf_assign_arrow(e, cells_u, emit="cell").collect()
    }
    assert {vid: c for vid, (_, c) in got.items()} == cell


def test_non_finite_input_raises(spark):
    """A NaN or infinite component has no exact integer distance and
    no engine-agreed argmin: the kernel raises instead of emitting."""
    cells_u = [[0] * _DIMS]
    cents = [[[0.0] * _PQ_SUB] for _ in range(_PQ_M)]
    rcb = [[[0] * _PQ_SUB] for _ in range(_PQ_M)]
    for bad in (float("nan"), float("inf")):
        df = spark.createDataFrame(
            [(1, [bad] + [0.0] * (_DIMS - 1))],
            "vec_id long, embedding array<float>",
        )
        for emit, codebook in (
            ("codes", cents),
            ("rcodes", rcb),
            ("radc", rcb),
        ):
            with pytest.raises(Exception, match="non-finite"):
                ivf_assign_arrow(
                    df, cells_u, emit=emit, codebook=codebook
                ).collect()


def test_single_cell_emits_reject_top(spark):
    """Only "cell" and "radc" emit more than the best cell per row."""
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    for emit in ("codes", "cell+ru", "cell+xu", "rcodes"):
        with pytest.raises(ValueError, match="single best cell"):
            ivf_assign_arrow(df, [[0] * _DIMS], top=2, emit=emit)


# a subspace argmin folded in Spark: array_position(d, array_min(...)),
# as SQL text or through the Column DSL (F.array_position / F.array_min)
_SPARK_ARGMIN = re.compile(
    r"array_position\(\s*[^,()]+,\s*(?:F\.)?array_min\("
)


@pytest.mark.fast
def test_pq_argmin_is_not_hand_written():
    """Every PQ code in the package comes from ``ivf_assign_arrow``:
    no package module builds a subspace argmin as a Spark fold again.
    The fold lives only in tests/pq_fold.py, as the reference."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spotify_podcasts_airflow_batch_spark",
    )
    found = []
    for root, _, files in os.walk(pkg):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    if _SPARK_ARGMIN.search(fh.read()):
                        found.append(os.path.relpath(path, pkg))
    assert not found, found
