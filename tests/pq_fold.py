"""The flat-PQ encode as a Spark fold built with the Column DSL, kept
as the reference. The package takes every PQ code in one place, the
Arrow kernel ``ivf_assign_arrow(emit="codes")``; its codes are checked
against this fold (tests/test_ivf_assign_arrow.py), and the distance
and codebook builders here are the twins that tests/test_pq.py
compares the package's SQL-text builders with.

Per subspace m, the fold takes the left-associated 8-term squared L2
(float32 components widened to double) to every centroid, then the
first (lowest-id) argmin: ``array_position(d, array_min(d)) - 1``."""

from __future__ import annotations

import pyspark.sql.functions as F

from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
    _PQ_M,
    _PQ_SUB,
)


def dsl_sub_dist(v, c, m):
    """Squared L2 between subspace ``m`` of ``v`` and of centroid
    ``c``, the _PQ_SUB terms added left to right."""
    d = None
    for j in range(_PQ_SUB):
        idx = m * _PQ_SUB + F.lit(j + 1)
        t = F.element_at(v, idx).cast("double") - F.element_at(
            c, idx
        ).cast("double")
        d = t * t if d is None else d + t * t
    return d


def dsl_cbs(cents):
    """The codebook column: centroid k re-assembled to a full vector
    from ``cents[m][k][j]``."""
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
    return F.array(*full)


def dsl_codes():
    """codes[m] = the first argmin of subspace m's distances to the
    ``cbs`` column's centroids."""
    dists = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.transform(
            F.col("cbs"), lambda c: dsl_sub_dist(F.col("embedding"), c, m)
        ),
    )
    return F.transform(
        dists, lambda d: F.array_position(d, F.array_min(d)) - 1
    )


def fold_codes(df, cents) -> dict[int, list[int]]:
    """vec_id → codes of ``df`` (vec_id, embedding) under ``cents``."""
    return {
        r.vec_id: list(r.codes)
        for r in df.withColumn("cbs", dsl_cbs(cents))
        .select("vec_id", dsl_codes().alias("codes"))
        .collect()
    }
