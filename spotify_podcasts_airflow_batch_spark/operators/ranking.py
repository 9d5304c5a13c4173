"""Ranking operators.

The reference assigns chart positions with a driver-side enumerate over
a per-region Python loop (``spotify_eps.py:74-90``: ``rank: i+1`` while
iterating one region at a time, 22 sequential HTTP+pandas passes).
Spark-first this is a single window: one shuffle on the group key,
rank assigned in parallel across all groups at once. At 100 TB the
window shuffles each group to one task — group cardinality (region ×
day) is high and per-group size is bounded (chart length), so there is
no skew concern; no global sort is ever performed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column | str],
    k: int | Column,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group with a dense, deterministic position column.

    ``order_by`` must define a total order (include a unique tiebreaker)
    so results are reproducible run-to-run — the driver-side enumerate
    in the reference was deterministic only because the API returned a
    pre-sorted list. ``k`` is an int or a per-row Column (a per-group
    quota joined onto the rows).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= F.lit(k))
    )


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep the single most-recent row per key (daily-updated-dataset
    semantics — the reference republishes the full consolidated CSV to
    Kaggle daily, implicitly keeping the latest version per episode;
    ``kaggle_update_dag.py``). One shuffle on the key; map-side nothing
    to pre-aggregate since whole rows are kept."""
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def salted_topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column | str],
    k: int | Column,
    salt_source: Column,
    salts: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Skew-safe ``topk_per_group``: keep ``k`` rows per (group,
    ``salt_source`` mod ``salts``) first, then rank the <= salts·k
    survivors per group and keep ``k`` — no task ever sorts a hot
    group's whole row set. Exact for ANY input when ``order_by`` is a
    total order: every row of a group's global top-k is within the
    top-k of its own salt, so the union of per-salt top-ks holds it
    (the partition-local-then-merge top-k). ``salt_source`` must be
    deterministic per row (an id column, not rand()) so re-runs and
    retries keep the same membership. Adds ``__srn`` (the per-salt
    position) and ``rank_col``."""
    salted = Window.partitionBy(
        *group_cols, F.pmod(salt_source, F.lit(salts))
    ).orderBy(*order_by)
    return topk_per_group(
        df.withColumn("__srn", F.row_number().over(salted)).where(
            F.col("__srn") <= k
        ),
        group_cols,
        order_by,
        k,
        rank_col,
    )


def capped_top_q(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    quota: int,
    salt_source: Column,
    salts: int = 4,
) -> DataFrame:
    """Skew-safe per-group quota cap: keep each group's top ``quota``
    rows under ``order_by`` (which must be a total order), equivalent
    to a plain row_number window + filter for ANY input.

    Shape (SURVEY §2 C39): groups within quota are identified by a
    cheap count aggregate and pass through on a broadcast anti join —
    they never enter a window. Over-quota groups are first cut to a
    per-salt top-Q by ``salted_topk_per_group`` (salt =
    ``salt_source`` mod ``salts``), so the final per-group sort sees
    ≤ salts·quota rows per group regardless of how hot the group is."""
    over = (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__grp_n"))
        .where(F.col("__grp_n") > quota)
        .select(*group_cols)
        # group-sized; it broadcasts into BOTH the anti and the semi
        # join. The anti/semi split already makes two passes over the
        # input by design; re-deriving this tiny group count adds one
        # pruned group-cols-only pass — measured 0.14 s cheaper cold
        # at sf0.1 than a persist barrier on it
    )
    under_rows = df.join(F.broadcast(over), list(group_cols), "left_anti")
    over_rows = df.join(F.broadcast(over), list(group_cols), "left_semi")
    capped = salted_topk_per_group(
        over_rows, group_cols, order_by, quota, salt_source, salts, "__rn"
    ).drop("__srn", "__rn")
    return under_rows.unionByName(capped)
