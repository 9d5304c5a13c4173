"""§5.5 — physical-plan assertions: the plans we'd want at 100 TB,
not just plans that happen to pass. Catches regressions like filters
failing to reach the parquet scan or a dimension join falling back to
sort-merge."""

from __future__ import annotations

import re

import pytest

from spotify_podcasts_airflow_batch_spark.plans.registry import all_queries

QUERIES = all_queries()

pytestmark = pytest.mark.fast  # driver-entry tier (pytest.ini)


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    # Plan-string assertions must see FRESH plans: if an earlier test
    # materialized a query whose plan persist()s an intermediate, the
    # CacheManager substitutes an InMemoryRelation whose *cached* plan
    # (planned under the default broadcast threshold) is printed inside
    # the new plan string — e.g. a BroadcastHashJoin embedded in the
    # cached incidence list makes the no-hint shuffle assertion a false
    # positive even though the new query's own joins are shuffles.
    spark.catalog.clearCache()
    yield


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].spark_fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 7 needed columns, not all 11
    assert "l_orderkey" not in scan_schema and "l_partkey" not in scan_schema
    assert "l_quantity" in scan_schema and "l_returnflag" in scan_schema


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_enrich_join_is_broadcast_no_shuffle_of_fact(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "enrich_left_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_cartesian_products_anywhere(spark, sf_dir):
    for name in QUERIES:
        if name == "knn_brute":
            continue  # deliberate broadcast nested loop: tiny query set × corpus
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_knn_brute_scores_without_any_join(spark, sf_dir):
    # queries are closed over as a literal matrix; scoring is one
    # mapInPandas GEMM pass over the corpus scan — no join operator,
    # no corpus shuffle before the top-k window
    plan = plan_of(spark, sf_dir, "knn_brute")
    assert "MapInPandas" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_aggregates_are_partial(spark, sf_dir):
    # map-side combine: HashAggregate appears ≥2× (partial + final)
    for name in ["q1_pricing_summary", "daily_snapshot", "tumbling_window"]:
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("HashAggregate") >= 2, name


def test_q8_dims_all_broadcast(spark, sf_dir):
    # part, supplier, nation×2 (region folds into the n1 semi-filter)
    plan = plan_of(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 4


def test_q19_stays_hash_join(spark, sf_dir):
    # the OR predicate must NOT degrade the equi-join to a nested loop
    plan = plan_of(spark, sf_dir, "q19_disjunctive_join")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_unpivot_is_shuffle_free(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "unpivot_metrics")
    assert "Exchange" not in plan


def test_range_join_is_equi_join(spark, sf_dir):
    # band-bucket decomposition: hash join on (user, bucket), no
    # nested loop over the interval predicate
    plan = plan_of(spark, sf_dir, "range_join")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q21_single_fact_shuffle_branch(spark, sf_dir):
    # supplier dim must broadcast; the existence test reuses the
    # flagged join rather than re-scanning lineitem through a new join
    plan = plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE prints the final (codegen-annotated) plan only after execution;
    # '*(n)' prefixes mark whole-stage-codegen stages.
    for name in ["q1_pricing_summary", "text_stats", "chart_rank"]:
        df = QUERIES[name].spark_fn(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan or "WholeStageCodegen" in plan, name


def test_runtime_bloom_filter_prunes_fact_join(spark, sf_dir):
    """A selective dimension-side filter should inject a runtime bloom
    filter into the fact scan (Spark's runtime row-level filtering) —
    at 100 TB this is the difference between shuffling all of lineitem
    and shuffling only rows whose orderkey can match. The assertion
    pins that our session/config keeps the optimization reachable."""
    from pyspark.sql import functions as F

    from spotify_podcasts_airflow_batch_spark.sources.readers import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        # test data is KBs; drop the 10GB "is the fact side big enough
        # to bother" floor so the rule fires at test scale
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # force non-broadcast so the runtime filter has a shuffle to save
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, sf_dir, "lineitem")
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("qty"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter" in plan or "might_contain" in plan, plan[:2000]
        assert j.collect()[0]["qty"] > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rebalance_sample_is_single_stage(spark, sf_dir):
    """C40: hash-gated sampling is a projection + filter — zero
    exchanges at any scale."""
    plan = plan_of(spark, sf_dir, "rebalance_sample")
    assert "Exchange" not in plan


def test_doc_quality_score_no_shuffle_no_python(spark, sf_dir):
    """C41: model inference stays inside codegen — no exchange, no
    Python worker in the plan."""
    plan = plan_of(spark, sf_dir, "doc_quality_score")
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "*(1)" in plan  # whole-stage codegen span


def test_domain_quota_cap_broadcasts_group_list(spark, sf_dir):
    """C39: the over-quota group list rides broadcast joins (semi +
    anti) — the fact is never shuffled to find its group's size."""
    plan = plan_of(spark, sf_dir, "domain_quota_cap")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_semdedup_anti_join_broadcast_pairs(spark, sf_dir):
    """D14: pair finding runs as grouped-pandas GEMM; the dropped-id
    anti join broadcasts the (small) dropped set, never shuffling the
    corpus relation."""
    plan = plan_of(spark, sf_dir, "semdedup_keep")
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_drawdown_windows_share_one_sort(spark, sf_dir):
    """E32: cumsum and running-peak windows have identical partitioning
    and ordering — the plan must contain exactly one exchange (the
    per-user hash partition) and no second sort between the windows."""
    plan = plan_of(spark, sf_dir, "value_drawdown")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_winsorize_fact_never_shuffles(spark, sf_dir):
    """E35: the only exchange is building the tiny per-type threshold
    relation — the fact side rides a broadcast join."""
    plan = plan_of(spark, sf_dir, "winsorize_values")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_lookup_single_key_shuffle(spark, sf_dir):
    """A15: the as-of union plan shuffles on user_id for the window —
    there must be NO join operator at all (the containment join is the
    oracle's formulation, not ours)."""
    plan = plan_of(spark, sf_dir, "scd2_lookup")
    assert "Join" not in plan
    assert "Window" in plan


def test_basket_pairs_no_self_join(spark, sf_dir):
    # pair generation is JVM-side array combinatorics over the basket
    # rollup — no fact self-join, no sort-merge anywhere; the two
    # marginal joins and the scalar count broadcast
    plan = plan_of(spark, sf_dir, "basket_pair_lift")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Generate explode" in plan  # array pair explosion


def test_mann_whitney_single_vocabulary_window(spark, sf_dir):
    # ranks come from ONE cumulative window over the value vocabulary;
    # the fact contributes only the vocabulary rollup
    plan = plan_of(spark, sf_dir, "mann_whitney_u")
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan


def test_cohort_ltv_windows_on_grid_not_fact(spark, sf_dir):
    # the cumulative-LTV window partitions by cohort_week AFTER the
    # cohort×age rollup; the events scan feeds only hash aggregates
    plan = plan_of(spark, sf_dir, "cohort_ltv")
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan


def test_catalog_sized_marginals_not_hint_pinned(spark, sf_dir):
    # basket_pair_lift / item_item_cosine / q2_min_cost_supplier join
    # against rollups that GROW with the part catalog. They must carry
    # no F.broadcast hint: with the auto threshold disabled, the join
    # must degrade to a shuffle join (a hint would pin BroadcastHash
    # regardless — the driver-OOM shape at 100x vocabulary). AQE still
    # picks broadcast at runtime while the rollup is actually small.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("basket_pair_lift", "item_item_cosine"):
            plan = plan_of(spark, sf_dir, name)
            assert "BroadcastHashJoin" not in plan, name
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
        # q2 keeps hinted broadcasts for its TRUE dims (nation/region/
        # supplier — bounded size); only the part-catalog-sized `best`
        # rollup must degrade, so assert a shuffle join exists too.
        plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_rate_limit_audit_single_shuffle_window(spark, sf_dir):
    # the sliding count must ride ONE (user, time) exchange: the
    # per-user max reuses the window's partitioning (no second
    # fact-sized shuffle), and the top-20 is a tiny ordered take
    plan = plan_of(spark, sf_dir, "rate_limit_audit")
    assert plan.count("Exchange") <= 2  # user shuffle + final single-part
    assert "Window" in plan


def test_tokenizer_fertility_partial_agg_one_exchange(spark, sf_dir):
    # token counting is a codegen projection; only the (lang, source)
    # counter rows shuffle, map-side combined
    plan = plan_of(spark, sf_dir, "tokenizer_fertility")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2


def test_knn_label_probe_no_corpus_shuffle_before_scoring(spark, sf_dir):
    # scoring is D1's GEMM mapInPandas over the corpus scan; the
    # post-kNN relations are probe-sized and must broadcast
    plan = plan_of(spark, sf_dir, "knn_label_probe")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_fulfillment_latency_percentiles_on_rollup(spark, sf_dir):
    # the crossing windows must run on the (priority, days) rollup,
    # never the fact: Window sorts appear after aggregation only
    plan = plan_of(spark, sf_dir, "fulfillment_latency")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") <= 2


def test_fk_audit_fact_edge_not_hint_pinned(spark, sf_dir):
    # the lineitem->orders FK edge joins two fact-sized relations:
    # with the auto threshold disabled there must be at least one
    # shuffle join in the audit plan (an F.broadcast hint on orders
    # would pin BroadcastHash — the OOM shape at scale). The three
    # true-dimension edges keep their hinted broadcasts.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "fk_integrity_audit")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert plan.count("BroadcastHashJoin") == 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_open_orders_single_fact_pass(spark, sf_dir):
    """The sweep-line prefix sum must execute the orders⋈lineitem
    interval rollup ONCE: ±1 events come from one explode (no
    self-union re-running the subtree) and the per-timestamp delta
    relation is persisted so the cumsum and offsets branches share
    it (round-4 fix: the unpersisted form ran 4 fact scans)."""
    plan = plan_of(spark, sf_dir, "open_orders_timeline")
    assert "Union" not in plan
    assert "InMemoryTableScan" in plan


def test_bm25_single_text_scan(spark, sf_dir):
    """Round 11: BM25 computes ONE per-doc profile (length + per-term
    frequencies) in a single map-side-combined aggregate and persists
    it for its two cross-exchange consumers — the corpus text must be
    scanned exactly once (the prior shape re-derived the token explode
    for dl/st/tf/dfc: 4 full-text scans,
    plans/r11/bm25_search_before.txt). The pre-round-11 no-persist
    rationale (a 0.20 s rejection of caching the dl rollup) applied to
    the old multi-branch shape and is superseded by the 4→1 corpus
    scan cut recorded in VERDICT.md (round 11; the round's per-query
    walls are in PERF_r11.json)."""
    plan = plan_of(spark, sf_dir, "bm25_search")
    assert "InMemoryTableScan" in plan
    # exactly one parquet scan reads the corpus text: the FORMATTED
    # plan details each scan node once with its ReadSchema (the tree
    # string re-prints the cached child per InMemoryTableScan
    # reference, so it cannot be counted)
    df = QUERIES["bm25_search"].spark_fn(spark, sf_dir)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    text_scans = [
        ln
        for ln in formatted.splitlines()
        if "ReadSchema" in ln and "text:string" in ln
    ]
    assert len(text_scans) == 1, text_scans
    # the posting-list joins are gone: scores project off the profile
    assert "SortMergeJoin" not in plan


def test_jl_projection_is_pure_map(spark, sf_dir):
    # the sketch must be a narrow projection: signs regenerate inside
    # the fold expression, so NOTHING shuffles, joins, or aggregates —
    # the plan a 100 TB corpus-wide sketch pass depends on
    plan = plan_of(spark, sf_dir, "random_projection_jl")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_theil_sen_pairs_never_sort_merge(spark, sf_dir):
    # the O(days^2) pair join runs on the CONTRACTED (type, day)
    # rollup and must broadcast — a sort-merge here would mean the
    # calendar-bounded relation was mistaken for fact-sized
    plan = plan_of(spark, sf_dir, "theil_sen_trend")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # pair join + n_days join


def test_ann_jl_recall_no_fact_shuffle_joins(spark, sf_dir):
    # probes broadcast against the sketch scan (nested-loop on the
    # <> predicate), exact knn is the D1 GEMM pass — the corpus must
    # never reach a sort-merge join
    plan = plan_of(spark, sf_dir, "ann_jl_recall")
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan  # the exact-knn GEMM scan


def test_containment_self_join_not_hint_pinned(spark, sf_dir):
    # the shingle self-join sides scale with the corpus: they must
    # carry no broadcast hint (with auto-broadcast off the join
    # degrades to a shuffle join; AQE may still pick broadcast at
    # runtime while the exploded relation is actually small)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "ngram_containment")
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pq_adc_encoding_is_shuffle_free(spark, sf_dir):
    """PQ-ADC's encode + score phases must be pure projections (the
    codebook and ADC tables ride as broadcasts): the ONLY hash
    exchanges allowed are the two top-k window stages (the first
    salted so no task ever holds a query's full corpus) plus the
    under-parallel-layout staging exchange the single-row-group
    testdata needs (fan_out="force"; a no-op on multi-group layouts).
    """
    import re

    plan = plan_of(spark, sf_dir, "pq_adc_ann")
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hash_exchanges) <= 3
    # the salted stage partitions by (query_id, salt), the final by
    # query_id alone — both must be present
    assert any("query_id" in k and "," in k.rsplit(", ", 1)[0]
               for k in hash_exchanges)
    assert any("query_id" in k and "," not in k.rsplit(", ", 1)[0]
               for k in hash_exchanges)
    assert "SortMergeJoin" not in plan


def test_ivfpq_index_build_never_shuffles_corpus(spark, sf_dir):
    # D28's claim: the index build (PQ codes + coarse cell) is one
    # shuffle-free projection against broadcast constants; serving is
    # broadcast joins + the salted top-k. No corpus-sized sort-merge
    # join, no cartesian, anywhere.
    plan = plan_of(spark, sf_dir, "ivfpq_ann")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # probe-list join onto encoded


def test_ivfpq_encode_is_one_arrow_pass(spark):
    """The IVF-PQ encode takes its PQ codes in the Arrow kernel that
    assigns the cell: no codebook relation joined onto the corpus, and
    no interpreted higher-order fold in any projection."""
    from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
        _EMBED_DIMS,
        _PQ_M,
        _PQ_SUB,
        _ivfpq_encoded,
    )

    emb = spark.createDataFrame(
        [(1, [0.5] * _EMBED_DIMS)], "vec_id long, embedding array<float>"
    )
    cents = [[[0.0] * _PQ_SUB, [1.0] * _PQ_SUB] for _ in range(_PQ_M)]
    cells = [[0] * _EMBED_DIMS]
    plan = (
        _ivfpq_encoded(spark, "", cents=cents, cells=cells, emb=emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    projections = [l for l in plan.splitlines() if "Project" in l]
    assert not any(
        re.search(r"\b(transform|aggregate)\(", l) for l in projections
    ), projections


def test_capped_cosine_materializes_baskets_once(spark, sf_dir):
    # B59b persists the basket aggregate; all three consumers (pairs,
    # item-a marginal, item-b marginal) must read the cache, not
    # recompute the fact shuffle.
    df = QUERIES["item_item_cosine_capped"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 3


def test_residual_ivfpq_never_shuffles_corpus_joins(spark, sf_dir):
    """D29/D29c mirror D28's serving shape: ONE Arrow pass emits each
    query's probed cells with their ADC tables, broadcast onto the
    encoded corpus, then the salted top-k — no sort-merge, no
    cartesian, no one-row codebook relation (a nested-loop join) and no
    persisted probe relation. The served plan's only Python pass is
    that probe kernel (its dynamic-pruning subquery prints the same
    node); the inline plan adds the corpus encode."""
    for name, kernels in (
        ("ivfpq_residual_ann", 2),
        ("ivfpq_residual_ann_served", 1),
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "InMemoryRelation" not in plan, name
        nodes = set(re.findall(r"MapInPandas kernel\(.*?\)#(\d+)", plan))
        assert len(nodes) == kernels, (name, nodes)


def test_sq8_encoding_never_shuffles_corpus(spark, sf_dir):
    """D31: bounds are a broadcast rollup, codes a projection, probes
    a broadcast nested loop — the corpus must reach scoring without a
    single hash/range exchange of its own rows (the fan_out staging
    repartition is the one permitted exchange). The only sort-bearing
    exchanges are the salted top-k windows over SCORED rows."""
    plan = plan_of(spark, sf_dir, "sq8_ann")
    assert "SortMergeJoin" not in plan
    # serving joins are broadcast (probes, bounds)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_shuffle_shards_uses_range_partition_not_global_window(
    spark, sf_dir
):
    """C63: the global rank must come from a RANGE exchange + local
    ranks (the B43 discipline), never a single-partition window over
    the corpus."""
    plan = plan_of(spark, sf_dir, "corpus_shuffle_shards")
    assert "rangepartitioning" in plan.lower()
    # the corpus-sized window partitions by pid; the only
    # SinglePartition window allowed is over the 16-row offsets table
    import re

    corpus_windows = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "pid" in ln
    ]
    assert corpus_windows, "per-partition local rank window missing"


def test_bootstrap_ci_aggregate_is_partial(spark, sf_dir):
    """E64: the B=40 replicate sums must map-side combine — a partial
    HashAggregate below the exchange — so the shuffle is groups×B
    rows, not the exploded fact."""
    plan = plan_of(spark, sf_dir, "bootstrap_ci")
    assert "partial_sum" in plan or "HashAggregate" in plan
    lower = plan.lower()
    assert lower.count("hashaggregate") >= 2  # partial + final


def test_served_ann_paths_scan_the_materialized_index(spark, sf_dir):
    """D24c/D28c/D29c: a served plan must READ its code table from the
    index store — a parquet scan outside the testdata dir — instead of
    re-encoding the corpus (whose encode projection would put the
    trained-codebook argmin on the embeddings scan)."""
    from spotify_podcasts_airflow_batch_spark.sources.readers import (
        store_root,
    )

    for name in (
        "pq_adc_ann_served",
        "ivfpq_ann_served",
        "ivfpq_residual_ann_served",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert store_root() in plan, name
        # serving joins stay broadcast; no corpus-sized sort-merge
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_cell_partitioned_index_prunes_dynamically(spark, sf_dir):
    """D28c/D29c: the index is hive-partitioned by cell_id and the
    probe-cell join runs dynamic partition pruning — the index scan's
    PartitionFilters must carry a dynamicpruning subquery, so at scale
    unprobed cells are never read."""
    for name in ("ivfpq_ann_served", "ivfpq_residual_ann_served"):
        plan = plan_of(spark, sf_dir, name)
        assert "dynamicpruning" in plan.lower(), name


def test_dtw_cap_compiles_to_window_group_limit(spark, sf_dir):
    """E31: the 512-per-side cap must prune via WindowGroupLimit on
    the existing per-side shuffle — one exchange per cogroup side,
    no extra exchange introduced by the cap."""
    plan = plan_of(spark, sf_dir, "dtw_behavior_align")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_shuffle_shards_pins_range_partitions_once(spark, sf_dir):
    """C63: both fan-out consumers (local ranks, per-pid offsets) must
    read the persist()ed range-partitioned relation, not re-run the
    range sampler (ADVICE r6: exchange reuse is an optimization, not
    a correctness contract)."""
    df = QUERIES["corpus_shuffle_shards"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2


def test_ann_filtered_pushes_predicate_and_prunes_text(spark, sf_dir):
    """D33: the documents-metadata predicate must reach the parquet
    scan (filtered search prunes BEFORE the GEMM pass) and the text
    column must never be read — the filter relation is (doc_id, lang,
    n_chars) only."""
    plan = plan_of(spark, sf_dir, "ann_filtered")
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan
    assert "GreaterThanOrEqual(n_chars,400)" in plan
    doc_scan = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "doc_id" in ln
    ]
    assert doc_scan and all("text" not in ln for ln in doc_scan)


def test_rank_assoc_pairs_join_is_broadcast_nested_loop(spark, sf_dir):
    """E67: the cells² concordance join must run as a broadcast
    nested-loop over the tiny aggregated contingency relation — a
    sort-merge join here would shuffle per-cell rows for a ≤192-row
    relation; the fact scan itself aggregates map-side."""
    plan = plan_of(spark, sf_dir, "rank_assoc_binned")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_cuped_single_user_shuffle_all_joins_broadcast(spark, sf_dir):
    """E68: the per-user conditional aggregate shuffles ONCE — the
    θ/x̄ and variance-reduction consumers must pick it up via
    AQE exchange reuse (visible only in the FINAL adaptive plan, so
    execute first); θ and the scalars attach as 1-row broadcasts, no
    sort-merge join anywhere. Reuse here is a perf optimization, not
    a correctness contract (every output is independently rounded),
    so the pin asserts the optimization holds rather than persist()ing
    a subtree AQE already dedups."""
    df = QUERIES["cuped_adjust"].spark_fn(spark, sf_dir)
    df.collect()
    # AQE's toString appends the pre-adaptive "== Initial Plan ==";
    # assert on the FINAL section only.
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "SortMergeJoin" not in plan
    assert "ReusedExchange" in plan
    # 1 per-user shuffle + reuse references; never 4 live evaluations
    live = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in ln
        and "ReusedExchange" not in ln
    ]
    assert len(live) <= 2, plan


def test_levene_median_join_is_broadcast(spark, sf_dir):
    """E66: the k-row per-type median relation joins back to the fact
    scan as a broadcast — the deviations pass must not shuffle the
    events table."""
    plan = plan_of(spark, sf_dir, "levene_bf")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_truncation_loss_reads_only_needed_columns(spark, sf_dir):
    """C65: the documents scan must read (source, text) only — the
    fan-out lengths relation is a broadcast, the rollup is partial."""
    plan = plan_of(spark, sf_dir, "truncation_loss")
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "source" in scan_schema and "text" in scan_schema
    assert "lang" not in scan_schema and "n_chars" not in scan_schema
    assert plan.count("HashAggregate") >= 2


def test_centroid_drift_aggregates_partially(spark, sf_dir):
    """D34: the posexplode centroid rollup must map-side combine —
    the shuffle carries (label, side, dim) partials, never exploded
    corpus rows."""
    plan = plan_of(spark, sf_dir, "centroid_drift")
    assert "Generate explode" in plan or "Generate posexplode" in plan
    assert plan.count("HashAggregate") >= 2


def test_grid_quantile_single_partitions_are_value_sized(spark, sf_dir):
    """C45b's promise: the only single-partition stages are the
    DISTINCT-VALUE cumulative count and the 64-row grid assembly —
    never a corpus-sized sort. The fact side must keep its per-source
    window exchange, and nothing sort-merges or goes cartesian."""
    plan = plan_of(spark, sf_dir, "quantile_normalize_grid")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the non-equi grid-locate join broadcasts the 64-row side
    assert "BroadcastNestedLoopJoin" in plan
    # per-source percent_rank still partitions by source (fact-sized
    # work stays distributed)
    assert "hashpartitioning(source" in plan


def test_opq_serves_like_pq_no_corpus_shuffle(spark, sf_dir):
    """D37 inherits D24's serving shape: rotation is a projection,
    encode is a map pass against broadcast constants, the only hash
    exchanges are the salted/final top-k windows — no sort-merge, no
    cartesian, no single-partition stage."""
    plan = plan_of(spark, sf_dir, "opq_ann")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
