"""Corpus-statistics operators, round 2 (SURVEY.md §2 C30-C35):
cross-document duplication measurement, unigram language-model
scoring with CCNet-style perplexity bucketing, BM25 keyword
retrieval, and ExactSubstr duplicated-span removal. All built-in column expressions — tokenization and scoring
stay inside whole-stage codegen; corpus-sized relations are never
joined to each other (vocabulary/statistic tables broadcast back).

Reference parity: the reference pipeline has no corpus analytics —
these extend it with the LLM-training-data layer the 100 TB target
needs (dedup diagnostics, quality scoring, retrieval), same charter
as plans/llm_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.text import (
    tokens,
    word_shingles,
)
from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table

_TOKS = r"string_split_regex(trim(text), '\s+')"


# ---------------------------------------------------------------- C30
@register(
    "cross_doc_dup",
    oracle=f"""
    WITH lt AS (
        SELECT doc_id, {_TOKS} AS w FROM documents
        WHERE length(trim(text)) > 0
    ),
    g AS (
        SELECT DISTINCT doc_id, array_to_string(w[k+1:k+5], ' ') AS shingle
        FROM lt, unnest(range(len(w) - 4)) AS t(k)
        WHERE len(w) >= 5
    ),
    dfc AS (SELECT shingle, count(*) AS nd FROM g GROUP BY shingle)
    SELECT g.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN dfc.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           round(sum(CASE WHEN dfc.nd >= 2 THEN 1 ELSE 0 END) / count(*), 4)
               AS shared_frac
    FROM g JOIN dfc USING (shingle)
    GROUP BY g.doc_id
    """,
)
def cross_doc_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C30 — inter-document duplication rate: for each doc, the
    fraction of its DISTINCT 5-word shingles that also occur in at
    least one other document (the MassiveText cross-document
    dup-content diagnostic; C21 measures the intra-doc dual). Shape:
    explode per-doc distinct shingles, count docs per shingle (the
    per-doc distinct makes a plain count a document frequency), join
    the df back, re-aggregate per doc. Both aggregates partial-combine
    map-side; the join key is the shingle, so the shuffle is bounded by
    distinct shingle volume, never O(docs²) pairing. Docs with <5
    tokens carry no shingles and drop out (both engines). At 100 TB
    the shingle→df table is the same relation C16's contamination
    screen probes — one materialization serves both."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    sh = d.select(
        "doc_id",
        F.explode(word_shingles(tokens(F.col("text")), 5)).alias("shingle"),
    )
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("nd"))
    shared = (F.col("nd") >= 2).cast("long")
    return (
        sh.join(dfc, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(shared).alias("n_shared"),
            F.round(F.sum(shared) / F.count(F.lit(1)), 4).alias("shared_frac"),
        )
    )


# ---------------------------------------------------------------- C31
_LM_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ),
    uc AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    nu AS (SELECT count(*) AS n FROM t)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(avg(ln(uc.c / nu.n)), 4) + 0 AS avg_logprob
    FROM t JOIN uc USING (tok) CROSS JOIN nu
    GROUP BY t.doc_id
"""


@register("unigram_logprob", oracle=_LM_ORACLE)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C31 — unigram language-model score per document: mean
    ln P(token) under the corpus's own unigram distribution — the
    cheap stand-in for the KenLM perplexity signal CCNet/RefinedWeb
    filter on (rare-token-heavy gibberish scores low, stopword soup
    scores high). Two aggregates over one tokenization: the vocabulary
    count table (broadcast back — never a corpus-corpus join) and the
    scalar token total riding a broadcast cross-join. ln() may differ
    in the last ulp between engines; round(…,4) absorbs it, and the
    integer-count division c/n is bit-equal by identical op order."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    uc = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nu = t.agg(F.count(F.lit(1)).alias("n"))
    return (
        t.join(F.broadcast(uc), "tok")
        .crossJoin(F.broadcast(nu))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.round(F.avg(F.log(F.col("c") / F.col("n"))), 4) + F.lit(0.0)).alias(
                "avg_logprob"
            ),
        )
    )


# ---------------------------------------------------------------- C32
@register(
    "perplexity_buckets",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ),
    uc AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    nu AS (SELECT count(*) AS n FROM t),
    lm AS (
        SELECT t.doc_id, round(avg(ln(uc.c / nu.n)), 4) + 0 AS avg_logprob
        FROM t JOIN uc USING (tok) CROSS JOIN nu
        GROUP BY t.doc_id
    ),
    th AS (
        SELECT round(quantile_cont(avg_logprob, 1.0/3.0), 4) AS t_lo,
               round(quantile_cont(avg_logprob, 2.0/3.0), 4) AS t_hi
        FROM lm
    )
    SELECT lm.doc_id, lm.avg_logprob,
           CASE WHEN lm.avg_logprob >= th.t_hi THEN 'head'
                WHEN lm.avg_logprob >= th.t_lo THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM lm, th
    """,
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C32 — CCNet-style perplexity partitioning: docs split into
    head / middle / tail terciles of the C31 unigram-LM score (head =
    most-fluent third; CCNet trains on head+middle, inspects tail).
    Spark-first shape: NO global sort — the per-doc score pass is the
    C31 aggregate, the two tercile thresholds are ONE scalar exact-
    percentile aggregate (``percentile`` ≡ DuckDB ``quantile_cont``,
    same interpolation — the B17-proven pairing), and bucketing is a
    broadcast-join projection. At 100 TB swap approx_percentile into
    the threshold pass (t-digest, mergeable) — plan shape unchanged.
    Thresholds compare against the ROUNDED score so both engines
    bucket the identical value."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    uc = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nu = t.agg(F.count(F.lit(1)).alias("n"))
    lm = (
        t.join(F.broadcast(uc), "tok")
        .crossJoin(F.broadcast(nu))
        .groupBy("doc_id")
        .agg(
            (F.round(F.avg(F.log(F.col("c") / F.col("n"))), 4) + F.lit(0.0)).alias(
                "avg_logprob"
            )
        )
    )
    # Thresholds are rounded to the scores' own 4-dp resolution: the two
    # engines' linear interpolations differ in the last ulp when adjacent
    # order statistics are EQUAL (DuckDB's (1-f)·a + f·b double-rounds;
    # Spark's a + f·(b-a) is exact), and an ulp-off threshold flips every
    # tied doc's bucket. Interpolated values sit ≥ 1.6e-5 from any 4-dp
    # rounding boundary (f ∈ {⅓,⅔} over 1e-4-quantized scores), so
    # rounding absorbs ulp noise without ever being boundary-ambiguous.
    th = lm.agg(
        F.round(F.expr("percentile(avg_logprob, 1.0D/3.0D)"), 4).alias("t_lo"),
        F.round(F.expr("percentile(avg_logprob, 2.0D/3.0D)"), 4).alias("t_hi"),
    )
    bucket = (
        F.when(F.col("avg_logprob") >= F.col("t_hi"), "head")
        .when(F.col("avg_logprob") >= F.col("t_lo"), "middle")
        .otherwise("tail")
    )
    return lm.crossJoin(F.broadcast(th)).select(
        "doc_id", "avg_logprob", bucket.alias("bucket")
    )


# ---------------------------------------------------------------- C33
_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    # Per-term score columns summed in FIXED order — float addition is
    # not associative, so both engines must add in the same sequence.
    score_sum = " + ".join(f"coalesce(s_{i}, 0.0)" for i in range(len(_BM25_TERMS)))
    score_cols = ", ".join(
        f"""max(CASE WHEN tf.tok = '{t}' THEN
            ln((st.n_docs - dfc.nd + 0.5) / (dfc.nd + 0.5) + 1.0)
            * (tf.f * ({_BM25_K1} + 1.0))
            / (tf.f + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / st.avgdl))
            END) AS s_{i}"""
        for i, t in enumerate(_BM25_TERMS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    st AS (SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, tok, count(*) AS f FROM toks
        WHERE tok IN ({terms_sql}) GROUP BY doc_id, tok
    ),
    dfc AS (SELECT tok, count(*) AS nd FROM tf GROUP BY tok),
    scored AS (
        SELECT tf.doc_id, count(*) AS n_matched, {score_cols}
        FROM tf JOIN dfc USING (tok) JOIN dl USING (doc_id), st
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_matched, round({score_sum}, 4) AS bm25
    FROM scored
    """


@register("bm25_search", oracle=_bm25_oracle())
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C33 — BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed
    conjunctive-OR query over the corpus: every doc containing ≥1
    query term, scored with the standard Robertson idf
    ln((N-df+0.5)/(df+0.5)+1). Shape: token explode → per-(doc,term)
    tf for ONLY the query terms (the IN-filter prunes before the
    shuffle, so the tf aggregate is O(matching postings) — this is
    posting-list retrieval, not a corpus scan per query); doc lengths
    and the (N, avgdl) scalars are tiny broadcast relations. Per-term
    scores pivot into fixed columns and sum in declaration order —
    float addition isn't associative, so a groupBy-sum over terms
    would be engine-order-dependent; the pivot makes the addition
    order part of the query. Top-k is a downstream orderBy(limit) —
    kept out of the checked result so the gate never depends on
    float-ordering at the cutoff."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    # ONE per-doc profile carries everything downstream needs: the doc
    # length AND the per-query-term frequencies ride the same map-side-
    # combined groupBy(doc_id), so the corpus text is scanned and
    # tokenized ONCE (round 11; the prior shape re-derived the explode
    # for dl, st, tf and dfc — 4 full-text parquet scans in the
    # before-plan, plans/r11/bm25_search_before.txt). The query-term
    # count is a fixed small constant, so the profile stays narrow
    # (doc_id + 1 + |terms| longs) — nowhere near the 80+-expression
    # codegen cliff the round-10 wide-agg A/Bs hit.
    # persist: the profile feeds two consumers whose lineages end in
    # DIFFERENT exchanges (the scalar-stats BROADCAST exchange and the
    # scored projection's pipeline), so without it the text scan +
    # explode re-run once per consumer (the after-plan still showed 2
    # parquet scans pre-persist) — the token_budget_mix regime, narrow
    # scalar rows only.
    prof = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"f_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ).persist()
    # (N, avgdl) and the per-term document frequencies collapse into
    # one scalar aggregate over the profile — same long-exact sums and
    # the same long/long double division as the prior dl/tf branches.
    stats = F.broadcast(
        prof.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            *[
                F.sum((F.col(f"f_{i}") > 0).cast("long")).alias(f"nd_{i}")
                for i in range(len(_BM25_TERMS))
            ],
        ).select(
            "n_docs",
            (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"),
            *[f"nd_{i}" for i in range(len(_BM25_TERMS))],
        )
    )

    def per_term(i: int):
        # identical expression tree per term as the prior per-(doc,
        # term)-row form: f→f_i, nd→nd_i, dl/avgdl/n_docs unchanged
        f, nd = F.col(f"f_{i}"), F.col(f"nd_{i}")
        idf = F.log(
            (F.col("n_docs") - nd + 0.5) / (nd + 0.5) + 1.0
        )
        return (
            idf
            * (f * (_BM25_K1 + 1.0))
            / (
                f
                + _BM25_K1
                * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )

    matched = None
    for i in range(len(_BM25_TERMS)):
        m = (F.col(f"f_{i}") > 0).cast("long")
        matched = m if matched is None else matched + m
    scored = (
        prof.crossJoin(stats)
        .where(matched > 0)
        .select(
            "doc_id",
            matched.alias("n_matched"),
            *[
                F.when(F.col(f"f_{i}") > 0, per_term(i)).alias(f"s_{i}")
                for i in range(len(_BM25_TERMS))
            ],
        )
    )
    total = None
    for i in range(len(_BM25_TERMS)):
        c = F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
        total = c if total is None else total + c
    return scored.select(
        "doc_id", "n_matched", F.round(total, 4).alias("bm25")
    )


# ---------------------------------------------------------------- C35
@register(
    "dup_span_removal",
    oracle=f"""
    WITH lt AS (
        SELECT doc_id, {_TOKS} AS w FROM documents
        WHERE length(trim(text)) > 0
    ),
    sp AS (
        SELECT doc_id, k AS pos, array_to_string(w[k+1:k+8], ' ') AS shingle
        FROM lt, unnest(range(len(w) - 7)) AS t(k)
        WHERE len(w) >= 8
    ),
    dupsh AS (
        SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM sp)
        GROUP BY shingle HAVING count(*) >= 2
    ),
    cov AS (
        SELECT DISTINCT sp.doc_id, t.p
        FROM sp JOIN dupsh USING (shingle),
             unnest(range(sp.pos, sp.pos + 8)) AS t(p)
    ),
    covlist AS (SELECT doc_id, list(p) AS ps FROM cov GROUP BY doc_id)
    SELECT lt.doc_id,
           len(w) AS n_tokens,
           coalesce(len(ps), 0) AS n_removed,
           coalesce(array_to_string(
               [w[p+1] FOR p IN range(len(w))
                IF NOT list_contains(coalesce(ps, []), p)], ' '), '')
               AS cleaned_text
    FROM lt LEFT JOIN covlist USING (doc_id)
    """,
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C35 — ExactSubstr-style duplicated-span REMOVAL (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): any
    8-token span occurring in ≥2 distinct documents is excised from
    every document it appears in; the output is the cleaned corpus
    plus per-doc removal accounting. The paper's suffix array becomes
    a distributed equivalent: positional spans (explode), document
    frequency over per-doc-distinct spans (map-side-combined groupBy),
    duplicated-span set joined back on the span text, covered token
    positions expanded (bounded by dup volume × k, never corpus × k),
    and the surviving tokens re-joined order-preserving with an
    index-aware array filter — the doc body itself never shuffles with
    the span relation, only (doc_id, position) pairs do. At 100 TB the
    span→df table is the C30/C16 relation again — one materialization
    serves all three."""
    d = table(spark, sf_dir, "documents", fan_out=True).where(
        F.length(F.trim(F.col("text"))) > 0
    )
    k = 8
    # persist: the tokenized corpus feeds THREE consumers whose
    # lineages end in different exchanges (the span-df rollup, the
    # covered-position expansion, and the final cleaned-text join), so
    # without it the full-text scan + trim + split re-run three times
    # (3 documents.text parquet scans in the round-11 before-plan).
    # The cached rows are (doc_id, array<string>) — corpus-sized but
    # no wider than the text itself; MEMORY_AND_DISK (the persist
    # default) spills rather than evicting recompute work at scale.
    d = d.select("doc_id", tokens(F.col("text")).alias("w")).persist()
    n = F.size("w")
    sp = d.select(
        "doc_id",
        F.explode(
            F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("pos"),
        "w",
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("w", F.col("pos") + 1, k)).alias("shingle"),
    )
    dupsh = (
        sp.select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("shingle")
    )
    cov = (
        sp.join(dupsh, "shingle")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"),
        )
        .distinct()
    )
    covlist = cov.groupBy("doc_id").agg(F.collect_set("p").alias("ps"))
    empty = F.array().cast("array<int>")
    joined = d.join(covlist, "doc_id", "left").select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.coalesce(F.size("ps"), F.lit(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.filter(
                "w",
                lambda x, i: ~F.array_contains(
                    F.coalesce(F.col("ps"), empty), i
                ),
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return joined


# ---------------------------------------------------------------- C36
_TWO60 = 1 << 60


@register(
    "weighted_sample",
    oracle=f"""
    WITH kd AS (
        SELECT doc_id, source, n_chars,
               ln( (( ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1.0 )
                    / {_TWO60 + 1}.0) ) / n_chars AS k
        FROM documents WHERE n_chars > 0
    ),
    r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
        FROM kd
    )
    SELECT doc_id, source, n_chars FROM r WHERE rn <= 5
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C36 — deterministic weighted sampling without replacement, 5 docs
    per source, weight = n_chars (Efraimidis-Spirakis A-ES: keep the k
    largest u^(1/w) keys, u uniform per item). The uniform draw comes
    from the engine's md5 hash family — no RNG state, so the sample is
    reproducible across engines, runs, and partitionings, and sampling
    by quality/length weight stays an auditable pure function of the
    data. Ranking uses ln(u)/w (same order as u^(1/w), one libm call
    instead of pow). A-ES keys are mergeable: at 100 TB each partition
    keeps its local top-k and the combiner merges — here the per-group
    top-k runs as one window pass over the pre-hashed scan."""
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        md5_hash60,
    )

    d = table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        md5_hash60(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
        + F.lit(1).cast("double")
    ) / F.lit(float(_TWO60 + 1))
    kd = d.select(
        "doc_id", "source", "n_chars", (F.log(u) / F.col("n_chars")).alias("k")
    )
    return topk_per_group(
        kd, ["source"], [F.col("k").desc(), "doc_id"], 5, "rn"
    ).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------- C48
@register(
    "zipf_fit",
    oracle=f"""
    WITH t AS (
        SELECT unnest({_TOKS}) AS tok FROM documents
    ),
    v AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok),
    r AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, tok) AS rnk
        FROM v
    ),
    l AS (SELECT ln(rnk) AS x, ln(freq) AS y FROM r)
    SELECT (SELECT count(*) FROM v) AS vocab_size,
           (SELECT count(*) FROM v WHERE freq = 1) AS hapax_count,
           round(covar_samp(x, y) / var_samp(x), 4) AS zipf_slope,
           round(avg(y) - covar_samp(x, y) / var_samp(x) * avg(x), 4)
               AS intercept,
           round(corr(x, y) * corr(x, y), 4) AS r2
    FROM l
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C48 — Zipf's-law fit over the corpus vocabulary: log-log OLS of
    token frequency on frequency rank (natural text gives slope ≈ −1;
    a flat slope flags synthetic or templated corpora — a corpus-
    health check next to C12's per-doc repetition). Closed-form OLS
    from one-pass co-moment aggregates, exactly E38's pattern, over
    the VOCABULARY (|distinct tokens| rows): the fact-sized work is
    only the token-count rollup (map-side combined); the rank
    window sorts the vocabulary once, ties pinned on (freq desc,
    token). ln of exact integer counts/ranks is deterministic IEEE;
    the co-moment reductions are the only order-sensitive float sums,
    rounded as in E38. hapax_count (freq = 1 tokens) rides along —
    the vocabulary-tail mass that decides subword-vs-word tokenizer
    choices."""
    d = table(spark, sf_dir, "documents")
    v = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("tok"))
    l = v.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    totals = F.broadcast(
        v.agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum((F.col("freq") == 1).cast("long")).alias("hapax_count"),
        )
    )
    slope = F.covar_samp("x", "y") / F.var_samp("x")
    return (
        l.agg(
            F.round(slope, 4).alias("zipf_slope"),
            F.round(F.avg("y") - slope * F.avg("x"), 4).alias("intercept"),
            F.round(F.corr("x", "y") * F.corr("x", "y"), 4).alias("r2"),
        )
        .join(totals)
        .select(
            "vocab_size", "hapax_count", "zipf_slope", "intercept", "r2"
        )
    )


# ---------------------------------------------------------------- C54
@register(
    "source_lang_diversity",
    oracle="""
    WITH c AS (
        SELECT source, lang, count(*) AS n
        FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(sum(n) AS BIGINT)  AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           CAST((sum(n) * sum(n) - sum(n * n)) * 10000
                // (sum(n) * sum(n)) AS BIGINT) AS simpson_diversity_bp,
           CAST(max(n) * 10000 // sum(n) AS BIGINT) AS dominant_share_bp
    FROM c GROUP BY source
    """,
)
def source_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C54 — language-mix diversity per source: Gini-Simpson index
    (probability two random docs differ in language) and the dominant
    language's share, both in basis points. The mixture-health gauge
    next to C19's source weights: a source whose diversity collapses
    release-over-release silently turns multilingual training data
    monolingual.

    Two nested map-side aggregates ((source, lang) then source) —
    shuffle bounded by the label vocabulary. Gini-Simpson is computed
    as the exact rational (n² − Σ n_l²)·10⁴ ÷ n² on integer counters,
    so there's no float entropy log and nothing engine-dependent. The
    rational is evaluated in DECIMAL(38,0): in BIGINT the n²·10⁴
    numerator overflows once a source holds ≥3·10⁷ docs — i.e. at
    exactly the corpus sizes this gauge exists for (regression-pinned
    by tests/test_properties.py::test_source_lang_diversity_big_counts
    on a constructed counts relation)."""
    c = (
        table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _lang_diversity_rollup(c)


def _lang_diversity_rollup(counts: DataFrame) -> DataFrame:
    """Collapse a (source, lang, n) counts relation to per-source
    diversity. Split out so the DECIMAL(38,0) overflow behavior is
    testable against constructed billion-scale counters without
    manufacturing a billion-row table."""
    big = "CAST(sum(n) AS DECIMAL(38,0))"
    return counts.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.expr(
            f"CAST(({big} * {big} - sum(CAST(n AS DECIMAL(38,0)) * n))"
            f" * 10000 DIV ({big} * {big}) AS BIGINT)"
        ).alias("simpson_diversity_bp"),
        F.expr(
            "CAST(CAST(max(n) AS DECIMAL(38,0)) * 10000"
            " DIV CAST(sum(n) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("dominant_share_bp"),
    )


# ---------------------------------------------------------------- C55
_NOVELTY_BUCKET = 500  # docs per corpus-growth bucket


@register(
    "ngram_novelty_decay",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS w FROM documents
    ), shd AS (
        SELECT DISTINCT doc_id, doc_id // {_NOVELTY_BUCKET} AS bucket,
               array_to_string(w[i+1:i+3], ' ') AS shingle
        FROM toks, UNNEST(range(greatest(len(w) - 2, 0))) AS t(i)
    ), firsts AS (
        SELECT shingle, min(bucket) AS fb FROM shd GROUP BY shingle
    ), present AS (
        SELECT bucket, count(DISTINCT shingle) AS n_present
        FROM shd GROUP BY bucket
    ), novel AS (
        SELECT fb AS bucket, count(*) AS n_novel FROM firsts GROUP BY fb
    )
    SELECT p.bucket,
           CAST(p.n_present AS BIGINT) AS n_present,
           CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(coalesce(n.n_novel, 0) * 10000 // p.n_present AS BIGINT)
               AS novelty_bp
    FROM present p LEFT JOIN novel n ON p.bucket = n.bucket
    """,
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C55 — corpus novelty curve: ingest docs in id order, bucket
    every 500, and measure what fraction of each bucket's distinct
    3-gram shingles was never seen in an earlier bucket. The
    diminishing-returns meter for corpus growth — when novelty_bp
    flattens near zero, new data is repeating the old (Heaps'-law
    saturation), and further collection should shift sources.

    The shingle relation (distinct (doc, shingle)) feeds two
    aggregates: shingle→min-bucket (first sighting) and
    bucket→distinct-present. The explode is deliberately recomputed
    for each (codegen projection off the scan) rather than persisted —
    at 100 TB the materialized pair relation costs far more than a
    second scan. Both aggregates shuffle on the shingle key, nothing
    quadratic, and the bucket join is |buckets| rows. Rates are exact
    integer basis points."""
    sh = (
        table(spark, sf_dir, "documents", fan_out=True)
        .select(
            "doc_id",
            F.explode(word_shingles(tokens(F.col("text")), 3)).alias(
                "shingle"
            ),
        )
        .withColumn(
            "bucket", F.expr(f"doc_id div {_NOVELTY_BUCKET}")
        )
    )
    firsts = sh.groupBy("shingle").agg(F.min("bucket").alias("fb"))
    present = sh.groupBy("bucket").agg(
        F.countDistinct("shingle").alias("n_present")
    )
    novel = firsts.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    out = present.join(novel, "bucket", "left")
    return out.select(
        "bucket",
        "n_present",
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        F.expr("coalesce(n_novel, 0) * 10000 div n_present").alias(
            "novelty_bp"
        ),
    )


# ---------------------------------------------------------------- C56
# Stand-in lexicon: the synthetic corpus has no unsafe text, so three
# ordinary corpus words exercise the machinery; a real deployment
# swaps in its content-policy term list (the plan is lexicon-agnostic).
_DENY_TERMS = ("slow", "big", "merge")


@register(
    "denylist_term_rate",
    oracle=f"""
    WITH per AS (
        SELECT source,
               len({_TOKS}) AS nt,
               len(list_filter({_TOKS},
                   t -> t IN ('slow', 'big', 'merge'))) AS nh
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS flagged_bp,
           CAST(sum(nh) * 10000 // greatest(sum(nt), 1) AS BIGINT)
               AS hits_per_10k_tokens
    FROM per GROUP BY source
    """,
)
def denylist_term_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C56 — content-policy lexicon audit per source: share of docs
    containing any denied term and denied-term occurrences per 10k
    tokens. The screening gate that runs BEFORE humans look at a new
    source — C15's quality gate asks "is it well-formed text", this
    asks "is it text we may not want at all". Term-level (whitespace
    token equality), not substring, so 'bigram' never flags 'big'.

    One codegen projection (tokenize + filter-count; the array dies
    map-side) into a per-source integer-counter aggregate — same
    single-exchange shape as C53. Rates are exact integer basis
    points; the lexicon is a plan constant (broadcast-free: it
    compiles into the predicate)."""
    d = table(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in _DENY_TERMS)
    per = d.select(
        "source",
        F.size(tokens(F.col("text"))).alias("nt"),
        F.expr(
            f"size(filter(split(trim(text), '\\\\s+'),"
            f" t -> t IN ({terms})))"
        ).alias("nh"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("nh") > 0).cast("long")).alias("n_flagged"),
        F.expr(
            "sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) * 10000 div count(*)"
        ).alias("flagged_bp"),
        F.expr(
            "sum(nh) * 10000 div greatest(sum(nt), 1)"
        ).alias("hits_per_10k_tokens"),
    )


# ---------------------------------------------------------------- C57
@register(
    "ngram_containment",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               string_split_regex(trim(text), '\s+') AS w
        FROM documents
    ), shd AS (
        SELECT DISTINCT doc_id, lang, source,
               array_to_string(w[i+1:i+2], ' ') AS shingle
        FROM toks, UNNEST(range(greatest(len(w) - 1, 0))) AS t(i)
    ), cnt AS (
        SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM shd a
        JOIN shd b ON a.shingle = b.shingle AND a.lang = b.lang
                  AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, c AS n_common, ca.n AS na, cb.n AS nb,
           round(c / least(ca.n, cb.n), 4) AS overlap
    FROM inter
    JOIN cnt ca ON ca.doc_id = id_a
    JOIN cnt cb ON cb.doc_id = id_b
    WHERE c / least(ca.n, cb.n) >= 0.5
    """,
)
def ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C57 — word-bigram OVERLAP-coefficient pairs ≥ 0.5, blocked by
    (lang, source): containment detection, the dedup measure C5's
    Jaccard is blind to. A 50-word doc quoted verbatim inside a
    5000-word doc shares ~1% of the union (Jaccard ~0.01, far below
    any sane threshold) but 100% of the smaller set — overlap
    |A∩B|/min(|A|,|B|) = 1.0. Training corpora leak exactly this way:
    press-release bodies inside news roundups, READMEs inside code
    dumps, benchmark questions quoted inside forum answers. C16's
    contamination check needs the benchmark known in advance; this
    finds verbatim inclusion between any two corpus docs.

    Same scale shape as C5 (operators/dedup.py): pair generation
    rides the shingle equi-join — the shuffle key is the shingle, so
    only co-occurring docs ever meet and candidate volume is bounded
    by shingle co-occurrence, never |docs|^2. Set sizes ride the
    exploded rows map-side (no count join-back). The ratio divides
    the same two integers in both engines — no float path."""
    from spotify_podcasts_airflow_batch_spark.operators.dedup import (
        overlap_pairs,
    )

    return overlap_pairs(
        table(spark, sf_dir, "documents", fan_out=True),
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_k=2,
        threshold=0.5,
    )
