"""LLM-training-data pipeline operators, part 3 (SURVEY.md §2 C13-C17,
D6-D7): reproducible train/val/test splitting, corpus n-gram frequency,
composite quality filtering, benchmark-contamination checking, sparse
TF-IDF all-pairs similarity, embedding scalar quantization, and Lloyd
k-means.

Everything except k-means is mirrored bit-for-bit by a DuckDB oracle;
the only cross-engine float hazards (ln in IDF) are frozen by rounding
before any downstream arithmetic. No Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.hashing import (
    md5_hash31,
    oracle_hash31,
    split_bucket,
)
from spotify_podcasts_airflow_batch_spark.functions.text import (
    PII_PATTERNS,
    pii_counts,
    pii_scrub,
    tokens,
    word_shingles,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table

_TOKS = r"string_split_regex(trim(text), '\s+')"

# ---------------------------------------------------------------- C13
_SPLIT_HASH = oracle_hash31("'split:' || CAST(doc_id AS VARCHAR)")


@register(
    "train_split",
    oracle=f"""
    SELECT doc_id,
           {_SPLIT_HASH} % 100 AS bucket,
           CASE WHEN {_SPLIT_HASH} % 100 < 80 THEN 'train'
                WHEN {_SPLIT_HASH} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 — deterministic hash-based train/val/test assignment
    (80/10/10). The split is a pure function of the document id, so it
    is reproducible across runs, engines, and data re-partitioning —
    the property a 100 TB corpus split must have (a seeded
    ``randomSplit`` changes membership whenever file order changes).
    One codegen projection, no shuffle."""
    d = table(spark, sf_dir, "documents")
    bucket = split_bucket(F.col("doc_id"))
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------- C14
_NGRAM_MIN_FREQ = 5


@register(
    "ngram_freq",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS w FROM documents),
    g AS (
        SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                     i -> w[i] || ' ' || w[i + 1])) AS ngram
        FROM t
    )
    SELECT ngram, count(*) AS freq
    FROM g GROUP BY ngram HAVING count(*) >= {_NGRAM_MIN_FREQ}
    """,
)
def ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 — corpus bigram frequency table (freq ≥ 5): the vocabulary
    statistic behind n-gram LMs, contamination screens, and boilerplate
    detection. Explode then hash-aggregate on the n-gram — map-side
    partial counts collapse each (task, ngram) to one row before the
    shuffle, so shuffled volume is bounded by distinct vocabulary, not
    corpus token count."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    toks = d.select(tokens(F.col("text")).alias("__toks"))
    n = F.size("__toks")
    grams = toks.select(
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, 2)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__grams")
    )
    return (
        grams.select(F.explode("__grams").alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= _NGRAM_MIN_FREQ)
    )


# ---------------------------------------------------------------- C15
_QF_MIN_TOKENS, _QF_MAX_TOKENS = 30, 1000
_QF_MIN_MEAN_LEN, _QF_MAX_MEAN_LEN = 3.0, 5.0
_QF_MIN_DISTINCT = 0.3


@register(
    "quality_filter",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               len(w) AS n_tokens,
               list_sum(list_transform(w, x -> length(x))) / len(w)
                   AS mean_len,
               len(list_distinct(w)) / len(w) AS distinct_ratio
        FROM (SELECT doc_id, lang, {_TOKS} AS w FROM documents) t
        WHERE len(w) > 0
    )
    SELECT doc_id, lang, n_tokens,
           round(mean_len, 4) AS mean_tok_len,
           round(distinct_ratio, 4) AS distinct_ratio
    FROM s
    WHERE n_tokens BETWEEN {_QF_MIN_TOKENS} AND {_QF_MAX_TOKENS}
      AND mean_len BETWEEN {_QF_MIN_MEAN_LEN} AND {_QF_MAX_MEAN_LEN}
      AND distinct_ratio >= {_QF_MIN_DISTINCT}
    """,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15 — composite Gopher/C4-style quality gate: token count in
    [30, 1000], mean token length in [3, 5], distinct-token ratio
    ≥ 0.3. All three signals are exact integer ratios (single IEEE
    division), so the pass/fail boundary is engine-portable with no
    rounding tricks. One projection + filter, fully pushed into the
    scan stage — at 100 TB this is the first, cheapest pass of the
    pipeline and removes the bulk of the data before any shuffle."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    # Tokenize ONCE behind a pushdown barrier (the nondeterministic id
    # column blocks Catalyst from pushing the bound filters beneath
    # this project and re-running split() per predicate inside the
    # scan task — with single-row-group inputs that serializes the
    # whole query). Mean token length avoids the interpreted
    # higher-order aggregate entirely: sum of token lengths over a
    # \s+-split IS the non-whitespace character count — one codegen
    # regex, no per-element lambda.
    staged = d.select(
        "doc_id",
        "lang",
        tokens(F.col("text")).alias("__toks"),
        F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", "")).alias(
            "__chars"
        ),
        F.monotonically_increasing_id().alias("__bar"),
    ).where((F.col("__bar") >= 0) & (F.size("__toks") > 0))
    # __bar ≥ 0 is always true; referencing the nondeterministic column
    # keeps ColumnPruning from deleting it (an unused barrier is pruned
    # first, which would re-enable the pushdown this exists to stop).
    n = F.size("__toks")
    mean_len = F.col("__chars") / n
    distinct_ratio = F.size(F.array_distinct("__toks")) / n
    sig = staged.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        mean_len.alias("__mean_len"),
        distinct_ratio.alias("__distinct"),
    )
    return sig.where(
        F.col("n_tokens").between(_QF_MIN_TOKENS, _QF_MAX_TOKENS)
        & F.col("__mean_len").between(_QF_MIN_MEAN_LEN, _QF_MAX_MEAN_LEN)
        & (F.col("__distinct") >= _QF_MIN_DISTINCT)
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round("__mean_len", 4).alias("mean_tok_len"),
        F.round("__distinct", 4).alias("distinct_ratio"),
    )


# ---------------------------------------------------------------- C16
_BENCH_SOURCE = "src0"  # the held-out "benchmark" slice
_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1), "
    "i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))"
)


@register(
    "contamination_check",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source, unnest({_SHINGLE_SQL}) AS shingle
        FROM (SELECT doc_id, source, {_TOKS} AS w FROM documents) t
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = '{_BENCH_SOURCE}'),
    train AS (SELECT doc_id, shingle FROM sh WHERE source <> '{_BENCH_SOURCE}')
    SELECT doc_id,
           count(*) AS n_shingles,
           count(b.shingle) AS n_contaminated,
           round(count(b.shingle) / count(*), 4) AS contamination
    FROM train LEFT JOIN bench b USING (shingle)
    GROUP BY doc_id
    HAVING count(b.shingle) >= 1
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16 — benchmark-contamination screen: for every training
    document, the share of its distinct 3-gram shingles that also
    appear in the held-out benchmark slice (source = src0). The
    benchmark shingle set is distinct-ed and BROADCAST (benchmarks are
    MBs even when the corpus is 100 TB), so the scan side never
    shuffles for the membership probe — the only shuffle is the final
    per-document aggregate.

    Plan hygiene (same two points as operators/dedup.py
    minhash_signatures): tokens() is staged in its OWN projection so
    word_shingles' O(shingles) references to the token array bind a
    column instead of re-inlining the regex split (O(tokens²) per doc
    otherwise — measured 3.3× on this query at sf0.1), and
    explode_outer avoids InferFiltersFromGenerate re-evaluating the
    shingle expression three more times as a pre-Generate filter."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", tokens(F.col("text")).alias("__toks")
    )
    sh = toks.select(
        "doc_id",
        "source",
        F.explode_outer(word_shingles(F.col("__toks"), 3)).alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    bench = (
        sh.where(F.col("source") == _BENCH_SOURCE)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = sh.where(F.col("source") != _BENCH_SOURCE)
    n_cont = F.count("__hit")
    return (
        train.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            n_cont.alias("n_contaminated"),
            F.round(n_cont / F.count(F.lit(1)), 4).alias("contamination"),
        )
        .where(F.col("n_contaminated") >= 1)
    )


# ---------------------------------------------------------------- C17
_MAX_DF_RATIO = 0.95  # drop tokens present in > 95% of docs
_TFIDF_TAU = 0.8

_TFIDF_ORACLE = f"""
    WITH tf AS (
        SELECT doc_id, lang, tok, count(*) AS tf
        FROM (SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents) t
        GROUP BY doc_id, lang, tok
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    kept AS (
        SELECT tok, round(ln(n_docs / count(*)), 4) AS idf
        FROM tf, n
        GROUP BY tok, n_docs
        HAVING count(*) <= {_MAX_DF_RATIO} * n_docs
    ),
    w AS (
        SELECT doc_id, lang, tf.tok, tf * idf AS weight
        FROM tf JOIN kept USING (tok)
    ),
    nrm AS (SELECT doc_id,
                   sqrt(sum(CAST(floor(weight * weight * 100000000.0 + 0.5)
                                 AS BIGINT)) / 100000000.0) AS nrm
            FROM w GROUP BY doc_id),
    wn AS (SELECT w.doc_id, lang, tok, weight / nrm AS wn
           FROM w JOIN nrm USING (doc_id))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST((sum(CAST(floor(a.wn * b.wn * 100000000.0 + 0.5) AS BIGINT))
                 + 5000) // 10000 AS BIGINT) / 10000.0 AS cos_sim
    FROM wn a JOIN wn b
      ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING sum(CAST(floor(a.wn * b.wn * 100000000.0 + 0.5) AS BIGINT))
           >= {int(_TFIDF_TAU * 100000000)}
    """


def _tfidf_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage of C17/C17b: df-capped, L2-normalized TF-IDF
    postings (doc_id, lang, tok, wn, df). The IDF is rounded BEFORE
    any downstream arithmetic so both engines compute from identical
    doubles (ln differs across libms in the last ulp)."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    tf = (
        d.select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    kept = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(n_docs)
        .where(F.col("df") <= _MAX_DF_RATIO * F.col("n_docs"))
        .select(
            "tok",
            "df",
            F.round(F.log(F.col("n_docs") / F.col("df")), 4).alias("idf"),
        )
    )
    w = tf.join(F.broadcast(kept), "tok").select(
        "doc_id", "lang", "tok", "df", (F.col("tf") * F.col("idf")).alias("weight")
    )
    # per-doc norm as a WINDOW over the postings, not groupBy + join
    # back: a join-back would fork the lineage and recompute the whole
    # tokenize+tf subtree per branch (AQE exchange reuse is best-effort,
    # not guaranteed) — the window keeps ONE lineage and the same
    # doc_id shuffle the join would have needed anyway.
    from pyspark.sql import Window

    wdoc = Window.partitionBy("doc_id")
    # The sum of squares is quantized to integer 1e-8 units per term
    # BEFORE summing: float summation order differs between engines
    # (and between Spark partitionings), and at 10x volume a last-ulp
    # norm drift cascades into tau-boundary pair flips. Integer
    # addition is exactly commutative, so the norm — and every wn —
    # is bit-identical on any engine and any partitioning.
    s2 = F.sum(
        F.floor(
            F.col("weight") * F.col("weight") * F.lit(100000000.0) + F.lit(0.5)
        ).cast("long")
    ).over(wdoc)
    return w.select(
        "doc_id",
        "lang",
        "tok",
        "df",
        (
            F.col("weight") / F.sqrt(s2 / F.lit(100000000.0))
        ).alias("wn"),
    )


@register("tfidf_cosine_pairs", oracle=_TFIDF_ORACLE)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17 — sparse all-pairs TF-IDF cosine similarity (≥ τ) via the
    posting-list self-join (Elsayed/Lin/Oard 2008): weight = tf ·
    round(ln(N/df), 4), L2-normalize per doc, join postings on (lang,
    token), sum products per pair. The IDF is rounded BEFORE any
    downstream arithmetic so both engines compute from identical
    doubles (ln differs across libms in the last ulp). At 100 TB the
    df-cap is the scale lever: dropping tokens in > 95% of documents
    removes exactly the postings whose self-join blows up (a token in
    f·N docs contributes (f·N)² pairs); real corpora prune to near-
    linear pair volume. Shuffles: tf agg, per-doc norm, posting join,
    pair agg — all map-side combinable or key-partitioned."""
    wn = _tfidf_postings(spark, sf_dir).drop("df")
    a = wn.select(
        F.col("doc_id").alias("id_a"), "lang", "tok", F.col("wn").alias("wa")
    )
    b = wn.select(
        F.col("doc_id").alias("id_b"), "lang", "tok", F.col("wn").alias("wb")
    )
    # Pair dot products accumulate as integer 1e-8 units (same cure as
    # the norm in _tfidf_postings): the per-product quantization runs
    # on bit-identical doubles, integer addition is order-free, the tau
    # gate compares integers, and the 4-dp output is integer half-up —
    # nothing anywhere depends on float summation order.
    ci = F.sum(
        F.floor(
            F.col("wa") * F.col("wb") * F.lit(100000000.0) + F.lit(0.5)
        ).cast("long")
    )
    return (
        a.join(b, ["lang", "tok"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(ci.alias("__ci"))
        .where(F.col("__ci") >= int(_TFIDF_TAU * 100000000))
        .select(
            "id_a",
            "id_b",
            (F.expr("(__ci + 5000) div 10000") / F.lit(10000.0)).alias(
                "cos_sim"
            ),
        )
    )


# ---------------------------------------------------------------- C17b
@register("tfidf_pairs_prefix", oracle=_TFIDF_ORACLE)
def tfidf_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17b — the SAME all-pairs result as C17 (identical oracle) via
    prefix filtering (Chaudhuri et al. ICDE'06 / Bayardo et al.
    WWW'07), the algorithm that actually survives 100 TB:

    - order each doc's postings rare-token-first (df asc);
    - INDEX only the prefix — postings where the remaining suffix L2 norm
      (this token onward) is ≥ τ. If every token a pair shares lay in
      doc a's unindexed suffix, then cos(a,b) ≤ ‖a_suffix‖ < τ — so
      any qualifying pair must collide on an indexed prefix token
      (completeness is a theorem, not a probability);
    - candidates = prefix postings ⋈ full postings on (lang, tok),
      pair-normalized, deduped;
    - VERIFY each candidate with the exact dot product over the two
      docs' weight maps (map_from_entries + one F.aggregate fold —
      JVM-side, no Python).

    The self-join side shrinks from ALL postings to prefix postings:
    on real corpora (Zipfian vocabulary) prefixes are the rare tokens,
    so candidate volume collapses by orders of magnitude, while C17's
    df-cap alone leaves every mid-frequency token's quadratic bucket
    intact. On this synthetic ~30-token vocabulary prefixes stay long
    (every token is frequent), so the win is structural, not local —
    which is exactly what the equality-to-oracle test pins down."""
    from pyspark.sql import Window

    # the normalized postings relation feeds the prefix ordering, the
    # full-postings join side, AND the verification doc-maps; persisted
    # so its multi-aggregate pipeline (tf → df → norms) runs once
    # instead of once per consumer
    wn = _tfidf_postings(spark, sf_dir).persist()
    # reverse-cumulative suffix norm over rare-first posting order
    order = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("tok").asc()
    )
    suffix_sq = F.sum(F.col("wn") * F.col("wn")).over(
        order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    keyed = wn.withColumn("__suf", F.sqrt(suffix_sq))
    prefix = keyed.where(F.col("__suf") >= _TFIDF_TAU)
    full = wn
    cand = (
        prefix.select(F.col("doc_id").alias("pid"), "lang", "tok")
        .join(
            full.select(F.col("doc_id").alias("fid"), "lang", "tok"),
            ["lang", "tok"],
        )
        .where(F.col("pid") != F.col("fid"))
        .select(
            F.least("pid", "fid").alias("id_a"),
            F.greatest("pid", "fid").alias("id_b"),
        )
        .distinct()
    )
    docmap = wn.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("tok"), F.col("wn")))
        ).alias("m")
    )
    ma = docmap.select(F.col("doc_id").alias("id_a"), F.col("m").alias("ma"))
    mb = docmap.select(F.col("doc_id").alias("id_b"), F.col("m").alias("mb"))
    # Verify folds in integer 1e-8 units (C17's discipline): each
    # shared-token product quantizes on bit-identical doubles and the
    # fold is exact integer addition, so the map-entry iteration order
    # can never move a pair across the tau or rounding boundary.
    dot = F.aggregate(
        F.map_entries("ma"),
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + F.floor(
            e["value"]
            * F.coalesce(F.element_at(F.col("mb"), e["key"]), F.lit(0.0))
            * F.lit(100000000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    return (
        cand.join(ma, "id_a")
        .join(mb, "id_b")
        .withColumn("__ci", dot)
        .where(F.col("__ci") >= int(_TFIDF_TAU * 100000000))
        .select(
            "id_a",
            "id_b",
            (F.expr("(__ci + 5000) div 10000") / F.lit(10000.0)).alias(
                "cos_sim"
            ),
        )
    )


# ---------------------------------------------------------------- C18
_PACK_BUDGET = 2048  # tokens per packed sequence
_PACK_SHARDS = 16
_PACK_HASH = oracle_hash31("'pack:' || CAST(doc_id AS VARCHAR)")


@register(
    "sequence_pack",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               {_PACK_HASH} % {_PACK_SHARDS} AS shard,
               len({_TOKS}) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, shard, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY lang, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM t
    )
    SELECT doc_id, lang, shard, n_tokens,
           CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS bin,
           CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS "offset"
    FROM c
    """,
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18 — context-window sequence packing: documents are laid out
    end-to-end in deterministic order (doc_id) and assigned the
    2048-token bin their start offset falls in — the streaming-pack
    approximation every pretraining data loader uses. Packing is
    inherently sequential, so parallelism comes from SHARDING first: a
    hash shard per (lang, shard) keeps 100 TB packable with one
    window shuffle and no global order; each shard packs
    independently, exactly how a 1000-executor run would write 1000
    independent sequence files. Integer arithmetic only — bit-equal
    across engines."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        (
            md5_hash31(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
            % _PACK_SHARDS
        ).alias("shard"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return c.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        F.floor(F.col("cum_before") / _PACK_BUDGET).alias("bin"),
        (F.col("cum_before") % _PACK_BUDGET).alias("offset"),
    )


# ---------------------------------------------------------------- C19
# per-source keep rates, cycled by the numeric source suffix: the
# "data mixture" a pretraining run specifies (wiki 4 epochs, web 0.1
# epochs, ...) expressed as deterministic per-document sampling.
_MIX_RATES = (1.0, 0.5, 0.25, 0.1)
_MIX_HASH = oracle_hash31("'mix:' || CAST(doc_id AS VARCHAR)")
_MIX_RATE_SQL = (
    "CASE CAST(substr(source, 4) AS INT) % 4 "
    + " ".join(
        f"WHEN {i} THEN {r}" for i, r in enumerate(_MIX_RATES)
    )
    + " END"
)


@register(
    "source_mixture",
    oracle=f"""
    SELECT doc_id, source, CAST({_MIX_RATE_SQL} AS DOUBLE) AS rate
    FROM documents
    WHERE {_MIX_HASH} % 10000 < {_MIX_RATE_SQL} * 10000
    """,
)
def source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19 — deterministic data-mixture sampling: each source gets a
    target keep-rate (cycled 1.0/0.5/0.25/0.1 by source index) and a
    document survives iff hash(doc_id) mod 10000 falls under
    rate·10000. Membership is a pure function of (doc_id, source) —
    reproducible across runs, engines, partitionings, and additive
    under rate changes (raising a rate only ADDS documents, the
    property epoch-weight sweeps need). Map-only: no shuffle, filter
    runs inside the scan stage."""
    d = table(spark, sf_dir, "documents")
    idx = F.substring("source", 4, 10).cast("int") % len(_MIX_RATES)
    rate = F.element_at(F.array(*[F.lit(r) for r in _MIX_RATES]), idx + 1)
    h = md5_hash31(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    return (
        d.withColumn("rate", rate)
        .where((h % 10000) < F.col("rate") * 10000)
        .select("doc_id", "source", "rate")
    )


# ---------------------------------------------------------------- C20
@register(
    "text_normalize",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')),
                          ' +', ' ', 'g') AS norm_text,
           length(text) AS n_chars_raw,
           length(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')),
                                 ' +', ' ', 'g')) AS n_chars_norm
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C20 — canonical text normalization (lowercase, strip
    non-alphanumerics, collapse runs of spaces): the preprocessing pass
    fingerprinting/dedup keys on, as one codegen projection. At 100 TB
    this runs fused with the scan — normalization never justifies its
    own pass over the corpus."""
    d = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", "")
        ),
        r" +",
        " ",
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
    )


# ---------------------------------------------------------------- C21
# Segment-level duplicate statistics (the MassiveText "duplicate line
# fraction" quality signal, re-keyed to fixed k-token segments because
# the synthetic corpus has no line structure). A segment's identity is
# its full md5 — a 31/60-bit key would collide at 100 TB segment
# cardinality and silently merge distinct segments.
_SEG_K = 8


@register(
    "dup_segments",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    s AS (
        SELECT doc_id,
               md5(array_to_string(w[CAST(i * {_SEG_K} + 1 AS INT) :
                                     CAST(i * {_SEG_K} + {_SEG_K} AS INT)],
                                   ' ')) AS seg_h
        FROM t,
             unnest(range(0, CAST(ceil(len(w) / {_SEG_K}.0) AS BIGINT))) AS u(i)
    ),
    c AS (SELECT doc_id, count(*) OVER (PARTITION BY seg_h) AS cnt FROM s)
    SELECT doc_id,
           count(*) AS n_segs,
           CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_segs,
           CAST(floor(10000.0 * sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)
                      / count(*)) AS INT) AS dup_frac_bp
    FROM c
    GROUP BY doc_id
    """,
)
def dup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21 — per-document duplicate-segment fraction: chop each doc
    into consecutive 8-token segments, count corpus-wide occurrences of
    each segment, report the fraction (basis points) of a doc's
    segments that appear elsewhere too. This is MassiveText's
    duplicate-line-fraction filter generalized to token windows.
    Scale shape: explode is bounded (n_tokens/8 segments per doc); the
    corpus-wide count is groupBy + join-back rather than a
    count-over-window — groupBy partial-aggregates map-side (a segment
    duplicated a million times collapses to per-task counts before the
    shuffle) and the join is AQE-skew-splittable, while a window
    partition-by would ship every raw segment row to one reducer per
    hot key with no combine. Raw segments first collapse to
    ``(seg_h, doc_id) → k``; both downstream consumers — the global
    seg_h totals and the join-back — then hang off that ONE aggregated
    relation, whose exchange subtree is byte-identical in both branches,
    so Spark plans a ReusedExchange: the scan + explode + md5 runs once,
    not once per branch (measured ~1.3× on the full query). The
    composite first key also spreads a corpus-hot segment across as
    many reducers as it has documents. floor(10000·x) rather than
    round(x, 4): both engines compute the identical IEEE quotient, and
    floor of the same double is bit-stable where decimal rounding is
    not."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nseg = F.ceil(F.size(toks) / F.lit(float(_SEG_K))).cast("int")
    seg_idx = F.when(nseg > 0, F.sequence(F.lit(0), nseg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    segs = F.transform(
        seg_idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i * _SEG_K + 1, _SEG_K)),
    )
    seg = d.select("doc_id", F.explode(segs).alias("seg")).select(
        "doc_id", F.md5("seg").alias("seg_h")
    )
    # one row per (segment-hash, doc); the per-segment totals AND the
    # final join reuse the rollup's shuffle (ReusedExchange — verified
    # one documents scan in the final AQE plan), so the corpus segment
    # explode runs once without persist (persist +0.17 s cold)
    sd = seg.groupBy("seg_h", "doc_id").agg(F.count("*").alias("k"))
    totals = sd.groupBy("seg_h").agg(F.sum("k").alias("cnt"))
    return (
        sd.join(totals, "seg_h")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_segs"),
            F.sum(F.when(F.col("cnt") > 1, F.col("k")).otherwise(0)).alias(
                "dup_segs"
            ),
        )
        .select(
            "doc_id",
            "n_segs",
            "dup_segs",
            F.floor(10000.0 * F.col("dup_segs") / F.col("n_segs"))
            .cast("int")
            .alias("dup_frac_bp"),
        )
    )


# ---------------------------------------------------------------- C22
def _pii_oracle_counts() -> str:
    return ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )


def _pii_oracle_scrub() -> str:
    expr = "text"
    for _, pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


@register(
    "pii_scrub",
    oracle=f"""
    SELECT doc_id, {_pii_oracle_scrub()} AS clean_text,
           {_pii_oracle_counts()}
    FROM documents
    """,
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22 — PII redaction (emails, IPv4, phone numbers → family
    tokens) plus per-family match counts, the C4/RefinedWeb scrub pass.
    One codegen projection fused with the scan — redaction never costs
    its own pass at 100 TB. The synthetic corpus contains no PII (all
    counts 0, text unchanged) so the oracle here checks the no-op path;
    the match/replace semantics themselves are pinned by
    tests/test_pii.py on adversarial literal rows."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    counts = pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        pii_scrub(F.col("text")).alias("clean_text"),
        *[c.alias(f"n_{kind}") for kind, c in counts.items()],
    )


# ---------------------------------------------------------------- D6
_EMBED_DIMS = 64


@register(
    "vector_quantize",
    oracle="""
    WITH x AS (
        SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ),
    s AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM x GROUP BY dim)
    SELECT vec_id, x.dim,
           CASE WHEN mx = mn THEN 0
                ELSE CAST(least(255, floor((v - mn) / (mx - mn) * 256))
                          AS INT) - 128
           END AS code
    FROM x JOIN s USING (dim)
    """,
)
def vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 — int8 scalar quantization of embeddings against per-dimension
    global min/max: code = floor((v-mn)/(mx-mn)·256) - 128, clamped to
    [-128, 127]. Shrinks a float32 embedding store 4× — at 100 TB
    that's the difference between spilling and an in-memory ANN index.
    The per-dim stats are ONE wide aggregate (128 min/max expressions,
    map-side combinable to a single row — no 64× posexplode of the
    fact table) broadcast back as two literal-sized arrays; the
    quantization itself is two zip_withs in one codegen projection.
    Every op is a single IEEE arithmetic step, so codes are bit-equal
    across engines with no rounding tricks. Output long-form
    (vec_id, dim, code); dims are 1-based."""
    e = table(spark, sf_dir, "embeddings")
    aggs = []
    for i in range(1, _EMBED_DIMS + 1):
        v = F.element_at("embedding", i).cast("double")
        aggs.append(F.min(v).alias(f"mn{i}"))
        aggs.append(F.max(v).alias(f"mx{i}"))
    stats = e.agg(*aggs).select(
        F.array(*[F.col(f"mn{i}") for i in range(1, _EMBED_DIMS + 1)]).alias(
            "mins"
        ),
        F.array(*[F.col(f"mx{i}") for i in range(1, _EMBED_DIMS + 1)]).alias(
            "maxs"
        ),
    )
    shifted = F.zip_with(
        "embedding", "mins", lambda x, mn: x.cast("double") - mn
    )
    ranges = F.zip_with("maxs", "mins", lambda mx, mn: mx - mn)
    q = (
        e.join(F.broadcast(stats))
        .withColumn("__shift", shifted)
        .withColumn("__rng", ranges)
        .withColumn(
            "__codes",
            F.zip_with(
                "__shift",
                "__rng",
                lambda s, r: F.when(r == 0, F.lit(0)).otherwise(
                    F.least(F.lit(255), F.floor(s / r * 256)).cast("int")
                    - 128
                ),
            ),
        )
    )
    return q.select(
        "vec_id", F.posexplode("__codes").alias("dim", "code")
    ).select("vec_id", (F.col("dim") + 1).alias("dim"), "code")


# ---------------------------------------------------------------- D7
_KMEANS_K = 8
_KMEANS_ITERS = 2


@register("kmeans_lloyd", oracle=None)  # rows-only: float argmin ties
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 — Lloyd's k-means, k=8, 2 iterations, deterministic seeding
    (the 8 lowest vec_ids). Each iteration: broadcast the k centroids
    against the corpus (k rows — never a real shuffle), take the
    arg-min cluster per vector via min(struct(dist, cluster)), then
    recompute centroids as one wide per-cluster aggregate (128 avg
    expressions, map-side combinable — no posexplode of the corpus).
    Per iteration exactly ONE fact-table shuffle (the k-row centroid
    aggregate); assignment itself is map-only. At 1000 executors the
    centroid table stays KBs regardless of corpus size — the classic
    mergeable-summary shape. Rows-only check: cross-engine float
    argmin ties make a SQL oracle fragile; determinism within the
    engine is asserted in tests instead."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    from pyspark.sql import Window

    w8 = Window.orderBy("vec_id")
    cents = (
        e.orderBy("vec_id")
        .limit(_KMEANS_K)
        .select(
            (F.row_number().over(w8) - 1).alias("cluster"),
            F.col("vec").alias("cvec"),
        )
    )
    assigned = None
    for _ in range(_KMEANS_ITERS):
        d2 = F.aggregate(
            F.zip_with("vec", "cvec", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        assigned = (
            e.join(F.broadcast(cents))
            .withColumn("__d2", d2)
            .groupBy("vec_id")
            .agg(
                F.min(F.struct(F.col("__d2"), F.col("cluster"))).alias("__m"),
                F.first("vec").alias("vec"),
            )
            .select(
                "vec_id",
                F.col("__m.cluster").alias("cluster"),
                F.col("__m.__d2").alias("__d2"),
                "vec",
            )
        )
        cent_aggs = [
            F.avg(F.element_at("vec", i)).alias(f"c{i}")
            for i in range(1, _EMBED_DIMS + 1)
        ]
        cents = (
            assigned.groupBy("cluster")
            .agg(*cent_aggs)
            .select(
                "cluster",
                F.array(
                    *[F.col(f"c{i}") for i in range(1, _EMBED_DIMS + 1)]
                ).alias("cvec"),
            )
        )
    return assigned.select(
        "vec_id", "cluster", F.round(F.sqrt("__d2"), 4).alias("dist")
    )


# ---------------------------------------------------------------- D7b
def _kmeans_audit_oracle() -> str:
    """Unrolled integer-micro-unit Lloyd over the FULL 64-dim vectors
    (k=8, seeds = 8 lowest vec_ids), reporting the total SSE after 0,
    1 and 2 centroid updates. Same engine-exactness argument as the
    PQ trained-codebook oracle: quantized BIGINT inputs, integer
    squared distances, truncating-division updates — no float
    summation order anywhere, so the three SSE values are bit-equal
    cross-engine and the driver can hash-check D7's fixed point."""
    dims = range(_EMBED_DIMS)
    qx = (
        lambda e: f"CAST(round(CAST({e} AS DOUBLE) * 1e6, 0) AS BIGINT)"
    )
    samp_cols = ", ".join(
        f"{qx(f'e.embedding[{j + 1}]')} AS x{j}" for j in dims
    )
    seed_cols = ", ".join(
        f"{qx(f's.embedding[{j + 1}]')} AS c{j}" for j in dims
    )
    d2u = " + ".join(
        f"(s.x{j} - c.c{j}) * (s.x{j} - c.c{j})" for j in dims
    )
    parts = [
        f"""pts AS (
        SELECT e.vec_id, {samp_cols} FROM embeddings e
    ), cents0 AS (
        SELECT row_number() OVER (ORDER BY s.vec_id) - 1 AS cluster,
               {seed_cols}
        FROM (SELECT * FROM embeddings ORDER BY vec_id
              LIMIT {_KMEANS_K}) s
    )"""
    ]
    for i in range(_KMEANS_ITERS + 1):
        parts.append(
            f"""assign{i} AS (
        SELECT s.vec_id, c.cluster,
               {', '.join(f's.x{j}' for j in dims)},
               ({d2u}) AS d2u,
               row_number() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY ({d2u}), c.cluster) AS rn
        FROM pts s CROSS JOIN cents{i} c
    ), sse{i} AS (
        SELECT {i} AS iter, sum(d2u) AS sse_u
        FROM assign{i} WHERE rn = 1
    )"""
        )
        if i < _KMEANS_ITERS:
            sums = ", ".join(f"sum(x{j}) AS s{j}" for j in dims)
            newc = ", ".join(
                f"CASE WHEN u.n IS NULL THEN c.c{j}"
                f" ELSE u.s{j} // u.n END AS c{j}"
                for j in dims
            )
            parts.append(
                f"""upd{i} AS (
        SELECT cluster, count(*) AS n, {sums}
        FROM assign{i} WHERE rn = 1 GROUP BY cluster
    ), cents{i + 1} AS (
        SELECT c.cluster, {newc}
        FROM cents{i} c LEFT JOIN upd{i} u USING (cluster)
    )"""
            )
    unions = " UNION ALL ".join(
        f"SELECT * FROM sse{i}" for i in range(_KMEANS_ITERS + 1)
    )
    return f"""
    WITH {', '.join(parts)}
    SELECT CAST(iter AS INT) AS iter, CAST(sse_u AS BIGINT) AS sse_u
    FROM ({unions}) u
    """


@register("kmeans_audit", oracle=_kmeans_audit_oracle())
def kmeans_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7b — the hash-checkable audit that pins D7's k-means fixed
    point (the B37b companion pattern): run Lloyd (k=8, 2 updates,
    same deterministic lowest-vec_id seeding as D7) in pure BIGINT
    micro-units and report total SSE after 0/1/2 updates. Lloyd's
    theorem says the sequence is non-increasing; because every
    quantity is integer (quantized inputs, integer argmin with
    lowest-cluster tie-break, truncating-division centroid updates),
    the THREE SSE VALUES — not just the trend — are exactly equal
    cross-engine, making the iterative operator driver-checkable
    where D7's float averages cannot be.

    Scale shape: per iteration one broadcast of 8 centroid rows
    against the corpus (assignment is map-only; min(struct) argmin),
    one k-row map-side-combinable rollup for updates, one scalar SSE
    aggregate. Headroom: |x|u <= ~6e5 here → Σd2u ≈ 1.7e17 at 2k
    vectors, ~50× below int64; at ≥100k vectors quantize coarser or
    report per-partition partial SSEs (the sum stays mergeable). The
    headroom is ENFORCED, not just documented: Spark sum(long) wraps
    silently on overflow while DuckDB escalates to HUGEINT (then the
    BIGINT cast errors) — the engines would diverge rather than both
    failing, so the guard below raises before either can (ADVICE r5).
    Monotonicity (sse_u[i+1] <= sse_u[i]) is asserted in
    tests/test_pq.py's sibling, tests/test_kmeans_audit.py."""
    # imported here: a module-level import would register similarity2's
    # queries ahead of this module's, reordering the catalog
    from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
        _D2U_SQL,
        _ivfpq_xu_of,
        _means_u_sql,
    )

    # persist: the quantized corpus feeds 4 sequential actions (seed
    # collect + one aggregate per Lloyd step) — without it each action
    # re-scans and re-quantizes (round 10; cleared by the caller's
    # clearCache between bench passes)
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _ivfpq_xu_of(F.col("embedding")).alias("xu")
    ).persist()
    init = e.orderBy("vec_id").limit(_KMEANS_K).collect()
    if not init:
        return spark.createDataFrame([], "iter int, sse_u bigint")
    init.sort(key=lambda r: r.vec_id)
    cents_u = [[int(v) for v in r.xu] for r in init]
    out: list[tuple[int, int]] = []
    for i in range(_KMEANS_ITERS + 1):
        cdf = spark.createDataFrame(
            [(k, cents_u[k]) for k in range(_KMEANS_K)],
            "cluster int, cu array<bigint>",
        )
        assigned = (
            e.join(F.broadcast(cdf))
            .withColumn("__d2u", F.expr(_D2U_SQL))
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(F.col("__d2u"), F.col("cluster"))
                ).alias("__m"),
                F.first("xu").alias("xu"),
            )
            .select(
                F.col("__m.cluster").alias("cluster"),
                F.col("__m.__d2u").alias("d2u"),
                "xu",
            )
        )
        if i < _KMEANS_ITERS:
            # one pass yields the SSE scalar, the update rows AND (at
            # i=0, round 10 — was its own full corpus pass) the
            # overflow-guard bounds: per-cluster count and max|xu|
            # roll up to the global n and max exactly (assigned is
            # one row per vec_id)
            guard_aggs = (
                [
                    F.max(
                        F.aggregate(
                            "xu",
                            F.lit(0).cast("long"),
                            lambda acc, v: F.greatest(acc, F.abs(v)),
                        )
                    ).alias("mxabs")
                ]
                if i == 0
                else []
            )
            per_cluster = assigned.groupBy("cluster").agg(
                F.sum("d2u").alias("sse_part"),
                F.count(F.lit(1)).alias("n"),
                *guard_aggs,
                F.expr(_means_u_sql(_EMBED_DIMS)).alias("cu"),
            ).collect()
            if i == 0:
                # Overflow guard: Σd2u over the corpus is bounded by
                # n · D · (2·max|xu|)² — checked in arbitrary-precision
                # Python so the wrap regime fails loudly on BOTH
                # engines instead of Spark alone wrapping (centroids
                # stay inside the sample's coordinate hull under
                # Lloyd, so 2·max|xu| bounds every per-dim
                # difference). The raise happens before any result
                # row is produced, same as the pre-round-10
                # dedicated-pass form.
                n_tot = sum(int(r.n) for r in per_cluster)
                mx = max(int(r.mxabs) for r in per_cluster)
                if n_tot * _EMBED_DIMS * (2 * mx) ** 2 >= 2**63:
                    raise ValueError(
                        "kmeans_audit: worst-case integer SSE "
                        f"(n={n_tot}, max|xu|={mx}, D={_EMBED_DIMS}) "
                        "exceeds int64 — quantize coarser than 1e6 or "
                        "report per-partition partial SSEs at this "
                        "corpus size"
                    )
            out.append((i, sum(int(r.sse_part) for r in per_cluster)))
            got = {r.cluster: [int(v) for v in r.cu] for r in per_cluster}
            cents_u = [
                got.get(k, cents_u[k]) for k in range(_KMEANS_K)
            ]
        else:
            sse = assigned.agg(F.sum("d2u")).collect()[0][0]
            out.append((i, int(sse)))
    return spark.createDataFrame(out, "iter int, sse_u bigint")


# ---------------------------------------------------------------- C23
@register(
    "token_entropy",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
    a AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct,
               sum(c * ln(c)) AS clnc
        FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           round(ln(n_tokens) - clnc / n_tokens, 4) + 0 AS entropy
    FROM a
    """,
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C23 — per-document unigram Shannon entropy,
    H = ln(n) − (Σ c·ln c)/n over within-doc token counts: low entropy
    flags repetitive/templated/gibberish text that the C12 top-token
    share misses when repetition spreads over a few tokens. Two
    map-side-combinable aggregates (token counts per doc, then the
    per-doc fold); the c·ln(c) form needs one ln per DISTINCT token
    rather than one per token. ln differs across engines only in the
    last ulp, smothered by round(4) — the same freeze the C11 IDF
    uses."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    a = c.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.log("c")).alias("clnc"),
    )
    entropy = F.log("n_tokens") - F.col("clnc") / F.col("n_tokens")
    return a.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (F.round(entropy, 4) + 0).alias("entropy"),
    )


# ---------------------------------------------------------------- C24
_INCR_SOURCE = "src1"  # the "today's ingest" slice


@register(
    "incremental_dedup",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source, md5(lower(trim(text))) AS fp FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM fp WHERE source <> '{_INCR_SOURCE}'),
    today AS (SELECT doc_id, fp FROM fp WHERE source = '{_INCR_SOURCE}')
    SELECT t.doc_id,
           CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
    FROM today t LEFT JOIN hist h USING (fp)
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C24 — incremental (daily-ingest) dedup: flag each document of
    today's slice whose normalized content already exists in the
    historical corpus. This is the shape a production pipeline runs
    every day — dedup TODAY against ALL-TIME without re-deduping
    all-time: the new slice is tiny, the history is 100 TB, and only
    fingerprints shuffle (16 bytes/doc, never text). With the history
    fingerprint store bucketed on fp (operators/bucketing.py), the
    probe join is exchange-free on the big side; AQE broadcasts
    today's side when it fits."""
    d = table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    )
    hist = (
        fp.where(F.col("source") != _INCR_SOURCE).select("fp").distinct()
    )
    today = fp.where(F.col("source") == _INCR_SOURCE)
    return today.join(
        hist.withColumn("__hit", F.lit(1)), "fp", "left"
    ).select(
        "doc_id",
        F.when(F.col("__hit").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_dup"),
    )


# ---------------------------------------------------------------- C25
_SAMPLE_K = 20
_SAMPLE_HASH = oracle_hash31("'sample:' || CAST(doc_id AS VARCHAR)")


@register(
    "corpus_sample",
    oracle=f"""
    SELECT doc_id, source, rk
    FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY {_SAMPLE_HASH}, doc_id) AS rk
        FROM documents
    ) t
    WHERE rk <= {_SAMPLE_K}
    """,
)
def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C25 — deterministic fixed-SIZE sample: the k documents with the
    smallest content-id hash per source (bottom-k / KMV sampling).
    Complements C19's fixed-RATE mixture: eval sets and debug slices
    need exactly-k membership that is stable under corpus growth —
    adding documents can only displace, never reshuffle, and two runs
    (or two engines) pick the identical k. One window shuffle on
    source; at 100 TB the per-source top-k would ride a partial
    bottom-k aggregate (each task keeps k, merge keeps k), which AQE's
    window-group-limit pushdown already approximates (rank predicate
    pushed below the sort)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    h = md5_hash31(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _SAMPLE_K)
    )


# ---------------------------------------------------------------- C26
_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


@register(
    "table_profile",
    oracle="""
    SELECT 'doc_id' AS column_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           count(DISTINCT doc_id) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_v, CAST(max(doc_id) AS VARCHAR) AS max_v
    FROM documents
    UNION ALL
    SELECT 'lang', count(*), CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT lang), CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', count(*), CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT source), CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C26 — ingest-time data-quality profile of the corpus table:
    per-column row/null/distinct counts + min/max, ONE scan (the
    oracle's 4-scan UNION ALL is the naive form; Spark's multi-distinct
    Expand reads the table once). First gate of every pipeline run —
    schema drift, null regressions, and id-range anomalies surface here
    before any compute is spent downstream."""
    from spotify_podcasts_airflow_batch_spark.operators.profile import profile

    return profile(table(spark, sf_dir, "documents"), _PROFILE_COLS)


# ---------------------------------------------------------------- C27
_PMI_MIN_FREQ = 5


@register(
    "bigram_pmi",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS w FROM documents),
    uni AS (SELECT unnest(w) AS tok FROM t),
    uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    nu AS (SELECT count(*) AS n FROM uni),
    g AS (
        SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                     i -> w[i] || ' ' || w[i + 1])) AS bigram
        FROM t
    ),
    bc AS (SELECT bigram, count(*) AS freq FROM g GROUP BY bigram
           HAVING count(*) >= {_PMI_MIN_FREQ}),
    nb AS (SELECT count(*) AS n FROM g)
    SELECT bc.bigram, bc.freq,
           round(ln((bc.freq / nb.n)
                    / ((ua.c / nu.n) * (ub.c / nu.n))), 4) + 0 AS pmi
    FROM bc, nu, nb
    JOIN uc ua ON ua.tok = string_split(bc.bigram, ' ')[1]
    JOIN uc ub ON ub.tok = string_split(bc.bigram, ' ')[2]
    """,
)
def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C27 — collocation mining: pointwise mutual information for every
    corpus bigram with freq ≥ 5 (PMI = ln P(ab) / (P(a)·P(b))), the
    statistic behind phrase detection (word2vec phrases, boilerplate
    discovery). Three aggregates over one tokenization: unigram counts,
    bigram counts, and the two scalar totals; the scalar totals ride a
    broadcast cross-join, and the frequency-filtered bigram table
    (small by construction) broadcasts onto the unigram vocabulary
    twice — the corpus-sized relations are never joined to each other.
    The PMI expression is written with the IDENTICAL operation order on
    both engines, so every divide/multiply is bit-equal; ln() may
    differ in the last ulp, absorbed by round(…, 4)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(tokens(F.col("text")).alias("__toks"))
    uni = toks.select(F.explode("__toks").alias("tok"))
    # vocabulary-sized; the scalar token total re-derives from the
    # scan (the explode re-runs as parallel in-scan CPU, no extra
    # shuffle) while the join consumes these counts — net 0.27 s
    # cheaper cold at sf0.1 than persisting the vocabulary
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nu = uc.agg(F.sum("c").alias("n_uni"))
    n = F.size("__toks")
    grams = toks.select(
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, 2)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__grams")
    )
    g = grams.select(F.explode("__grams").alias("bigram"))
    # distinct-bigram-sized; the scalar bigram total re-derives off
    # the scan while the ≥freq cut consumes these counts — the re-run
    # explode is parallel in-scan CPU with no extra shuffle
    ball = g.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    bc = ball.where(F.col("freq") >= _PMI_MIN_FREQ)
    nb = ball.agg(F.sum("freq").alias("n_bi"))
    withparts = bc.withColumn("a", F.split("bigram", " ")[0]).withColumn(
        "b", F.split("bigram", " ")[1]
    )
    ua = uc.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    ub = uc.select(F.col("tok").alias("b"), F.col("c").alias("cb"))
    j = (
        F.broadcast(withparts)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    pmi = F.log(
        (F.col("freq") / F.col("n_bi"))
        / ((F.col("ca") / F.col("n_uni")) * (F.col("cb") / F.col("n_uni")))
    )
    return j.select("bigram", "freq", (F.round(pmi, 4) + F.lit(0.0)).alias("pmi"))


# ---------------------------------------------------------------- C24b
_BLOOM_BITS = 1 << 18  # m: 262144 bits = 4096 int64 words (32 KB)
_BLOOM_K = 4  # hash functions


@register(
    "incremental_dedup_bloom",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source, md5(lower(trim(text))) AS fp FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM fp WHERE source <> '{_INCR_SOURCE}'),
    today AS (SELECT doc_id, fp FROM fp WHERE source = '{_INCR_SOURCE}')
    SELECT t.doc_id,
           CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
    FROM today t LEFT JOIN hist h USING (fp)
    """,
)
def incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C24b — the same exact answer as C24, through a BLOOM-FILTER
    prefilter, for the regime where even the distinct fingerprint
    store is too large to hash-join comfortably: the history collapses
    to a fixed 32 KB bitmap RELATION (word_idx → int64 of or-ed bits;
    built with explode + bit_or, one map-side-combinable aggregate).
    Today's fingerprints probe the broadcast bitmap (k=4 positions per
    fp, all-hit ⇒ candidate); only candidates — true dups plus the
    Bloom false-positive residue — reach the exact verification join,
    so the expensive equi-join runs on ~(dup_rate + fpp)·|today| rows
    instead of |today|. False positives are REMOVED by verification:
    the result is exact, which is why this query shares C24's oracle.
    At 100 TB the bitmap is sized m ≈ 10·n; it stays a relation, so
    nothing here ever exceeds executor memory."""
    d = table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    )
    # hist feeds the bitmap build AND the exact verification semi-join;
    # today feeds the probe explode AND the final outcome join. The
    # re-derived branches are pruned scans re-running the md5
    # fingerprint projection (parallel in-scan CPU, no extra shuffle)
    # — persist on either side measured +0.31 s cold at sf0.1
    hist = fp.where(F.col("source") != _INCR_SOURCE).select("fp").distinct()
    today = fp.where(F.col("source") == _INCR_SOURCE).select("doc_id", "fp")

    seeds = list(range(_BLOOM_K))

    def bitpos(col):
        # k positions from the shared md5 family, mod m
        return [
            md5_hash31(F.concat(F.lit(f"bloom{s}:"), col)) % _BLOOM_BITS
            for s in seeds
        ]

    def explode_positions(df):
        return df.withColumn(
            "__pos", F.explode(F.array(*bitpos(F.col("fp"))))
        ).select(
            *df.columns,
            (F.col("__pos") / 64).cast("long").alias("word_idx"),
            # python F.shiftleft takes only a literal count; the SQL
            # form shifts by a column
            F.expr("shiftleft(1L, CAST(__pos % 64 AS INT))").alias("mask"),
        )

    bloom = (
        explode_positions(hist)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )

    probes = explode_positions(today)
    hits = probes.join(F.broadcast(bloom), "word_idx", "left").withColumn(
        "__hit", (F.col("bits").bitwiseAND(F.col("mask")) != 0) & F.col("bits").isNotNull()
    )
    candidates = (
        hits.groupBy("doc_id", "fp")
        .agg(F.min(F.col("__hit").cast("int")).alias("__all_hit"))
        .where(F.col("__all_hit") == 1)
        .select("doc_id", "fp")
    )
    verified = candidates.join(hist, "fp", "left_semi").select(
        "doc_id", F.lit(1).alias("is_dup")
    )
    return today.join(verified, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("is_dup"), F.lit(0)).alias("is_dup")
    )
