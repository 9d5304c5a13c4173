"""Analytics catalog, part 2 (SURVEY.md §2 C43-C44, E33):
characteristic-term extraction, cross-source duplication matrices, and
Benford first-digit conformance — the corpus-exploration and
data-forensics queries that run beside the curation layer. All are
declarative DataFrame plans with exact DuckDB mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.text import tokens
from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table

_TOKS = r"string_split_regex(trim(text), '\s+')"
_KEYTERMS_K = 3


@register(
    "doc_keyterms",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        WHERE length(trim(text)) > 0
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
    n  AS (SELECT count(DISTINCT doc_id) AS n_docs FROM t),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6), 4)
                   AS score
        FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok AS term, score, rk AS rank
    FROM (
        SELECT doc_id, tok, score,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, tok
               ) AS rk
        FROM scored
    )
    WHERE rk <= {_KEYTERMS_K}
    """,
)
def doc_keyterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C43 — top-{k} characteristic terms per document by TF-IDF: the
    corpus-exploration query behind tag clouds, topic labeling, and
    eyeballing what a dedup cluster is "about". Two aggregates over one
    tokenization (per-doc tf, per-term df), the |vocab|-sized df table
    joins back on the term key, and the top-k window runs on the
    (doc × distinct-term) relation — already collapsed far below token
    count. IDF is rounded to 6 dp BEFORE the tf multiply (ln differs in
    the last ulp between engines) and scores to 4 dp before ranking,
    with the term string as tiebreak, so ranks reproduce bit-for-bit.
    At 100 TB nothing here is driver-sized: the df join is a plain
    tok-keyed shuffle (or a broadcast when the vocabulary fits)."""
    d = table(spark, sf_dir, "documents")
    t = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    # (doc, term) postings; the df_/n_docs branches re-derive from the
    # scan (the token explode re-runs as parallel in-scan CPU, no
    # extra shuffle) — measured 0.10 s cheaper cold at sf0.1 than a
    # persist barrier on the postings
    tf = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    idf = F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(F.col("tf") * idf, 4).alias("score"),
        )
    )
    return topk_per_group(
        scored,
        ["doc_id"],
        [F.col("score").desc(), F.col("tok")],
        _KEYTERMS_K,
    ).select("doc_id", F.col("tok").alias("term"), "score", "rank")


# Benford expected first-digit frequencies log10(1 + 1/d), frozen as
# literals so both engines compare against identical doubles.
_BENFORD = {d: round(__import__("math").log10(1 + 1 / d), 6) for d in range(1, 10)}


@register(
    "benford_deviation",
    oracle=f"""
    WITH digits AS (
        SELECT event_type,
               CAST(substr(CAST(CAST(floor(abs(value) * 1000000) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM events
        WHERE abs(value) * 1000000 >= 1
    ),
    counts AS (
        SELECT event_type, digit, count(*) AS n
        FROM digits GROUP BY event_type, digit
    ),
    tot AS (SELECT event_type, sum(n) AS tot_n FROM counts GROUP BY event_type),
    ben(digit, expected) AS (
        VALUES {", ".join(f"({d}, {f}::DOUBLE)" for d, f in _BENFORD.items())}
    )
    SELECT c.event_type, c.digit, c.n,
           round(c.n / CAST(t.tot_n AS DOUBLE), 6) AS obs_freq,
           b.expected AS benford_freq,
           round(pow(c.n / CAST(t.tot_n AS DOUBLE) - b.expected, 2)
                 / b.expected, 6) AS chi2_term
    FROM counts c
    JOIN tot t USING (event_type)
    JOIN ben b USING (digit)
    """,
)
def benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E33 — Benford's-law first-digit conformance per event type: the
    fraud/data-forensics screen (fabricated or unit-mangled numeric
    feeds deviate from log10(1+1/d)). The first significant digit is
    extracted ARITHMETICALLY — first char of floor(value·10⁶) as an
    integer string — identical in both engines, where log10-based
    extraction is an ulp trap at exact powers of ten. One shuffle to
    the (type, digit) rollup (≤ 9·|types| rows), per-type totals join
    on the rollup, expected frequencies are frozen literals. At 100 TB
    the fact contributes only map-side partial counts."""
    ev = (
        table(spark, sf_dir, "events")
        .select("event_type", "value")
        # zero (and sub-1e-6) magnitudes have no first significant
        # digit; negatives fold onto their magnitude
        .where(F.abs(F.col("value")) * 1000000 >= 1)
    )
    digit = F.substring(
        F.floor(F.abs(F.col("value")) * 1000000).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = (
        ev.select("event_type", digit.alias("digit"))
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("event_type").agg(F.sum("n").alias("tot_n"))
    ben = F.create_map(
        *[F.lit(x) for kv in _BENFORD.items() for x in kv]
    )
    obs = F.col("n") / F.col("tot_n").cast("double")
    expected = ben[F.col("digit")]
    return (
        counts.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "digit",
            "n",
            F.round(obs, 6).alias("obs_freq"),
            expected.alias("benford_freq"),
            F.round(F.pow(obs - expected, 2) / expected, 6).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------- C44
@register(
    "cross_source_dup_matrix",
    oracle=r"""
    WITH f AS (
        SELECT DISTINCT
               md5(array_to_string(
                   string_split_regex(trim(text), '\s+')[1:10], ' ')) AS fp,
               source
        FROM documents
        WHERE length(trim(text)) > 0
    )
    SELECT a.source AS src_a, b.source AS src_b,
           count(*) AS shared_prefixes
    FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C44 — which sources copy from each other: a source×source matrix
    of shared 10-token document prefixes (template/boilerplate overlap —
    the mirror-site and syndication signal that tells a crawl pipeline
    which source pairs need joint dedup). The join runs on the DISTINCT
    (fingerprint, source) relation — already collapsed to ≤ |docs| rows
    with per-fingerprint fan-out bounded by |sources|, never corpus² —
    and the output is at most |sources|² rows. One md5 per doc, one
    fp-keyed shuffle."""
    d = table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    fp = F.md5(
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 10)
        )
    )
    f = d.select(fp.alias("fp"), "source").distinct()
    g = f.select(F.col("fp").alias("fp2"), F.col("source").alias("src_b"))
    return (
        f.join(g, (F.col("fp") == F.col("fp2")) & (F.col("source") < F.col("src_b")))
        .groupBy(F.col("source").alias("src_a"), "src_b")
        .agg(F.count(F.lit(1)).alias("shared_prefixes"))
    )
