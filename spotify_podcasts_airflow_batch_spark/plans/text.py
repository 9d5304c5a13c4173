"""Text-analysis + dedup queries over ``documents`` (SURVEY.md §2 C1-C7).

Every formula here mirrors functions/text.py / operators/dedup.py
exactly; the repetitive oracle SQL (60 SimHash bit votes, 16 MinHash
seeds) is generated so the two sides cannot drift independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.text import (
    LANG_STOPWORDS,
    LANGS,
    punct_ratio,
    quality_score,
    stopword_hits,
    token_count,
    tokens,
)
from spotify_podcasts_airflow_batch_spark.operators.dedup import (
    NUM_MINHASHES,
    SIMHASH_BITS,
    _cap_buckets,
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table

# Shared DuckDB fragments (documents.text is never NULL in testdata).
_TOKS = r"string_split_regex(trim(text), '\s+')"


def _sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _hits(words: tuple[str, ...]) -> str:
    return f"len(list_filter(w, x -> x IN ({_sql_in_list(words)})))"


@register(
    "text_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, length(text) AS n_chars, {_TOKS} AS w,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len({_TOKS}) END AS nt,
               regexp_replace(text, '\\s', '', 'g') AS squeezed
        FROM documents
    )
    SELECT doc_id,
           nt AS n_tokens,
           n_chars,
           {_hits(LANG_STOPWORDS["en"])} AS stop_hits,
           round({_hits(LANG_STOPWORDS["en"])} / nt, 4) AS stop_ratio,
           round(CASE WHEN length(squeezed) = 0 THEN 0.0
                 ELSE length(regexp_replace(squeezed, '[a-z0-9]', '', 'g')) / length(squeezed)
                 END, 4) AS punct_ratio,
           round(least(nt / 64.0, 1.0)
                 * (0.5 + 0.5 * least(({_hits(LANG_STOPWORDS["en"])} / nt) * 4.0, 1.0))
                 * (1.0 - CASE WHEN length(squeezed) = 0 THEN 0.0
                          ELSE length(regexp_replace(squeezed, '[a-z0-9]', '', 'g')) / length(squeezed)
                          END), 4) AS quality
    FROM toks
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — token counts, stopword/punctuation ratios, quality score.
    Pure built-in column expressions: the whole thing is one
    whole-stage-codegen projection, no shuffle at all."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    # Expensive expressions (regex split, stopword filter, punct regex)
    # are each projected ONCE in staged steps; downstream references are
    # cheap bound columns, so neither Catalyst nor codegen re-inlines
    # the heavy work (4× for the stopword filter in the naive form).
    staged = d.select(
        "doc_id",
        "text",
        tokens(F.col("text")).alias("__toks"),
        F.regexp_replace(F.col("text"), r"\s", "").alias("__squeezed"),
    )
    toks = F.col("__toks")
    measures = staged.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        stopword_hits(toks, LANG_STOPWORDS["en"]).alias("stop_hits"),
        F.length("__squeezed").alias("__sqlen"),
        F.length(
            F.regexp_replace(F.col("__squeezed"), r"[a-z0-9]", "")
        ).alias("__nwlen"),
    )
    n = F.col("n_tokens")
    # try_divide ≡ DuckDB NULL-on-zero: a blank doc has 0 tokens
    stop_ratio = F.try_divide(F.col("stop_hits"), n)
    p = F.when(F.col("__sqlen") == 0, F.lit(0.0)).otherwise(
        F.col("__nwlen") / F.col("__sqlen")
    )
    return measures.select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "stop_hits",
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(p, 4).alias("punct_ratio"),
        F.round(quality_score(n, stop_ratio, p), 4).alias("quality"),
    )


_LANG_CASE_SQL = (
    "CASE WHEN " + " + ".join(f"h_{lang}" for lang in LANGS) + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN h_{lang} >= greatest({', '.join('h_' + o for o in LANGS[i + 1:])})"
        f" THEN '{lang}'"
        if i < len(LANGS) - 1
        else f"ELSE '{lang}'"
        for i, lang in enumerate(LANGS)
    )
    + " END"
)


@register(
    "lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS declared_lang,
               CASE WHEN len(w) = 1 AND w[1] = '' THEN 0
                    ELSE len(w) END AS n_tokens,
               {", ".join(f"{_hits(LANG_STOPWORDS[lang])} AS h_{lang}" for lang in LANGS)}
        FROM (SELECT doc_id, lang, {_TOKS} AS w FROM documents)
    )
    SELECT doc_id, declared_lang,
           {_LANG_CASE_SQL} AS pred_lang,
           round(greatest({", ".join("h_" + lang for lang in LANGS)}) / n_tokens, 4) AS confidence
    FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — stopword-hit language ID. Ties resolve in LANGS order; zero
    hits → 'und'. (The synthetic corpus is English-ish word soup, so
    the interesting property is determinism, not accuracy.)"""
    d = table(spark, sf_dir, "documents", fan_out=True)
    staged = d.select(
        "doc_id", "lang", tokens(F.col("text")).alias("__toks")
    )
    toks = F.col("__toks")
    scored = staged.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        F.size(toks).alias("n_tokens"),
        *[
            stopword_hits(toks, LANG_STOPWORDS[lang]).alias(f"h_{lang}")
            for lang in LANGS
        ],
    )
    total = sum(F.col(f"h_{lang}") for lang in LANGS)
    pred = F.when(total == 0, F.lit("und"))
    for i, lang in enumerate(LANGS[:-1]):
        rest = [F.col(f"h_{o}") for o in LANGS[i + 1 :]]
        rest_max = F.greatest(*rest) if len(rest) > 1 else rest[0]
        pred = pred.when(F.col(f"h_{lang}") >= rest_max, F.lit(lang))
    pred = pred.otherwise(F.lit(LANGS[-1]))
    best = F.greatest(*[F.col(f"h_{lang}") for lang in LANGS])
    return scored.select(
        "doc_id",
        "declared_lang",
        pred.alias("pred_lang"),
        # try_divide: a blank doc has 0 tokens → NULL confidence
        F.round(F.try_divide(best, F.col("n_tokens")), 4).alias(
            "confidence"
        ),
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS fingerprint,
           ('0x' || substr(md5(lower(trim(text))), 1, 15))::BIGINT AS fingerprint60,
           n_chars // 256 AS len_bucket
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — content fingerprints: full md5 + the 60-bit integer form +
    a coarse length bucket (the blocking key other dedup ops reuse)."""
    from spotify_podcasts_airflow_batch_spark.functions.hashing import md5_hash60
    from spotify_podcasts_airflow_batch_spark.operators.dedup import normalize_text

    d = table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        md5_hash60(norm).alias("fingerprint60"),
        F.floor(F.col("n_chars") / 256).cast("long").alias("len_bucket"),
    )


@register(
    "exact_dedup",
    oracle="""
    SELECT md5(lower(trim(text))) AS fingerprint,
           min(doc_id) AS rep_id,
           count(*)    AS n_dupes
    FROM documents
    GROUP BY 1
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — exact dedup groups: one map-side-combinable hash aggregate
    on the fingerprint. At 100 TB this is the cheapest possible dedup:
    shuffle volume is one (hash, id, 1) triple per input row, collapsed
    map-side."""
    return exact_dedup_groups(
        table(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


@register(
    "ngram_jaccard",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS w
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
    SELECT id_a, id_b, round(c / (ca.n + cb.n - c), 4) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = id_a
    JOIN cnt cb ON cb.doc_id = id_b
    WHERE c / (ca.n + cb.n - c) >= 0.2
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — word-bigram Jaccard pairs ≥ 0.2, blocked by (lang, source).
    Pair generation rides the shingle equi-join: the shuffle key is the
    shingle, so only co-occurring docs ever meet."""
    return jaccard_pairs(
        table(spark, sf_dir, "documents", fan_out=True),
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_k=2,
        threshold=0.2,
    )


def _minhash_oracle() -> str:
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        oracle_hash31,
        oracle_universal_hash,
        universal_family,
    )

    fam = universal_family(NUM_MINHASHES)
    arms = " ".join(
        f"WHEN s = {i} THEN min({oracle_universal_hash('h31', a, b)})"
        for i, (a, b) in enumerate(fam)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), shd AS (
        SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
        FROM toks, UNNEST(range(greatest(len(w) - 2, 0))) AS t(i)
    ), hashed AS (
        SELECT doc_id, {oracle_hash31('shingle')} AS h31 FROM shd
    )
    SELECT doc_id, s AS seed, CASE {arms} END AS minhash
    FROM hashed, UNNEST(range({NUM_MINHASHES})) AS u(s)
    GROUP BY doc_id, s
    """


_MINHASH_ORACLE = _minhash_oracle()


@register("minhash_signatures", oracle=_MINHASH_ORACLE)
def minhash_signatures_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6a — MinHash signatures in long form (doc_id, seed, minhash),
    bit-exact against the oracle's md5 hash family."""
    sig = minhash_signatures(
        table(spark, sf_dir, "documents", fan_out=True), id_col="doc_id", text_col="text"
    )
    stack_args = ", ".join(f"{s}, h{s}" for s in range(NUM_MINHASHES))
    return sig.selectExpr(
        "doc_id",
        f"stack({NUM_MINHASHES}, {stack_args}) AS (seed, minhash)",
    ).select("doc_id", F.col("seed").cast("int").alias("seed"), "minhash")


@register("minhash_lsh", oracle=None)  # rows-only: pair set is the point
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6b — LSH candidate pairs (4 bands × 4 rows) with estimated
    Jaccard. Signature correctness is oracle-checked by C6a; the pair
    recall floor is asserted in tests/test_dedup.py on planted dups."""
    sig = minhash_signatures(
        table(spark, sf_dir, "documents", fan_out=True), id_col="doc_id", text_col="text"
    )
    # Both sides of the bucket self-join consume the signatures; persist
    # so the shingle+hash pipeline runs once, not twice. (At 100 TB the
    # signature table would be written out and bucketed — same idea.)
    sig = sig.persist()
    return lsh_candidate_pairs(sig, id_col="doc_id")


def _minhash_accuracy_oracle() -> str:
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        oracle_hash31,
        oracle_hash60,
        oracle_universal_hash,
        universal_family,
    )
    from spotify_podcasts_airflow_batch_spark.operators.dedup import LSH_BANDS

    fam = universal_family(NUM_MINHASHES)
    arms = " ".join(
        f"WHEN s = {i} THEN min({oracle_universal_hash('h31', a, b)})"
        for i, (a, b) in enumerate(fam)
    )
    rows = NUM_MINHASHES // LSH_BANDS
    band_str = "string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)"
    true_j = "coalesce(i.nc / CAST(ca.n + cb.n - i.nc AS DOUBLE), 0.0)"
    return rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), shd AS (
        SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
        FROM toks, UNNEST(range(greatest(len(w) - 2, 0))) AS t(i)
    ), hashed AS (
        SELECT doc_id, {oracle_hash31('shingle')} AS h31 FROM shd
    ), sig AS (
        SELECT doc_id, s AS seed, CASE {arms} END AS mh
        FROM hashed, UNNEST(range({NUM_MINHASHES})) AS u(s)
        GROUP BY doc_id, s
    ), banded AS (
        SELECT doc_id, seed // {rows} AS band_id,
               {oracle_hash60(band_str)} AS band_hash
        FROM sig GROUP BY doc_id, seed // {rows}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.band_id = b.band_id
                     AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id
    ), est AS (
        SELECT c.id_a, c.id_b,
               sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                   / {NUM_MINHASHES}.0 AS est_j
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
        GROUP BY c.id_a, c.id_b
    ), cnts AS (
        SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
    ), inter AS (
        SELECT c.id_a, c.id_b, count(*) AS nc
        FROM cand c
        JOIN shd a ON a.doc_id = c.id_a
        JOIN shd b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT e.id_a, e.id_b,
           round(e.est_j, 4) AS est_jaccard,
           round({true_j}, 4) AS true_jaccard,
           CAST(abs(CAST(round(e.est_j * 10000, 0) AS INT)
                    - CAST(round({true_j} * 10000, 0) AS INT)) AS INT)
               AS err_bp
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    LEFT JOIN cnts ca ON ca.doc_id = e.id_a
    LEFT JOIN cnts cb ON cb.doc_id = e.id_b
    """


@register("minhash_accuracy", oracle=_minhash_accuracy_oracle())
def minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6c — MinHash accuracy, measured not claimed: every LSH
    candidate pair carries its signature-estimated Jaccard AND the
    exact 3-shingle Jaccard, with the absolute error in integer basis
    points. This is the "measure, don't guess" query for the dedup
    sketch: the error distribution is itself a queryable table (e.g.
    p95(err_bp) bounds how far the 16-hash estimate strays).

    Scale shape: candidates come from the banded bucket join (never
    all-pairs); the exact-Jaccard check restricts FIRST to the
    candidate set — shd joins through cand — so the expensive truth
    computation touches only pairs the sketch surfaced. Everything is
    integer or single-division float; est is k/16 (a dyadic rational,
    exactly representable) so the rounding is engine-portable."""
    d = table(spark, sf_dir, "documents", fan_out=True)
    sig = minhash_signatures(d, id_col="doc_id", text_col="text").persist()
    cand = lsh_candidate_pairs(sig, id_col="doc_id")

    from spotify_podcasts_airflow_batch_spark.functions.text import word_shingles

    toks = d.select("doc_id", tokens(F.col("text")).alias("__toks"))
    arr = toks.select(
        "doc_id", word_shingles(F.col("__toks"), k=3).alias("__sh")
    )
    shd = (
        arr.select(
            "doc_id",
            F.size("__sh").alias("n"),
            F.explode_outer("__sh").alias("shingle"),
        )
        .where(F.col("shingle").isNotNull())
    )
    sa = shd.select(
        F.col("doc_id").alias("id_a"), "shingle", F.col("n").alias("na")
    )
    sb = shd.select(
        F.col("doc_id").alias("id_b"), "shingle", F.col("n").alias("nb")
    )
    inter = (
        cand.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("nc"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    true_j = F.coalesce(
        F.col("nc") / (F.col("na") + F.col("nb") - F.col("nc")).cast("double"),
        F.lit(0.0),
    )
    est_bp = F.round(F.col("est_jaccard") * 10000, 0).cast("int")
    true_bp = F.round(true_j * 10000, 0).cast("int")
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(true_j, 4).alias("true_jaccard"),
            F.abs(est_bp - true_bp).cast("int").alias("err_bp"),
        )
    )


_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
)


@register(
    "simhash",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ), hashed AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
    ), votes AS (
        SELECT doc_id, {_SIMHASH_VOTES} FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM votes
    """,
)
def simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — 60-bit SimHash per document: explode tokens, 60
    conditional-sum bit votes in one aggregate (map-side combinable),
    reassemble. Near-dup detection then compares hamming distance on
    the single long — done downstream by XOR + bit_count."""
    return simhash(
        table(spark, sf_dir, "documents", fan_out=True), id_col="doc_id", text_col="text"
    )


# ---------------------------------------------------------------- C7b
_HAM_D = 3  # max hamming distance
_HAM_BLOCKS = _HAM_D + 1  # pigeonhole: ≤3 flipped bits → 1 of 4 blocks intact
_HAM_BLOCK_BITS = SIMHASH_BITS // _HAM_BLOCKS  # 60/4 = 15


@register(
    "simhash_near_dup",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ), hashed AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
    ), votes AS (
        SELECT doc_id, {_SIMHASH_VOTES} FROM hashed GROUP BY doc_id
    ), sh AS (
        SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM votes
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAM_D}
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7b — SimHash near-duplicate pairs (hamming ≤ 3), the Manku/
    Jain/Das Sarma WWW'07 web-dedup design, EXACT despite blocking:
    split the 60-bit fingerprint into 4 15-bit blocks; by pigeonhole a
    pair differing in ≤ 3 bit positions has at least one block
    identical, so an equi-join per block finds every qualifying pair
    (completeness guaranteed, not probabilistic), and an XOR+popcount
    verifies each candidate. The oracle brute-forces all O(n²) pairs —
    feasible at test scale only — while the Spark plan's pair space is
    bounded by per-block bucket sizes, the property that holds at
    100 TB. Candidates found via several blocks dedupe in the
    final DISTINCT (bounded: ≤ 4 copies of each true pair)."""
    sh = simhash(
        table(spark, sf_dir, "documents", fan_out=True), id_col="doc_id", text_col="text"
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(
                    F.col("simhash"), i * _HAM_BLOCK_BITS
                ).bitwiseAND(F.lit((1 << _HAM_BLOCK_BITS) - 1)).alias("val"),
            )
            for i in range(_HAM_BLOCKS)
        ]
    )
    keyed = sh.select(
        "doc_id", "simhash", F.explode(blocks).alias("b")
    ).select("doc_id", "simhash", "b.blk", "b.val")
    a = keyed.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sh_a"),
        "blk",
        "val",
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sh_b"),
        "blk",
        "val",
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["blk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(ham <= _HAM_D)
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
    )


@register(
    "dedup_keep_best",
    oracle="""
    SELECT fingerprint, doc_id AS keep_id, n_dupes
    FROM (
        SELECT md5(lower(trim(text))) AS fingerprint,
               doc_id,
               count(*)  OVER (PARTITION BY md5(lower(trim(text)))) AS n_dupes,
               row_number() OVER (
                   PARTITION BY md5(lower(trim(text)))
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM documents
    ) t
    WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C28 — dedup keeping the BEST representative, not the first:
    production corpus dedup keeps the longest/highest-quality copy of
    each duplicate group (case/whitespace variants collapse under the
    shared normalization). Where C4 takes min(id), this is an
    algebraic ``max_by`` over a (quality, -id) ordering struct — still
    one map-side-combinable aggregate, no window sort, no second pass;
    the oracle's window formulation is the O(n log n) shape this
    avoids."""
    docs = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
            ).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


# ---------------------------------------------------------------- C47
@register(
    "lang_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS declared_lang,
               CASE WHEN len(w) = 1 AND w[1] = '' THEN 0
                    ELSE len(w) END AS n_tokens,
               {", ".join(f"{_hits(LANG_STOPWORDS[lang])} AS h_{lang}" for lang in LANGS)}
        FROM (SELECT doc_id, lang, {_TOKS} AS w FROM documents)
    ),
    pred AS (
        SELECT declared_lang, {_LANG_CASE_SQL} AS pred_lang FROM scored
    ),
    cells AS (
        SELECT declared_lang, pred_lang, count(*) AS n_docs
        FROM pred GROUP BY 1, 2
    )
    SELECT declared_lang, pred_lang, n_docs,
           CAST(floor((2 * 10000 * n_docs
                       + sum(n_docs) OVER (PARTITION BY declared_lang))
                      / (2.0 * sum(n_docs) OVER (PARTITION BY declared_lang)))
                AS BIGINT) AS share_bp
    FROM cells
    """,
)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C47 — language-ID confusion matrix: declared vs C2-predicted
    language, cell counts plus each cell's share of its declared-lang
    row in integer BASIS POINTS (the micro-unit HALF_UP form — a
    ratio of small counts is exactly where engine round() half-boundary
    divergence bites). The classifier-evaluation harness as a query:
    reuses C2's scoring verbatim, collapses to the |langs|² matrix
    before any window, so evaluation cost is the classifier pass
    itself. At 100 TB the matrix is still ≤ (|langs|+1)² rows."""
    from pyspark.sql import Window

    cells = (
        lang_id(spark, sf_dir)
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = F.sum("n_docs").over(Window.partitionBy("declared_lang"))
    return cells.select(
        "declared_lang",
        "pred_lang",
        "n_docs",
        F.floor(
            (2 * 10000 * F.col("n_docs") + tot) / (2.0 * tot)
        ).cast("long").alias("share_bp"),
    )


# ---------------------------------------------------------------- C61
_SWEEP_SETTINGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows/band), b*r = 16
_SWEEP_CAP = 8  # hot-band bucket cap for the capped counters
# SQL twin of the per-bucket member hash operators/dedup._cap_buckets
# ranks by in operators/ranking.salted_topk_per_group
_CAP_HASH_SQL = (
    "'lshcap:' || CAST(band_id AS VARCHAR) || ':'"
    " || CAST(band_hash AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)"
)


def _lsh_sweep_oracle() -> str:
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        oracle_hash31,
        oracle_hash60,
        oracle_universal_hash,
        universal_family,
    )

    fam = universal_family(NUM_MINHASHES)
    arms = " ".join(
        f"WHEN s = {i} THEN min({oracle_universal_hash('h31', a, b)})"
        for i, (a, b) in enumerate(fam)
    )
    settings = ", ".join(f"({b}, {r})" for b, r in _SWEEP_SETTINGS)
    band_str = "string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)"
    return rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        FROM documents
    ), shd AS (
        SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
        FROM toks, UNNEST(range(greatest(len(w) - 2, 0))) AS t(i)
    ), hashed AS (
        SELECT doc_id, {oracle_hash31('shingle')} AS h31 FROM shd
    ), sig AS (
        SELECT doc_id, s AS seed, CASE {arms} END AS mh
        FROM hashed, UNNEST(range({NUM_MINHASHES})) AS u(s)
        GROUP BY doc_id, s
    ), settings AS (
        SELECT * FROM (VALUES {settings}) AS v(bands, rows_per_band)
    ), banded AS (
        SELECT st.bands, doc_id, seed // st.rows_per_band AS band_id,
               {oracle_hash60(band_str)} AS band_hash
        FROM sig CROSS JOIN settings st
        GROUP BY st.bands, doc_id, seed // st.rows_per_band
    ), cand AS (
        SELECT DISTINCT a.bands, a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.bands = b.bands AND a.band_id = b.band_id
                     AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id
    ), ranked AS (
        SELECT bands, doc_id, band_id, band_hash,
               row_number() OVER (
                   PARTITION BY bands, band_id, band_hash
                   ORDER BY {oracle_hash31(_CAP_HASH_SQL)}, doc_id
               ) AS rn
        FROM banded
    ), kept AS (
        SELECT bands, doc_id, band_id, band_hash
        FROM ranked WHERE rn <= {_SWEEP_CAP}
    ), candc AS (
        SELECT DISTINCT a.bands, a.doc_id AS id_a, b.doc_id AS id_b
        FROM kept a
        JOIN kept b ON a.bands = b.bands AND a.band_id = b.band_id
                   AND a.band_hash = b.band_hash
                   AND a.doc_id < b.doc_id
    ), cnts AS (
        SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM shd a JOIN shd b
          ON b.shingle = a.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), truth AS (
        SELECT i.id_a, i.id_b
        FROM inter i JOIN cnts ca ON ca.doc_id = i.id_a
                     JOIN cnts cb ON cb.doc_id = i.id_b
        WHERE 2 * i.c >= ca.n + cb.n - i.c
    ), nt AS (SELECT count(*) AS n_truth FROM truth),
    per AS (
        SELECT c.bands,
               count(*) AS n_candidates,
               sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_hits
        FROM cand c LEFT JOIN truth t
          ON t.id_a = c.id_a AND t.id_b = c.id_b
        GROUP BY c.bands
    ),
    perc AS (
        SELECT c.bands,
               count(*) AS n_capped,
               sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_hits_capped
        FROM candc c LEFT JOIN truth t
          ON t.id_a = c.id_a AND t.id_b = c.id_b
        GROUP BY c.bands
    )
    SELECT s.bands, s.rows_per_band,
           CAST(coalesce(p.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(nt.n_truth AS BIGINT) AS n_truth,
           CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(CASE WHEN coalesce(p.n_candidates, 0) = 0 THEN 0
                ELSE coalesce(p.n_hits, 0) * 10000 // p.n_candidates
                END AS BIGINT) AS precision_bp,
           CAST(CASE WHEN nt.n_truth = 0 THEN 0
                ELSE coalesce(p.n_hits, 0) * 10000 // nt.n_truth
                END AS BIGINT) AS recall_bp,
           CAST(coalesce(pc.n_capped, 0) AS BIGINT)
               AS n_candidates_capped,
           CAST(coalesce(p.n_candidates, 0) - coalesce(pc.n_capped, 0)
                AS BIGINT) AS n_evicted_pairs,
           CAST(CASE WHEN nt.n_truth = 0 THEN 0
                ELSE coalesce(pc.n_hits_capped, 0) * 10000 // nt.n_truth
                END AS BIGINT) AS recall_capped_bp
    FROM settings s LEFT JOIN per p ON p.bands = s.bands
    LEFT JOIN perc pc ON pc.bands = s.bands CROSS JOIN nt
    """


@register("lsh_param_sweep", oracle=_lsh_sweep_oracle())
def lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C61 — the LSH banding dial: candidate volume, precision, and
    recall of three (bands x rows) settings of the SAME 16 MinHash
    signatures — (2x8) strict, (4x4) the C6 default, (8x2) loose —
    against ground truth (3-shingle Jaccard >= 0.5, decided by the
    INTEGER inequality 2c >= |A|+|B|-c, so the truth set is exact in
    both engines). The S-curve P(candidate) = 1-(1-J^r)^b is theory;
    this query is the measurement a 100 TB dedup run tunes against —
    loose banding buys recall with candidate volume (= verification
    cost), strict banding the reverse.

    Each setting additionally reports the HOT-BAND CAP counters
    (bucket cap 8): capped candidate volume, evicted-pair count, and
    capped recall. The cap is the guard the 100x replicate sweep
    motivated — one dominant boilerplate token collapses thousands of
    docs into a single band pigeonhole and C(n,2) pairs land in ONE
    task; with the cap every bucket contributes at most C(8,2) pairs
    (deterministic per-bucket hash selection, salted two-stage — see
    operators/dedup.lsh_candidate_pairs). Surfacing evicted pairs IN
    the dial means the recall cost of the cap is measured, never
    silent.

    Shape: ONE signature computation (persisted — six consumers,
    the measured-pays regime) feeds ONE banded self-join per branch
    (round 10; was one self-join + dedup pipeline per setting per
    branch = six): all three (bands × rows) slicings of the same 16
    signature positions are emitted in a single 14-struct explode —
    (2+4+8) band rows per doc, each tagged with its ``bands`` setting
    — and the join/dedup keys gain that ``bands`` column, which is
    value-identical to running the settings independently (band rows
    of different settings never share a key). Shuffle keys stay
    (bands, band_id, band_hash) — pair volume bounded by bucket width
    per setting (by C(cap,2) on the capped side), never corpus².
    Truth rides the C5 shingle equi-join (only co-occurring docs
    meet). The report joins from the 3-row settings relation so a
    zero-candidate setting still reports its row; rates are exact
    integer basis points."""
    from spotify_podcasts_airflow_batch_spark.functions.hashing import (
        md5_hash60,
    )

    d = table(spark, sf_dir, "documents", fan_out=True)
    sig = minhash_signatures(d, id_col="doc_id", text_col="text").persist()
    # one row per doc per (setting, band): same band_hash derivation
    # as operators.dedup._banded, all settings in one explode
    band_structs = []
    for bands, rows_ in _SWEEP_SETTINGS:
        for b in range(bands):
            members = [
                F.col(f"h{b * rows_ + r}").cast("string")
                for r in range(rows_)
            ]
            band_structs.append(
                F.struct(
                    F.lit(bands).alias("bands"),
                    F.lit(b).alias("band_id"),
                    md5_hash60(F.concat_ws(",", *members)).alias(
                        "band_hash"
                    ),
                )
            )
    banded = sig.select(
        F.col("doc_id"), F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.bands", "band.band_id", "band.band_hash")

    def _pairs(bnd) -> DataFrame:
        a, b = bnd.alias("a"), bnd.alias("b")
        return (
            a.join(
                b,
                (F.col("a.bands") == F.col("b.bands"))
                & (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.bands").alias("bands"),
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .dropDuplicates(["bands", "id_a", "id_b"])
        )

    cand = _pairs(banded)
    # the capped side: _cap_buckets with the ``bands`` setting added to
    # the bucket key (buckets of different settings never mix), while
    # the per-bucket selection hash stays the byte-identical
    # md5_31('lshcap:'||band_id||':'||band_hash||':'||id) — so each
    # setting's kept members equal the per-setting capped plan's
    candc = _pairs(_cap_buckets(banded, "doc_id", _SWEEP_CAP, ("bands",)))
    from spotify_podcasts_airflow_batch_spark.operators.dedup import (
        _shingle_pair_counts,
    )

    truth = (
        _shingle_pair_counts(
            table(spark, sf_dir, "documents", fan_out=True),
            "doc_id",
            "text",
            block_cols=[],
            shingle_k=3,
        )
        .where(2 * F.col("c") >= F.col("na") + F.col("nb") - F.col("c"))
        .select("id_a", "id_b")
    )
    # truth is consumed three times (nt, per, perc) with NO persist:
    # the static plan prints the shingle self-join per consumer (6 of
    # the 7 documents scans in plans/r11/lsh_param_sweep_before.txt),
    # but runtime stage reuse dedups the identical exchanges — a
    # persist here was re-A/B'd under the round-10 fused shape in
    # round 11 (interleaved, 5 windows × 3 passes) and LOST in 4 of 5
    # windows (old per-window minima 4.8-5.9 s vs new 6.1-9.8 s): the
    # barrier serializes three consumers the scheduler otherwise
    # overlaps, the same independent-stage-overlap loss as the r10
    # opq_recall fusion. Matches the round-9 pre-fusion A/B verdict
    # (8.07 s vs 7.35 s). Do not re-try without new evidence that the
    # exchange reuse stopped firing.
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    truth_t = truth.withColumn("__t", F.lit(1))
    per = (
        cand.join(truth_t, ["id_a", "id_b"], "left")
        .groupBy("bands")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce(F.col("__t"), F.lit(0))).alias("n_hits"),
        )
    )
    perc = (
        candc.join(truth_t, ["id_a", "id_b"], "left")
        .groupBy("bands")
        .agg(
            F.count(F.lit(1)).alias("n_capped"),
            F.sum(F.coalesce(F.col("__t"), F.lit(0))).alias(
                "n_hits_capped"
            ),
        )
    )
    settings = spark.createDataFrame(
        list(_SWEEP_SETTINGS), "bands int, rows_per_band int"
    )
    return (
        settings.join(F.broadcast(per), "bands", "left")
        .join(F.broadcast(perc), "bands", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.expr(
                "CASE WHEN coalesce(n_candidates, 0) = 0 THEN 0"
                " ELSE coalesce(n_hits, 0) * 10000 div n_candidates END"
            ).alias("precision_bp"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN 0"
                " ELSE coalesce(n_hits, 0) * 10000 div n_truth END"
            ).alias("recall_bp"),
            F.coalesce("n_capped", F.lit(0)).alias("n_candidates_capped"),
            (
                F.coalesce("n_candidates", F.lit(0))
                - F.coalesce("n_capped", F.lit(0))
            ).alias("n_evicted_pairs"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN 0"
                " ELSE coalesce(n_hits_capped, 0) * 10000 div n_truth END"
            ).alias("recall_capped_bp"),
        )
    )


# ---------------------------------------------------------------- C62
@register(
    "dup_cluster_histogram",
    oracle="""
    WITH fp AS (
        SELECT md5(lower(trim(text))) AS h, count(*) AS n
        FROM documents GROUP BY 1
    )
    SELECT n AS cluster_size,
           count(*) AS n_clusters,
           CAST(n * count(*) AS BIGINT) AS n_docs
    FROM fp GROUP BY n
    """,
)
def dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C62 — duplicate-cluster size distribution: how many exact-dup
    clusters exist at each size, and how many documents they hold.
    THE corpus-health chart for dedup planning: a long tail of big
    clusters means hot boilerplate (and quadratic near-dup pair volume
    — the §6 replicate-methodology finding made measurable), while
    mass at size 1 bounds what dedup can save. Two map-side-combinable
    aggregates (fingerprint rollup, then size rollup over
    cluster-count-sized data); no joins, no windows."""
    d = table(spark, sf_dir, "documents")
    fp = d.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    return fp.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("long")
        .alias("n_docs"),
    )


# ---------------------------------------------------------------- C70
@register(
    "dedup_survivorship_audit",
    oracle="""
    WITH fp AS (
        SELECT md5(lower(trim(text))) AS fingerprint, doc_id, n_chars
        FROM documents
    ),
    ranked AS (
        SELECT fingerprint, doc_id,
               row_number() OVER (
                   PARTITION BY fingerprint
                   ORDER BY n_chars DESC, doc_id) AS rl
        FROM fp
    ),
    agg AS (
        SELECT fingerprint,
               CAST(count(*) AS BIGINT) AS n_dupes,
               min(doc_id) AS keep_first_id,
               max(doc_id) AS keep_last_id,
               min(CASE WHEN rl = 1 THEN doc_id END) AS keep_longest_id
        FROM ranked GROUP BY fingerprint
        HAVING count(*) > 1
    )
    SELECT fingerprint, n_dupes, keep_first_id, keep_last_id,
           keep_longest_id,
           CAST(1 + CASE WHEN keep_last_id <> keep_first_id
                         THEN 1 ELSE 0 END
                  + CASE WHEN keep_longest_id <> keep_first_id
                          AND keep_longest_id <> keep_last_id
                         THEN 1 ELSE 0 END AS INT) AS n_distinct_keepers
    FROM agg
    """,
)
def dedup_survivorship_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C70 — survivorship-policy divergence audit over duplicate
    clusters: for every C4-style cluster (normalized-content md5,
    size > 1), the keeper under keep-FIRST (min id — reproducible
    ingest order), keep-LAST (max id — freshest crawl), and
    keep-LONGEST (the C28 quality proxy, ties to lowest id), plus how
    many distinct documents those policies pick. Curation reviews
    read this before switching dedup policy: clusters where
    n_distinct_keepers > 1 are exactly the rows a policy change
    rewrites. One map-side-combinable aggregate per cluster (min /
    max / max_by — no window, no second pass; the oracle's window
    formulation is the O(n log n) shape this avoids)."""
    docs = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    agg = (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min("doc_id").alias("keep_first_id"),
            F.max("doc_id").alias("keep_last_id"),
            F.max_by(
                "doc_id",
                F.struct(
                    F.col("n_chars"), (-F.col("doc_id")).alias("nid")
                ),
            ).alias("keep_longest_id"),
        )
        .where(F.col("n_dupes") > 1)
    )
    return agg.select(
        "fingerprint",
        "n_dupes",
        "keep_first_id",
        "keep_last_id",
        "keep_longest_id",
        (
            F.lit(1)
            + F.when(
                F.col("keep_last_id") != F.col("keep_first_id"), 1
            ).otherwise(0)
            + F.when(
                (F.col("keep_longest_id") != F.col("keep_first_id"))
                & (F.col("keep_longest_id") != F.col("keep_last_id")),
                1,
            ).otherwise(0)
        )
        .cast("int")
        .alias("n_distinct_keepers"),
    )
