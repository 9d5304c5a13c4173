"""LLM-training-data pipeline operators, part 4 (SURVEY.md §2
C39-C42, C45): per-domain quota capping, language-rebalancing
sampling, linear quality-model inference as columnar math, token-
budget epoch planning, and quantile normalization.

All are corpus-curation passes a 100 TB crawl pipeline runs
between ingest and tokenization (the reference's single-day pandas
transform generalized to corpus scale; cf.
``/root/reference/dags/spotify/include/spotify_eps.py:78-103`` for the
per-group cap/rank idiom these distribute). Every query is mirrored
bit-for-bit by a DuckDB oracle: hashes come from the shared md5
family, ratios stay rational (no transcendentals), and floats are
rounded before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.hashing import (
    md5_hash31,
    oracle_hash31,
    split_bucket,
)
from spotify_podcasts_airflow_batch_spark.functions.text import tokens
from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    capped_top_q,
    salted_topk_per_group,
)
from spotify_podcasts_airflow_batch_spark.plans.registry import register
from spotify_podcasts_airflow_batch_spark.sources.readers import table

# ---------------------------------------------------------------- C39
_QUOTA = 6  # max docs kept per (source, lang) group
_QUOTA_SALTS = 4  # first-stage fan-out for hot groups


@register(
    "domain_quota_cap",
    oracle=f"""
    SELECT doc_id, source, lang, n_chars
    FROM (
        SELECT doc_id, source, lang, n_chars,
               row_number() OVER (
                   PARTITION BY source, lang
                   ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= {_QUOTA}
    """,
)
def domain_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C39 — cap each (source, lang) group at the {quota} best documents
    (longest first, doc_id tiebreak): the per-domain quota every crawl
    pipeline applies so one hot domain can't dominate the corpus.

    Scale design: a naive row_number window sorts EVERY group, and at
    100 TB the hot domain's group lands on one task. Here only
    over-quota groups (found by a cheap count-aggregate, broadcast
    back) enter the window at all — within-quota groups pass through
    untouched — and the over-quota rows are first cut to a per-salt
    top-Q (salt = doc_id mod {salts}), so the final per-group sort sees
    at most {salts}×Q rows per group no matter how hot the domain is.
    The global top-Q is always contained in the union of per-salt
    top-Qs, so the two-stage cut is exact.
    """
    # persist: capped_top_q makes three passes over its input (the
    # over-quota group count, the anti join, the semi join) whose
    # lineages end in different exchanges — without it the documents
    # scan runs 4× (2 wide + 2 group-cols-only scans in the round-11
    # before-plan). The cached projection is 4 scalar columns.
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", "n_chars")
        .persist()
    )
    return capped_top_q(
        d,
        group_cols=("source", "lang"),
        order_by=[F.col("n_chars").desc(), F.col("doc_id")],
        quota=_QUOTA,
        salt_source=F.col("doc_id"),
        salts=_QUOTA_SALTS,
    ).select("doc_id", "source", "lang", "n_chars")


# ---------------------------------------------------------------- C40
_REBAL_HASH = oracle_hash31("'rebal:' || CAST(doc_id AS VARCHAR)")
_EN_KEEP, _OTHER_KEEP = 200, 600  # per-mille keep rates


@register(
    "rebalance_sample",
    oracle=f"""
    SELECT doc_id, lang, {_REBAL_HASH} % 1000 AS bucket
    FROM documents
    WHERE {_REBAL_HASH} % 1000 <
          CASE WHEN lang = 'en' THEN {_EN_KEEP} ELSE {_OTHER_KEEP} END
    """,
)
def rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C40 — language-rebalancing downsample: keep 20% of the dominant
    language and 60% of the rest (the CC-100 / CCNet move that stops
    English from drowning the mixture). Membership is a pure function
    of doc_id via the shared md5 hash family, so the sample is
    reproducible across engines, runs, and repartitionings — unlike a
    seeded ``sample()``, which changes with file order. One codegen
    projection + pushed filter; no shuffle at any scale."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        md5_hash31(F.concat(F.lit("rebal:"), F.col("doc_id").cast("string")))
        % 1000
    )
    keep = F.when(F.col("lang") == "en", _EN_KEEP).otherwise(_OTHER_KEEP)
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"), keep.alias("k"))
        .where(F.col("bucket") < F.col("k"))
        .drop("k")
    )


# ---------------------------------------------------------------- C41
# Offline-trained linear quality model: score = w·x over rational
# features (counts / counts), so Spark and DuckDB agree bit-for-bit —
# no exp/ln in the expression.
_W_BIAS, _W_LEN, _W_DIGIT, _W_PUNCT, _W_UPPER = -1.0, 0.8, -3.0, 1.5, -2.0


@register(
    "doc_quality_score",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) / 100.0 AS f_len,
               (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                   / CAST(length(text) AS DOUBLE) AS f_digit,
               (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                   / CAST(length(text) AS DOUBLE) AS f_punct,
               (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
                   / CAST(length(text) AS DOUBLE) AS f_upper
        FROM documents
        WHERE length(text) > 0
    )
    SELECT doc_id,
           round({_W_BIAS} + {_W_LEN} * f_len + {_W_DIGIT} * f_digit
                 + {_W_PUNCT} * f_punct + {_W_UPPER} * f_upper, 4) AS score,
           ({_W_BIAS} + {_W_LEN} * f_len + {_W_DIGIT} * f_digit
                 + {_W_PUNCT} * f_punct + {_W_UPPER} * f_upper) >= 0
               AS keep_doc
    FROM f
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C41 — quality-classifier inference as columnar math: a linear
    model (trained offline, weights frozen here) over cheap rational
    features — token count, digit/punct/uppercase character ratios.
    This is how a fastText-style quality filter runs at 100 TB: the
    model is a handful of multiply-adds per row inside whole-stage
    codegen, not a Python UDF. Features are ratios of integer counts
    (no ln/exp), so both engines compute identical doubles; regex char
    counts come from length-after-strip, one regexp_replace per class.
    Filter+projection only — no shuffle."""
    d = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    n = F.length("text").cast("double")

    def _class_count(pattern: str):
        return F.length("text") - F.length(
            F.regexp_replace(F.col("text"), pattern, "")
        )

    f_len = F.size(F.split(F.trim(F.col("text")), r"\s+")) / F.lit(100.0)
    f_digit = _class_count("[0-9]") / n
    f_punct = _class_count("[.,;:!?]") / n
    f_upper = _class_count("[A-Z]") / n
    z = (
        F.lit(_W_BIAS)
        + F.lit(_W_LEN) * f_len
        + F.lit(_W_DIGIT) * f_digit
        + F.lit(_W_PUNCT) * f_punct
        + F.lit(_W_UPPER) * f_upper
    )
    return d.select(
        "doc_id",
        F.round(z, 4).alias("score"),
        (z >= 0).alias("keep_doc"),
    )


# ---------------------------------------------------------------- C42
_TOKEN_BUDGET = 1_000_000  # total training tokens to draw
_MAX_EPOCHS = 4.0  # repetition ceiling per source


@register(
    "token_budget_epochs",
    oracle=f"""
    WITH per_src AS (
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                   AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source
    ),
    tot AS (SELECT count(*) AS n_sources FROM per_src)
    SELECT source, n_docs, n_tokens,
           round(least({_TOKEN_BUDGET} / n_sources / n_tokens,
                       {_MAX_EPOCHS}), 4) AS epochs,
           round(least({_TOKEN_BUDGET} / n_sources,
                       {_MAX_EPOCHS} * n_tokens), 2) AS planned_tokens
    FROM per_src, tot
    """,
)
def token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C42 — data-mixture epoch planning: given a total token budget
    split equally across sources, how many epochs of each source are
    drawn (capped at {max_epochs} repeats, the 'don't over-epoch small
    sources' rule from data-constrained scaling work). One shuffle to
    the per-source rollup (map-side combined token sums), then the
    budget arithmetic is a projection against the broadcast
    source-count scalar — the planning table stays |sources| rows no
    matter the corpus size. All math is rational (int counts and
    divisions), so both engines emit identical doubles."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("n_tokens"),
    )
    tot = per_src.agg(F.count(F.lit(1)).alias("n_sources"))
    share = F.lit(_TOKEN_BUDGET) / F.col("n_sources") / F.col("n_tokens")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.least(share, F.lit(_MAX_EPOCHS)), 4).alias("epochs"),
        F.round(
            F.least(
                F.lit(_TOKEN_BUDGET) / F.col("n_sources"),
                F.lit(_MAX_EPOCHS) * F.col("n_tokens"),
            ),
            2,
        ).alias("planned_tokens"),
    )


# ---------------------------------------------------------------- C45
@register(
    "quantile_normalize_length",
    oracle="""
    WITH g AS (
        SELECT list(n_chars ORDER BY n_chars, doc_id) AS vals,
               count(*) AS n
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, n_chars,
               percent_rank() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
               ) AS p
        FROM documents
    )
    SELECT r.doc_id, r.source, r.n_chars,
           round(
               CAST(g.vals[CAST(floor((g.n - 1) * r.p) AS INT) + 1] AS DOUBLE)
               + ((g.n - 1) * r.p - floor((g.n - 1) * r.p))
                 * (CAST(g.vals[least(CAST(floor((g.n - 1) * r.p) AS INT) + 2,
                                      CAST(g.n AS INT))] AS DOUBLE)
                    - CAST(g.vals[CAST(floor((g.n - 1) * r.p) AS INT) + 1]
                           AS DOUBLE)),
               4) AS normalized_len
    FROM r, g
    """,
)
def quantile_normalize_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C45 — quantile normalization (batch-effect correction): each
    document's length is replaced by the GLOBAL length distribution's
    value at the document's within-source percentile, so sources with
    systematically long/short docs become comparable — the
    genomics-style rank-map applied to corpus mixing.

    Shape: one per-source window for percent_rank (tie-broken on
    doc_id), the global sorted value array built once and broadcast,
    then a pure projection interpolating a + f·(b−a) — written with
    the IDENTICAL operation order in the oracle so both engines emit
    the same doubles (the interpolation-formula ulp trap). Exact
    global order statistics are driver-sized here; at 100 TB the
    array becomes an approx-percentile grid (t-digest, mergeable) and
    the lookup an interpolation over grid points — plan unchanged."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    g = d.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("n_chars", "doc_id"))),
            lambda s: s["n_chars"],
        ).alias("vals"),
        F.count(F.lit(1)).alias("n"),
    )
    from pyspark.sql import Window

    p = F.percent_rank().over(
        Window.partitionBy("source").orderBy("n_chars", "doc_id")
    )
    r = d.select("doc_id", "source", "n_chars", p.alias("p"))
    pos = (F.col("n") - 1) * F.col("p")
    idx = F.floor(pos).cast("int")
    f = pos - F.floor(pos)
    lo = F.element_at(F.col("vals"), idx + 1).cast("double")
    hi = F.element_at(
        F.col("vals"), F.least(idx + 2, F.col("n").cast("int"))
    ).cast("double")
    return r.crossJoin(F.broadcast(g)).select(
        "doc_id",
        "source",
        "n_chars",
        F.round(lo + f * (hi - lo), 4).alias("normalized_len"),
    )


# ---------------------------------------------------------------- C45b
_QNORM_GRID = 64  # percentile-grid size (fixed, corpus-independent)


@register(
    "quantile_normalize_grid",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    cnt AS (SELECT n_chars AS v, count(*) AS c FROM documents
            GROUP BY n_chars),
    cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM cnt),
    gi AS (SELECT unnest(range({_QNORM_GRID})) AS i),
    gidx AS (SELECT gi.i, (n.n - 1) * gi.i // {_QNORM_GRID - 1} AS pos
             FROM gi, n),
    grid AS (
        SELECT g.i, min(c.v) AS gv
        FROM gidx g JOIN cum c ON c.cum > g.pos
        GROUP BY g.i
    ),
    r AS (
        SELECT doc_id, source, n_chars,
               percent_rank() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS p
        FROM documents
    )
    SELECT r.doc_id, r.source, r.n_chars,
           round(CAST(lo.gv AS DOUBLE)
                 + (r.p * {_QNORM_GRID - 1}
                    - floor(r.p * {_QNORM_GRID - 1}))
                   * (CAST(hi.gv AS DOUBLE) - CAST(lo.gv AS DOUBLE)),
                 4) AS normalized_len
    FROM r
    JOIN grid lo
      ON lo.i = CAST(floor(r.p * {_QNORM_GRID - 1}) AS INT)
    JOIN grid hi
      ON hi.i = least(CAST(floor(r.p * {_QNORM_GRID - 1}) AS INT) + 1,
                      {_QNORM_GRID - 1})
    """,
)
def quantile_normalize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C45b — quantile normalization through a FIXED-SIZE percentile
    grid: the 100 TB path C45's docstring promised. C45 materializes
    the full global sorted array (driver state = corpus size — fine at
    test SF, impossible at scale); this variant contracts the global
    distribution to {_QNORM_GRID} EXACT order statistics and
    interpolates each document's within-source percentile onto that
    grid, so driver/broadcast state is {_QNORM_GRID} values at ANY
    corpus size.

    The grid stays exact (not t-digest-approximate) by exploiting
    n_chars being a discrete column: a groupBy(n_chars) count shuffles
    only DISTINCT values, a cumulative sum over that value histogram
    locates the order statistic at grid index i = floor((n−1)·i/(G−1))
    as the smallest value whose cumulative count exceeds it — all
    integer logic, identical on both engines (the same
    equi-depth-histogram contraction as E18). The per-doc lookup is
    the C45 interpolation written with the identical operation order
    (lo + f·(hi−lo)), so both engines emit the same doubles. Shuffles:
    one distinct-value histogram + one per-source window over the
    fact — the full-array collect is gone."""
    from pyspark.sql import Window

    # persist: the narrow projection feeds three consumers whose
    # lineages end in different exchanges (the corpus-count broadcast,
    # the distinct-value histogram, and the per-source window), so
    # without it the documents scan runs 3× (round-11 before-plan).
    # The cached rows are 3 scalar columns.
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .persist()
    )
    nrow = d.groupBy().agg(F.count(F.lit(1)).alias("n"))
    cnt = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    # cumulative count over the DISTINCT-value histogram: the one
    # single-partition window, sized by distinct values, not rows
    wcum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cnt.select(
        F.col("n_chars").alias("v"), F.sum("c").over(wcum).alias("cum")
    )
    gi = spark.range(_QNORM_GRID).select(F.col("id").cast("int").alias("i"))
    gidx = gi.crossJoin(F.broadcast(nrow)).select(
        "i",
        F.expr(f"(n - 1) * i div {_QNORM_GRID - 1}").alias("pos"),
    )
    grid = (
        F.broadcast(gidx)
        .join(cum, F.col("cum") > F.col("pos"))
        .groupBy("i")
        .agg(F.min("v").alias("gv"))
    )
    garr = grid.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "gv"))),
            lambda s: s["gv"],
        ).alias("gvals")
    )
    p = F.percent_rank().over(
        Window.partitionBy("source").orderBy("n_chars", "doc_id")
    )
    r = d.select("doc_id", "source", "n_chars", p.alias("p"))
    pos = F.col("p") * F.lit(_QNORM_GRID - 1)
    i0 = F.floor(pos).cast("int")
    frac = pos - F.floor(pos)
    lo = F.element_at(F.col("gvals"), i0 + 1).cast("double")
    hi = F.element_at(
        F.col("gvals"), F.least(i0 + 2, F.lit(_QNORM_GRID))
    ).cast("double")
    return r.crossJoin(F.broadcast(garr)).select(
        "doc_id",
        "source",
        "n_chars",
        F.round(lo + frac * (hi - lo), 4).alias("normalized_len"),
    )


# ---------------------------------------------------------------- C46
_HELDOUT_HASH = oracle_hash31("'split:' || CAST(doc_id AS VARCHAR)")


@register(
    "heldout_logprob",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, {_HELDOUT_HASH} % 100 AS bucket
        FROM documents WHERE length(trim(text)) > 0
    ),
    tr AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM d WHERE bucket < 80
    ),
    uc AS (SELECT tok, count(*) AS c FROM tr GROUP BY tok),
    nv AS (
        SELECT count(*) AS n_train,
               count(DISTINCT tok) AS vocab
        FROM tr
    ),
    val_toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM d WHERE bucket >= 80 AND bucket < 90
    )
    SELECT v.doc_id,
           count(*) AS n_tokens,
           round(avg(ln((coalesce(uc.c, 0) + 1.0)
                        / (nv.n_train + nv.vocab))), 4) + 0 AS avg_logprob
    FROM val_toks v
    LEFT JOIN uc USING (tok)
    CROSS JOIN nv
    GROUP BY v.doc_id
    """,
)
def heldout_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C46 — PROPER held-out LM evaluation: the unigram model is fit on
    the TRAIN split only (C13's hash buckets < 80) and scores the VAL
    split (80-89) with add-1 smoothing over the train vocabulary —
    unseen tokens get ln(1/(N+V)), not a free pass. The methodological
    upgrade of C31 (which scores the corpus under its own
    distribution — optimistic by construction); the spread between the
    two is a leakage meter. Plan: train-token rollup (map-side
    combined) + scalar (N, V) broadcast, LEFT join from val tokens so
    OOV survives, one shuffle per aggregate. Split membership is the
    same engine-portable hash as C13 — no data moves to form the
    split."""
    d = table(spark, sf_dir, "documents").where(
        F.length(F.trim(F.col("text"))) > 0
    )
    bucket = split_bucket(F.col("doc_id"))
    from spotify_podcasts_airflow_batch_spark.functions.text import tokens

    d = d.select("doc_id", "text", bucket.alias("bucket"))
    tr = d.where(F.col("bucket") < 80).select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    uc = tr.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nv = tr.agg(
        F.count(F.lit(1)).alias("n_train"),
        F.count_distinct("tok").alias("vocab"),
    )
    val_toks = d.where((F.col("bucket") >= 80) & (F.col("bucket") < 90)).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    lp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
        / (F.col("n_train") + F.col("vocab"))
    )
    return (
        val_toks.join(F.broadcast(uc), "tok", "left")
        .crossJoin(F.broadcast(nv))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.round(F.avg(lp), 4) + F.lit(0.0)).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------- C49
# Target output-file size for the write plan. Testdata-scaled (256 KiB)
# so the plan is non-trivial at sf0.01; production uses 128 MiB-1 GiB —
# the formula is scale-free.
_FILE_TARGET_BYTES = 256 * 1024


@register(
    "output_file_plan",
    oracle=f"""
    WITH p AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS est_bytes
        FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, est_bytes,
           CAST((est_bytes + {_FILE_TARGET_BYTES - 1})
                // {_FILE_TARGET_BYTES} AS BIGINT) AS n_files,
           CAST((n_docs + (est_bytes + {_FILE_TARGET_BYTES - 1})
                          // {_FILE_TARGET_BYTES} - 1)
                // ((est_bytes + {_FILE_TARGET_BYTES - 1})
                    // {_FILE_TARGET_BYTES}) AS BIGINT) AS rows_per_file
    FROM p
    """,
)
def output_file_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C49 — write planning: per output partition (lang), the file
    count and rows-per-file that hit a target file size. THE
    operational lever at 100 TB: unplanned writes produce either
    thousands of KB-files (metadata death for every later reader) or
    multi-GB files (no scan parallelism). The per-partition byte
    estimate comes from the same rollup a writer's
    ``repartitionByRange(n_files, key)`` needs, so this query IS the
    planning step of `sinks` writes, expressed as data.

    Pure integer ceiling divisions (``(b + T-1) // T``) — exact on
    both engines, no float file counts. One map-side-combined rollup;
    |langs| rows out."""
    d = table(spark, sf_dir, "documents")
    p = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("est_bytes"),
    )
    t = F.lit(_FILE_TARGET_BYTES)
    n_files = F.floor((F.col("est_bytes") + t - 1) / t).cast("long")
    return p.select(
        "lang",
        "n_docs",
        "est_bytes",
        n_files.alias("n_files"),
        # try_divide ≡ DuckDB NULL-on-zero: an all-blank partition
        # estimates 0 bytes → 0 files → NULL rows_per_file
        F.floor(F.try_divide(F.col("n_docs") + n_files - 1, n_files))
        .cast("long")
        .alias("rows_per_file"),
    )


# ---------------------------------------------------------------- C52
_TSPLIT_CUT = "2024-01-16 00:00:00"


@register(
    "temporal_split_audit",
    oracle=f"""
    WITH s AS (
        SELECT user_id, event_id,
               CASE WHEN ts < TIMESTAMP '{_TSPLIT_CUT}'
                    THEN 'train' ELSE 'test' END AS split
        FROM events
    ),
    per AS (
        SELECT split, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM s GROUP BY split
    ),
    ov AS (
        SELECT count(*) AS n_overlap_users FROM (
            SELECT user_id FROM s GROUP BY user_id
            HAVING count(DISTINCT split) = 2
        )
    )
    SELECT per.split, per.n_events, per.n_users, ov.n_overlap_users
    FROM per, ov
    """,
)
def temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C52 — time-based train/test split with a leakage meter: events
    before the cutoff train, after it test, and the audit reports how
    many users appear on BOTH sides (the entity-overlap number that
    decides whether a temporal split leaks user-level signal — the
    evaluation sibling of C16's n-gram contamination screen).

    Two rollups over one scan lineage: per-split counts (map-side
    combined) and a per-user distinct-split count whose shuffle is
    |users| rows; the overlap scalar broadcast-crosses back onto the
    2-row split table. Pure integers; the timestamp literal is parsed
    under the UTC session the loader pins."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.when(
            F.col("ts") < F.lit(_TSPLIT_CUT).cast("timestamp"), "train"
        )
        .otherwise("test")
        .alias("split"),
    )
    per = ev.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    ov = (
        ev.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") == 2)
        .agg(F.count(F.lit(1)).alias("n_overlap_users"))
    )
    return per.crossJoin(F.broadcast(ov)).select(
        "split", "n_events", "n_users", "n_overlap_users"
    )


# ---------------------------------------------------------------- C57
_DSIR_B = 1024  # hashed feature buckets
_DSIR_TARGET = "src0"  # trusted target domain
_DSIR_K = 200  # docs resampled from the raw pool

_DSIR_H31 = oracle_hash31("bg")
_DSIR_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id, source,
               string_split_regex(trim(text), '\s+') AS w
        FROM documents WHERE length(trim(text)) > 0
    ), bgs AS (
        SELECT doc_id, source,
               array_to_string(w[i+1:i+2], ' ') AS bg
        FROM toks, UNNEST(range(greatest(len(w) - 1, 0))) AS t(i)
    ), feats AS (
        SELECT doc_id, source, {_DSIR_H31} % {_DSIR_B} AS bucket,
               count(*) AS c
        FROM bgs GROUP BY doc_id, source, bucket
    ), ct AS (
        SELECT bucket, sum(c) AS n FROM feats
        WHERE source = '{_DSIR_TARGET}' GROUP BY bucket
    ), cr AS (
        SELECT bucket, sum(c) AS n FROM feats
        WHERE source <> '{_DSIR_TARGET}' GROUP BY bucket
    ), tots AS (
        SELECT (SELECT coalesce(sum(n), 0) FROM ct) AS tt,
               (SELECT coalesce(sum(n), 0) FROM cr) AS tr
    ), lam AS (
        SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
               CAST(round((ln((coalesce(ct.n, 0) + 1.0)
                               / (tots.tt + {_DSIR_B}))
                           - ln((coalesce(cr.n, 0) + 1.0)
                                 / (tots.tr + {_DSIR_B}))) * 1e6, 0)
                    AS BIGINT) AS lam_u
        FROM ct FULL OUTER JOIN cr USING (bucket) CROSS JOIN tots
    ), scored AS (
        SELECT f.doc_id,
               sum(f.c) AS n_feats,
               sum(f.c * lam.lam_u) AS score_u
        FROM feats f JOIN lam USING (bucket)
        WHERE f.source <> '{_DSIR_TARGET}'
        GROUP BY f.doc_id
    )
    SELECT s.doc_id, d.source, d.lang,
           CAST(s.n_feats AS BIGINT) AS n_feats,
           round(s.score_u / 1e6, 6) + 0 AS score
    FROM scored s JOIN documents d USING (doc_id)
    ORDER BY s.score_u DESC, s.doc_id
    LIMIT {_DSIR_K}
"""


@register("dsir_resample", oracle=_DSIR_ORACLE)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C57 — DSIR-style data selection (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw-pool document by its hashed-bigram importance weight
    under a trusted target domain, and keep the top K.

    Features are bigrams hashed into 1024 buckets with the shared md5
    31-bit family; the target ('src0') and raw-pool bucket
    distributions get add-1 smoothing, and a document's log-importance
    is sum_i c_i * (ln p_target(i) - ln p_raw(i)). The per-bucket
    log-ratio is rounded to integer MICRO-UNITS once (a <=1024-row
    broadcast table), so each doc's score is an exact BIGINT dot
    product — order-independent under Spark's parallel aggregation,
    bit-equal to the oracle's serial sum (the established
    integer-units discipline; ln()'s last-ulp wobble is absorbed by
    the 1e-6 quantization). The paper's Gumbel-perturbed sampling is
    one hash away (see C36 ``weighted_sample`` for the catalog's
    hash-Gumbel idiom); the deterministic top-K form keeps the oracle
    strict.

    Scale shape for 100 TB: one corpus tokenize+explode feeds the
    (doc, bucket) rollup — the only fact-sized shuffle; both
    distribution vectors and the lambda table are bucket-dimensional
    (<= 1024 rows, broadcast); scoring is a broadcast join + map-side
    combinable sum; the final K rows come from TakeOrdered (no global
    sort), and source/lang re-attach via a K-row broadcast join.
    Docs with <2 tokens have no features and are not scored (same on
    both engines by construction).
    """
    # fan_out: the bigram explode + md5 per shingle is the heavy-CPU
    # text-scan shape the byte-volume staging exists for (measured
    # 3.8 s -> 1.7 s cold at sf0.1 on the single-row-group testdata)
    d = table(spark, sf_dir, "documents", fan_out=True).where(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bigrams = (
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    bg = d.select(
        "doc_id", "source", F.explode(bigrams).alias("bg")
    )
    # persist: the (doc, bucket) rollup feeds BOTH distribution
    # vectors and the raw-pool scoring pass — three consumers whose
    # downstream exchanges differ, so physical/AQE stage reuse cannot
    # dedup them and each would re-run the bigram explode + md5 over
    # the corpus (round 10, guide §2.4: the before-plan re-scanned
    # documents 12 times / 26 Exchanges for ONE logical rollup)
    feats = (
        bg.select(
            "doc_id",
            "source",
            (md5_hash31(F.col("bg")) % _DSIR_B).alias("bucket"),
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    is_t = F.col("source") == _DSIR_TARGET
    # ONE bucket rollup for both distributions (was two separate
    # filtered groupBys): conditional sums give NULL for a side with
    # no rows in the bucket — exactly the pre-round-10 full_outer
    # join's NULL, so the add-1 smoothing sees identical inputs
    bcounts = feats.groupBy("bucket").agg(
        F.sum(F.when(is_t, F.col("c"))).alias("nt"),
        F.sum(F.when(~is_t, F.col("c"))).alias("nr"),
    )
    tots = bcounts.agg(
        F.coalesce(F.sum("nt"), F.lit(0)).alias("tt"),
        F.coalesce(F.sum("nr"), F.lit(0)).alias("tr"),
    )
    lam = (
        bcounts
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("nt"), F.lit(0)) + F.lit(1.0))
                        / (F.col("tt") + F.lit(_DSIR_B))
                    )
                    - F.log(
                        (F.coalesce(F.col("nr"), F.lit(0)) + F.lit(1.0))
                        / (F.col("tr") + F.lit(_DSIR_B))
                    )
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("lam_u"),
        )
    )
    scored = (
        feats.where(~is_t)
        .join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("lam_u")).alias("score_u"),
        )
        .orderBy(F.col("score_u").desc(), "doc_id")
        .limit(_DSIR_K)
    )
    return (
        F.broadcast(scored)
        .join(
            table(spark, sf_dir, "documents").select(
                "doc_id", "source", "lang"
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("n_feats").cast("long").alias("n_feats"),
            (F.round(F.col("score_u") / 1e6, 6) + F.lit(0.0)).alias(
                "score"
            ),
        )
    )


# ---------------------------------------------------------------- C59
_STRAT_N = 500  # total sample size
_STRAT_SALTS = 8
_STRAT_HASH = oracle_hash31("'strat:' || CAST(doc_id AS VARCHAR)")

_STRAT_ORACLE = f"""
    WITH counts AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
    ), tot AS (SELECT sum(n) AS t FROM counts),
    quota AS (
        SELECT source, n,
               ({_STRAT_N} * n) // t AS base,
               ({_STRAT_N} * n) % t AS rem
        FROM counts CROSS JOIN tot
    ), leftover AS (
        SELECT {_STRAT_N} - sum(base) AS k FROM quota
    ), alloc AS (
        SELECT source,
               base + CASE WHEN row_number() OVER (
                               ORDER BY rem DESC, source) <= k
                      THEN 1 ELSE 0 END AS alloc
        FROM quota CROSS JOIN leftover
    ), ranked AS (
        SELECT d.doc_id, d.source, d.lang, a.alloc,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY {_STRAT_HASH}, d.doc_id
               ) AS rn
        FROM documents d JOIN alloc a USING (source)
    )
    SELECT doc_id, source, lang, CAST(rn AS BIGINT) AS sample_rank
    FROM ranked WHERE rn <= alloc
"""


@register("stratified_sample_exact", oracle=_STRAT_ORACLE)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C59 — exact-count proportional stratified sample: draw exactly
    500 documents allocated across source strata by the largest-
    remainder (Hamilton) method — floor the proportional quotas, then
    hand the leftover seats to the largest fractional remainders
    (source-name tiebreak). Every eval-set builder needs this shape:
    rate-based sampling (C40) drifts binomially around the target,
    while an exact allocation is reproducible to the row.

    Within a stratum membership is the hash order md5('strat:'||id) —
    partition-invariant, re-run-stable, engine-identical. Allocation
    arithmetic is all BIGINT (N·n_s div/mod n_total), so the oracle is
    strict. Scale shape: the per-source count rollup is map-side
    combined and dimension-sized; the allocation table broadcasts;
    the per-stratum rank runs a salted two-stage window (per-salt cut
    to the stratum's quota first, so the final per-stratum sort sees
    <= salts x alloc rows no matter how hot the stratum — the exact
    C39 containment argument).
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        # Integer division (div), NOT double `/` + cast: float division
        # can round up across an integer boundary before truncation at
        # very large corpus totals (t ~1e13+), diverging from the
        # oracle's BIGINT `//`.
        F.expr(f"({_STRAT_N} * n) div t").alias("base"),
        ((F.lit(_STRAT_N) * F.col("n")) % F.col("t")).alias("rem"),
    )
    # leftover seats: N - sum(base), handed to the largest remainders
    k = quota.agg((F.lit(_STRAT_N) - F.sum("base")).alias("k"))
    wrem = Window.orderBy(F.col("rem").desc(), "source")
    alloc = (
        quota.crossJoin(F.broadcast(k))
        .select(
            "source",
            (
                F.col("base")
                + F.when(F.row_number().over(wrem) <= F.col("k"), 1)
                .otherwise(0)
            ).alias("alloc"),
        )
    )
    hk = md5_hash31(
        F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
    )
    ranked = d.join(F.broadcast(alloc), "source").withColumn("__hk", hk)
    return salted_topk_per_group(
        ranked,
        ["source"],
        ["__hk", "doc_id"],
        F.col("alloc"),
        F.col("doc_id"),
        _STRAT_SALTS,
        "rn",
    ).select(
        "doc_id",
        "source",
        "lang",
        F.col("rn").cast("long").alias("sample_rank"),
    )


# ---------------------------------------------------------------- C63
_SHUF_SHARDS = 8
_SHUF_RANGES = 16  # range partitions of the distributed key sort


@register(
    "corpus_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               {oracle_hash31("'shuf:' || CAST(doc_id AS VARCHAR)")} AS hk
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY hk, doc_id) - 1 AS r0
        FROM keyed
    )
    SELECT doc_id,
           CAST(r0 % {_SHUF_SHARDS} AS INT) AS shard,
           CAST(r0 // {_SHUF_SHARDS} AS BIGINT) AS pos
    FROM r
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C63 — deterministic training-data shuffle: every document gets
    a pseudorandom global position (rank in md5-hash order — a fixed
    permutation, reproducible across runs and engines) and a
    round-robin shard assignment (shard = rank mod S, pos = rank div
    S), so shard sizes differ by at most one document and each shard
    reads as a hash-shuffled stream. This is the step a training
    pipeline runs LAST — epoch readers consume shard files in pos
    order and see a global shuffle without any shuffling at read time.

    Scale shape (the B43 discipline): the global rank comes from a
    RANGE repartition on the hash key + per-partition local ranks +
    broadcast per-partition offsets — no single-task global window
    ever holds the corpus, per-task state is one partition's sort, and
    the result is invariant to where the range sampler lands its
    boundaries. At 100 TB this is one range exchange, which is also
    exactly the physical layout you want to WRITE the shards from
    (partitionBy(shard) on the output path)."""
    from pyspark.sql import Window

    hk = md5_hash31(
        F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))
    )
    keyed = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("__hk", hk)
    )
    # persist() the range-partitioned relation BEFORE fanning out:
    # both consumers below (the local-rank window and the per-pid
    # count offsets) must see the SAME range boundaries and pid
    # assignments. Without the pin that only holds via Spark's
    # exchange-reuse rule — if the exchange re-executed (reuse
    # disabled, plan canonicalization change, sampler divergence
    # across RDD instantiations), offsets would not match the
    # window's pids and shard/pos would be silently wrong (ADVICE
    # r6). The pinned relation is (doc_id, __hk, pid) — 17 bytes/doc,
    # spillable — and is exactly the relation a production run would
    # keep anyway between ranking and the partitionBy(shard) write.
    parts = (
        keyed.repartitionByRange(
            _SHUF_RANGES, F.col("__hk"), F.col("doc_id")
        )
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    local = parts.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("pid").orderBy("__hk", "doc_id")
        ),
    )
    counts = parts.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    offsets = counts.withColumn(
        "off",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("pid", "off")
    r0 = F.col("off") + F.col("rn") - 1
    return local.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        F.pmod(r0, F.lit(_SHUF_SHARDS)).cast("int").alias("shard"),
        F.expr(f"(off + rn - 1) div {_SHUF_SHARDS}")
        .cast("long")
        .alias("pos"),
    )


# ---------------------------------------------------------------- C64
_GSPLIT_MOD = 10  # 10% heldout


@register(
    "group_split_audit",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id,
               CASE WHEN {oracle_hash31("'gsplit:' || CAST(event_id AS VARCHAR)")}
                    % {_GSPLIT_MOD} = 0
                    THEN 'heldout' ELSE 'train' END AS row_split,
               CASE WHEN {oracle_hash31("'gsplit:' || CAST(user_id AS VARCHAR)")}
                    % {_GSPLIT_MOD} = 0
                    THEN 'heldout' ELSE 'train' END AS user_split
        FROM events
    ),
    methods AS (
        SELECT 'row' AS method, event_id, user_id, row_split AS split
        FROM ev
        UNION ALL
        SELECT 'user', event_id, user_id, user_split FROM ev
    ),
    leaky AS (
        SELECT method, user_id
        FROM methods
        GROUP BY method, user_id
        HAVING count(DISTINCT split) > 1
    ),
    contaminated AS (
        SELECT m.method, count(*) AS n
        FROM methods m JOIN leaky l
          ON l.method = m.method AND l.user_id = m.user_id
        WHERE m.split = 'heldout'
        GROUP BY m.method
    )
    SELECT m.method,
           CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train_events,
           CAST(sum(CASE WHEN split = 'heldout' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_heldout_events,
           CAST(coalesce(any_value(lc.n_leaky), 0) AS BIGINT)
               AS n_leaky_users,
           CAST(coalesce(any_value(c.n), 0) AS BIGINT)
               AS n_contaminated_events
    FROM methods m
    LEFT JOIN (SELECT method, count(*) AS n_leaky FROM leaky
               GROUP BY method) lc ON lc.method = m.method
    LEFT JOIN contaminated c ON c.method = m.method
    GROUP BY m.method
    """,
)
def group_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C64 — leakage-safe split audit: the same 90/10 hash split
    applied two ways — per ROW (hash of event_id; how naive pipelines
    split) and per GROUP (hash of user_id; how evaluation must split
    when rows within a user correlate) — with the damage quantified:
    n_leaky_users = users with events on both sides, and
    n_contaminated_events = heldout events whose user also appears in
    train (the rows a per-user memorizing model gets for free). The
    group split reads 0 leaky / 0 contaminated BY THE DATA, not by
    trusting the code; the row split's nonzero numbers are the
    argument for group-aware splitting in any per-entity corpus
    (documents by source/site, events by user, code by repo).

    Scale shape: splits are row-local hash expressions in the scan;
    the leak check is one (method, user) rollup (map-side combinable)
    joined back broadcast-sized; the report is 2 rows. Deterministic
    md5 splits are replica-stable and SQL-twin-able — the C13
    discipline applied at the group level."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id")

    # Both methods hash under the one 'gsplit:' namespace, matching
    # the oracle: the audit compares HOW the split key is chosen (row
    # id vs group id), so the hash family itself is held fixed.
    def split_of(col):
        hk = md5_hash31(
            F.concat(F.lit("gsplit:"), col.cast("string"))
        )
        return F.when(
            hk % _GSPLIT_MOD == 0, F.lit("heldout")
        ).otherwise(F.lit("train"))

    methods = ev.select(
        F.lit("row").alias("method"),
        "event_id",
        "user_id",
        split_of(F.col("event_id")).alias("split"),
    ).unionByName(
        ev.select(
            F.lit("user").alias("method"),
            "event_id",
            "user_id",
            split_of(F.col("user_id")).alias("split"),
        )
    )
    leaky = (
        methods.groupBy("method", "user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .select("method", "user_id")
    )
    leaky_counts = leaky.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_leaky")
    )
    contaminated = (
        methods.where(F.col("split") == "heldout")
        .join(leaky, ["method", "user_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_cont"))
    )
    totals = methods.groupBy("method").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "n_train_events"
        ),
        F.sum(F.when(F.col("split") == "heldout", 1).otherwise(0)).alias(
            "n_heldout_events"
        ),
    )
    return (
        totals.join(F.broadcast(leaky_counts), "method", "left")
        .join(F.broadcast(contaminated), "method", "left")
        .select(
            "method",
            F.col("n_train_events").cast("long"),
            F.col("n_heldout_events").cast("long"),
            F.coalesce("n_leaky", F.lit(0)).cast("long").alias(
                "n_leaky_users"
            ),
            F.coalesce("n_cont", F.lit(0)).cast("long").alias(
                "n_contaminated_events"
            ),
        )
    )


# ---------------------------------------------------------------- C65
_CTX_LENGTHS = (64, 256, 1024)  # context windows priced by the plan


@register(
    "truncation_loss",
    oracle=f"""
    WITH lens AS (
        SELECT unnest([{", ".join(str(c) for c in _CTX_LENGTHS)}]) AS ctx
    ),
    toks AS (
        SELECT source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+'))
               END AS n_tokens
        FROM documents
    )
    SELECT source, ctx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tokens > ctx THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_truncated,
           CAST(sum(greatest(n_tokens - ctx, 0)) AS BIGINT)
               AS tokens_lost,
           round(CAST(sum(greatest(n_tokens - ctx, 0)) AS DOUBLE)
                 / sum(n_tokens), 6) AS loss_rate
    FROM toks, lens
    GROUP BY source, ctx
    """,
)
def truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C65 — context-window truncation loss per source: for each
    candidate training context length, how many documents exceed it
    and what fraction of the corpus' tokens a hard truncation throws
    away — the planning table behind choosing a context length (and
    behind deciding which sources need chunking, C-doc_chunk, instead
    of truncation). One scan computes per-doc whitespace token counts
    (the C42 convention), a 3-row lengths relation fans each doc to
    its (source, ctx) cells, and the rollup is one
    map-side-combinable aggregate — shuffle rows = sources × context
    lengths at any corpus size. All counts integer; the single double
    division is identical text in both engines."""
    d = table(spark, sf_dir, "documents").select(
        "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    lens = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(c) for c in _CTX_LENGTHS])
        ).alias("ctx")
    )
    lost = F.greatest(F.col("n_tokens") - F.col("ctx"), F.lit(0))
    return (
        d.crossJoin(F.broadcast(lens))
        .groupBy("source", "ctx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("n_tokens") > F.col("ctx"), 1).otherwise(0)
            )
            .cast("long")
            .alias("docs_truncated"),
            F.sum(lost).cast("long").alias("tokens_lost"),
            # try_divide ≡ DuckDB NULL-on-zero: an all-blank source
            # has 0 tokens → NULL loss rate
            F.round(
                F.try_divide(
                    F.sum(lost).cast("double"), F.sum("n_tokens")
                ),
                6,
            ).alias("loss_rate"),
        )
    )


# ---------------------------------------------------------------- C66
_N_FOLDS = 5
_FOLD_HASH = oracle_hash31("'fold:' || CAST(doc_id AS VARCHAR)")


@register(
    "fold_balance_audit",
    oracle=f"""
    WITH folds AS (
        SELECT {_FOLD_HASH} % {_N_FOLDS} AS fold,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+'))
               END AS n_tokens
        FROM documents
    ),
    per_fold AS (
        SELECT fold,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM folds GROUP BY fold
    ),
    tot AS (
        SELECT sum(n_tokens) AS tok_total,
               max(n_tokens) AS tok_max,
               min(n_tokens) AS tok_min
        FROM per_fold
    )
    SELECT CAST(fold AS BIGINT) AS fold, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / tot.tok_total, 6)
               AS token_share,
           round(CAST(tot.tok_max AS DOUBLE) / tot.tok_min, 4)
               AS imbalance_ratio
    FROM per_fold, tot
    ORDER BY fold
    """,
)
def fold_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C66 — k-fold assignment + balance audit: every doc lands in a
    deterministic hash fold (the C16 train_split discipline extended
    to k=5), and the audit answers the question that decides whether
    hash folding is usable for cross-validation at this corpus — how
    even are the folds in DOCUMENT and TOKEN mass? (Folds balance in
    doc count by hash uniformity, but token mass follows the length
    distribution; imbalance_ratio = heaviest/lightest fold is the
    number a CV harness checks before trusting per-fold metrics.)
    Fold assignment is a scan-local hash expression, the rollup is
    one map-side-combinable aggregate to k rows, and the ratio
    attaches from a 1-row broadcast — one scan at any corpus size.
    Counts exact BIGINT; the two divisions are identical text both
    engines."""
    d = table(spark, sf_dir, "documents").select(
        (
            md5_hash31(
                F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))
            )
            % _N_FOLDS
        ).alias("fold"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    # persist: the k-row fold rollup feeds two consumers whose
    # lineages end in different exchanges (the 1-row broadcast totals
    # and the final projection) — without it the corpus scan +
    # tokenize run twice (2 text scans in the round-11 before-plan)
    # to rebuild a FIVE-row relation. Cache cost: k rows.
    per_fold = d.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    ).persist()
    tot = per_fold.agg(
        F.sum("n_tokens").alias("tok_total"),
        F.max("n_tokens").alias("tok_max"),
        F.min("n_tokens").alias("tok_min"),
    )
    return (
        per_fold.crossJoin(F.broadcast(tot))
        .select(
            F.col("fold").cast("long").alias("fold"),
            "n_docs",
            "n_tokens",
            # try_divide ≡ DuckDB NULL-on-zero: an all-blank corpus
            # has 0 total tokens (and a 0-token lightest fold)
            F.round(
                F.try_divide(
                    F.col("n_tokens").cast("double"), F.col("tok_total")
                ),
                6,
            ).alias("token_share"),
            F.round(
                F.try_divide(
                    F.col("tok_max").cast("double"), F.col("tok_min")
                ),
                4,
            ).alias("imbalance_ratio"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------- C67
_KAPPA_LEN_MIN = 300  # rater A: raw length rule
_KAPPA_TOK_MIN = 50  # rater B: token-count rule


@register(
    "rater_agreement_kappa",
    oracle=f"""
    WITH rated AS (
        SELECT CASE WHEN n_chars >= {_KAPPA_LEN_MIN} THEN 1 ELSE 0 END AS ra,
               CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                               ELSE len(string_split_regex(trim(text),
                                                           '\\s+'))
                          END) >= {_KAPPA_TOK_MIN} THEN 1 ELSE 0 END AS rb
        FROM documents
    ),
    cells AS (
        SELECT
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n11,
            CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n10,
            CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n01,
            CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n00
        FROM rated
    )
    SELECT n, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS p_observed,
           round((CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                  + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                 / (CAST(n AS DOUBLE) * n), 6) AS p_expected,
           CASE WHEN CAST(n11 + n00 AS DOUBLE) / n = 1.0
                 AND (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                      + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                     / (CAST(n AS DOUBLE) * n) = 1.0 THEN NULL
                ELSE round((CAST(n11 + n00 AS DOUBLE) / n
                            - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                               + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                              / (CAST(n AS DOUBLE) * n))
                           / (1.0
                              - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                                 + CAST(n01 + n00 AS DOUBLE)
                                   * (n10 + n00))
                                / (CAST(n AS DOUBLE) * n)), 6) END
               AS kappa
    FROM cells
    """,
)
def rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C67 — Cohen's kappa between two quality heuristics (a raw
    char-length rule and a token-count rule) treated as binary
    raters: chance-corrected agreement, the standard question when a
    cheap filter is proposed to replace an expensive one (or a model
    judge to replace a human pass) — raw agreement overstates it
    whenever both raters mostly say 'keep'. One scan computes both
    verdicts per doc (scan-local expressions), one 4-cell rollup, and
    kappa = (p_o − p_e)/(1 − p_e) is scalar math on exact BIGINT
    cells — engine-identical inputs by construction, degenerate
    perfect-agreement-with-perfect-chance pinned NULL on both
    engines. At 100 TB: one map-side-combinable aggregate, 1-row
    shuffle."""
    t = F.size(tokens(F.col("text")))
    rated = table(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") >= _KAPPA_LEN_MIN, 1)
        .otherwise(0)
        .alias("ra"),
        F.when(t >= _KAPPA_TOK_MIN, 1).otherwise(0).alias("rb"),
    )
    cells = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(
                F.when((F.col("ra") == a) & (F.col("rb") == b), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"n{a}{b}")
            for a in (1, 0)
            for b in (1, 0)
        ],
    )
    # try_divide throughout: on an EMPTY documents slice n = 0 and
    # plain double division yields NaN on Spark (ANSI only errors on
    # integral division) where DuckDB yields NULL — the same
    # NULL-on-zero discipline as every other statistic here
    po = F.try_divide(
        (F.col("n11") + F.col("n00")).cast("double"), F.col("n")
    )
    pe = F.try_divide(
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00")),
        F.col("n").cast("double") * F.col("n"),
    )
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.when((po == 1.0) & (pe == 1.0), F.lit(None).cast("double"))
        .otherwise(F.round(F.try_divide(po - pe, 1.0 - pe), 6))
        .alias("kappa"),
    )


# ---------------------------------------------------------------- C68
_LB_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048)


def _lb_bucket_sql(n: str) -> str:
    arms = " ".join(
        f"WHEN {n} <= {b} THEN {b}" for b in _LB_BUCKETS[:-1]
    )
    return f"(CASE {arms} ELSE {_LB_BUCKETS[-1]} END)"


@register(
    "length_bucket_batches",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+'))
               END AS n_tok
        FROM documents
    ),
    b AS (
        SELECT {_lb_bucket_sql('n_tok')} AS bucket,
               least(n_tok, {_LB_BUCKETS[-1]}) AS used
        FROM t WHERE n_tok > 0
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(used) AS BIGINT) AS used_tokens,
           CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
           CAST((count(*) * bucket - sum(used)) * 10000
                // (count(*) * bucket) AS BIGINT) AS waste_bp
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C68 — length-bucketed batching plan: assign each document to
    the smallest power-of-two token-length bucket (16…2048, longer
    docs truncate into the top bucket) and report per-bucket counts,
    used vs padded token slots, and padding waste in basis points —
    the report that decides a training run's bucket boundaries, since
    padding waste is pure wasted FLOPs and bucket count trades waste
    against batch-shape churn. Blank docs (0 tokens, the C1
    convention) are excluded — they never reach a batch.

    Engine-exactness: the bucket is an integer CASE ladder (no
    log2/pow float trap at exact powers of two), waste is exact
    integer arithmetic with truncating division. Scale shape: one
    scan, one 8-group map-side-combinable aggregate; nothing else
    shuffles."""
    t = F.size(tokens(F.col("text")))
    d = table(spark, sf_dir, "documents").select(t.alias("n_tok"))
    d = d.where(F.col("n_tok") > 0)
    bucket = F.lit(_LB_BUCKETS[-1])
    for b in reversed(_LB_BUCKETS[:-1]):
        bucket = F.when(F.col("n_tok") <= b, F.lit(b)).otherwise(bucket)
    return (
        d.select(
            bucket.cast("int").alias("bucket"),
            F.least(F.col("n_tok"), F.lit(_LB_BUCKETS[-1])).alias("used"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("used").cast("long").alias("used_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "used_tokens",
            (F.col("n_docs") * F.col("bucket"))
            .cast("long")
            .alias("padded_tokens"),
            F.expr(
                "(n_docs * bucket - used_tokens) * 10000"
                " div (n_docs * bucket)"
            )
            .cast("long")
            .alias("waste_bp"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- C71
# Mixture MATERIALIZATION: C42 plans per-source budgets; this draws
# the actual per-document manifest under temperature-scaled budgets.
_MIX_BUCKETS = 64  # hash-prefix buckets per source (the 2-phase cut)
_MIX_HASH = "'mix:' || CAST(doc_id AS VARCHAR)"


def _mix_oracle() -> str:
    h = oracle_hash31(_MIX_HASH)
    return f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+'))
                   AS BIGINT) AS n_tokens,
               {h} AS h, {h} % {_MIX_BUCKETS} AS bucket
        FROM documents
    ),
    tot AS (SELECT source, sum(n_tokens) AS t FROM d GROUP BY source),
    sc AS (
        SELECT source, t,
               CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT) AS s
        FROM tot
    ),
    gl AS (
        SELECT sum(t) // 2 AS b_total, sum(s) AS s_total FROM sc
    ),
    bud AS (
        SELECT source,
               (SELECT b_total FROM gl) * s
                   // (SELECT s_total FROM gl) AS budget
        FROM sc
    ),
    cum AS (
        SELECT d.*,
               sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY bucket, h, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM d
    )
    SELECT c.doc_id, c.source, c.n_tokens,
           CAST(c.cum_tokens AS BIGINT) AS cum_tokens,
           CAST(b.budget AS BIGINT) AS budget
    FROM cum c JOIN bud b USING (source)
    WHERE c.cum_tokens <= b.budget
    """


@register("token_budget_mix", oracle=_mix_oracle())
def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C71 — mixture MATERIALIZATION under temperature-scaled
    budgets: C42 prices per-source epochs; this emits the actual
    training-mix manifest. Each source gets a token budget
    proportional to sqrt(its token mass) (the multilingual-training
    temperature move that up-weights small sources; integer
    arithmetic after one correctly-rounded IEEE sqrt both engines
    share), drawn from a deterministic hash order — so the mix is a
    pure function of the corpus, reproducible across engines, runs
    and repartitionings.

    Scale design — the exact prefix cut WITHOUT a per-source global
    sort: a naive cumulative-sum window puts each source's whole
    corpus in one task. Instead each doc hashes into one of
    {_MIX_BUCKETS} buckets; the per-(source, bucket) token masses
    (a tiny relation, |sources|x{_MIX_BUCKETS} rows) prefix-sum on
    the broadcast side to give every bucket its starting offset, and
    the per-doc running sum only ever windows WITHIN (source,
    bucket) — {_MIX_BUCKETS}-way intra-source parallelism at any
    corpus size, and bit-identical to the single-window semantics
    because the draw order IS (bucket, hash, doc_id). Keep
    cum <= budget: whole early buckets pass, the boundary bucket is
    cut mid-stream, later buckets drop. Two shuffles total (the
    rollup and the bucketed window), both map-side combinable or
    bucket-parallel."""
    from pyspark.sql import Window

    h = md5_hash31(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    )
    # persist: the tokenize+hash projection (the only text-heavy pass)
    # feeds consumers whose lineages end in DIFFERENT exchanges
    # (the (source, bucket) rollup behind tot/offsets, and the main
    # bucketed window; the per-source-totals subtree additionally ran
    # TWICE under the budget aggregates), so without it the full-text
    # scan + split + md5 run repeatedly — measured 4 parquet scans of
    # documents.text in the round-10 before-plan
    # (plans/r10/token_budget_mix_before.txt).
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long")
            .alias("n_tokens"),
            h.alias("h"),
            (h % _MIX_BUCKETS).alias("bucket"),
        )
        .persist()
    )
    # ONE tiny per-(source, bucket) rollup serves both the per-source
    # totals (sum over buckets == sum over docs: exact long addition)
    # and the bucket starting offsets.
    pb = d.groupBy("source", "bucket").agg(F.sum("n_tokens").alias("w"))
    tot = pb.groupBy("source").agg(F.sum("w").alias("t"))
    sc = tot.select(
        "source",
        "t",
        F.floor(F.sqrt(F.col("t").cast("double"))).cast("long").alias("s"),
    )
    gl = sc.agg(
        F.expr("sum(t) div 2").alias("b_total"),
        F.sum("s").alias("s_total"),
    )
    bud = sc.crossJoin(F.broadcast(gl)).select(
        "source",
        F.expr("b_total * s div s_total").alias("budget"),
    )
    # per-(source, bucket) masses -> each bucket's starting offset;
    # tiny relation, windowed driver-side-free and broadcast back
    wb = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = pb.withColumn(
        "start", F.coalesce(F.sum("w").over(wb), F.lit(0))
    ).select("source", "bucket", "start")
    wi = Window.partitionBy("source", "bucket").orderBy("h", "doc_id")
    return (
        d.join(F.broadcast(offsets), ["source", "bucket"])
        .join(F.broadcast(bud), "source")
        .withColumn(
            "cum_tokens", F.col("start") + F.sum("n_tokens").over(wi)
        )
        .where(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "source", "n_tokens", "cum_tokens", "budget")
    )
