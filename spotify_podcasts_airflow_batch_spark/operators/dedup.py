"""Deduplication operators (SURVEY.md §2 C4-C7).

Not present in the reference (its dataset is small enough that Kaggle
re-uploads dedupe nothing) but core to an LLM-training-data pipeline.
Every operator is expressed as shuffled aggregates over exploded
features — never an O(n²) self-join on the corpus:

- exact:   md5 fingerprint → hash aggregate (map-side combinable).
- MinHash: explode distinct shingles once, take 16 seeded mins as one
  aggregate pass, band the signature, and only join within LSH
  buckets.
- SimHash: explode tokens, 60 conditional-sum bit votes in one
  aggregate, reassemble the 60-bit value.
- Jaccard: explode shingles, equi-join on (block, shingle) so the
  shuffle key is the shingle — candidate pairs are generated by
  co-occurrence, not enumeration.

The md5-derived hash family (functions/hashing.py) is reproduced
bit-for-bit by the DuckDB oracles in plans/text.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spotify_podcasts_airflow_batch_spark.functions.hashing import (
    md5_hash31,
    md5_hash60,
    universal_family,
    universal_hash,
)
from spotify_podcasts_airflow_batch_spark.functions.text import (
    tokens,
    word_shingles,
)
from spotify_podcasts_airflow_batch_spark.operators.ranking import (
    salted_topk_per_group,
)

NUM_MINHASHES = 16
LSH_BANDS = 4  # 4 bands × 4 rows
SIMHASH_BITS = 60


def normalize_text(text: Column) -> Column:
    return F.lower(F.trim(text))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: (fingerprint, representative=min id, group size)."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = NUM_MINHASHES,
    shingle_k: int = 3,
) -> DataFrame:
    """Wide MinHash signature: one row per doc, columns h0..h{n-1}.

    One explode of distinct shingles, ONE md5 per shingle, then the
    n-member universal family (a_i·h+b_i mod 2^31-1) derives all
    signature positions arithmetically — n min-aggregates in a single
    groupBy, shuffle carrying n partial minima per (doc, map task).
    Docs with no shingles (< k tokens) drop out, matching the oracle.
    """
    # Two plan hygiene points, both order-of-magnitude at scale:
    # 1. tokens() is projected in its OWN step: word_shingles references
    #    the token array O(shingles) times, and a nested
    #    word_shingles(tokens(x)) inlines the regex split into every
    #    reference → O(tokens²) work per doc. A bound column reference
    #    is not re-inlined (CollapseProject keeps expensive exprs).
    # 2. explode_outer, NOT explode: plain explode makes the optimizer
    #    infer a `size(arr)>0 AND arr IS NOT NULL` filter below the
    #    Generate, re-evaluating the shingle expression 3× per row
    #    (InferFiltersFromGenerate).
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    sh = (
        toks.select(
            F.col(id_col),
            F.explode_outer(
                word_shingles(F.col("__toks"), k=shingle_k)
            ).alias("shingle"),
        )
        .where(F.col("shingle").isNotNull())
        .withColumn("h31", md5_hash31(F.col("shingle")))
    )
    fam = universal_family(num_hashes)
    hashed = sh.select(
        id_col,
        *[
            universal_hash(F.col("h31"), a, b).alias(f"h{s}")
            for s, (a, b) in enumerate(fam)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{s}").alias(f"h{s}") for s in range(num_hashes)]
    )


_LSH_CAP_SALTS = 16  # first-stage fan-out for capped-bucket selection


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = NUM_MINHASHES,
    bands: int = LSH_BANDS,
    max_bucket: int | None = None,
    with_est: bool = True,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidates.

    The join key is (band_id, band_hash) — pair generation is bounded
    by bucket sizes, never the corpus size. Output: (id_a, id_b,
    est_jaccard) where est_jaccard is the fraction of equal signature
    positions.

    ``max_bucket`` is the HOT-BAND guard (the boilerplate pathology
    the 100× replicate sweep documented: one dominant token collapses
    thousands of near-identical docs into a single band pigeonhole,
    and C(n,2) pairs land in ONE join task). When set, each
    (band_id, band_hash) bucket keeps only the ``max_bucket`` members
    with the smallest universal hash
    md5_31('lshcap:'||band_id||':'||band_hash||':'||id) (id tiebreak)
    — a deterministic per-bucket subsample, so the selection is
    replica-stable and SQL-twin-able — and pair volume per bucket is
    bounded at C(max_bucket, 2) no matter how hot the band. Selection
    runs the two-stage salted window (per-salt keep, then bucket-level
    keep over <= salts·cap rows), so no single task ever materializes
    a hot bucket. With cap >= the largest bucket nothing is evicted
    and the output is identical to the uncapped plan (property-tested
    in tests/test_dedup.py); evicted-pair accounting is surfaced by
    C61's lsh_param_sweep."""
    banded = _banded(sig, id_col, num_hashes, bands)
    if max_bucket is not None:
        banded = _cap_buckets(banded, id_col, max_bucket)
    if not with_est:
        # Candidate IDS only (``with_est=False``): consumers that never
        # read est_jaccard (the C61 sweep joins candidates straight
        # against ground truth) skip carrying two 16-element signature
        # arrays (128 B/row) through the join and dedup shuffles.
        # Locally a modest win (7.66 -> 7.33 s min-of-5 on the
        # six-enumeration sweep — task overhead dominates at sf0.1);
        # at real shuffle volumes the byte saving is the point.
        banded = banded.drop("sig")
        a, b = banded.alias("a"), banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )

    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    eq = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
    est = F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(num_hashes)
    return pairs.select(
        "id_a", "id_b", F.round(est, 4).alias("est_jaccard")
    )


def _banded(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, sig, band_id, band_hash) — one row per doc per band."""
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        members = [
            F.col(f"h{b * rows + r}").cast("string") for r in range(rows)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                md5_hash60(F.concat_ws(",", *members)).alias("band_hash"),
            )
        )
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
        F.explode(F.array(*band_cols)).alias("band"),
    ).select(id_col, "sig", "band.band_id", "band.band_hash")


def _cap_buckets(
    banded: DataFrame,
    id_col: str,
    max_bucket: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Keep the ``max_bucket`` members of every (*``group_cols``,
    band_id, band_hash) bucket with the smallest per-bucket universal
    hash (id tiebreak), via ``salted_topk_per_group`` so a hot bucket
    never lands in one task. Deterministic and SQL-reproducible."""
    hk = md5_hash31(
        F.concat(
            F.lit("lshcap:"),
            F.col("band_id").cast("string"),
            F.lit(":"),
            F.col("band_hash").cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    return salted_topk_per_group(
        banded.withColumn("__hk", hk),
        [*group_cols, "band_id", "band_hash"],
        ["__hk", id_col],
        max_bucket,
        F.col(id_col),
        _LSH_CAP_SALTS,
        "__rn",
    ).drop("__hk", "__srn", "__rn")


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per doc from token-occurrence bit votes."""
    # explode_outer: see minhash_signatures — avoids the inferred
    # below-Generate filter re-evaluating the token split per row.
    tok = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("tok")
    ).where(F.col("tok").isNotNull())
    h = md5_hash60(F.col("tok"))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    value = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        value = term if value is None else value + term
    return votes.select(F.col(id_col), value.cast("long").alias("simhash"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_k: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """Blocked n-gram Jaccard similarity pairs (≥ threshold).

    Explode distinct shingles and equi-join on (blocking cols,
    shingle): only docs sharing a shingle within a block ever meet,
    and the shuffle key spreads by shingle value. |A| is the size of
    the distinct-shingle ARRAY, computed map-side before the explode
    and carried through it as a column — so |A∪B| = na + nb − c needs
    no per-doc count aggregate and no join-back (that formulation
    costs two extra corpus scans and two joins; this one is two scans
    total, one per self-join side)."""
    j = _shingle_pair_counts(
        df, id_col, text_col, block_cols, shingle_k
    ).withColumn(
        "jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    ).where(F.col("jaccard") >= F.lit(threshold))
    return j.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_k: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Blocked n-gram OVERLAP-coefficient pairs (≥ threshold).

    Overlap = |A∩B| / min(|A|,|B|) — the containment measure Jaccard
    can't see: a short doc quoted whole inside a long one scores near
    1.0 here but near |A|/|B| (tiny) on Jaccard. Same shingle
    equi-join candidate generation as jaccard_pairs; only the final
    arithmetic differs."""
    j = _shingle_pair_counts(
        df, id_col, text_col, block_cols, shingle_k
    ).withColumn(
        "overlap", F.col("c") / F.least(F.col("na"), F.col("nb"))
    ).where(F.col("overlap") >= F.lit(threshold))
    return j.select(
        "id_a",
        "id_b",
        F.col("c").alias("n_common"),
        "na",
        "nb",
        F.round("overlap", 4).alias("overlap"),
    )


def _shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_k: int,
) -> DataFrame:
    """Candidate pairs with (intersection, |A|, |B|) shingle counts.

    Explode distinct shingles and equi-join on (blocking cols,
    shingle): only docs sharing a shingle within a block ever meet,
    and the shuffle key spreads by shingle value. |A| is the size of
    the distinct-shingle ARRAY, computed map-side before the explode
    and carried through it as a column — so set sizes need no per-doc
    count aggregate and no join-back (that formulation costs two
    extra corpus scans and two joins; this one is two scans total,
    one per self-join side)."""
    # Two-step staging (tokens, then the shingle array) + explode_outer:
    # see minhash_signatures. The array column is bound before size()
    # and explode() reference it, so the shingle expression evaluates
    # once per row.
    toks = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        tokens(F.col(text_col)).alias("__toks"),
    )
    arr = toks.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        word_shingles(F.col("__toks"), k=shingle_k).alias("__sh"),
    )
    shd = arr.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.size("__sh").alias("n"),
        F.explode_outer("__sh").alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    a, b = shd.alias("a"), shd.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
