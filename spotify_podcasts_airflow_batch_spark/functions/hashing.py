"""Deterministic 60-bit hash family shared with the DuckDB oracle.

``h(x) = int(md5(x)[:15 hex], 16)`` — 60 bits, fits a signed int64 on
both engines (Spark: ``conv(substring(md5(x),1,15),16,10)``; DuckDB:
``('0x' || substr(md5(x),1,15))::BIGINT``). Seeded variants prefix the
seed, giving the independent hash family MinHash needs. Everything is
JVM-side built-ins — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 60


def md5_hash60(col: Column) -> Column:
    """60-bit integer hash of a string column (md5-derived)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_seeded(col: Column, seed: Column | int) -> Column:
    """Seeded member of the hash family: ``h_s(x) = h(s || ':' || x)``."""
    s = F.lit(seed) if isinstance(seed, int) else seed
    return md5_hash60(F.concat(s.cast("string"), F.lit(":"), col))


def oracle_hash60(expr: str) -> str:
    """DuckDB SQL fragment computing the same 60-bit hash."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def oracle_hash60_seeded(expr: str, seed_expr: str) -> str:
    return oracle_hash60(f"CAST({seed_expr} AS VARCHAR) || ':' || {expr}")


# --- cheap universal family over one md5 (for MinHash) ----------------
#
# One md5 per input, then h_i = (a_i * h31 + b_i) mod p with p = 2^31-1.
# a_i ≤ p and h31 < 2^31 keep every product below 2^62 — no int64
# overflow on either engine, so Spark and DuckDB agree bit-for-bit.
# 16 digests → 1 digest + 16 mul/mod: ~8× cheaper signatures.

MERSENNE_31 = (1 << 31) - 1


def _family_constant(kind: str, i: int, lo: int, hi: int) -> int:
    import hashlib

    h = hashlib.md5(f"{kind}:{i}".encode()).hexdigest()
    return lo + int(h[:15], 16) % (hi - lo)


def universal_family(n: int) -> list[tuple[int, int]]:
    """n deterministic (a, b) pairs, a ∈ [1, p-1], b ∈ [0, p-1]."""
    return [
        (
            _family_constant("a", i, 1, MERSENNE_31),
            _family_constant("b", i, 0, MERSENNE_31),
        )
        for i in range(n)
    ]


def md5_hash31(col: Column) -> Column:
    """31-bit base hash: top 8 md5 hex chars masked to 31 bits."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(MERSENNE_31))
    )


def split_bucket(doc_id: Column) -> Column:
    """Train/val/test bucket 0-99 of a document: md5_31('split:' || id)
    mod 100. A pure function of the id, so membership is stable under
    re-partitioning and re-runs; the oracles compute it as
    ``oracle_hash31("'split:' || CAST(doc_id AS VARCHAR)") % 100``."""
    return md5_hash31(F.concat(F.lit("split:"), doc_id.cast("string"))) % 100


def universal_hash(h31: Column, a: int, b: int) -> Column:
    return (F.lit(a) * h31 + F.lit(b)) % F.lit(MERSENNE_31)


def oracle_hash31(expr: str) -> str:
    return f"((('0x' || substr(md5({expr}), 1, 8))::BIGINT) & {MERSENNE_31})"


def oracle_universal_hash(h31_expr: str, a: int, b: int) -> str:
    return f"(({a} * {h31_expr} + {b}) % {MERSENNE_31})"
