"""Cross-engine deterministic hashing (Spark ⇄ DuckDB).

The scale-path sketches (MinHash, SimHash) hash with ``xxhash64`` — fast,
JVM-side, but with no DuckDB equivalent, which made their queries
"rows-only" in the correctness gate. This module provides an alternative
hash family both engines can compute bit-identically, so the SAME sketch
pipeline (signatures → banding → candidate join → verify) can be replicated
in the DuckDB oracle and hash-checked end to end:

- 64-bit token hash: the first 16 hex chars of md5 interpreted as an
  unsigned big-endian integer (Spark ``conv(substr(md5(x),1,16),16,10)``,
  DuckDB ``('0x' || substr(md5(x),1,16))::UBIGINT``), then wrapped to a
  signed i64. Verified bit-equal across engines (tests/test_xhash.py).
- K derived hashes from one md5 via Kirsch–Mitzenmacher double hashing:
  ``h_i = (h1 + i·h2) mod 2^64`` computed in DECIMAL/HUGEINT — the standard
  construction (one md5 per element, any number of hash functions), exact
  in both engines because the arithmetic never leaves integers.

Production paths keep xxhash64 (md5 costs ~3-5× more per token); the md5
family is for oracle-graded query forms and any deployment that needs
engine-portable sketches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_I64 = 9223372036854775807
TWO64 = 18446744073709551616

def _max_i64_dec() -> Column:
    # built lazily: Column construction needs an active SparkContext
    return F.lit(str(MAX_I64)).cast("decimal(20,0)")


def _two64_dec() -> Column:
    return F.lit(str(TWO64)).cast("decimal(21,0)")


def md5_u64(col: Column, half: int = 1) -> Column:
    """Unsigned 64-bit integer (as DECIMAL(20,0)) from one md5 half.

    ``half=1`` → hex chars 1..16, ``half=2`` → 17..32, both big-endian.
    DECIMAL because Spark has no unsigned 64-bit type; all downstream
    arithmetic (Kirsch–Mitzenmacher, minima) stays in DECIMAL.
    """
    off = 1 if half == 1 else 17
    return F.conv(F.substring(F.md5(col), off, 16), 16, 10).cast(
        "decimal(20,0)"
    )


def md5_long(col: Column) -> Column:
    """Signed i64 from the first md5 half (two's-complement wrap).

    Use when downstream needs bitwise ops (simhash bit votes) — Spark's
    bitwiseAND/shiftright want BIGINT, not DECIMAL.
    """
    u = md5_u64(col, 1)
    return (
        F.when(u > _max_i64_dec(), u - _two64_dec())
        .otherwise(u)
        .cast("bigint")
    )


def km_hash(u1: Column, u2: Column, i: int) -> Column:
    """i-th Kirsch–Mitzenmacher hash: (h1 + i·h2) mod 2^64, DECIMAL-exact."""
    return (u1 + F.lit(i) * u2) % _two64_dec()


# ---------------------------------------------------------------------------
# LONG-domain Kirsch–Mitzenmacher (bit-identical, allocation-free)
# ---------------------------------------------------------------------------
# The DECIMAL(20,0) arithmetic above is exact but pays a BigDecimal
# allocation per operation per row — measured 3-4× slower than the
# equivalent LONG arithmetic on the CMS/minhash hot loops (round 15).
# A u64 value v = hi·2^32 + lo (hi, lo ∈ [0, 2^32)) carried as TWO longs
# supports the whole family without ever overflowing a signed i64:
#
# - (h1 + i·h2) mod 2^64: lo' = lo1 + i·lo2 < 63·2^32 < 2^38; carry =
#   lo' >> 32; hi32 = (hi1 + i·hi2 + carry) & 0xFFFFFFFF. Exact for
#   0 ≤ i ≤ 62 (the largest num_hashes in the registry is 63).
# - mod m (m ≤ 2^31): (hi32·2^32 + lo32) mod m =
#   ((hi32 mod m)·(2^32 mod m) + lo32 mod m) mod m — the product is
#   < 2^62, no overflow; Spark's % on non-negative longs equals the
#   DECIMAL %.
# - order (for MIN aggregation): biased = (hi32 − 2^31)·2^32 + lo32
#   = v − 2^63 ∈ [−2^63, 2^63−1], a strictly order-preserving signed
#   image of the unsigned value; min(biased) = biased(min).
#   biased_to_u64_dec inverts EXACTLY at publication grain.
#
# tests/test_xhash.py pins long-vs-DECIMAL equality across the u64 range.

_MASK32 = 4294967295
_BIAS32 = 2147483648
_TWO32 = 4294967296


def md5_u64_hilo(col: Column, half: int = 1) -> tuple[Column, Column]:
    """(hi, lo) LONG halves of :func:`md5_u64` — same bits, two longs."""
    off = 1 if half == 1 else 17
    h = F.md5(col)
    hi = F.conv(F.substring(h, off, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, off + 8, 8), 16, 10).cast("long")
    return hi, lo


def _km_hilo(
    hi1: Column, lo1: Column, hi2: Column, lo2: Column, i: int
) -> tuple[Column, Column]:
    if not (0 <= i <= 62):  # lo1 + i·lo2 must stay far below 2^63
        raise ValueError(f"long-domain KM needs 0 <= i <= 62, got {i}")
    lo = lo1 + F.lit(i) * lo2
    hi32 = (hi1 + F.lit(i) * hi2 + F.shiftright(lo, 32)).bitwiseAND(
        F.lit(_MASK32)
    )
    return hi32, lo.bitwiseAND(F.lit(_MASK32))


def km_hash_mod(
    hi1: Column,
    lo1: Column,
    hi2: Column,
    lo2: Column,
    i: int,
    m: int,
) -> Column:
    """``km_hash(u1, u2, i) % m`` in pure LONG arithmetic (m ≤ 2^31)."""
    if not (0 < m <= _BIAS32):
        raise ValueError(f"km_hash_mod needs 0 < m <= 2^31, got {m}")
    hi32, lo32 = _km_hilo(hi1, lo1, hi2, lo2, i)
    return (
        hi32 % F.lit(m) * F.lit(_TWO32 % m) + lo32 % F.lit(m)
    ) % F.lit(m)


#: bound-column names with_km_halves introduces (dropped before output)
KM_COLS = ("__kmh1", "__kml1", "__kmh2", "__kml2")


def with_km_halves(df: DataFrame, col: Column) -> DataFrame:
    """``df`` plus the four LONG md5 halves of ``col`` as bound columns —
    the one Kirsch–Mitzenmacher binding of the CMS and Bloom sketches.

    The four conv/substring derivations share ONE md5 via in-project
    subexpression elimination; downstream expressions reference the
    bound columns, so Catalyst's CollapseProject keeps this projection
    separate (multi-referenced non-cheap aliases are never inlined) and
    every row hashes exactly once regardless of the hash count. Inline
    positions would not: a GENERATE (explode) or a JOIN KEY evaluates
    every element's tree independently — one md5 per position per row
    (measured 3.3× on the CMS build explode at 2M rows)."""
    h1, l1 = md5_u64_hilo(col, 1)
    h2, l2 = md5_u64_hilo(col, 2)
    return df.select(
        "*", *[c.alias(n) for c, n in zip((h1, l1, h2, l2), KM_COLS)]
    )


def bound_positions(k: int, m: int) -> list[Column]:
    """The k positions ``km_hash_mod(…, i, m)``, i < k, as INTs in
    [0, m), off the bound halves of :func:`with_km_halves`. The cast is
    exact: ``km_hash_mod`` refuses m > 2^31, so a sketch wider than
    that (a Bloom filter over 2^31 bits) fails when it is built."""
    halves = [F.col(c) for c in KM_COLS]
    return [km_hash_mod(*halves, i, m).cast("int") for i in range(k)]


def km_hash_biased(
    hi1: Column, lo1: Column, hi2: Column, lo2: Column, i: int
) -> Column:
    """``km_hash(u1, u2, i) − 2^63`` as a signed LONG — order-preserving
    image of the u64 hash for MIN/MAX aggregation."""
    hi32, lo32 = _km_hilo(hi1, lo1, hi2, lo2, i)
    return (hi32 - F.lit(_BIAS32)) * F.lit(_TWO32) + lo32


def md5_u64_mod(col: Column, m: int, half: int = 1) -> Column:
    """``md5_u64(col, half) % m`` in pure LONG arithmetic (m ≤ 2^31) —
    bit-identical to the DECIMAL form for every m the repo uses
    (test-pinned alongside km_hash_mod)."""
    if not (0 < m <= _BIAS32):
        raise ValueError(f"md5_u64_mod needs 0 < m <= 2^31, got {m}")
    hi, lo = md5_u64_hilo(col, half)
    return (
        hi % F.lit(m) * F.lit(_TWO32 % m) + lo % F.lit(m)
    ) % F.lit(m)


def biased_to_u64_dec(col: Column) -> Column:
    """Invert :func:`km_hash_biased` to the DECIMAL(21,0) u64 value —
    bit-identical to what :func:`km_hash` would have produced."""
    hi32 = F.shiftright(col, 32) + F.lit(_BIAS32)
    lo32 = col.bitwiseAND(F.lit(_MASK32))
    # (11,0) × (10,0) → (22,0): well under the 38-precision product
    # ceiling (CLAUDE.md decimal-multiply trap), exact by construction
    return (
        hi32.cast("decimal(11,0)") * F.lit(_TWO32).cast("decimal(10,0)")
        + lo32
    ).cast("decimal(21,0)")


# ---------------------------------------------------------------------------
# DuckDB fragment generators (the oracle side of the same functions)
# ---------------------------------------------------------------------------


def duck_md5_u64(expr: str, half: int = 1) -> str:
    """HUGEINT-typed unsigned 64-bit integer from one md5 half of ``expr``."""
    off = 1 if half == 1 else 17
    return f"CAST(('0x' || substr(md5({expr}),{off},16))::UBIGINT AS HUGEINT)"


def duck_md5_long(expr: str) -> str:
    """Signed i64 (BIGINT) matching :func:`md5_long` bit-for-bit."""
    u = f"('0x' || substr(md5({expr}),1,16))::UBIGINT"
    return (
        f"CAST(CAST({u} AS HUGEINT) - CASE WHEN {u} > {MAX_I64} "
        f"THEN CAST({TWO64} AS HUGEINT) ELSE 0 END AS BIGINT)"
    )


def duck_km_hash(u1: str, u2: str, i: str) -> str:
    """DuckDB twin of :func:`km_hash`; ``i`` is an SQL expression."""
    return f"(({u1}) + ({i}) * ({u2})) % CAST({TWO64} AS HUGEINT)"
