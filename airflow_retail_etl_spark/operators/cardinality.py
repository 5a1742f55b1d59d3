"""Cross-engine-replicable cardinality sketches: KMV and deterministic HLL.

Extension surface beyond the reference (which counts distincts exactly in
Postgres — `/root/reference/dags/retail_pipeline.py:36-45` computes
`COUNT(DISTINCT user_id)` per day): at 100 TB, exact distinct counting is
a full shuffle of every distinct key, and the standard fix — Spark's
built-in HyperLogLog++ (`approx_count_distinct`, already offered by
`operators/profile.py` / `operators/marts.py` as the scale mode) — is an
engine-private sketch no oracle can replay. This module implements the
two classic sketches from their public definitions (Bar-Yossef et al.'s
k-minimum-values, Flajolet et al.'s HyperLogLog) on the md5 hash family
(`functions/xhash`), so the SAME estimate is reproducible bit-for-bit in
Spark, in DuckDB, across partitionings, and across reruns — cardinality
estimation with a correctness certificate.

Numeric policy (README "Correctness"): every estimate is a ratio of
EXACT integers (DECIMAL-held hash order statistics / scaled power-of-two
register sums) with the transcendental step (one ln for HLL's
linear-counting branch) computed on exact integer inputs and rounded to
6 dp — the same round-then-consume discipline as the LM scores. No
per-row double arithmetic anywhere.

Scale shape:
- KMV: one projection (md5 per row), one distinct on the 64-bit hash
  (uniform keys — no skew possible), one distributed top-k
  (per-partition heads + driver merge of k values, never a full sort).
- HLL: one projection, a 2^p-row register aggregation with map-side
  combine (the shuffle carries ≤ 2^p rows per map partition regardless
  of input size), one scalar fold. Registers never leave the executors
  until the 2^p-row final agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions import xhash

#: 2^64 — the hash-space size (md5_u64 is uniform on [0, 2^64))
_TWO64 = 18446744073709551616


def _u64_biased(col: Column) -> Column:
    """A value's md5 u64 as an ORDER-PRESERVING signed long (u − 2^63) —
    round 16: the KMV path's distinct/sort/min-k ran on DECIMAL(20,0)
    (a BigDecimal allocation per row per comparison); every KMV
    operation is ordering/equality, so the biased image carries it at
    zero semantic change, and ``xhash.biased_to_u64_dec`` reconstructs
    the EXACT u64 DECIMAL at the published-threshold grain
    (order-preservation and inversion pinned in tests/test_xhash.py;
    published values byte-identical — tests/test_cardinality)."""
    hi, lo = xhash.md5_u64_hilo(col.cast("string"))
    return (hi - F.lit(2147483648)) * F.lit(1 << 32) + lo


def kmv_distinct(df: DataFrame, col: str, *, k: int = 1024) -> DataFrame:
    """K-minimum-values distinct-count sketch: one row
    (method, k, n_kept, threshold, estimate).

    The k smallest distinct md5 hashes of the column; with n distinct
    uniform draws on [0, 2^64), the k-th order statistic R/2^64
    concentrates at k/(n+1), so ``estimate = (k-1)·2^64/R`` (the
    standard unbiased KMV estimator). When fewer than k distinct hashes
    exist the sketch IS the distinct set and the count is exact
    (threshold NULL, estimate = n_kept).

    Deterministic end to end: the hash is md5 (engine-portable), the
    order statistic is an integer, and the estimate is ONE double
    division of exact integers rounded to 6 dp. The sketch is mergeable
    (min-k of a union = min-k of the pooled min-k's) — the distributed
    top-k IS that merge.
    """
    hashes = (
        df.select(_u64_biased(F.col(col)).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    sk = hashes.orderBy(F.col("h").asc()).limit(k)
    est_full = (
        F.lit(float(k - 1)) * F.lit(float(_TWO64))
        / F.col("threshold").cast("double")
    )
    return (
        sk.agg(
            F.count(F.lit(1)).alias("n_kept"),
            xhash.biased_to_u64_dec(F.max("h")).alias("kth"),
        )
        .select(
            F.lit("kmv").alias("method"),
            F.lit(k).cast("int").alias("k"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.when(F.col("n_kept") >= k, F.col("kth"))
            .otherwise(F.lit(None))
            .cast("decimal(20,0)")
            .alias("threshold"),
        )
        .select(
            "method",
            "k",
            "n_kept",
            "threshold",
            F.round(
                F.when(
                    F.col("threshold").isNotNull(), est_full
                ).otherwise(F.col("n_kept").cast("double")),
                6,
            ).alias("estimate"),
        )
    )


def kmv_overlap(
    left: DataFrame,
    right: DataFrame,
    col: str,
    *,
    k: int = 1024,
) -> DataFrame:
    """Sketch-based set-overlap estimate WITHOUT a join: one row
    (k, n_union_sketch, threshold, jaccard_est, union_est,
    intersection_est).

    The KMV union property: the k smallest hashes of A ∪ B are
    computable from the two sides' own k-minima pools — so two corpora
    that must never be co-shuffled (different clusters, snapshots, or
    storage tiers) still get |A∪B|, |A∩B| and Jaccard estimates from
    kilobyte sketches. Within the union sketch S, members seen on BOTH
    sides are an unbiased Jaccard sample: Ĵ = |S ∩ A ∩ B| / |S|
    (Bar-Yossef et al.); |A∪B| is the standard (k-1)/R estimator and
    |A∩B| = Ĵ·|A∪B|. Exact when the union fits inside k. Deterministic:
    same md5 order statistics as :func:`kmv_distinct`, one rounded
    double expression per estimate.

    Scale shape: each side is a distinct-on-uniform-hash + top-k; the
    overlap math runs on ≤ 2k sketch rows.
    """

    def side(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(_u64_biased(F.col(col)).alias("h"))
            .filter(F.col("h").isNotNull())
            .distinct()
            .orderBy(F.col("h").asc())
            .limit(k)
            .select("h", F.lit(1).alias(name))
        )

    merged = (
        side(left, "in_a")
        .join(side(right, "in_b"), "h", "full")
        .select(
            "h",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
        .orderBy(F.col("h").asc())
        .limit(k)
    )
    agg = merged.agg(
        F.count(F.lit(1)).alias("n_u"),
        xhash.biased_to_u64_dec(F.max("h")).alias("kth"),
        F.sum((F.col("in_a") * F.col("in_b"))).alias("n_both"),
    )
    full = F.col("n_u") >= k
    union_full = (
        F.lit(float(k - 1)) * F.lit(float(_TWO64))
        / F.col("threshold").cast("double")
    )
    jac = F.col("n_both_in_sketch").cast("double") / F.col(
        "n_union_sketch"
    ).cast("double")
    return (
        agg.select(
            F.lit(k).cast("int").alias("k"),
            F.col("n_u").cast("long").alias("n_union_sketch"),
            F.col("n_both").cast("long").alias("n_both_in_sketch"),
            F.when(full, F.col("kth"))
            .otherwise(F.lit(None))
            .cast("decimal(20,0)")
            .alias("threshold"),
        )
        .select(
            "k",
            "n_union_sketch",
            "n_both_in_sketch",
            "threshold",
            F.round(jac, 6).alias("jaccard_est"),
            F.round(
                F.when(F.col("threshold").isNotNull(), union_full)
                .otherwise(F.col("n_union_sketch").cast("double")),
                6,
            ).alias("union_est"),
        )
        .select(
            "k",
            "n_union_sketch",
            "n_both_in_sketch",
            "threshold",
            "jaccard_est",
            "union_est",
            F.round(
                F.col("jaccard_est") * F.col("union_est"), 6
            ).alias("intersection_est"),
        )
    )


def _hll_alpha(m: int) -> float:
    """Flajolet's bias-correction constant α_m.

    The HyperLogLog paper tabulates small-m values (α16=0.673,
    α32=0.697, α64=0.709) and the 0.7213/(1+1.079/m) closed form for
    m ≥ 128; applying the closed form at m=16 is a ~0.4% systematic bias
    (round-10 advice). Cross-engine exactness is unaffected either way —
    the oracle twins inject ``_hll_alpha(m)·m²`` as the same literal —
    but the estimates should match the published algorithm."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame, keys: list[str] | tuple[str, ...], col: str, *, p: int
) -> DataFrame:
    """The MERGEABLE per-group HLL state: (``keys``…, reg, mx) — one row
    per (group, hit register) holding the register's max rank.

    This is the sketch's persistence/merge grain: union of groups =
    MAX(mx) per register (idempotent, associative, commutative), so
    per-day register tables answer any date-range distinct by merging
    ``days × ≤ 2^p`` rows — never rescanning the raw corpus. Feed the
    merged table to :func:`hll_fold` for the estimate."""
    rest_bits = 64 - p
    rmax = rest_bits + 1
    # LONG-domain register/rest (round 15): reg = top p bits = hi >>
    # (32-p); rest = low 64-p bits = (hi & (2^(32-p)-1))·2^32 + lo —
    # bit-identical to the DECIMAL floor-div/mod derivation (p ≤ 11 ⇒
    # rest < 2^60, no overflow) with no per-row BigDecimal divide.
    hi, lo = xhash.md5_u64_hilo(F.col(col).cast("string"))
    reg = F.shiftright(hi, 32 - p).cast("int")
    rest = hi.bitwiseAND(F.lit((1 << (32 - p)) - 1)) * F.lit(
        1 << 32
    ) + lo
    rank = F.when(
        rest == 0, F.lit(rmax)
    ).otherwise(F.lit(rest_bits + 1) - F.length(F.bin(rest)))
    return (
        df.select(*keys, reg.alias("reg"), rank.alias("rank"))
        .filter(F.col("reg").isNotNull())
        .groupBy(*keys, "reg")
        .agg(F.max("rank").alias("mx"))
    )


def hll_fold(
    regs: DataFrame, keys: list[str] | tuple[str, ...], *, p: int
) -> DataFrame:
    """Fold a register table (``keys``…, reg, mx) — as produced by
    :func:`hll_registers`, possibly merged across groups via MAX(mx) —
    into per-group estimates: ``keys`` + (n_registers_hit, v_zero,
    s_scaled, raw_estimate, estimate). Math identical to
    :func:`hll_distinct` (exact scaled-integer harmonic sum in
    DECIMAL(38,0), one rounded double per branch)."""
    m = 1 << p
    rmax = (64 - p) + 1
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - mx)")
    agg = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("hits"),
        F.sum(term.cast("decimal(38,0)")).alias("s_hit"),
    )
    two_rmax_dec = F.lit(str(1 << rmax)).cast("decimal(38,0)")
    s_scaled = F.coalesce(
        F.col("s_hit"), F.lit(0).cast("decimal(38,0)")
    ) + (F.lit(m) - F.col("hits")).cast("decimal(38,0)") * two_rmax_dec
    alpha = _hll_alpha(m)
    raw = (
        F.lit(alpha * m * m)
        * F.lit(float(1 << rmax))
        / F.col("s_scaled").cast("double")
    )
    v = (F.lit(m) - F.col("hits")).cast("long")
    small = (F.col("raw_estimate") <= F.lit(2.5 * m)) & (F.col("v_zero") > 0)
    lin = F.lit(float(m)) * F.log(
        F.lit(float(m)) / F.col("v_zero").cast("double")
    )
    return (
        agg.select(
            *keys,
            F.col("hits").alias("n_registers_hit"),
            v.alias("v_zero"),
            s_scaled.alias("s_scaled"),
        )
        .withColumn("raw_estimate", F.round(raw, 6))
        .select(
            *keys,
            "n_registers_hit",
            "v_zero",
            "s_scaled",
            "raw_estimate",
            F.round(
                F.when(small, lin).otherwise(F.col("raw_estimate")), 6
            ).alias("estimate"),
        )
    )


def hll_distinct_by(
    df: DataFrame, keys: list[str], col: str, *, p: int = 11
) -> DataFrame:
    """Per-group deterministic HLL: one row per distinct ``keys`` tuple
    (with ≥ 1 non-null ``col``) carrying the same register-fold columns
    as :func:`hll_distinct`.

    The 100 TB substitute for GROUP BY keys → COUNT(DISTINCT col): the
    exact form's shuffle carries every distinct (keys, value) pair,
    this one's carries ≤ 2^p register rows per key (map-side combined)
    — and unlike Spark's builtin ``approx_count_distinct`` it is
    engine-replicable, so an oracle certifies every per-group estimate.
    """
    if not keys:
        raise ValueError("keys must be non-empty; use hll_distinct")
    if not 4 <= p <= 11:
        raise ValueError(f"p must be in [4, 11], got {p}")
    return _hll_estimate(df, col, p=p, keys=tuple(keys))


def _hll_estimate(
    df: DataFrame, col: str, *, p: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """registers → fold, the one-shot composition (a key appears iff it
    has ≥ 1 non-null value; keys=() is the global sketch)."""
    return hll_fold(hll_registers(df, keys, col, p=p), keys, p=p)


def hll_distinct(df: DataFrame, col: str, *, p: int = 11) -> DataFrame:
    """Deterministic HyperLogLog: one row
    (method, p, m, n_registers_hit, v_zero, s_scaled, raw_estimate,
    estimate).

    Register = top ``p`` bits of the md5 hash; rank = leading zeros of
    the remaining 64-p bits + 1 (computed EXACTLY as
    ``(64-p) - bit_length(rest) + 1`` — ``bin()`` string length, no
    transcendentals). The harmonic denominator Σ 2^-M_j is held as the
    EXACT scaled integer ``s_scaled = Σ 2^(R - M_j)`` (R = 64-p+1, the
    max rank; absent registers contribute M=0 → 2^R), accumulated in
    DECIMAL(38,0) — partition-order-invariant where a double sum of
    2^-M terms would not be. The estimate is then ONE double expression
    on exact integers: ``α_m · m² · 2^R / s_scaled``, with Flajolet's
    small-range branch (``m·ln(m/V)`` when raw ≤ 2.5m and V>0 — one ln
    of an exact integer ratio) and 6 dp rounding before anything
    consumes it.

    ``p`` ∈ [4, 11]: ≥4 for the α constant's regime, ≤11 so the 64-p
    rest bits stay inside a positive signed BIGINT for ``bin()``.
    Standard error ≈ 1.04/√m (~2.3% at p=11).
    """
    if not 4 <= p <= 11:
        raise ValueError(f"p must be in [4, 11], got {p}")
    # the register/rank projection and the exact scaled harmonic sum
    # (hit registers contribute 2^(R-M), absent ones 2^R) live in the
    # shared fold — the global sketch is the keys=() case
    return _hll_estimate(df, col, p=p).select(
        F.lit("hll").alias("method"),
        F.lit(p).cast("int").alias("p"),
        F.lit(1 << p).cast("int").alias("m"),
        "n_registers_hit",
        "v_zero",
        "s_scaled",
        "raw_estimate",
        "estimate",
    )
