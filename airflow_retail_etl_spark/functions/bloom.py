"""Deterministic, engine-replicable Bloom filters over the md5 family.

The decontamination scale path (operators/decontam.py, SCALE.md) probes
a BROADCAST distinct eval-gram set; its documented fallback once the
eval side outgrows broadcast — "a Bloom prefilter + shuffled semi-join"
— lives here. A Bloom filter compresses an n-element membership set to
~10-15 bits/element (vs full strings), so an eval set whose gram SET is
too big to broadcast still ships to every executor as a bit array; the
exact join then runs only on the prefiltered survivors.

Deterministic by construction: bit positions come from Kirsch–
Mitzenmacher double hashing over the two md5 halves
(``functions/xhash``) — no seeds, no engine-private hash — so the SAME
filter (bit-for-bit) is buildable in Spark and DuckDB, membership
verdicts replicate exactly, and the false-positive SET (not just rate)
is reproducible across engines, partitionings, and reruns. Bloom
guarantees: no false negatives ever; false positives at the standard
(1 - e^{-kn/m})^k rate.

Representation: one row with an ``array<long>`` of ``n_bits/64`` words
(position p → word p>>6, bit p&63; two's-complement bit_or is plain
bitwise OR). The array broadcasts as DATA (a few MB for 10⁶ elements),
never as plan literals — the round-9 plan-size trap does not apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions import xhash
from airflow_retail_etl_spark.functions.columns import dense_array


def build_bloom(
    values: DataFrame,
    col: str,
    *,
    n_bits: int,
    k_hashes: int = 7,
) -> DataFrame:
    """One-row DataFrame (bits: array<long>, n_bits, k_hashes) holding
    the Bloom filter of ``values[col]`` (nulls ignored).

    Shape: explode k positions per value (linear), one word-keyed
    bit_or aggregation (≤ n_bits/64 uniform keys, map-side combine),
    then one aggregation that collects the words as a w → bits map,
    read at every word in [0, n_bits/64) with absent words at 0
    (``functions.columns.dense_array``). The result is data,
    broadcast-joined by probes, so filter size is bounded by executor
    memory, not plan size.
    """
    if n_bits % 64 != 0:
        raise ValueError(f"n_bits must be a multiple of 64, got {n_bits}")
    v = values.select(F.col(col).cast("string").alias("v")).filter(
        F.col("v").isNotNull()
    )
    # md5 halves bound BELOW the generate (xhash.with_km_halves): explode
    # evaluates each array element's tree independently, so inline
    # positions would hash every row k times (explode_outer ≡ explode on
    # this never-empty literal array and dodges the
    # InferFiltersFromGenerate re-inlining trap)
    pos = xhash.with_km_halves(v, F.col("v")).select(
        F.explode_outer(
            F.array(*xhash.bound_positions(k_hashes, n_bits))
        ).alias("p")
    )
    words = (
        pos.select(
            F.shiftright(F.col("p"), 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), p & 63)").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias(
                "m"
            )
        )
    )
    return words.select(
        dense_array(F.col("m"), F.lit(0), F.lit(n_bits // 64 - 1), 0).alias(
            "bits"
        ),
        F.lit(n_bits).cast("long").alias("n_bits"),
        F.lit(k_hashes).cast("int").alias("k_hashes"),
    )


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    *,
    n_bits: int,
    k_hashes: int = 7,
    hit_col: str = "bloom_hit",
) -> DataFrame:
    """``df`` plus a boolean ``hit_col``: every one of the value's k bit
    positions is set in the filter. ``n_bits``/``k_hashes`` must match
    the build (they ride the bloom row too; literals here keep the
    probe a pure projection). The one-row filter cross-joins broadcast —
    each partition probes locally, the probed side never shuffles."""
    # positions bound as COLUMNS below the cross join (round 15, same
    # rule as frequency.cms_probe): a caller's filter on the hit flag
    # is substituted by PushDownPredicates into the cross join's
    # condition — off bound position columns the duplicated predicate
    # is cheap bit arithmetic instead of k md5 re-derivations, and the
    # one lower projection dedups the md5 via subexpression elimination
    tmp = [f"__bp{i}" for i in range(k_hashes)]
    hv = xhash.with_km_halves(df, F.col(col).cast("string")).select(
        "*",
        *[
            p.alias(n)
            for n, p in zip(tmp, xhash.bound_positions(k_hashes, n_bits))
        ],
    ).drop(*xhash.KM_COLS)
    probed = hv.crossJoin(
        F.broadcast(bloom.select(F.col("bits").alias("__bloom_bits")))
    )
    hit = None
    for name in tmp:
        c = F.expr(
            f"(element_at(__bloom_bits, shiftright({name}, 6) + 1) & "
            f"shiftleft(CAST(1 AS BIGINT), {name} & 63)) != 0"
        )
        hit = c if hit is None else hit & c
    return probed.withColumn(
        hit_col, F.col(col).isNotNull() & hit
    ).drop("__bloom_bits", *tmp)
