"""Cross-engine-replicable MERGEABLE quantile sketch: adaptive level
sampling on the md5 draw.

The third face of the sketch family: distinct counts have HLL registers
(`operators/cardinality.py`), frequencies have CMS cells
(`operators/frequency.py`), and until round 12 quantiles only had exact
rank arithmetic (`operators/selection.py`) — which is the right answer
for one ad-hoc question but RESCANS the corpus per window: a rolling
30-day p99 over 100 TB re-touches every (day, value) pair once per
window it falls in. This module gives quantiles the same treatment the
other two faces got: per-day sketch state rows, linear/idempotent
merges, and trailing-window answers that never revisit raw data.

Extension surface beyond the reference (which has no quantile machinery
at all; its closest shape is the per-day KPI aggregation at
`/root/reference/dags/retail_pipeline.py:36-45`).

The sketch — deterministic adaptive sub-sampling (the classic
level-sampling construction behind distinct sampling / VarOpt-style
summaries, instantiated on the engine-portable md5 hash family
(`functions/xhash`) instead of a private RNG, the same determinism
switch the KLL/GK literature's "random coin" needs for engine replay):

- every row draws ``lvl = leading zeros of the low 60 bits of
  md5_u64(key)`` — a geometric level with P(lvl ≥ ℓ) = 2^-ℓ, a PURE
  per-row predicate (same under any partitioning, rerun, or engine);
- a group's state keeps rows with ``lvl ≥ thr`` where ``thr`` is the
  smallest level keeping ≤ ``cap`` rows — so the state is a
  Bernoulli(2^-thr) sample of the group, size ∈ (cap/2, cap] in
  expectation, and a PURE FUNCTION of (group contents, cap);
- merging states = union the rows, re-threshold to cap
  (:func:`requantize`). Because day d's state contains EVERY row with
  lvl ≥ thr_d, the union is complete at all levels ≥ max_d(thr_d), and
  the re-thresholded survivor set equals the one-shot sketch of the
  concatenated input EXACTLY (test-pinned, oracle-certified): mergeable
  AND one-shot-equivalent, like HLL's MAX and CMS's SUM;
- quantiles read off the survivor sample with the family's type-7
  arithmetic (h = q·(m−1)+1 over the (value, hash)-ordered sample,
  fixed-order ``lo + d·(hi−lo)`` interpolation, 6 dp) — identical
  expressions to `selection.global_quantiles`, so estimates replay
  bit-for-bit in DuckDB.

Accuracy: survivors are a uniform Bernoulli sample of m ≈ cap rows, so
rank error concentrates at O(1/√m) (~2% at cap=2048, ~4.4% at 512) —
the standard sample-quantile guarantee; `tests/test_qsketch.py` pins an
observed bound against `selection.global_quantiles`. When a group fits
inside cap the threshold is 0 and the sketch IS the data — estimates
are exactly the type-7 quantiles.

Numeric policy (README "Correctness"): levels, thresholds, ranks, and
counts are exact integers; the only double arithmetic is the one
fixed-order interpolation per (group, q), rounded to 6 dp before
anything consumes it.

Scale shape:
- state build: one md5 projection per row (linear, no key-grain
  shuffle), one (group × ≤61)-row level histogram with map-side
  combine, one broadcast threshold join, one filter. Survivor state is
  ≤ ~cap rows per group — kilobytes, the persistence grain.
- merge/query: unions and windows over SKETCH rows only (windows ×
  cap), never raw data. The rolling form's only calendar-scale work is
  the days×state between-join, bounded by |days| · cap · window_days.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions import xhash
from airflow_retail_etl_spark.functions.columns import (
    double_array,
    pub_round,
)
from airflow_retail_etl_spark.operators.mart_state import trailing_windows

#: level bits — the low 60 bits of the md5 u64 fit a positive signed
#: BIGINT in both engines (the same headroom trick as HLL's rest bits),
#: so leading zeros come from ``length(bin(...))``, no transcendentals
LEVEL_BITS = 60

#: default state capacity per group (rank error ~ 1/√cap ≈ 2.2%)
DEFAULT_CAP = 2048


def level_cols(key: Column) -> tuple[Column, Column]:
    """(h, lvl) of a row key: h is the ORDER-PRESERVING signed image of
    md5_u64(key) (the u64 minus 2^63 — round 15: h is only ever carried
    as state and used as an ordering/equality tiebreak, never
    published, so the long image replaces the DECIMAL(20,0) at zero
    semantic change while removing a per-row BigDecimal mod); lvl =
    leading zeros of the hash's low 60 bits (P(lvl ≥ ℓ) = 2^-ℓ,
    lvl ∈ [0, 60]) — the deterministic "coin" every engine replays
    identically (the oracle computes the same lvl from the same md5
    bits; ordering by the biased image equals ordering by the u64)."""
    hi, lo = xhash.md5_u64_hilo(key.cast("string"))
    h = (hi - F.lit(2147483648)) * F.lit(1 << 32) + lo
    rest = hi.bitwiseAND(F.lit((1 << 28) - 1)) * F.lit(1 << 32) + lo
    lvl = (
        F.when(rest == 0, F.lit(LEVEL_BITS))
        .otherwise(F.lit(LEVEL_BITS) - F.length(F.bin(rest)))
        .cast("int")
    )
    return h, lvl


def _with_group(
    df: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, list[str]]:
    """Uniform grouped/global handling: empty ``keys`` gets a constant
    group column (dropped by callers on output)."""
    if keys:
        return df, list(keys)
    return df.withColumn("__all", F.lit(0)), ["__all"]


def _thresholds(
    rows: DataFrame, keys: list[str], cap: int, *, floor_col: str | None
) -> DataFrame:
    """Per-group smallest feasible level: min ℓ with |{lvl ≥ ℓ}| ≤ cap,
    as ``(keys…, lvl_used)``.

    Computed from the (group × ≤61)-row level histogram: cumulative
    counts from the top level down, then ℓ = (largest level still over
    cap) + 1, clamped to [0, LEVEL_BITS]. With ``floor_col`` (re-merge
    of already-thresholded states) the result is additionally floored
    at MAX(floor_col): union counts BELOW the days' max threshold are
    incomplete (each day only kept lvl ≥ its own thr), but at and above
    it they are exact — which is why merged-then-requantized equals the
    one-shot sketch."""
    aggs = [F.count(F.lit(1)).alias("c")]
    if floor_col is not None:
        aggs.append(F.max(floor_col).alias("__floor"))
    hist = rows.groupBy(*keys, "lvl").agg(*aggs)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("lvl").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum_ge", F.sum("c").over(w))
    bump = F.coalesce(
        F.max(F.when(F.col("cum_ge") > cap, F.col("lvl") + 1)),
        F.lit(0),
    )
    out = bump
    if floor_col is not None:
        out = F.greatest(bump, F.max("__floor"))
    return cum.groupBy(*keys).agg(
        F.least(out, F.lit(LEVEL_BITS)).cast("int").alias("lvl_used")
    )


def _attach(rows: DataFrame, thr: DataFrame, keys: list[str]) -> DataFrame:
    """Broadcast-join the |groups|-row threshold table onto the rows."""
    return rows.join(F.broadcast(thr), keys)


def qsketch_state(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    key_col: str,
    *,
    cap: int = DEFAULT_CAP,
) -> DataFrame:
    """Build the per-group sketch state: (``keys``…, thr, v, h, lvl) —
    the rows whose level clears the group's threshold, the sketch's
    PERSISTENCE/MERGE grain (≤ ~cap rows per group; a group smaller
    than cap is kept whole at thr=0, where the sketch is exact).

    ``key_col`` must identify rows uniquely (doc_id, event_id): the
    hash draw — and therefore sample membership and the (v, h) sample
    order — is a pure function of it. Rows with NULL value or key are
    excluded. State is a pure function of (group contents, cap): the
    same under any layout, rerun, or engine, so at-least-once replays
    that OVERWRITE a group's state rows are idempotent (the HLL-style
    replay answer, not CMS's partition-overwrite-per-batch — though the
    streaming fold uses that too, see streaming.incremental)."""
    if cap < 64:
        raise ValueError(f"cap must be >= 64, got {cap}")
    h, lvl = level_cols(F.col(key_col))
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    )
    base, gk = _with_group(base, keys)
    rows = base.select(
        *gk,
        F.col(value_col).cast("double").alias("v"),
        h.alias("h"),
        lvl.alias("lvl"),
    )
    thr = _thresholds(rows, gk, cap, floor_col=None)
    out = (
        _attach(rows, thr, gk)
        .filter(F.col("lvl") >= F.col("lvl_used"))
        .withColumnRenamed("lvl_used", "thr")
        .select(*gk, "thr", "v", "h", "lvl")
    )
    return out.drop("__all") if not keys else out


def requantize(
    state: DataFrame,
    keys: Sequence[str],
    *,
    cap: int = DEFAULT_CAP,
) -> DataFrame:
    """Re-threshold a (possibly merged/unioned) state to ``cap``:
    (``keys``…, lvl_used, v, h). The MERGE operation — union per-day or
    per-batch state frames (regrouped under any output key, e.g.
    window_end), then requantize; the survivor set equals the one-shot
    sketch of the concatenated raw input EXACTLY (module docstring;
    test-pinned)."""
    st, gk = _with_group(state, keys)
    thr = _thresholds(st, gk, cap, floor_col="thr")
    out = (
        _attach(st, thr, gk)
        .filter(F.col("lvl") >= F.col("lvl_used"))
        .select(*gk, "lvl_used", "v", "h")
    )
    return out.drop("__all") if not keys else out


def sample_quantiles(
    survivors: DataFrame,
    keys: Sequence[str],
    qs: Sequence[float],
) -> DataFrame:
    """Type-7 quantile estimates off a survivor sample
    (``keys``…, lvl_used, v, h): one row per (group, q) —
    (``keys``…, q, lvl_used, n_kept, quantile), ordered by (keys…, q).

    The sample is totally ordered by (v, h) — h breaks value ties
    deterministically — and positions h = q·(m−1)+1 interpolate with
    the family's EXACT fixed-order expression ``lo + d·(hi−lo)``
    (selection.py's policy: the textbook (1−d)·lo + d·hi differs at the
    last ulp), rounded 6 dp.

    The read runs as ONE aggregation: each group's ≤ cap survivor rows
    collapse to a sorted (v, h) array (``array_sort`` over structs is
    lexicographic by field order — exactly the old row_number window's
    (v, h) order), and every q reads its two bracketing order statistics
    with ``element_at``. Round 16: the previous form ranked the sample
    with two windows and picked brackets through three self-joins on the
    ranked frame, which replicated the whole survivor subtree three
    times in the physical plan — at sf0.1 the driver-side AQE/codegen
    cost of those copies dominated the family's wall (rolling_quantiles
    carried a 2231-line plan). The array is bounded by cap per group —
    kilobytes — so collecting it is the sketch's contract, not a
    driver-style collect. Values are bit-identical: same bracket
    elements, same fixed-order interpolation expression (test-pinned
    against the windowed form; oracle twins unchanged)."""
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    surv, gk = _with_group(survivors, keys)
    grouped = surv.groupBy(*gk).agg(
        F.max("lvl_used").alias("lvl_used"),  # constant per group
        F.array_sort(
            F.collect_list(F.struct(F.col("v"), F.col("h")))
        ).alias("__arr"),
    )
    targets = (
        grouped.select("*", F.explode(double_array(qs)).alias("q"))
        .withColumn("__m", F.size("__arr").cast("long"))
        .withColumn(
            "hpos",
            F.col("q") * (F.col("__m") - 1).cast("double") + F.lit(1.0),
        )
        .withColumn("lo", F.floor("hpos").cast("long"))
        .withColumn("hi", F.ceil("hpos").cast("long"))
        .withColumn("d", F.col("hpos") - F.col("lo").cast("double"))
    )
    lv = F.element_at("__arr", F.col("lo").cast("int")).getField("v")
    hv = F.element_at("__arr", F.col("hi").cast("int")).getField("v")
    out = (
        targets.select(
            *gk,
            "q",
            "lvl_used",
            F.col("__m").alias("n_kept"),
            F.round(lv + F.col("d") * (hv - lv), 6).alias("quantile"),
        )
        .orderBy(*gk, "q")
    )
    return out.drop("__all") if not keys else out


def sketch_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    key_col: str,
    qs: Sequence[float],
    *,
    cap: int = DEFAULT_CAP,
) -> DataFrame:
    """One-shot compose: state → requantize → estimates. (The state is
    already ≤ cap per group, so requantize is the identity here — kept
    in the path so one-shot and merged forms run THE SAME final
    operators, which is what makes them bit-comparable.)"""
    # the state is ≤ cap rows per group BY CONSTRUCTION, but its lineage
    # holds the corpus-sized level pass, and requantize + the estimate
    # windows reuse it several times — materialize once (the r10 rule,
    # A/B-measured: quantile_sketch 2.89 → 2.24 s warm at sf0.1; the
    # query's fused exact-audit legs still scan raw and keep the rest;
    # values bit-identical, oracle unchanged)
    state = qsketch_state(df, keys, value_col, key_col, cap=cap)
    state = state.localCheckpoint(eager=True)
    return sample_quantiles(requantize(state, keys, cap=cap), keys, qs)


def rolling_quantiles(
    df: DataFrame,
    value_col: str,
    key_col: str,
    date_col: str,
    qs: Sequence[float],
    *,
    window_days: int,
    cap: int = DEFAULT_CAP,
) -> DataFrame:
    """Trailing-window quantiles from MERGEABLE per-day sketch state —
    the quantile twin of `cardinality`'s rolling HLL registers and
    `frequency`'s rolling CMS cells: the corpus is scanned ONCE into
    per-day state rows (≤ ~cap each), and every window is a
    state-union + requantize + sample read, bounded by
    calendar · window_days · cap — independent of corpus size.

    Returns one row per (window_end, q): (window_end, q, n_days,
    lvl_used, n_kept, quantile, n_exact, rank_frac, rank_err), ordered
    by (window_end, q). The audit columns recompute, from raw rows, the
    exact window size and the exact rank fraction of the estimate
    (count of window values strictly below it / n) — affordable at
    oracle scale, the thing the sketch exists to avoid at 100 TB;
    ``rank_err = rank_frac − q`` is the realized rank error the
    O(1/√cap) bound speaks about. Windows with fewer than
    ``window_days`` source days (the calendar head) fold fewer days —
    n_days reports it, same contract as rolling_distinct_hll."""
    # pinned: `days` and every window read consume the calendar-bounded
    # state (≤ days · ~cap rows), and un-materialized each branch re-runs
    # the corpus-sized sketch build (the r10 materialize rule)
    state = qsketch_state(
        df, [date_col], value_col, key_col, cap=cap
    ).localCheckpoint(eager=True)
    days = state.select(date_col).distinct()
    # The r14 materialize audit A/B-probed two further checkpoint sites
    # here (the requantize survivors feeding sample_quantiles, and the
    # tiny est frame feeding the audit broadcast + final join) — and
    # REVERTED both: isolated pretouched-JVM probes read sf1 warm
    # 5.48 s plain vs 6.68-6.72 s with either materialization (sf0.1
    # warm flat at ~3.5-3.6 s; only COLD improved, 8.9 → 6.3 s).
    # Catalyst's reused exchanges over the already-checkpointed state
    # make the extra eager jobs a net pessimization — the
    # rolling_distinct_hll precedent (SCALING_HISTORY
    # r14_materialize_audit). The exchange count alone is the TELL,
    # not the verdict.
    merged = trailing_windows(state, days, window_days, date_col)
    est = sample_quantiles(
        requantize(merged, ["window_end"], cap=cap), ["window_end"], qs
    )
    n_days = (
        trailing_windows(days, days, window_days, date_col)
        .groupBy("window_end")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    )
    raw = df.filter(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(date_col, F.col(value_col).cast("double").alias("rv"))
    wrows = trailing_windows(raw, days, window_days, date_col)
    # one audit pass: after the broadcast est join every (window_end, q)
    # group sees all of that window's raw rows, so the group's row count
    # IS n_exact — fusing it into the rank aggregation saves a second
    # scan of the ×window_days-exploded audit rows (measured at sf0.1:
    # the audit dominates this query's stage count)
    ranks = (
        wrows.join(
            F.broadcast(est.select("window_end", "q", "quantile")),
            "window_end",
        )
        .groupBy("window_end", "q")
        .agg(
            F.sum(
                F.when(F.col("rv") < F.col("quantile"), 1).otherwise(0)
            )
            .cast("long")
            .alias("rank_lo"),
            F.count(F.lit(1)).cast("long").alias("n_exact"),
        )
    )
    return (
        est.join(F.broadcast(n_days), "window_end")
        .join(ranks, ["window_end", "q"])
        .select(
            "window_end",
            "q",
            "n_days",
            "lvl_used",
            "n_kept",
            "quantile",
            "n_exact",
            F.round(
                F.col("rank_lo").cast("double")
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rank_frac"),
        )
        .withColumn(
            "rank_err", pub_round(F.col("rank_frac") - F.col("q"), 6)
        )
        .orderBy("window_end", "q")
    )
