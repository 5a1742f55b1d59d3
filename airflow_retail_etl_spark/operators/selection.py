"""Budgeted corpus selection: exact global prefix sums without a global
window.

The training-data use case: "fill a token budget with the best-quality
documents" — rank the corpus by a quality key, take documents until the
cumulative token count crosses the budget. The natural SQL
(``SUM(tokens) OVER (ORDER BY quality DESC)``) collapses to a SINGLE
partition in Spark (WindowExec with an empty partition spec), which is
the textbook driver-shaped bottleneck at 100 TB.

``global_cumsum`` computes the identical exact prefix sum in three
distributed steps:

1. range-repartition on the (total) ordering key — Spark's
   RangePartitioner puts partition i's every row before partition i+1's
   in key order, and the ordering key is made total (unique tiebreak
   column), so ranges are disjoint;
2. each range partition's total, observed (``DataFrame.observe``) on
   the same job that pins the range-partitioned rows; the running total
   of those ``num_partitions`` numbers — the only sequential step — is
   computed exactly on the driver and rides into the plan as literal
   per-partition offsets;
3. a WITHIN-partition cumulative window (partitioned by the range id),
   so no executor ever sees more than its partition.

The result is bit-identical to the single-partition window for exact
value types (integer token counts, DECIMAL money) because addition is
associative there — which is also why the money/metric policy matters:
a DOUBLE value column would make the partition split observable.
"""

from __future__ import annotations

import decimal
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _sum_type(t: T.DataType) -> T.DataType:
    """Spark's ``sum`` result type for an exact value type (``Sum``'s
    rule: integral → BIGINT, DECIMAL(p, s) → DECIMAL(min(p+10, 38), s))."""
    if isinstance(t, T.DecimalType):
        return T.DecimalType(min(t.precision + 10, 38), t.scale)
    if isinstance(t, T.IntegralType):
        return T.LongType()
    raise TypeError(f"global_cumsum needs an exact value type, got {t}")


def _typed_literal(x, t: T.DataType) -> str:
    """SQL text for the exact value ``x`` (int, Decimal or None) as type
    ``t`` — a string cast, so no digit is lost to a literal's parse."""
    if x is None:
        v = "NULL"
    else:
        v = f"'{x:f}'" if isinstance(x, decimal.Decimal) else f"'{x}'"
    return f"CAST({v} AS {t.simpleString()})"


def global_cumsum(
    df: DataFrame,
    order: Sequence[Column],
    value_col: str,
    *,
    out_col: str = "cum",
    total_col: str | None = None,
    num_partitions: int = 16,
) -> DataFrame:
    """Annotate ``df`` with the exact running sum of ``value_col`` in
    ``order`` (which must be a TOTAL order — include a unique tiebreak),
    and with the grand total as ``total_col`` when one is named.
    ``value_col`` must be integral or DECIMAL (exact addition is what
    makes the partition split unobservable).

    ``num_partitions`` bounds per-executor window size. Each range
    partition's total is OBSERVED on the pin's own job (one
    ``DataFrame.observe`` of ``num_partitions`` conditional sums, built
    as one SQL expression); the driver turns the totals into prefix
    offsets with exact integer / 76-digit decimal arithmetic and the
    window reads them, and the grand total, as literals — no
    per-partition aggregation, no offsets window, no broadcast join.
    The offset and ``total_col`` are typed as the sum of the window
    sum (BIGINT for integral values, DECIMAL(min(p+20, 38), s) for
    DECIMAL(p, s)), so ``out_col`` keeps the type of the former
    offsets-plus-window expression.

    The range-partitioned frame is EAGERLY MATERIALIZED before anything
    reads ``__pid`` — this is correctness, not the r10 perf rule:
    ``repartitionByRange`` samples its bounds per execution, so totals
    from one execution and rows from another can disagree on the
    ``__pid`` of boundary rows (observed round 15, when the offsets
    were a second consumer of the un-pinned subtree: an intermittent
    sf0.1 corpus_shuffle run with 94% of positions shifted). The
    observed totals come from the very execution the pin stores, so
    they belong to its partitioning by construction. At 100 TB prefer
    persisting the range-clustered table (``io.write_sorted``) and
    reading it back.
    """
    off_t = _sum_type(_sum_type(df.schema[value_col].dataType))
    obs = Observation()
    psums = ", ".join(
        f"sum(CASE WHEN __pid = {i} THEN `{value_col}` END)"
        for i in range(num_partitions)
    )
    part = (
        df.repartitionByRange(num_partitions, *order)
        .withColumn("__pid", F.spark_partition_id())
        .observe(obs, F.expr(f"array({psums})").alias("psums"))
        .localCheckpoint(eager=True)
    )
    totals = obs.get.get("psums") or [None] * num_partitions
    # offsets[i] = sum of the totals before partition i; NULL while
    # every value so far is NULL, as the single window's sum would be
    offsets, run = [], None
    with decimal.localcontext(decimal.Context(prec=76)):
        for t in totals:
            offsets.append(run)
            if t is not None:
                run = t if run is None else run + t
    off = ", ".join(_typed_literal(o, off_t) for o in offsets)
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pid_off = F.expr(f"element_at(array({off}), __pid + 1)")
    win = F.sum(value_col).over(w_in)
    out = part.withColumn(
        out_col,
        F.when(win.isNull(), pid_off).otherwise(
            F.coalesce(pid_off, F.lit(0)) + win
        ),
    )
    if total_col:
        out = out.withColumn(total_col, F.expr(_typed_literal(run, off_t)))
    return out.drop("__pid")


def budget_select(
    df: DataFrame,
    order: Sequence[Column],
    value_col: str,
    budget: int,
    *,
    cum_col: str = "cum",
    num_partitions: int = 16,
) -> DataFrame:
    """Rows whose running ``value_col`` total (in ``order``) stays within
    ``budget`` — greedy budgeted selection, the distributed form of
    "take the best docs until the token budget is spent"."""
    cum = global_cumsum(
        df, order, value_col, out_col=cum_col, num_partitions=num_partitions
    )
    return cum.filter(F.col(cum_col) <= F.lit(budget))


def _check_quantiles(qs: Sequence[float]) -> None:
    if not qs:
        raise ValueError("no quantiles requested")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    if len({float(q) for q in qs}) != len(qs):
        # each q is one output row, keyed by q
        raise ValueError(f"duplicate quantiles in {list(qs)}")


def _type7_rank(q: float) -> str:
    """SQL for h = q·(n−1)+1 over the row's population size ``n`` (the
    ``D`` suffix keeps the literal DOUBLE; a bare one parses as
    DECIMAL)."""
    return f"({float(q)!r}D * CAST(n - 1 AS DOUBLE) + 1.0D)"


# The three helpers below build their columns from SQL text: one F.expr
# parse per column instead of a py4j call per expression node, which
# measured ~0.2 s per helper at 9 qs (CLAUDE.md's literal-count rule).


def _order_stat_picks(qs: Sequence[float]) -> list[Column]:
    """Aggregate columns ``__lo{i}`` / ``__hi{i}``: the values at ranks
    floor(h) and ceil(h) of each q, over value-grain rows carrying
    (v, cum, n). ``cum`` strictly increases with ``v`` (every count is
    ≥ 1), so the row with cum − c < r ≤ cum is min(v) over cum ≥ r
    (``min`` orders like the window: NaN last) — one aggregation, no
    rank table and no range join."""
    return [
        F.expr(
            f"min(CASE WHEN cum >= CAST({fn}({_type7_rank(q)}) AS BIGINT)"
            f" THEN v END) AS __{side}{i}"
        )
        for i, q in enumerate(qs)
        for side, fn in (("lo", "FLOOR"), ("hi", "CEIL"))
    ]


def _interpolated(i: int, q: float) -> str:
    """SQL for q's type-7 quantile from :func:`_order_stat_picks`'
    ``__lo{i}`` / ``__hi{i}``: the fixed-order IEEE expression
    ``lo + d·(hi−lo)`` (the textbook (1−d)·lo + d·hi differs at the
    last ulp and would break the oracle's bit-exactness), 6dp."""
    h = _type7_rank(q)
    d = f"({h} - CAST(CAST(FLOOR({h}) AS BIGINT) AS DOUBLE))"
    lv, hv = f"CAST(__lo{i} AS DOUBLE)", f"CAST(__hi{i} AS DOUBLE)"
    return f"round({lv} + {d} * ({hv} - {lv}), 6)"


def _stack_quantiles(qs: Sequence[float]) -> Column:
    """Generator of (q, quantile) rows from :func:`_order_stat_picks`'
    columns, one per q in the order given."""
    rows = ", ".join(
        f"named_struct('q', {float(q)!r}D, 'quantile', {_interpolated(i, q)})"
        for i, q in enumerate(qs)
    )
    return F.expr(f"inline(array({rows}))")


def _value_counts(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(g, v, c) value-grain counts of the non-NULL (group, value) rows."""
    return (
        df.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _grouped_picks(
    counts: DataFrame, qs: Sequence[float], *extra: Column
) -> DataFrame:
    """Per group ``g`` of value-grain rows (g, v, c, …): the population
    ``n`` and each q's two bracketing order statistics
    (:func:`_order_stat_picks`), plus the ``extra`` aggregates over the
    same rows. One per-group cumulative window over the value grain;
    the window already clustered the rows by group, so the pick adds
    no exchange."""
    w_cum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("g")).cast("long")
    )
    return cum.groupBy("g").agg(
        F.max("n").alias("n"), *_order_stat_picks(qs), *extra
    )


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: Sequence[float],
) -> DataFrame:
    """EXACT per-group interpolated quantiles — the grouped face of
    :func:`global_quantiles`, same type-7 definition (h = q·(n−1)+1,
    interpolated as ``lo + d·(hi−lo)``, 6dp rounded), without
    per-group value buffers (Spark's ``percentile`` holds every value
    of a group in one aggregation buffer — fine for tiny groups, fatal
    for a per-source quantile over a 100 TB corpus slice).

    Plan: one (group, value)-grain count aggregation, one per-group
    cumulative window over the VALUE-GRAIN rows (state is the group's
    distinct-value count, not its row count), and one per-group
    aggregation picking each q's two bracketing order statistics
    (:func:`_grouped_picks`). NULL values excluded; NULL groups
    excluded (they are absent keys, not a quantile population).
    Returns (``group_col``, q, quantile, n), one row per group and q
    (q in the order given; groups unordered). Duplicate qs are refused.

    Scale note: the cumulative window partitions by group over
    value-grain rows — heavy-tailed value domains per group stay
    bounded by |distinct values|; for one monster group, slice it and
    use :func:`global_quantiles` (range repartition) instead.
    """
    _check_quantiles(qs)
    return (
        _grouped_picks(_value_counts(df, group_col, value_col), qs)
        .select(F.col("g").alias(group_col), "n", _stack_quantiles(qs))
        .select(group_col, "q", "quantile", "n")
    )


def global_quantiles(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    *,
    num_partitions: int = 16,
) -> DataFrame:
    """EXACT interpolated quantiles of ``value_col``, computed the way a
    100 TB column allows: rank arithmetic over value-grain cumulative
    counts — never buffering a partition's values in memory (Spark's
    ``percentile`` holds every value of a group in one aggregation
    buffer; fine per small group, fatal for a global quantile of a big
    column — this is its scale-path twin, exact to the same type-7
    definition).

    Plan: one value-grain count aggregation, one distributed prefix sum
    (``global_cumsum``), then ONE aggregation picking each q's two
    bracketing order statistics at h = q·(n−1)+1
    (:func:`_order_stat_picks`) — no sort of the data, no per-group
    buffers. Interpolation is the exact fixed-order IEEE expression
    ``lo + d·(hi−lo)``, rounded 6dp. NULLs excluded; an all-NULL input
    returns no rows. Returns (q, quantile, n), one row per q in the
    order given. Duplicate qs are refused.
    """
    _check_quantiles(qs)
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cum = global_cumsum(
        counts, [F.col("v").asc()], "c", out_col="cum", total_col="n",
        num_partitions=num_partitions,
    )
    return (
        cum.agg(F.max("n").cast("long").alias("n"), *_order_stat_picks(qs))
        .filter(F.col("n").isNotNull())
        .select("n", _stack_quantiles(qs))
        .select("q", "quantile", "n")
    )


def robust_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    trim_q: float = 0.1,
) -> DataFrame:
    """Per-group ROBUST statistics — median, MAD (median absolute
    deviation), and the trim_q-trimmed mean — entirely from the exact
    rank arithmetic of :func:`grouped_quantiles` (no per-group value
    buffers, no approximations):

    - median = the exact type-7 0.5-quantile;
    - MAD = the exact median of |x − median| (deviations rounded 6dp
      BEFORE re-ranking so the second rank pass runs on an engine-
      identical value domain — the transcendental/ratio policy applied
      to a derived column);
    - trimmed mean = the mean of values inside [q_trim, q_(1−trim)] —
      values 6dp-round → DECIMAL accumulate (exact, layout-free), one
      double division, 6dp round.

    Two rank passes. The first picks (lo, median, hi) per group — one
    wide |groups|-row frame, pinned. The second reads the raw rows
    ONCE, joined to that broadcast: one (group, deviation) aggregation
    counts each deviation and carries, per deviation, the in-bounds
    row count and their exact DECIMAL sum, so the grouped pick over
    the deviations yields MAD, ``n_trimmed`` and the trimmed mean
    together — no separate trim pass, no join of per-statistic frames.
    Heavy-tailed pipelines use these instead of mean/stddev (a handful
    of outlier documents should not move the center estimate); scale
    posture is grouped_quantiles' (state per group = its distinct
    values, never its rows). A group that trims to EMPTY (both bounds
    strictly between two of its values) keeps its median and MAD with
    ``n_trimmed`` 0 and a NULL trimmed mean. Returns
    (group, n, median, mad, n_trimmed, trimmed_mean), ordered by group
    on one partition (|groups| rows)."""
    if not 0.0 < trim_q < 0.5:
        raise ValueError(f"trim_q must be in (0, 0.5), got {trim_q}")
    g, v = F.col(group_col), F.col(value_col)
    base = df.filter(v.isNotNull() & g.isNotNull()).select(
        g.alias("g"), v.cast("double").alias("__v")
    )
    qs = [trim_q, 0.5, 1.0 - trim_q]
    # |groups|-row picks whose lineage holds the whole first rank pass;
    # materialized before it feeds the broadcast (the round-10 rule:
    # un-pinned, the broadcast build re-runs the pass)
    wide = (
        _grouped_picks(_value_counts(base, "g", "__v"), qs)
        .select(
            "g",
            *(
                F.expr(f"{_interpolated(i, q)} AS {name}")
                for i, (q, name) in enumerate(
                    zip(qs, ("__lo", "median", "__hi"))
                )
            ),
        )
        .localCheckpoint(eager=True)
    )
    kept = (F.col("__v") >= F.col("__lo")) & (F.col("__v") <= F.col("__hi"))
    devs = (
        base.join(F.broadcast(wide), "g")
        .groupBy(
            "g", F.round(F.abs(F.col("__v") - F.col("median")), 6).alias("v")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.max("median").alias("median"),
            F.count_if(kept).alias("__tn"),
            F.sum(
                F.when(kept, F.round(F.col("__v"), 6).cast("decimal(24,6)"))
            ).alias("__ts"),
        )
    )
    return (
        _grouped_picks(
            devs,
            [0.5],
            F.max("median").alias("median"),
            F.sum("__tn").cast("long").alias("n_trimmed"),
            F.sum("__ts").alias("__ts"),
        )
        .select(
            F.col("g").alias(group_col),
            "n",
            "median",
            F.expr(f"{_interpolated(0, 0.5)} AS mad"),
            "n_trimmed",
            F.round(
                F.col("__ts").cast("double")
                / F.nullif(F.col("n_trimmed"), F.lit(0)).cast("double"),
                6,
            ).alias("trimmed_mean"),
        )
        .repartition(1)
        .sortWithinPartitions(group_col)
    )
