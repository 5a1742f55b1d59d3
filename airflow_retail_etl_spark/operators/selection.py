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
2. one tiny per-partition aggregate (``num_partitions`` rows) whose
   running total — the only sequential step — is a window over those
   few rows, broadcast back as per-partition offsets;
3. a WITHIN-partition cumulative window (partitioned by the range id),
   so no executor ever sees more than its partition.

The result is bit-identical to the single-partition window for exact
value types (integer token counts, DECIMAL money) because addition is
associative there — which is also why the money/metric policy matters:
a DOUBLE value column would make the partition split observable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
    and with the grand total as ``total_col`` when one is named (it
    rides the offsets broadcast, so it costs no extra pass).

    ``num_partitions`` bounds per-executor window size; the sequential
    offset pass touches ``num_partitions`` rows, never data rows.

    The range-partitioned frame is EAGERLY MATERIALIZED before anything
    reads ``__pid`` — this is correctness, not the r10 perf rule:
    ``repartitionByRange`` samples its bounds per execution, and the
    un-pinned subtree executes TWICE (once building the broadcast
    offsets, once for the output), so the two executions can assign
    different ``__pid`` to boundary rows and the offsets then belong to
    a different partitioning than the rows they're joined to (observed
    round 15: an intermittent sf0.1 corpus_shuffle run with 94% of
    positions shifted; identical session re-runs were clean — exchange
    reuse usually hides it). At 100 TB prefer persisting the
    range-clustered table (``io.write_sorted``) and reading it back.
    """
    part = (
        df.repartitionByRange(num_partitions, *order)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = part.groupBy("__pid").agg(F.sum(value_col).alias("__psum"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "__pid",
        F.coalesce(F.sum("__psum").over(w_off), F.lit(0)).alias("__off"),
        *(
            [F.sum("__psum").over(Window.partitionBy()).alias(total_col)]
            if total_col
            else []
        ),
    )
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(offs), "__pid")
        .withColumn(out_col, F.col("__off") + F.sum(value_col).over(w_in))
        .drop("__pid", "__off")
    )


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


# The two helpers below build their columns from SQL text: one F.expr
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


def _stack_quantiles(qs: Sequence[float]) -> Column:
    """Generator of (q, quantile) rows from :func:`_order_stat_picks`'
    columns: type-7 interpolation in the fixed-order IEEE expression
    ``lo + d·(hi−lo)`` (the textbook (1−d)·lo + d·hi differs at the
    last ulp and would break the oracle's bit-exactness), 6dp."""
    rows = []
    for i, q in enumerate(qs):
        h = _type7_rank(q)
        d = f"({h} - CAST(CAST(FLOOR({h}) AS BIGINT) AS DOUBLE))"
        lv, hv = f"CAST(__lo{i} AS DOUBLE)", f"CAST(__hi{i} AS DOUBLE)"
        rows.append(
            f"named_struct('q', {float(q)!r}D,"
            f" 'quantile', round({lv} + {d} * ({hv} - {lv}), 6))"
        )
    return F.expr(f"inline(array({', '.join(rows)}))")


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
    (:func:`_order_stat_picks`) — the window already clustered the rows
    by group, so the pick adds no exchange. NULL values excluded; NULL
    groups excluded (they are absent keys, not a quantile population).
    Returns (``group_col``, q, quantile, n), one row per group and q
    (q in the order given; groups unordered). Duplicate qs are refused.

    Scale note: the cumulative window partitions by group over
    value-grain rows — heavy-tailed value domains per group stay
    bounded by |distinct values|; for one monster group, slice it and
    use :func:`global_quantiles` (range repartition) instead.
    """
    _check_quantiles(qs)
    counts = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_cum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("g")).cast("long")
    )
    return (
        cum.groupBy("g")
        .agg(F.max("n").alias("n"), *_order_stat_picks(qs))
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

    - median = grouped_quantiles(…, [0.5]) — exact type-7;
    - MAD = the exact median of |x − median| (deviations rounded 6dp
      BEFORE re-ranking so the second rank pass runs on an engine-
      identical value domain — the transcendental/ratio policy applied
      to a derived column);
    - trimmed mean = the mean of values inside [q_trim, q_(1−trim)] —
      values 6dp-round → DECIMAL accumulate (exact, layout-free), one
      double division, 6dp round.

    Heavy-tailed pipelines use these instead of mean/stddev (a handful
    of outlier documents should not move the center estimate); all
    three passes are value-grain aggregations + broadcast joins, so
    scale posture is grouped_quantiles' (state per group = its distinct
    values, never its rows). Returns
    (group, n, median, mad, n_trimmed, trimmed_mean), ordered."""
    if not 0.0 < trim_q < 0.5:
        raise ValueError(f"trim_q must be in (0, 0.5), got {trim_q}")
    g, v = F.col(group_col), F.col(value_col)
    base = df.filter(v.isNotNull() & g.isNotNull()).select(
        group_col, v.cast("double").alias("__v")
    )
    # ONE rank pass computes the median AND both trim bounds (the
    # value-grain cumulative window is the expensive part — don't run
    # it twice over the same domain); the deviations need a second pass
    # because their value domain only exists after the median does
    qv = grouped_quantiles(
        base, group_col, "__v", [trim_q, 0.5, 1.0 - trim_q]
    )
    # |groups|-row frame whose lineage holds the whole rank pass; it
    # feeds THREE reuses (meds -> deviations, meds -> output join,
    # bounds -> trim filter) — materialize once (the round-10 rule,
    # measured: PLANS.md read 79 exchanges for robust_value_stats
    # before, and the warm wall-time halves; re-measured with the
    # one-aggregation pick: fresh-JVM sf0.1 probe 3.3-4.0 s pinned vs
    # 4.3-5.0 s un-pinned, though un-pinned runs 4 fewer jobs)
    qv = qv.localCheckpoint(eager=True)
    wide = qv.groupBy(group_col).agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(F.col("q") == float(trim_q), F.col("quantile"))
        ).alias("__lo"),
        F.min(
            F.when(F.col("q") == 0.5, F.col("quantile"))
        ).alias("median"),
        F.max(
            F.when(F.col("q") == float(1.0 - trim_q), F.col("quantile"))
        ).alias("__hi"),
    )
    meds = wide.select(group_col, "median", "n")
    bounds = wide.select(group_col, "__lo", "__hi")
    dev = base.join(F.broadcast(meds), group_col).select(
        group_col,
        F.round(F.abs(F.col("__v") - F.col("median")), 6).alias("__dev"),
    )
    mads = grouped_quantiles(dev, group_col, "__dev", [0.5]).select(
        group_col, F.col("quantile").alias("mad")
    )
    trimmed = (
        base.join(F.broadcast(bounds), group_col)
        .filter(
            (F.col("__v") >= F.col("__lo"))
            & (F.col("__v") <= F.col("__hi"))
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trimmed"),
            F.sum(
                F.round(F.col("__v"), 6).cast("decimal(24,6)")
            ).alias("__ts"),
        )
        .select(
            group_col,
            "n_trimmed",
            F.round(
                F.col("__ts").cast("double")
                / F.col("n_trimmed").cast("double"),
                6,
            ).alias("trimmed_mean"),
        )
    )
    # LEFT join: a small group can trim to EMPTY (both bounds fall
    # strictly between its values — e.g. two values at trim_q=0.2); it
    # must keep its median/MAD with n_trimmed=0 and a NULL trimmed
    # mean, not vanish (the kpi_read registerless-grain lesson)
    return (
        meds.join(mads, group_col)
        .join(trimmed, group_col, "left")
        .select(
            group_col,
            "n",
            "median",
            "mad",
            F.coalesce("n_trimmed", F.lit(0).cast("long")).alias(
                "n_trimmed"
            ),
            "trimmed_mean",
        )
        .orderBy(group_col)
    )
