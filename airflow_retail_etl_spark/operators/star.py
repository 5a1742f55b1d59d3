"""Star-schema builders (SURVEY §2.4 D1-D3, §2.5 A1, §2.3 P6-P7, §2.1 S3).

All pure DataFrame → DataFrame functions; parameterized over column names so
the same operator serves the reference's retail schema and the driver's
testdata schema. Every aggregation here is a single-shuffle aggregation
with map-side partial aggregation — hash-based, Catalyst's default physical
strategy, except keep_first_agg's sort-based struct ``min`` — which is
exactly what survives a 100× scale-up.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions.columns import money_sum


def fact_rollup(
    events: DataFrame,
    *,
    keys: Sequence[str] = ("event_date", "event_type", "product_id", "user_id"),
    type_col: str = "event_type",
    revenue_col: str = "price",
    purchase_value: str = "purchase",
) -> DataFrame:
    """Fact-table rollup A1: 4-key GROUP BY with count + conditional revenue.

    Reference: retail_pipeline_assets.py:60-70 (``GROUP BY 1,2,3,4`` with
    ``COUNT(*)`` and ``SUM(CASE WHEN event_type='purchase' THEN price …)``).
    One shuffle on the grain keys; partial agg reduces shuffle volume to the
    distinct-grain cardinality, so it scales with output size not input size.
    """
    return events.groupBy(*keys).agg(
        F.count("*").alias("total_events"),
        money_sum(F.col(revenue_col), F.col(type_col) == purchase_value).alias(
            "total_revenue"
        ),
    )


def build_dim(
    df: DataFrame,
    columns: Sequence[str],
    *,
    not_null: Sequence[str] = (),
) -> DataFrame:
    """Dimension extraction D1/D2: multi-column DISTINCT with null-key filter.

    Reference: ``SELECT DISTINCT user_id, user_session … WHERE user_id IS NOT
    NULL`` (retail_pipeline_assets.py:83-85) and the product variant
    (:99-101). ``distinct`` is a hash aggregation — same scale story as
    fact_rollup.
    """
    out = df.select(*columns)
    for c in not_null:
        out = out.filter(F.col(c).isNotNull())
    return out.distinct()


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keyed keep-first dedup D3, made deterministic.

    Reference ``drop_duplicates(subset=["product_id"])``
    (retail_pipeline_assets.py:118) keeps an order-dependent survivor; per
    SURVEY §4.3.4 we pin the survivor with an explicit ``row_number`` ordering
    so results are reproducible across partitionings.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_first_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Keyed keep-first D3 as one aggregation: per key, the row whose
    ``order_by`` values are smallest, compared left to right with nulls
    first — the survivor of ``dedup_keep_first(df, keys, order_by)``.

    ``min`` over a struct of the ordering columns is combined map-side
    (sort-based: a struct buffer is not hash-aggregatable), so duplicate
    rows collapse before the single exchange, and they cannot change the
    minimum: no DISTINCT pass is needed first. The struct carries the
    survivor's values, so ``order_by`` must name every non-key column;
    putting all of them in the order also makes ties impossible. Columns
    keep ``df``'s order.
    """
    rest = set(df.columns) - set(keys) - set(order_by)
    if rest:
        raise ValueError(f"columns outside keys and order_by: {sorted(rest)}")
    first = F.min(F.struct(*order_by)).alias("__first")
    return df.groupBy(*keys).agg(first).select(
        *[c if c in keys else F.col(f"__first.{c}").alias(c) for c in df.columns]
    )


def upsert_dim(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] = (),
) -> DataFrame:
    """MERGE-style SCD-1 upsert: updates win on key match, new keys insert.

    The reference's intent is incremental loads (reference README.md:55 —
    "all loads are incremental") but its implementation rebuilds dims from
    the day's frame; this is the scalable merge: union the two sides with a
    source priority, keep the first row per key — exactly one shuffle on
    the dim key, no driver-side diffing. ``order_by`` breaks ties WITHIN a
    side (e.g. several updates for one key in the same batch), so the
    survivor is deterministic under any partitioning.

    At 100 TB dims: this is the Spark-native MERGE. The union's shuffle is
    sized by |existing| + |updates|; since updates are a daily sliver,
    AQE coalesces most of it, and the result overwrites the dim snapshot
    atomically (see pipeline.build_dims_incremental).
    """
    tagged = updates.withColumn("__src", F.lit(0)).unionByName(
        existing.withColumn("__src", F.lit(1))
    )
    return dedup_keep_first(
        tagged, keys, [F.col("__src").asc(), *order_by]
    ).drop("__src")


def dim_date(
    spark: SparkSession,
    start: str,
    end: str,
) -> DataFrame:
    """Calendar dimension (S3 + P7): one row per date with date parts.

    Reference: pandas ``date_range`` + ``.day/.month/.year/.weekday/
    .isocalendar().week`` (retail_pipeline_assets.py:125-142). pandas weekday
    is Monday=0 → Spark ``weekday()`` matches; ``weekofyear`` is ISO week,
    matching ``isocalendar().week`` (SURVEY §4.3.3).
    """
    cal = spark.sql(
        f"""
        SELECT explode(sequence(to_date('{start}'), to_date('{end}'),
                                interval 1 day)) AS date
        """
    )
    return with_date_parts(cal, "date")


def with_date_parts(df: DataFrame, date_col: str) -> DataFrame:
    """Attach the reference's five date parts to an existing date column."""
    d = F.col(date_col)
    return df.select(
        d.alias(date_col),
        F.dayofmonth(d).alias("day"),
        F.month(d).alias("month"),
        F.year(d).alias("year"),
        F.weekday(d).alias("weekday"),
        F.weekofyear(d).alias("week"),
    )
