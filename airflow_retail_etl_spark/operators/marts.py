"""KPI mart queries (SURVEY §2.5 A2-A4, §2.6 J1, §2.7 O1-O2, §2.3 P8-P11).

Each mart is one lazy DataFrame pipeline: scan → (broadcast) join → single
hash aggregation → optional top-k. No intermediate materialization, no result
round-trips (the reference shipped every intermediate through pandas/Postgres,
SURVEY §3.2 — the anti-pattern these functions eliminate).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions.columns import (
    conditional_count,
    money_sum,
    safe_ratio,
)


def daily_revenue_summary(
    events: DataFrame,
    *,
    date_col: str = "event_date",
    type_col: str = "event_type",
    user_col: str = "user_id",
    revenue_col: str = "price",
    view_value: str = "view",
    cart_value: str = "cart",
    purchase_value: str = "purchase",
    exact: bool = True,
) -> DataFrame:
    """Daily KPI aggregate A2 + funnel ratios P8.

    Reference: retail_pipeline.py:34-51 — per event_date: revenue, exact
    distinct users, conditional funnel counts, then cart/purchase rates.
    ``countDistinct`` stays exact by default (SURVEY §4.3.2);
    distinct-aggregation is planned by Spark as a two-phase expand+hash-agg,
    still one logical pass. ``exact=False`` switches unique_users to
    HyperLogLog++ (``approx_count_distinct``, rsd 5%) — the 100 TB scale
    mode: no expand, partial aggregation shrinks to one sketch per
    (date, partition) instead of carrying every distinct user through the
    shuffle. Division-by-zero yields NULL (ANSI), a documented delta from
    pandas ``inf`` (SURVEY §4.3.1).
    """
    t = F.col(type_col)
    uniques = (
        F.countDistinct(user_col)
        if exact
        else F.approx_count_distinct(user_col)
    )
    agg = events.groupBy(date_col).agg(
        money_sum(F.col(revenue_col), t == purchase_value).alias("revenue"),
        uniques.alias("unique_users"),
        conditional_count(t == purchase_value).alias("purchases"),
        conditional_count(t == cart_value).alias("carts"),
        conditional_count(t == view_value).alias("views"),
    )
    return agg.select(
        "*",
        safe_ratio(F.col("carts"), F.col("views")).alias("cart_rate"),
        safe_ratio(F.col("purchases"), F.col("views")).alias("purchase_rate"),
    )


def funnel_by_dim(
    fact: DataFrame,
    dim: DataFrame,
    *,
    on: str = "product_id",
    group_by: Sequence[str] = ("event_date", "brand", "category_code"),
    type_col: str = "event_type",
    revenue_col: str = "price",
    view_value: str = "view",
    cart_value: str = "cart",
    purchase_value: str = "purchase",
) -> DataFrame:
    """Funnel-by-brand mart A3 over the star join J1.

    Reference: retail_pipeline.py:54-70 (``fact_events e JOIN dim_product p ON
    e.product_id = p.product_id`` + 3-key conditional aggregation). The
    dimension side is broadcast (dims are bounded: products/brands, not
    events), so the fact table never shuffles for the join — the only shuffle
    is the final aggregation on the group keys.
    """
    t = F.col(type_col)
    joined = fact.join(F.broadcast(dim), on=on, how="inner")
    return joined.groupBy(*group_by).agg(
        conditional_count(t == view_value).alias("views"),
        conditional_count(t == cart_value).alias("carts"),
        conditional_count(t == purchase_value).alias("purchases"),
        money_sum(F.col(revenue_col), t == purchase_value).alias("revenue"),
    )


def top_k(
    df: DataFrame,
    order_col: str,
    k: int = 10,
    *,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Top-K by measure O1 with a deterministic total order.

    Reference: ``sort_values("revenue", ascending=False).head(10)``
    (retail_pipeline.py:73). Spark plans this as TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver side of the stage; no
    global sort materializes. ``tiebreak`` pins the survivor set when measures
    tie (pandas' head() order is an accident of input order).
    """
    ordering = [F.col(order_col).desc()] + [F.col(c).asc() for c in tiebreak]
    return df.orderBy(*ordering).limit(k)


def events_summary(
    events: DataFrame,
    *,
    ts_col: str = "event_time",
    type_col: str = "event_type",
    allowed_types: Sequence[str] = ("view", "addtocart", "transaction"),
) -> DataFrame:
    """Historical daily event summary A4 (+P10 membership filter, P11 DATE()).

    Reference (recovered from dags/__pycache__ bytecode, SURVEY §0): filter
    ``event.isin([...])`` + dropna, then ``GROUP BY DATE(event_time), event``
    with ``COUNT(*)`` and a global ORDER BY (O2).
    """
    return (
        events.filter(F.col(type_col).isin(list(allowed_types)))
        .na.drop(subset=[ts_col, type_col])
        .groupBy(
            F.to_date(F.col(ts_col)).alias("event_date"),
            F.col(type_col).alias("event_type"),
        )
        .agg(F.count("*").alias("event_count"))
        .orderBy("event_date", "event_type")
    )
