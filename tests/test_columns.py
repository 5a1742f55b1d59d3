from __future__ import annotations

import math

from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions.columns import (
    conditional_count,
    conditional_sum,
    dense_array,
    money_sum,
    safe_ratio,
    split_hierarchy,
)


def test_split_hierarchy_levels(spark):
    df = spark.createDataFrame(
        [("electronics.smartphone.android",), ("electronics.smartphone",), ("apparel",), (None,)],
        ["category_code"],
    )
    cat, sub1, sub2 = split_hierarchy(F.col("category_code"))
    rows = df.select(
        cat.alias("c"), sub1.alias("s1"), sub2.alias("s2")
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("electronics", "smartphone", "android"),
        ("electronics", "smartphone", "na"),
        ("apparel", "na", "na"),
        ("na", "na", "na"),
    ]


def test_safe_ratio_null_on_zero(spark):
    # SURVEY §4.3.1: x/0 → NULL (ANSI), not pandas inf
    df = spark.createDataFrame([(4, 2), (1, 0)], ["n", "d"])
    vals = [r[0] for r in df.select(safe_ratio(F.col("n"), F.col("d"))).collect()]
    assert vals[0] == 2.0
    assert vals[1] is None


def test_conditional_agg_and_money_sum(spark):
    df = spark.createDataFrame(
        [("purchase", 10.10), ("view", 5.0), ("purchase", 0.05)],
        ["t", "v"],
    )
    row = df.agg(
        conditional_count(F.col("t") == "purchase").alias("c"),
        conditional_sum(F.col("t") == "purchase", F.col("v")).alias("s"),
        money_sum(F.col("v"), F.col("t") == "purchase").alias("m"),
    ).collect()[0]
    assert row["c"] == 2
    assert math.isclose(row["s"], 10.15)
    assert row["m"] == 10.15  # decimal-exact


def test_dense_array_fills_absent_keys(spark):
    """Map values in key order over [lo, hi], zero where a key is
    absent (gaps, both ends) or its value is NULL, and NULL when the
    bounds are NULL — the empty-input case of an aggregation over no
    cells."""
    df = spark.createDataFrame(
        [
            ({4: 40, 2: 20}, 1, 5),
            ({3: 7}, 3, 3),
            ({1: None, 0: 5}, 0, 2),
            ({}, 0, 1),
            ({}, None, None),
        ],
        "m map<int, bigint>, lo int, hi int",
    )
    got = [
        r.a
        for r in df.select(
            dense_array(F.col("m"), F.col("lo"), F.col("hi"), 0).alias("a")
        ).collect()
    ]
    assert got == [[0, 20, 0, 40, 0], [7], [5, 0, 0], [0, 0], None]
