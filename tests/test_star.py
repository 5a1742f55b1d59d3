from __future__ import annotations

import datetime as dt

import pytest

from airflow_retail_etl_spark.operators.star import (
    build_dim,
    dedup_keep_first,
    dim_date,
    fact_rollup,
    keep_first_agg,
)

D1 = dt.date(2019, 10, 1)


def _events(spark):
    return spark.createDataFrame(
        [
            (D1, "view", 1, 100, 9.99),
            (D1, "view", 1, 100, 9.99),
            (D1, "purchase", 1, 100, 9.99),
            (D1, "purchase", 2, 101, 5.00),
        ],
        ["event_date", "event_type", "product_id", "user_id", "price"],
    )


def test_fact_rollup_grain_and_revenue(spark):
    out = fact_rollup(_events(spark)).orderBy(
        "event_type", "product_id"
    ).collect()
    assert len(out) == 3  # (view,1),(purchase,1),(purchase,2)
    by_key = {(r["event_type"], r["product_id"]): r for r in out}
    assert by_key[("view", 1)]["total_events"] == 2
    assert by_key[("view", 1)]["total_revenue"] == 0.0
    assert by_key[("purchase", 1)]["total_revenue"] == 9.99
    assert by_key[("purchase", 2)]["total_revenue"] == 5.00


def test_build_dim_distinct_and_null_filter(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (None, "c")], ["user_id", "sess"]
    )
    out = build_dim(df, ["user_id", "sess"], not_null=["user_id"])
    assert sorted((r[0], r[1]) for r in out.collect()) == [(1, "a"), (2, "b")]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "zed", 2.0), (1, "alpha", 9.0), (2, "x", 1.0)],
        ["product_id", "brand", "price"],
    )
    out = dedup_keep_first(df, ["product_id"], ["brand", "price"])
    rows = {r["product_id"]: r["brand"] for r in out.collect()}
    assert rows == {1: "alpha", 2: "x"}  # survivor pinned by ordering


def test_keep_first_agg_matches_window_survivor(spark):
    """min(struct) keeps the row the ascending (nulls-first) window keeps,
    whatever the duplicates; every non-key column is an ordering key."""
    rows = [
        (1, "b", 2.0), (1, "b", None), (1, "a", 9.0), (1, "a", 9.0),
        (2, None, 5.0), (2, "a", 1.0), (2, None, None),
        (3, "z", float("nan")), (3, "z", 4.0), (4, None, None),
    ]
    df = spark.createDataFrame(
        rows * 3, "product_id long, brand string, price double"
    )
    order = ["brand", "price"]
    want = dedup_keep_first(df.distinct(), ["product_id"], order)
    got = keep_first_agg(df, ["product_id"], order)
    assert got.columns == df.columns
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr
    )
    assert {r[0]: (r[1], r[2]) for r in got.collect()}[1] == ("a", 9.0)
    with pytest.raises(ValueError, match="price"):
        keep_first_agg(df, ["product_id"], ["brand"])


def test_dim_date_parts_match_pandas_semantics(spark):
    out = {r["date"]: r for r in dim_date(spark, "2019-12-30", "2020-01-02").collect()}
    assert len(out) == 4
    # 2019-12-30 is a Monday → pandas weekday()==0; ISO week 1 of 2020
    r = out[dt.date(2019, 12, 30)]
    assert (r["day"], r["month"], r["year"], r["weekday"], r["week"]) == (
        30, 12, 2019, 0, 1,
    )
    r2 = out[dt.date(2020, 1, 2)]
    assert (r2["weekday"], r2["week"]) == (3, 1)


def test_upsert_dim_updates_win_and_inserts_land(spark):
    from airflow_retail_etl_spark.operators import star

    existing = spark.createDataFrame(
        [(1, "apple", 10.0), (2, "acme", 5.0), (3, "zeta", 7.0)],
        ["product_id", "brand", "price"],
    )
    updates = spark.createDataFrame(
        [(2, "acme-v2", 6.0), (4, "newco", 1.0)],
        ["product_id", "brand", "price"],
    )
    out = {
        r["product_id"]: (r["brand"], r["price"])
        for r in star.upsert_dim(
            existing, updates, ["product_id"], ["brand", "price"]
        ).collect()
    }
    assert out == {
        1: ("apple", 10.0),
        2: ("acme-v2", 6.0),  # update wins over existing
        3: ("zeta", 7.0),
        4: ("newco", 1.0),  # insert
    }


def test_upsert_dim_multiday_fold_is_deterministic(spark):
    from airflow_retail_etl_spark.operators import star

    state = spark.createDataFrame([(1, "a")], ["k", "v"])
    days = [
        [(1, "b"), (2, "x")],
        [(2, "y"), (2, "z"), (3, "m")],  # in-batch dup key: min v wins
        [(1, "c")],
    ]
    for batch in days:
        state = star.upsert_dim(
            state, spark.createDataFrame(batch, ["k", "v"]), ["k"], ["v"]
        )
    assert {tuple(r) for r in state.collect()} == {(1, "c"), (2, "y"), (3, "m")}
