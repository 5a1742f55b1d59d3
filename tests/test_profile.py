from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_retail_etl_spark.operators.profile import profile_table


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (1, "a", 1.5),
            (2, "a", None),
            (3, None, 2.5),
            (4, "b", 2.5),
        ],
        "id long, s string, v double",
    )


def test_profile_values(spark, df):
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert set(rows) == {"id", "s", "v"}
    assert rows["id"]["n_rows"] == 4 and rows["id"]["n_nulls"] == 0
    assert rows["id"]["n_distinct"] == 4
    assert (rows["id"]["min_value"], rows["id"]["max_value"]) == ("1", "4")
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["null_frac"] == 0.25
    assert rows["v"]["n_distinct"] == 2
    assert (rows["v"]["min_value"], rows["v"]["max_value"]) == ("1.5", "2.5")


def test_profile_empty_table_null_frac_is_null(spark):
    empty = spark.createDataFrame([], "id long, s string")
    rows = {r["column"]: r for r in profile_table(empty).collect()}
    assert rows["id"]["n_rows"] == 0
    assert rows["id"]["null_frac"] is None   # NULLIF guard, not ANSI error


def test_profile_single_scan(spark, df):
    # one full-table aggregation: the plan must scan the input once
    plan = profile_table(
        df, exact_distinct=False
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ExistingRDD") == 1
    # exact multi-distinct rewrites to expand+agg, still one scan
    plan2 = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("ExistingRDD") == 1
    assert "Expand" in plan2


def test_profile_approx_mode(spark, df):
    rows = {
        r["column"]: r
        for r in profile_table(df, exact_distinct=False).collect()
    }
    # HLL on tiny inputs is exact in practice; assert sane bounds
    assert rows["id"]["n_distinct"] >= 3
    assert rows["s"]["n_distinct"] >= 1


def test_profile_subset_and_empty_cols(spark, df):
    assert profile_table(df, ["v"]).count() == 1
    with pytest.raises(ValueError):
        profile_table(df, [])


def test_ks_drift_exact_statistic_and_bounds(spark):
    """KS(df, df) == 0; a clean shift gives the hand-computable exact
    statistic; result is layout-invariant and in [0, 1]."""
    from airflow_retail_etl_spark.operators.profile import ks_drift

    a = spark.createDataFrame(
        [(i, v) for i, v in enumerate([1, 2, 2, 3, 3, 3, 4, 5])],
        ["id", "v"],
    )
    same = ks_drift(a, a, "v").collect()[0]
    assert same.ks_numerator == 0 and same.ks_stat == 0.0

    # b = a shifted by +2: F_a(2) = 3/8, F_b(2) = 0 -> KS must be at
    # least 3/8; exact max is at v=3: F_a=6/8, F_b=1/8 -> 5/8
    b = spark.createDataFrame(
        [(i, v + 2) for i, v in enumerate([1, 2, 2, 3, 3, 3, 4, 5])],
        ["id", "v"],
    )
    r = ks_drift(a, b, "v").collect()[0]
    assert (r.n_a, r.n_b) == (8, 8)
    assert r.ks_numerator == abs(6 * 8 - 1 * 8)  # at v=3: |6*8 - 1*8| = 40
    assert r.ks_stat == 0.625
    # layout invariance
    r2 = ks_drift(a.repartition(5), b.repartition(3), "v").collect()[0]
    assert (r2.ks_numerator, r2.ks_stat) == (r.ks_numerator, r.ks_stat)
    # NULLs excluded
    an = a.union(spark.createDataFrame([(99, None)], a.schema))
    r3 = ks_drift(an, b, "v").collect()[0]
    assert r3.n_a == 8


def test_snapshot_diff_statuses(spark):
    from airflow_retail_etl_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en"), (3, "c", None), (4, "d", "de")],
        ["id", "text", "lang"],
    )
    new = spark.createDataFrame(
        [(2, "b", "en"), (3, "c2", None), (5, "e", "fr"), (4, "d", "de")],
        ["id", "text", "lang"],
    )
    got = {
        r.id: r.status
        for r in snapshot_diff(old, new, "id", ["text", "lang"]).collect()
    }
    assert got == {
        1: "REMOVED", 2: "UNCHANGED", 3: "CHANGED", 4: "UNCHANGED",
        5: "ADDED",
    }


def test_snapshot_diff_no_concat_collision(spark):
    # ("ab", "c") vs ("a", "bc") must NOT hash UNCHANGED: the
    # length-prefixed encoding makes field boundaries unambiguous;
    # NULL vs empty string must also differ
    from airflow_retail_etl_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame([(1, "ab", "c"), (2, None, "x")],
                                ["id", "t", "u"])
    new = spark.createDataFrame([(1, "a", "bc"), (2, "", "x")],
                                ["id", "t", "u"])
    got = {r.id: r.status
           for r in snapshot_diff(old, new, "id", ["t", "u"]).collect()}
    assert got == {1: "CHANGED", 2: "CHANGED"}


def test_psi_drift_detects_shift(spark):
    """PSI ≈ 0 for identically-distributed halves, large for a scale
    shift; reference deciles give p_a = 0.1 per bucket; degenerate
    params rejected."""
    import pytest

    from airflow_retail_etl_spark.operators.profile import psi_drift

    df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(2000)], "k long, v double"
    )
    a = df.filter(F.col("k") % 2 == 0)
    b = df.filter(F.col("k") % 2 == 1)
    same = psi_drift(a, b, "v").collect()
    assert len(same) == 10
    assert all(r["p_a"] == 0.1 for r in same)
    assert same[0]["psi"] < 0.01
    shifted = psi_drift(
        a, b.withColumn("v", F.col("v") * 3.0), "v"
    ).collect()
    assert shifted[0]["psi"] > 0.25  # the standard "action" threshold
    with pytest.raises(ValueError, match="n_buckets"):
        psi_drift(a, b, "v", n_buckets=1)
    with pytest.raises(ValueError, match="eps"):
        psi_drift(a, b, "v", eps=0.5)


def test_psi_drift_rejects_empty_side(spark):
    """ADVICE r13: an empty or all-NULL side used to surface as an
    opaque IEEE NaN/Infinity inside the ln terms; now a named error."""
    import pytest

    from airflow_retail_etl_spark.operators.profile import psi_drift

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    )
    empty = df.filter("1 = 0")
    nulls = df.withColumn("v", F.lit(None).cast("double"))
    with pytest.raises(ValueError, match="zero non-null"):
        psi_drift(df, empty, "v")
    with pytest.raises(ValueError, match="zero non-null"):
        psi_drift(nulls, df, "v")


def test_freq_shift_exact_ranking_and_shares(spark):
    """Heavy-change detection: the ranking key is the exact integer
    |cnt_b·tot_a − cnt_a·tot_b| and the published shift is that integer
    over the common denominator tot_a·tot_b."""
    from airflow_retail_etl_spark.operators.profile import freq_shift

    # period A: x=3, y=1, z=1 (tot 5); period B: x=1, y=4, z=1 (tot 6)
    rows = [("x", False)] * 3 + [("y", False)] + [("z", False)]
    rows += [("x", True)] + [("y", True)] * 4 + [("z", True)]
    df = spark.createDataFrame(rows, "key string, b boolean")
    got = freq_shift(df, "key", F.col("b"), k=10).collect()
    # nums: x |1*5-3*6|=13, y |4*5-1*6|=14, z |1*5-1*6|=1
    assert [r["key"] for r in got] == ["y", "x", "z"]
    by = {r["key"]: r for r in got}
    assert (by["y"]["cnt_a"], by["y"]["cnt_b"]) == (1, 4)
    assert by["y"]["direction"] == "up"
    assert by["x"]["direction"] == "down"
    assert by["y"]["shift"] == round(14 / 30, 9)
    assert by["x"]["shift"] == round(13 / 30, 9)
    assert by["z"]["shift"] == round(1 / 30, 9)


def test_freq_shift_flat_key_and_k_truncation(spark):
    from airflow_retail_etl_spark.operators.profile import freq_shift

    # u: 2 in A, 2 in B with equal totals -> exactly flat
    rows = [("u", False), ("u", False), ("v", False), ("w", False)]
    rows += [("u", True), ("u", True), ("v", True), ("w", True)]
    df = spark.createDataFrame(rows, "key string, b boolean")
    got = freq_shift(df, "key", F.col("b"), k=10).collect()
    assert all(r["direction"] == "flat" and r["shift"] == 0.0 for r in got)
    assert len(freq_shift(df, "key", F.col("b"), k=2).collect()) == 2


def test_freq_shift_rejects_empty_period(spark):
    from airflow_retail_etl_spark.operators.profile import freq_shift

    df = spark.createDataFrame(
        [("x", False), ("y", False)], "key string, b boolean"
    )
    with pytest.raises(ValueError, match="zero rows"):
        freq_shift(df, "key", F.col("b"))
    with pytest.raises(ValueError, match="k must be"):
        freq_shift(df, "key", F.col("b"), k=0)


def test_rolling_freq_shift_windows_and_drops(spark):
    """State-read face: only the two most recent windows count; keys
    silent in both are dropped; ranking matches the shared exact law."""
    import datetime as dt

    from airflow_retail_etl_spark.operators.profile import rolling_freq_shift

    def d(day):
        return dt.date(2024, 1, day)

    rows = []
    # latest day = Jan 20 -> B = [14, 20], A = [7, 13]
    rows += [("x", d(7)), ("x", d(10)), ("x", d(13)), ("x", d(20))]
    rows += [("y", d(8))] + [("y", d(14)), ("y", d(15)), ("y", d(16)), ("y", d(20))]
    rows += [("old", d(1)), ("old", d(2))]  # outside both windows
    df = spark.createDataFrame(rows, "key string, day date")
    got = rolling_freq_shift(df, "key", "day", window_days=7, k=10).collect()
    # nums tie at 11 (|1·4−3·5| = |4·4−1·5|) -> key asc; 'old' dropped
    assert [r["key"] for r in got] == ["x", "y"]
    by = {r["key"]: r for r in got}
    # A totals: x=3, y=1 (tot_a=4); B: x=1, y=4 (tot_b=5)
    assert (by["x"]["cnt_a"], by["x"]["cnt_b"]) == (3, 1)
    assert (by["y"]["cnt_a"], by["y"]["cnt_b"]) == (1, 4)
    assert by["y"]["direction"] == "up" and by["x"]["direction"] == "down"
    # |cnt_b*tot_a - cnt_a*tot_b|: y |16-5|=11, x |4-15|=11 -> tie, key asc
    assert by["y"]["shift"] == round(11 / 20, 9)


def test_rolling_freq_shift_validation(spark):
    import datetime as dt

    from airflow_retail_etl_spark.operators.profile import rolling_freq_shift

    df = spark.createDataFrame(
        [("x", dt.date(2024, 1, 20))], "key string, day date"
    )
    with pytest.raises(ValueError, match="window_days"):
        rolling_freq_shift(df, "key", "day", window_days=0)
    with pytest.raises(ValueError, match="k must be"):
        rolling_freq_shift(df, "key", "day", k=0)
    # all data inside window B -> window A empty -> named error
    with pytest.raises(ValueError, match="zero rows"):
        rolling_freq_shift(df, "key", "day", window_days=7)


def test_rolling_freq_shift_equals_freq_shift_on_confined_data(spark):
    """Cross-face law: when the data lives entirely inside the two
    windows, the rolling state read and the raw-period freq_shift are
    the same statistic — identical rows."""
    import datetime as dt

    from airflow_retail_etl_spark.operators.profile import (
        freq_shift,
        rolling_freq_shift,
    )

    base = dt.date(2024, 3, 14)  # latest day; B = [8,14], A = [1,7]
    rows = []
    for i, key in enumerate(["a", "b", "c", "a", "b", "a", "c", "b", "b"]):
        rows.append((key, base - dt.timedelta(days=i % 14)))
    df = spark.createDataFrame(rows, "key string, day date")
    rolled = rolling_freq_shift(df, "key", "day", window_days=7, k=10)
    flat = freq_shift(
        df, "key", F.col("day") >= F.lit("2024-03-08").cast("date"), k=10
    )
    assert rolled.collect() == flat.collect()


def test_streaming_heavy_change_fold_equals_one_shot(spark):
    """Stream ≡ batch for the heavy-change read: kpi-cell folds over
    arbitrary batching produce cells bit-identical to the one-shot
    groupBy, so the window read off the folded state equals
    rolling_freq_shift on the concatenated input."""
    import datetime as dt

    from airflow_retail_etl_spark.operators.profile import (
        rolling_freq_shift,
        rolling_freq_shift_cells,
    )
    from airflow_retail_etl_spark.operators.mart_state import (
        kpi_cells,
        kpi_fold,
    )
    from airflow_retail_etl_spark.streaming.incremental import replay

    base = dt.date(2024, 3, 20)
    rows = []
    for i in range(60):
        rows.append(
            (
                i,
                f"p{i % 5}",
                base - dt.timedelta(days=i % 14),
                "view",
                1.0,
            )
        )
    df = spark.createDataFrame(
        rows, "event_id long, product_id string, event_date date, "
        "event_type string, price double"
    )
    batches = [df.filter(F.col("event_id") % 3 == i) for i in range(3)]
    folded = replay(
        batches,
        lambda b: kpi_cells(b, ["product_id"]),
        lambda c: kpi_fold(c, ["product_id", "event_date"]),
    )
    cells = folded.select(
        F.col("event_date").alias("day"),
        F.col("product_id").alias("key"),
        F.col("n_events").alias("n"),
    )
    streamed = rolling_freq_shift_cells(
        cells, "product_id", window_days=7, k=10
    )
    one_shot = rolling_freq_shift(
        df, "product_id", "event_date", window_days=7, k=10
    )
    assert streamed.collect() == one_shot.collect()
