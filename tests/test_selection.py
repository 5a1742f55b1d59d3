from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_retail_etl_spark.operators import selection
from airflow_retail_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _scored(spark):
    from airflow_retail_etl_spark.functions import text as tf

    docs = load_table(spark, SF, "documents")
    return docs.select(
        "doc_id",
        tf.token_count(F.col("text")).alias("n_tokens"),
        tf.quality_score(F.col("text")).alias("q"),
    )


def test_two_phase_equals_global_window(spark):
    df = _scored(spark)
    order = [F.col("q").desc(), F.col("doc_id").asc()]
    got = {
        r["doc_id"]: r["cum"]
        for r in selection.global_cumsum(df, order, "n_tokens").collect()
    }
    w = (
        Window.orderBy(F.col("q").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["doc_id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("n_tokens").over(w)).collect()
    }
    assert got == want


def test_partition_count_invariance(spark):
    df = _scored(spark)
    order = [F.col("q").desc(), F.col("doc_id").asc()]
    a = {
        r["doc_id"]: r["cum"]
        for r in selection.global_cumsum(
            df, order, "n_tokens", num_partitions=2
        ).collect()
    }
    b = {
        r["doc_id"]: r["cum"]
        for r in selection.global_cumsum(
            df, order, "n_tokens", num_partitions=29
        ).collect()
    }
    assert a == b


def test_budget_select_boundary(spark):
    df = _scored(spark)
    order = [F.col("q").desc(), F.col("doc_id").asc()]
    sel = selection.budget_select(df, order, "n_tokens", 1000).collect()
    assert sel, "budget of 1000 tokens admits at least one doc"
    assert max(r["cum"] for r in sel) <= 1000
    # the next doc in order would cross the budget: selection is maximal
    full = selection.global_cumsum(df, order, "n_tokens").collect()
    over = [r for r in full if r["cum"] > 1000]
    assert min(r["cum"] for r in over) > 1000


def test_no_single_partition_window_over_data(spark):
    # the data-scale window must be partitioned by the range id; the
    # per-partition offsets are observed on the pin and ride in as
    # literals, so there is no other window at all
    import re

    df = _scored(spark)
    order = [F.col("q").desc(), F.col("doc_id").asc()]
    plan = (
        selection.global_cumsum(df, order, "n_tokens")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    windows = re.findall(r"Window \[.*", plan)
    assert len(windows) == 1
    assert "n_tokens" in windows[0] and "__pid" in windows[0]


def _decimal_frame(spark):
    """5 keys with DECIMAL values, one of them NULL, in 3 partitions."""
    from decimal import Decimal

    rows = [(1, Decimal("10.25")), (2, None), (3, Decimal("-3.50")),
            (4, Decimal("99999999.99")), (5, Decimal("0.01"))]
    return spark.createDataFrame(rows, "k int, v decimal(10,2)").repartition(3)


def test_decimal_cumsum_with_empty_range_partitions(spark):
    """16 range partitions over 5 keys leave most partitions empty (their
    observed totals are NULL); the running sum and grand total still
    equal the single-partition window's, NULL value included."""
    df = _decimal_frame(spark)
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["k"]: (r["cum"], r["tot"])
        for r in df.select(
            "k",
            F.sum("v").over(w).alias("cum"),
            F.sum("v").over(Window.partitionBy()).alias("tot"),
        ).collect()
    }
    for n in (1, 16):
        got = selection.global_cumsum(
            df, [F.col("k").asc()], "v", total_col="tot", num_partitions=n
        )
        assert {r["k"]: (r["cum"], r["tot"]) for r in got.collect()} == want


def test_cumsum_output_types_unchanged(spark):
    """``out_col`` and ``total_col`` keep the types of the former
    offsets-plus-window expression: BIGINT for integral weights, the
    sum of the window sum for DECIMAL ones."""
    import pytest
    from pyspark.sql import types as T

    base = spark.range(0, 20)
    cases = {
        "int": (T.LongType(), T.LongType()),
        "bigint": (T.LongType(), T.LongType()),
        "decimal(10,2)": (T.DecimalType(31, 2), T.DecimalType(30, 2)),
        "decimal(24,6)": (T.DecimalType(38, 6), T.DecimalType(38, 6)),
    }
    for t, (cum_t, tot_t) in cases.items():
        out = selection.global_cumsum(
            base.withColumn("v", (F.col("id") % 3).cast(t)),
            [F.col("id").asc()],
            "v",
            total_col="tot",
            num_partitions=4,
        )
        assert out.schema["cum"].dataType == cum_t, t
        assert out.schema["tot"].dataType == tot_t, t
        assert out.columns == ["id", "v", "cum", "tot"]
    with pytest.raises(TypeError, match="exact value type"):
        selection.global_cumsum(
            base.withColumn("v", F.col("id").cast("double")),
            [F.col("id").asc()],
            "v",
        )


def test_global_quantiles_matches_buffering_percentile(spark, sf_dir):
    """The distributed rank-arithmetic quantiles must equal Spark's own
    buffering F.percentile (same type-7 definition) to 6dp, be
    layout-invariant, exclude NULLs, and reject bad q."""
    import pytest
    from pyspark.sql import functions as F

    from airflow_retail_etl_spark.operators.selection import global_quantiles
    from airflow_retail_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    qs = [0.25, 0.5, 0.9, 0.99]
    got = {r.q: r.quantile for r in global_quantiles(ev, "value", qs).collect()}
    ref = ev.filter(F.col("value").isNotNull()).agg(
        *[
            F.round(F.percentile(F.col("value"), F.lit(q)), 6).alias(str(q))
            for q in qs
        ]
    ).collect()[0]
    for q in qs:
        assert got[q] == ref[str(q)], (q, got[q], ref[str(q)])
    again = {
        r.q: r.quantile
        for r in global_quantiles(ev.repartition(11), "value", qs).collect()
    }
    assert again == got
    with pytest.raises(ValueError):
        global_quantiles(ev, "value", [1.5])


def test_grouped_quantiles_matches_percentile_per_group(spark, sf_dir):
    """The grouped rank-arithmetic path must equal Spark's buffering
    percentile per group (same type-7 definition), and be layout-
    invariant."""
    import pytest

    from airflow_retail_etl_spark.operators.selection import (
        grouped_quantiles,
    )
    from airflow_retail_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    qs = [0.25, 0.5, 0.9]
    got = {
        (r.event_type, r.q): (r.quantile, r.n)
        for r in grouped_quantiles(ev, "event_type", "value", qs).collect()
    }
    ref_rows = (
        ev.filter(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.round(
                    F.percentile(F.col("value"), F.lit(q)), 6
                ).alias(str(q))
                for q in qs
            ],
        )
        .collect()
    )
    assert got and len(got) == len(ref_rows) * len(qs)
    for row in ref_rows:
        for q in qs:
            assert got[(row.event_type, q)] == (row[str(q)], row.n)
    again = {
        (r.event_type, r.q): (r.quantile, r.n)
        for r in grouped_quantiles(
            ev.repartition(11), "event_type", "value", qs
        ).collect()
    }
    assert again == got
    with pytest.raises(ValueError):
        grouped_quantiles(ev, "event_type", "value", [-0.1])


def test_robust_stats_small_frame(spark):
    """median/MAD/trimmed mean agree with hand-computed values and the
    operator rejects degenerate trims."""
    import pytest

    from airflow_retail_etl_spark.operators.selection import robust_stats

    vals = [1.0, 2.0, 3.0, 4.0, 100.0]  # outlier pulls mean, not median
    df = spark.createDataFrame(
        [("a", v) for v in vals] + [("b", 7.0), ("b", 9.0)],
        "g string, v double",
    )
    rows = robust_stats(df, "g", "v", trim_q=0.2).collect()
    assert [r["g"] for r in rows] == ["a", "b"]  # ordered by group
    got = {r["g"]: r for r in rows}
    a = got["a"]
    assert a["n"] == 5 and a["median"] == 3.0
    # deviations |x-3| = [2,1,0,1,97] -> median 1
    assert a["mad"] == 1.0
    # type-7 q20/q80 of [1,2,3,4,100]: h=.2*4+1=1.8 -> 1.8; h=.8*4+1=4.2
    # -> 4+0.2*96=23.2; kept [2,3,4] -> mean 3
    assert a["n_trimmed"] == 3 and a["trimmed_mean"] == 3.0
    # group b trims to EMPTY (bounds 7.4/8.6 exclude both values) —
    # it must survive with n_trimmed=0 and a NULL trimmed mean
    b = got["b"]
    assert b["median"] == 8.0 and b["mad"] == 1.0
    assert b["n_trimmed"] == 0 and b["trimmed_mean"] is None
    with pytest.raises(ValueError, match="trim_q"):
        robust_stats(df, "g", "v", trim_q=0.5)


def test_quantiles_refuse_duplicate_q(spark):
    """A repeated q used to multiply rows (the two range joins matched
    each copy); both faces now refuse it by name, and an empty q list
    too."""
    import pytest

    from airflow_retail_etl_spark.operators.selection import (
        global_quantiles,
        grouped_quantiles,
    )

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    with pytest.raises(ValueError, match="duplicate quantiles"):
        grouped_quantiles(df, "g", "v", [0.5, 0.5])
    with pytest.raises(ValueError, match="duplicate quantiles"):
        global_quantiles(df, "v", [0.25, 0.5, 0.5])
    with pytest.raises(ValueError, match="no quantiles"):
        grouped_quantiles(df, "g", "v", [])


def _check_oracle_compare():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "check_oracle_under_test",
        os.path.join(
            os.path.dirname(__file__), "..", "tools", "check_oracle.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


#: q ∈ {0, 1} pick the extreme order statistics (h = 1 and h = n)
EDGE_QS = [0.0, 0.25, 0.5, 0.9, 1.0]

NAN = float("nan")

#: ties, one-value groups, NaN (orders last on both engines), signed
#: zeros, NULL values and a NULL group
EDGE_ROWS = (
    [("ties", v) for v in (1.0, 1.0, 1.0, 2.0, 2.0, 3.0)]
    + [("one", 5.0)]
    + [("one_rep", 7.0)] * 3
    + [("nan", v) for v in (1.0, NAN, 2.0, NAN)]
    + [("all_nan", NAN)] * 2
    + [("zero", v) for v in (-0.0, 0.0, -0.0, 1.5, -2.0)]
    + [("nulls", None), ("nulls", 4.0), (None, 9.0)]
)


def _quantile_twins(spark, rows, qs):
    """(spark, oracle) pandas frames for both quantile faces over
    ``rows``: grouped through the ``_gq_block`` CTE, global through the
    registry's ``global_quantiles`` SQL with its q list swapped for
    ``qs``."""
    import duckdb

    import __spark_entry__ as entry
    from airflow_retail_etl_spark.operators.selection import (
        global_quantiles,
        grouped_quantiles,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v DOUBLE)")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    con.execute("CREATE VIEW events AS SELECT v AS value FROM t")
    grouped_sql = f"""
    WITH src AS (
        SELECT g, v FROM t WHERE v IS NOT NULL AND g IS NOT NULL
    ), {entry._gq_block("x", "src", qs)}
    SELECT g, q, quantile, CAST(n AS BIGINT) AS n FROM x_q
    """
    registry_qs = "[0.25, 0.5, 0.9, 0.99]"
    global_sql = entry.oracle_sql()["global_quantiles"]
    assert registry_qs in global_sql
    global_sql = global_sql.replace(registry_qs, repr([float(q) for q in qs]))
    sdf = spark.createDataFrame(rows, "g string, v double")
    out = {
        "grouped": (
            grouped_quantiles(sdf, "g", "v", qs).toPandas(),
            con.sql(grouped_sql).df(),
        ),
        "global": (
            global_quantiles(sdf, "v", qs).toPandas(),
            con.sql(global_sql).df(),
        ),
    }
    con.close()
    return out


def test_quantile_picks_match_duckdb_on_edge_values(spark):
    """The one-aggregation order-statistic pick is bit-exact against the
    DuckDB twins (compared as tools/check_oracle.py does) on ties,
    one-value groups, q ∈ {0, 1}, NaN and signed zeros; an all-NULL
    input returns no rows on both engines."""
    compare = _check_oracle_compare()
    for face, (s, o) in _quantile_twins(spark, EDGE_ROWS, EDGE_QS).items():
        assert len(s) > 0
        assert compare(face, s, o) == [], face
    all_null = [("a", None), ("b", None)]
    for face, (s, o) in _quantile_twins(spark, all_null, EDGE_QS).items():
        assert len(s) == len(o) == 0, face


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),
            st.one_of(
                st.none(),
                st.sampled_from([-2.0, -0.0, 0.0, 0.5, 1.0, 3.25, NAN]),
                st.integers(-50, 50).map(float),
            ),
        ),
        max_size=40,
    ),
    # grid qs: DuckDB reads a q literal as DECIMAL, exact on this grid
    qs=st.lists(
        st.integers(0, 20).map(lambda i: i / 20),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_quantile_picks_match_duckdb_property(spark, rows, qs):
    compare = _check_oracle_compare()
    for face, (s, o) in _quantile_twins(spark, rows, qs).items():
        assert compare(face, s, o) == [], face
