"""Mergeable quantile sketch (operators/qsketch): determinism, the
merge ≡ one-shot law, exactness below cap, error bounds vs the exact
rank arithmetic, and the streaming fold's replay idempotence."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airflow_retail_etl_spark.operators import qsketch, selection

QS = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]


@pytest.fixture(scope="module")
def days_df(spark):
    # 4000 rows over 10 days, heavy-tailed-ish integer values with ties
    rows = [
        (
            dt.date(2021, 3, 1) + dt.timedelta(days=i % 10),
            i,
            float((i * i * 7919) % 1000) / 4.0,
        )
        for i in range(4000)
    ]
    return spark.createDataFrame(rows, ["day", "k", "val"])


def test_exact_when_group_fits_cap(spark, days_df):
    """thr=0 keeps the whole group: estimates ARE the type-7 exact
    quantiles (same fixed-order interpolation as global_quantiles)."""
    est = qsketch.sketch_quantiles(
        days_df, (), "val", "k", QS, cap=8192
    ).collect()
    assert all(r.lvl_used == 0 and r.n_kept == 4000 for r in est)
    exact = {
        r.q: r.quantile
        for r in selection.global_quantiles(days_df, "val", QS).collect()
    }
    for r in est:
        assert r.quantile == exact[r.q], (r.q, r.quantile, exact[r.q])


def test_merge_requantize_equals_one_shot(spark, days_df):
    """THE sketch law: per-day states unioned under one group and
    re-thresholded == the one-shot sketch of all rows, bit-for-bit
    (survivor sets identical, therefore all estimates identical)."""
    cap = 256
    per_day = qsketch.qsketch_state(days_df, ["day"], "val", "k", cap=cap)
    merged = per_day.select(
        F.lit(1).alias("g"), "thr", "v", "h", "lvl"
    )
    m = qsketch.requantize(merged, ["g"], cap=cap)
    one = qsketch.requantize(
        qsketch.qsketch_state(days_df, (), "val", "k", cap=cap),
        (),
        cap=cap,
    )
    a = sorted((r.v, str(r.h), r.lvl_used) for r in m.collect())
    b = sorted((r.v, str(r.h), r.lvl_used) for r in one.collect())
    assert a == b and 0 < len(a) <= cap


def test_merge_is_idempotent_and_order_free(spark, days_df):
    """Re-merging the same day twice (idempotent union semantics come
    from state rows being a pure function of the day) and merging in a
    different day order both leave the survivor set unchanged."""
    cap = 256
    per_day = qsketch.qsketch_state(days_df, ["day"], "val", "k", cap=cap)
    base = qsketch.requantize(
        per_day.select(F.lit(1).alias("g"), "thr", "v", "h", "lvl"),
        ["g"],
        cap=cap,
    )
    dup_day = per_day.filter(F.col("day") == dt.date(2021, 3, 4))
    doubled = qsketch.requantize(
        per_day.unionByName(dup_day)
        .dropDuplicates(["day", "h"])
        .select(F.lit(1).alias("g"), "thr", "v", "h", "lvl"),
        ["g"],
        cap=cap,
    )
    key = lambda df: sorted((r.v, str(r.h)) for r in df.collect())  # noqa: E731
    assert key(doubled) == key(base)


def test_layout_invariance(spark, days_df):
    """Same estimates under any partitioning (the md5 draw and the
    (v, h) total order are layout-independent)."""
    a = qsketch.sketch_quantiles(
        days_df, (), "val", "k", QS, cap=256
    ).collect()
    b = qsketch.sketch_quantiles(
        days_df.repartition(13, "k"), (), "val", "k", QS, cap=256
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_rank_error_bound_vs_exact(spark, days_df):
    """Survivors are a Bernoulli sample of m ≈ cap rows: observed rank
    error must sit inside the O(1/√m) band (×4 margin — the data and
    hash are fixed, so this is a deterministic regression pin, not a
    flaky statistical assertion)."""
    cap = 512
    est = qsketch.sketch_quantiles(
        days_df, (), "val", "k", QS, cap=cap
    ).collect()
    m = est[0].n_kept
    assert cap // 2 <= m <= cap  # adaptive threshold landed in band
    vals = sorted(
        r.val for r in days_df.select(F.col("val").alias("val")).collect()
    )
    n = len(vals)
    bound = 4.0 / (m**0.5)
    for r in est:
        rank = sum(1 for v in vals if v < r.quantile) / n
        assert abs(rank - r.q) <= bound, (r.q, rank, bound)


def test_grouped_states_and_quantiles(spark, days_df):
    """Per-group sketches: each group's estimate equals the one-shot
    sketch of that group's rows alone (group isolation)."""
    cap = 128
    grouped = qsketch.sketch_quantiles(
        days_df, ["day"], "val", "k", [0.5], cap=cap
    ).collect()
    assert len(grouped) == 10
    one_day = days_df.filter(F.col("day") == dt.date(2021, 3, 7))
    solo = qsketch.sketch_quantiles(
        one_day, (), "val", "k", [0.5], cap=cap
    ).collect()[0]
    got = next(
        r for r in grouped if r.day == dt.date(2021, 3, 7)
    )
    assert (got.quantile, got.n_kept, got.lvl_used) == (
        solo.quantile,
        solo.n_kept,
        solo.lvl_used,
    )


def test_rolling_quantiles_audit_and_head_ramp(spark, days_df):
    out = qsketch.rolling_quantiles(
        days_df, "val", "k", "day", [0.5, 0.9], window_days=3, cap=256
    ).collect()
    assert len(out) == 20  # 10 window ends × 2 qs
    by_end: dict = {}
    for r in out:
        by_end.setdefault(r.window_end, []).append(r)
    for end, rows in by_end.items():
        ramp = min(3, (end - dt.date(2021, 3, 1)).days + 1)
        assert all(r.n_days == ramp for r in rows)
        assert all(r.n_exact == 400 * ramp for r in rows)
        for r in rows:
            assert abs(r.rank_err) <= 4.0 / (r.n_kept**0.5)
            assert r.rank_frac == round(r.rank_frac, 6)


def test_array_read_equals_windowed_read(spark, days_df):
    """Round 16: sample_quantiles reads brackets from one sorted-array
    aggregation instead of two windows + three ranked self-joins (the
    plan that dominated the family's sf0.1 driver cost). Pin bit-exact
    equality against an inline reimplementation of the old windowed
    form, on a grouped, genuinely thresholded sketch (thr > 0 so the
    survivor sample — not the raw data — is what both forms read)."""
    from pyspark.sql import Window

    cap = 128
    surv = qsketch.requantize(
        qsketch.qsketch_state(days_df, ["day"], "val", "k", cap=cap),
        ["day"],
        cap=cap,
    )
    got = qsketch.sample_quantiles(surv, ["day"], QS).collect()

    # old form: rank with windows, pick brackets by rank equi-joins
    gk = ["day"]
    w_rn = Window.partitionBy(*gk).orderBy("v", "h")
    w_m = Window.partitionBy(*gk)
    ranked = surv.select(
        *gk,
        "lvl_used",
        "v",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_m).cast("long").alias("m"),
    )
    qdf = spark.createDataFrame([(float(q),) for q in QS], "q double")
    targets = (
        ranked.select(*gk, "lvl_used", "m")
        .distinct()
        .crossJoin(F.broadcast(qdf))
        .withColumn(
            "hpos",
            F.col("q") * (F.col("m") - 1).cast("double") + F.lit(1.0),
        )
        .withColumn("lo", F.floor("hpos").cast("long"))
        .withColumn("hi", F.ceil("hpos").cast("long"))
        .withColumn("d", F.col("hpos") - F.col("lo").cast("double"))
    )
    lo_v = ranked.alias("s").join(
        F.broadcast(targets).alias("t"),
        [F.col("s.day") == F.col("t.day"), F.col("s.rn") == F.col("t.lo")],
    ).select(
        F.col("s.day").alias("day"),
        "t.q",
        F.col("t.lvl_used").alias("lvl_used"),
        F.col("t.m").alias("n_kept"),
        "t.d",
        F.col("s.v").alias("lv"),
    )
    hi_v = ranked.alias("s2").join(
        F.broadcast(targets.select(*gk, "q", "hi")).alias("t2"),
        [
            F.col("s2.day") == F.col("t2.day"),
            F.col("s2.rn") == F.col("t2.hi"),
        ],
    ).select(
        F.col("s2.day").alias("__r_day"),
        F.col("t2.q").alias("__r_q"),
        F.col("s2.v").alias("hv"),
    )
    old = (
        lo_v.join(
            hi_v,
            [
                F.col("day") == F.col("__r_day"),
                F.col("q") == F.col("__r_q"),
            ],
        )
        .select(
            "day",
            "q",
            "lvl_used",
            "n_kept",
            F.round(
                F.col("lv") + F.col("d") * (F.col("hv") - F.col("lv")), 6
            ).alias("quantile"),
        )
        .orderBy("day", "q")
        .collect()
    )
    assert any(r.lvl_used > 0 for r in got)  # genuinely thresholded
    assert [tuple(r) for r in got] == [tuple(r) for r in old]


def test_validation(spark, days_df):
    with pytest.raises(ValueError, match="cap"):
        qsketch.qsketch_state(days_df, (), "val", "k", cap=16)
    with pytest.raises(ValueError, match="outside"):
        qsketch.sample_quantiles(
            qsketch.requantize(
                qsketch.qsketch_state(days_df, (), "val", "k"), ()
            ),
            (),
            [1.5],
        )
    with pytest.raises(ValueError, match="window_days"):
        qsketch.rolling_quantiles(
            days_df, "val", "k", "day", [0.5], window_days=0
        )


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (None, 30.0), (4, 40.0)],
        "k long, val double",
    )
    st = qsketch.qsketch_state(df, (), "val", "k", cap=64)
    assert st.count() == 2  # null val and null key both dropped


def test_fold_qsketch_batch_overwrite_makes_replay_idempotent(
    spark, tmp_path, days_df
):
    """Streaming face: per-batch state partitions, replay rewrites its
    own partition with identical rows (state is a pure function of the
    batch), and the folded estimates equal the one-shot sketch."""
    from airflow_retail_etl_spark.streaming.incremental import (
        fold_cells,
        replay,
    )

    cap = 256
    state = str(tmp_path / "qs_state")
    bucket = F.col("k") % 3
    batches = [days_df.filter(bucket == i) for i in range(3)]

    def batch_state(b):
        return qsketch.qsketch_state(b, (), "val", "k", cap=cap)

    def estimates(st):
        return qsketch.sample_quantiles(
            qsketch.requantize(st, (), cap=cap), (), QS
        )

    for i, b in enumerate(batches):
        fold_cells(batch_state(b), state, batch_id=i)

    def folded():
        st = spark.read.parquet(state).select("thr", "v", "h", "lvl")
        return estimates(st).collect()

    want = qsketch.sketch_quantiles(
        days_df, (), "val", "k", QS, cap=cap
    ).collect()
    assert [tuple(r) for r in folded()] == [tuple(r) for r in want]
    # at-least-once redelivery of batch 1: state unchanged
    fold_cells(batch_state(batches[1]), state, batch_id=1)
    assert [tuple(r) for r in folded()] == [tuple(r) for r in want]
    # and the all-DataFrame replay face agrees too
    rep = replay(batches, batch_state, estimates).collect()
    assert [tuple(r) for r in rep] == [tuple(r) for r in want]
