"""Mergeable sample sketches (operators/sampling, fourth sketch face):
the merge ≡ one-shot law for both faces, rolling-window ≡ brute
bottom-k, the DLT mass estimator's exactness below k and error above
it, and the streaming fold's replay idempotence."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airflow_retail_etl_spark.operators import sampling
from airflow_retail_etl_spark.streaming.incremental import (
    fold_merged,
    replay,
)


@pytest.fixture(scope="module")
def days_df(spark):
    # 3000 rows over 10 days; user ids repeat within and across days
    rows = [
        (
            dt.date(2021, 5, 1) + dt.timedelta(days=i % 10),
            (i * 7919) % 700,
        )
        for i in range(3000)
    ]
    return spark.createDataFrame(rows, ["day", "uid"])


@pytest.fixture(scope="module")
def weighted_df(spark):
    # 400 distinct docs in 3 groups with integer weights, heavy-tailed
    rows = [
        (
            ["a", "b", "c"][i % 3],
            f"doc-{i}",
            float(1 + (i * i) % 97 + (911 if i % 40 == 0 else 0)),
        )
        for i in range(400)
    ]
    return spark.createDataFrame(rows, ["grp", "doc", "wt"])


def _sorted(rows):
    return sorted(tuple(r) for r in rows)


# ---------------------------------------------------------------- uniform


def test_sample_state_is_bottom_k_of_distinct_keys(spark, days_df):
    k = 16
    st = sampling.sample_state(days_df, ["day"], "uid", k=k).collect()
    per_day = {}
    for r in st:
        per_day.setdefault(r.day, []).append((int(r.h), r.v))
    base = days_df.select(
        "day", F.col("uid").cast("string").alias("v")
    ).distinct()
    brute = base.withColumn(
        "h", sampling._sample_u(F.col("v"), "")
    ).collect()
    want = {}
    for r in brute:
        # state h is the ORDER-PRESERVING biased image u − 2^63 since
        # round 16 (the published threshold is reconstructed to the
        # exact u64 — pinned in test_sampling); compare on that image
        want.setdefault(r.day, []).append((int(r.h) - (1 << 63), r.v))
    for d, hs in want.items():
        assert sorted(per_day[d]) == sorted(hs)[:k]


def test_sample_fold_equals_one_shot_and_is_idempotent(spark, days_df):
    """THE sketch law: per-day states relabeled into one group and
    folded == the one-shot global bottom-k; re-folding is a no-op."""
    k = 32
    per_day = sampling.sample_state(days_df, ["day"], "uid", k=k)
    folded = sampling.sample_fold(per_day.select("h", "v"), (), k=k)
    one = sampling.sample_state(days_df, (), "uid", k=k)
    assert _sorted(folded.collect()) == _sorted(one.collect())
    twice = sampling.sample_fold(
        folded.unionByName(folded.limit(5)), (), k=k
    )
    assert _sorted(twice.collect()) == _sorted(folded.collect())


def test_sample_read_kmv_columns(spark, days_df):
    k = 64
    out = sampling.sample_read(
        sampling.sample_state(days_df, (), "uid", k=k), (), k=k
    ).collect()
    assert len(out) == k
    assert sorted(r.rk for r in out) == list(range(1, k + 1))
    assert all(r.n_kept == k and r.threshold is not None for r in out)
    # KMV estimate of 700 distinct uids within sampling error (~1/sqrt(k))
    est = out[0].estimate
    assert 700 * 0.6 <= est <= 700 * 1.6, est
    # small population: sketch not full -> exact
    small = spark.createDataFrame(
        [(i,) for i in range(10)], ["uid"]
    )
    srows = sampling.sample_read(
        sampling.sample_state(small, (), "uid", k=k), (), k=k
    ).collect()
    assert len(srows) == 10
    assert all(r.threshold is None and r.estimate == 10.0 for r in srows)


def test_rolling_sample_window_equals_brute_bottom_k(spark, days_df):
    k, wd = 16, 3
    roll = sampling.rolling_sample(
        days_df, "day", "uid", k=k, window_days=wd
    ).collect()
    by_end = {}
    for r in roll:
        by_end.setdefault(r.window_end, []).append(r)
    days = sorted({r.day for r in days_df.select("day").collect()})
    for end in days:
        lo = end - dt.timedelta(days=wd - 1)
        win = days_df.filter(
            (F.col("day") >= lo) & (F.col("day") <= end)
        )
        brute = sampling.sample_read(
            sampling.sample_state(win, (), "uid", k=k), (), k=k
        ).collect()
        got = by_end[end]
        assert _sorted((r.rk, r.v) for r in got) == _sorted(
            (r.rk, r.v) for r in brute
        )
        exact = win.select("uid").distinct().count()
        assert all(r.exact_distinct == exact for r in got)
        assert all(
            r.n_days == min(wd, (end - days[0]).days + 1) for r in got
        )


def test_sample_state_validation(spark, days_df):
    with pytest.raises(ValueError):
        sampling.sample_state(days_df, (), "uid", k=0)
    with pytest.raises(ValueError):
        sampling.rolling_sample(
            days_df, "day", "uid", k=4, window_days=0
        )


# --------------------------------------------------------------- weighted


def test_weighted_fold_equals_one_shot(spark, weighted_df):
    k = 24
    per_grp = sampling.weighted_sample_state(
        weighted_df, ["grp"], "doc", "wt", k=k
    )
    folded = sampling.weighted_sample_fold(
        per_grp.select("pri", "v", "w"), (), k=k
    )
    one = sampling.weighted_sample_state(
        weighted_df, (), "doc", "wt", k=k
    )
    # per-group states pooled and re-trimmed == one-shot global state
    assert _sorted(folded.collect()) == _sorted(one.collect())


def test_priority_mass_exact_below_k(spark, weighted_df):
    """Groups that fit inside k: tau = 0 and est_mass == exact mass."""
    k = 200  # each group has ~133 docs < k
    st = sampling.weighted_sample_state(
        weighted_df, ["grp"], "doc", "wt", k=k
    )
    est = {
        r.grp: (float(r.tau), float(r.est_mass), r.n_sample)
        for r in sampling.priority_mass(st, ["grp"], k=k).collect()
    }
    exact = {
        r.grp: float(r.m)
        for r in weighted_df.groupBy("grp")
        .agg(F.sum("wt").alias("m"))
        .collect()
    }
    for g, (tau, mass, n) in est.items():
        assert tau == 0.0
        assert abs(mass - exact[g]) < 1e-6, (g, mass, exact[g])


def test_priority_mass_error_bounded_above_k(spark, weighted_df):
    """Sampled regime: the DLT estimate lands within a loose relative
    band of the exact mass (deterministic draw — the observed error is
    a fixed number; the band documents the expected O(1/sqrt(k))
    scale)."""
    k = 48
    st = sampling.weighted_sample_state(
        weighted_df, (), "doc", "wt", k=k
    )
    row = sampling.priority_mass(st, (), k=k).collect()[0]
    exact = weighted_df.agg(F.sum("wt")).collect()[0][0]
    assert row.n_sample == k
    assert float(row.tau) > 0.0
    rel = abs(float(row.est_mass) - exact) / exact
    assert rel < 0.35, (float(row.est_mass), exact, rel)


def test_weighted_state_skips_nonpositive_and_null(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0), ("c", -2.0), ("d", None), (None, 3.0)],
        ["doc", "wt"],
    )
    st = sampling.weighted_sample_state(df, (), "doc", "wt", k=4)
    assert [r.v for r in st.collect()] == ["a"]


# -------------------------------------------------------------- streaming


def test_fold_sample_batch_replay_idempotent(spark, days_df, tmp_path):
    state = str(tmp_path / "sample_state")
    k = 32
    batches = [
        days_df.filter(F.col("uid") % 3 == i) for i in range(3)
    ]

    def fold(b):
        fold_merged(
            b,
            state,
            lambda d: sampling.sample_state(d, (), "uid", k=k),
            lambda st: sampling.sample_fold(st, (), k=k),
        )

    for b in batches:
        fold(b)
    fold(batches[1])  # replay
    fold(days_df.filter(F.lit(False)))  # empty batch is a no-op
    got = _sorted(spark.read.parquet(state).select("h", "v").collect())
    one = _sorted(
        sampling.sample_state(days_df, (), "uid", k=k).collect()
    )
    assert got == one


def test_replay_sample_equals_one_shot(spark, days_df):
    k = 16
    batches = [
        days_df.filter(F.col("uid") % 4 == i) for i in range(4)
    ]
    got = _sorted(
        replay(
            batches,
            lambda b: sampling.sample_state(b, (), "uid", k=k),
            lambda st: sampling.sample_read(st, (), k=k),
        )
        .select("rk", "v", "n_kept", "threshold", "estimate")
        .collect()
    )
    one = _sorted(
        sampling.sample_read(
            sampling.sample_state(days_df, (), "uid", k=k), (), k=k
        )
        .select("rk", "v", "n_kept", "threshold", "estimate")
        .collect()
    )
    assert got == one


def test_two_phase_grouped_trim_equals_single_window(spark):
    """The round-12 scale fix (per-group parallelism no longer capped at
    |groups|): the sharded two-phase trim must return EXACTLY the rows a
    single per-group window would — for both the bottom-k hash order and
    the priority order, at k above and below the shard fan-out."""
    from pyspark.sql import Window

    from airflow_retail_etl_spark.operators import sampling as s

    rows = (
        spark.range(5000)
        .select(
            (F.col("id") % 7).cast("string").alias("g"),
            F.col("id").cast("string").alias("v"),
            (F.col("id") % 97 + 1).cast("double").alias("w"),
        )
        .withColumn("h", s._sample_u(F.col("v"), ""))
        .withColumn("pri", s._priority(F.col("w"), s._sample_u(F.col("v"), "")))
    )
    for n in (3, 64):
        got = sorted(
            tuple(r)
            for r in s._bottom_k(
                rows.select("g", "h", "v"), ["g"], n
            ).collect()
        )
        w = Window.partitionBy("g").orderBy(
            F.col("h").asc(), F.col("v").asc()
        )
        want = sorted(
            tuple(r)
            for r in rows.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= n)
            .select("g", "h", "v")
            .collect()
        )
        assert got == want, f"bottom_k mismatch at n={n}"
        got_p = sorted(
            tuple(r)
            for r in s._top_k_priority(
                rows.select("g", "pri", "v", "w"), ["g"], n
            ).collect()
        )
        wp = Window.partitionBy("g").orderBy(
            F.col("pri").desc(), F.col("v").asc()
        )
        want_p = sorted(
            tuple(r)
            for r in rows.withColumn("rk", F.row_number().over(wp))
            .filter(F.col("rk") <= n)
            .select("g", "pri", "v", "w")
            .collect()
        )
        assert got_p == want_p, f"top_k_priority mismatch at n={n}"
