"""Incrementally maintainable KPI mart state (operators/mart_state.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_retail_etl_spark import adapters
from airflow_retail_etl_spark.operators import cardinality, mart_state
from airflow_retail_etl_spark.streaming.incremental import (
    fold_cells,
    replay,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    return adapters.staging_events(spark, SF)


def _rows(df, *keys):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t[: len(keys) or 1]),
    )


def _kpi_replay(batches):
    return replay(
        batches,
        lambda b: mart_state.kpi_cells(b, []),
        lambda cells: mart_state.kpi_fold(cells, ["event_date"]),
    )


def test_fold_of_daily_cells_equals_one_shot(spark):
    """The linear fold law: per-day cells summed to brand grain must be
    BIT-identical to aggregating the raw events at brand grain directly
    (cent sums and counts are exact under any grouping)."""
    ev = _events(spark).withColumn(
        "brand", F.expr("CAST(user_id % 5 AS STRING)")
    )
    cells = mart_state.kpi_cells(ev, ["brand"])
    folded = mart_state.kpi_fold(cells, ["brand"])
    one_shot = mart_state.kpi_cells(
        ev.withColumn("event_date", F.lit(None).cast("date")), ["brand"]
    ).drop("event_date")
    assert _rows(folded, "brand") == _rows(
        one_shot.select(*folded.columns), "brand"
    )


def test_fold_is_split_and_layout_invariant(spark):
    """Cells built from any disjoint split of the events, unioned and
    folded, equal the one-split fold; repartitioning the input changes
    nothing (md5-free exact arithmetic)."""
    ev = _events(spark)
    cells_all = mart_state.kpi_cells(ev, [])
    a = mart_state.kpi_cells(ev.filter(F.col("event_id") % 2 == 0), [])
    b = mart_state.kpi_cells(ev.filter(F.col("event_id") % 2 == 1), [])
    refolded = mart_state.kpi_fold(a.unionByName(b), ["event_date"])
    base = mart_state.kpi_fold(cells_all, ["event_date"])
    assert _rows(refolded, "event_date") == _rows(
        base.select(*refolded.columns), "event_date"
    )
    relaid = mart_state.kpi_cells(ev.repartition(13), [])
    assert _rows(
        mart_state.kpi_fold(relaid, ["event_date"]), "event_date"
    ) == _rows(base.select(*refolded.columns), "event_date")


def test_refresh_day_law(spark):
    """State through day d-1 plus day d's fresh cells == state through
    day d; re-refreshing an already-present day is idempotent (the
    O(delta) maintenance law)."""
    ev = _events(spark)
    days = sorted(
        r[0] for r in ev.select("event_date").distinct().collect()
    )
    last = days[-1]
    full = mart_state.kpi_cells(ev, [])
    head = mart_state.kpi_cells(
        ev.filter(F.col("event_date") < F.lit(last)), []
    )
    day = mart_state.kpi_cells(
        ev.filter(F.col("event_date") == F.lit(last)), []
    )
    refreshed = mart_state.refresh_day(head, day)
    assert _rows(refreshed, "event_date") == _rows(full, "event_date")
    again = mart_state.refresh_day(refreshed, day)
    assert _rows(again, "event_date") == _rows(full, "event_date")


def test_read_matches_exact_mart(spark):
    """kpi_read's additive columns at date grain equal the exact
    aggregate computed straight from events, and the funnel rates are
    the rounded exact ratios."""
    ev = _events(spark)
    cells = mart_state.kpi_cells(ev, [])
    regs = cardinality.hll_registers(ev, ["event_date"], "user_id", p=8)
    read = mart_state.kpi_read(cells, regs, ["event_date"], p=8)
    exact = ev.groupBy("event_date").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("views"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("purchases"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("price"), 2).cast("decimal(18,2)"),
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    j = read.join(
        exact.select(
            "event_date",
            F.col("views").alias("x_views"),
            F.col("purchases").alias("x_purchases"),
            F.col("revenue").alias("x_revenue"),
            "exact_users",
        ),
        "event_date",
    ).collect()
    assert j
    for r in j:
        assert r["views"] == r["x_views"]
        assert r["purchases"] == r["x_purchases"]
        assert r["revenue"] == r["x_revenue"]
        # p=8 ⇒ σ ≈ 1.04/√256 ≈ 6.5%; 4σ bound
        assert abs(r["unique_users_est"] - r["exact_users"]) <= max(
            0.26 * r["exact_users"], 3
        )
        if r["views"]:
            assert r["cart_rate"] == round(r["carts"] / r["views"], 6)


def test_rolling_windows_equal_brute_force(spark):
    """rolling_kpis' additive window sums equal recomputing each
    trailing window straight from the raw events."""
    ev = _events(spark)
    cells = mart_state.kpi_cells(ev, [])
    regs = cardinality.hll_registers(ev, ["event_date"], "user_id", p=8)
    roll = {
        r["window_end"]: r
        for r in mart_state.rolling_kpis(
            cells, regs, window_days=7, p=8
        ).collect()
    }
    days = sorted(roll)[::7]  # ramp-up head, steady state, tail
    for d in days:
        win = ev.filter(
            (F.col("event_date") <= F.lit(d))
            & (F.col("event_date") >= F.date_sub(F.lit(d), 6))
        )
        brute = win.agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("purchases"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        ).first()
        assert roll[d]["purchases"] == brute["purchases"]
        assert roll[d]["n_events"] == brute["n_events"]


def test_streaming_fold_store_redelivery_noop(spark, tmp_path):
    """fold_cells of KPI cells under at-least-once delivery: re-folding an
    already-delivered batch rewrites its own batch_id partition with
    identical cells — the folded mart is unchanged (the CMS overwrite
    pattern for linear state)."""
    ev = _events(spark)
    store = str(tmp_path / "kpi_state")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    for i, b in enumerate(batches):
        fold_cells(mart_state.kpi_cells(b, []), store, batch_id=i)
    once = _rows(
        mart_state.kpi_fold(
            spark.read.parquet(store).drop("batch_id"), ["event_date"]
        ),
        "event_date",
    )
    # redelivery
    fold_cells(mart_state.kpi_cells(batches[1], []), store, batch_id=1)
    twice = _rows(
        mart_state.kpi_fold(
            spark.read.parquet(store).drop("batch_id"), ["event_date"]
        ),
        "event_date",
    )
    assert once == twice
    # and the store equals the batch-face replay
    replayed = _rows(_kpi_replay(batches), "event_date")
    assert once == replayed


def test_replay_equals_one_shot(spark):
    """The stream ≡ batch certificate in-engine: a KPI-cell replay over any
    batching equals the one-shot cells of the whole corpus."""
    ev = _events(spark)
    one = _rows(mart_state.kpi_cells(ev, []), "event_date")
    batches = [ev.filter(F.col("event_id") % 4 == i) for i in range(4)]
    assert _rows(_kpi_replay(batches), "event_date") == one


def test_moment_cells_fold_equals_one_shot_and_brute(spark):
    """Moment fold law + statistics: per-day cells folded equal the
    one-shot sums, the statistics match a float brute force, and the
    exact DECIMAL state is layout-invariant."""
    import math

    ev = _events(spark).filter(F.col("price").isNotNull())
    cells = mart_state.moment_cells(ev, [], "price")
    read = mart_state.moment_read(cells, []).first()
    vals = [round(r[0], 2) for r in ev.select("price").collect()]
    n = len(vals)
    mean = sum(vals) / n
    var = sum(v * v for v in vals) / n - mean * mean
    assert read.n == n
    assert abs(read.mean - mean) < 1e-6
    assert abs(read.variance - var) < 1e-4
    assert abs(read.stddev - math.sqrt(max(var, 0.0))) < 1e-4
    relaid = mart_state.moment_read(
        mart_state.moment_cells(ev.repartition(13), [], "price"), []
    ).first()
    assert tuple(relaid) == tuple(read)


def test_rolling_moments_equal_brute(spark):
    """rolling_moments' window statistics equal recomputing each
    trailing window straight from raw purchase prices."""
    ev = _events(spark).filter(F.col("event_type") == "purchase")
    cells = mart_state.moment_cells(ev, [], "price")
    roll = {
        r["window_end"]: r
        for r in mart_state.rolling_moments(
            cells, window_days=7
        ).collect()
    }
    for d in sorted(roll)[::9]:
        vals = [
            round(r[0], 2)
            for r in ev.filter(
                (F.col("event_date") <= F.lit(d))
                & (F.col("event_date") >= F.date_sub(F.lit(d), 6))
                & F.col("price").isNotNull()
            )
            .select("price")
            .collect()
        ]
        n = len(vals)
        mean = sum(vals) / n
        var = sum(v * v for v in vals) / n - mean * mean
        assert roll[d]["n"] == n
        assert abs(roll[d]["mean"] - mean) < 1e-6
        assert abs(roll[d]["variance"] - var) < 1e-4


def test_fold_moment_batch_redelivery_noop(spark, tmp_path):
    """Streaming moment fold under at-least-once delivery: re-folding a
    delivered batch rewrites its own partition with identical cells."""
    ev = _events(spark).filter(F.col("event_type") == "purchase")
    store = str(tmp_path / "moment_state")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    def fold(i):
        cells = mart_state.moment_cells(batches[i], [], "price")
        fold_cells(cells, store, batch_id=i)

    for i in range(len(batches)):
        fold(i)
    read = lambda: tuple(  # noqa: E731
        mart_state.moment_read(
            spark.read.parquet(store).drop("batch_id"), []
        ).first()
    )
    once = read()
    fold(1)
    assert read() == once
    # stream == batch: folded store equals the one-shot statistics
    one_shot = tuple(
        mart_state.moment_read(
            mart_state.moment_cells(ev, [], "price"), []
        ).first()
    )
    assert once == one_shot


def test_kpi_read_keeps_grain_with_no_registers(spark):
    """A grain whose rows all carry NULL user_id has additive cells but
    no HLL registers — the LEFT join (round-12 advice) must keep its
    views/revenue with unique_users_est defaulted to 0.0, not drop the
    grain from the mart."""
    ev = spark.createDataFrame(
        [
            ("2024-01-01", "view", 1.0, "u1"),
            ("2024-01-01", "purchase", 2.5, "u1"),
            ("2024-01-02", "view", 3.0, None),
            ("2024-01-02", "view", 4.0, None),
        ],
        "event_date string, event_type string, price double, "
        "user_id string",
    ).withColumn("event_date", F.to_date("event_date"))
    cells = mart_state.kpi_cells(ev, ["event_date"])
    regs = cardinality.hll_registers(ev, ["event_date"], "user_id", p=8)
    read = {
        str(r["event_date"]): r
        for r in mart_state.kpi_read(
            cells, regs, ["event_date"], p=8
        ).collect()
    }
    assert set(read) == {"2024-01-01", "2024-01-02"}
    lone = read["2024-01-02"]
    assert lone["views"] == 2
    assert lone["unique_users_est"] == 0.0


def test_rolling_kpis_keep_registerless_windows(spark):
    """rolling_kpis' window join is LEFT for the same reason: a window
    whose days have no non-NULL users keeps its additive KPIs."""
    ev = spark.createDataFrame(
        [("2024-01-01", "view", 1.0, None), ("2024-01-02", "view", 2.0, None)],
        "event_date string, event_type string, price double, "
        "user_id string",
    ).withColumn("event_date", F.to_date("event_date"))
    cells = mart_state.kpi_cells(ev, [])
    regs = cardinality.hll_registers(ev, ["event_date"], "user_id", p=8)
    out = mart_state.rolling_kpis(cells, regs, window_days=7, p=8).collect()
    assert len(out) == 2
    assert all(r["unique_users_est"] == 0.0 for r in out)
    assert sum(r["views"] for r in out) == 3  # 1 + (1+2 ramp-up window)


def test_trailing_windows_membership_with_calendar_gaps(spark):
    """A row lands in exactly the windows [end − w + 1, end] whose end
    is a present day and that contain its date — across a calendar gap
    and the ramp-up head — and keeps its own columns."""
    import datetime

    days = [datetime.date(2024, 1, d) for d in (1, 2, 3, 6, 7, 20)]
    rows = spark.createDataFrame(
        [(d, i) for i, d in enumerate(days)], "event_date date, x int"
    )
    ends = rows.select("event_date").distinct()
    for w in (1, 3, 7):
        got = sorted(
            (r["window_end"], r["event_date"], r["x"])
            for r in mart_state.trailing_windows(
                rows, ends, w, "event_date"
            ).collect()
        )
        want = sorted(
            (e, d, i)
            for e in days
            for i, d in enumerate(days)
            if e - datetime.timedelta(days=w - 1) <= d <= e
        )
        assert got == want


def test_rolling_faces_refuse_empty_windows(spark):
    """window_days < 1 names the error instead of returning an empty
    frame (no date can satisfy end − w + 1 ≤ d ≤ end when w = 0)."""
    import pytest

    ev = _events(spark)
    cells = mart_state.kpi_cells(ev, [])
    regs = cardinality.hll_registers(ev, ["event_date"], "user_id", p=8)
    moments = mart_state.moment_cells(ev, [], "price")
    with pytest.raises(ValueError, match="window_days must be >= 1"):
        mart_state.rolling_kpis(cells, regs, window_days=0, p=8)
    with pytest.raises(ValueError, match="window_days must be >= 1"):
        mart_state.rolling_moments(moments, window_days=0)
    with pytest.raises(ValueError, match="trailing_windows"):
        mart_state.trailing_windows(cells, cells, -1, "event_date")


def test_replay_helpers_reject_empty_batches():
    """Every replay helper fails fast with a named error on zero
    batches instead of an unnamed error deep in the fold."""
    import pytest

    from airflow_retail_etl_spark.streaming import incremental as inc

    with pytest.raises(ValueError, match="replay: empty batches"):
        inc.replay([], mart_state.moment_cells, mart_state.moment_fold)
    with pytest.raises(
        ValueError, match="replay_admission: empty batches"
    ):
        inc.replay_admission([])


def test_replay_moment_equals_one_shot(spark):
    """A moment-cell replay folded across 4 batches is bit-identical to
    the one-shot per-day moment cells (linear exact DECIMAL sums)."""

    def moment_replay(batches):
        return replay(
            batches,
            lambda b: mart_state.moment_cells(b, [], "price"),
            lambda cells: mart_state.moment_fold(cells, ["event_date"]),
        )

    ev = _events(spark).filter(F.col("event_type") == "purchase")
    batches = [ev.filter(F.col("event_id") % 4 == i) for i in range(4)]
    folded = moment_replay(batches)
    one_shot = mart_state.moment_cells(ev, [], "price")
    assert _rows(folded) == _rows(one_shot)
    with __import__("pytest").raises(
        ValueError, match="replay: empty batches"
    ):
        moment_replay([])


def test_decayed_read_incremental_law_and_gaps(spark):
    """decayed_read equals the O(1) incremental recurrence
    decayed(D) = decayed(D-1)·λ + S_D (with λ-only steps across
    calendar gaps), and rejects degenerate λ."""
    import datetime as dt

    import pytest

    rows = [
        ("2024-01-01", "purchase", 100.0),
        ("2024-01-02", "purchase", 50.0),
        # gap on 01-03
        ("2024-01-04", "purchase", 10.0),
    ]
    ev = spark.createDataFrame(
        [(d, t, p, "u") for d, t, p in rows],
        "event_date string, event_type string, price double, user_id string",
    ).withColumn("event_date", F.to_date("event_date"))
    cells = mart_state.kpi_cells(ev, [])
    out = {
        str(r["event_date"]): r
        for r in mart_state.decayed_read(
            cells, "revenue_cents", lam=0.5
        ).collect()
    }
    assert out["2024-01-01"]["decayed"] == 100.0
    assert out["2024-01-02"]["decayed"] == 100.0 * 0.5 + 50.0
    # gap day contributes 0: ((100·0.5+50)·0.5 + 0)·0.5 + 10
    assert out["2024-01-04"]["decayed"] == round(
        (100.0 * 0.5 + 50.0) * 0.5 * 0.5 + 10.0, 6
    )
    assert out["2024-01-04"]["n_days"] == 4
    with pytest.raises(ValueError, match="lam"):
        mart_state.decayed_read(cells, "revenue_cents", lam=1.0)


def _decayed_batches(spark, n=3):
    """Raw events in contiguous day-of-month batches."""
    ev = _events(spark)
    dom = F.dayofmonth("event_date")
    spans = ((1, 10), (11, 20), (21, 31))[:n]
    return [ev.filter((dom >= lo) & (dom <= hi)) for lo, hi in spans]


def _decayed(cells):
    """The decayed revenue series of (possibly per-batch) kpi cells."""
    return mart_state.decayed_read(
        mart_state.kpi_fold(cells, ["event_date"]), "revenue_cents", lam=0.9
    )


def _decayed_store(spark, store):
    return _rows(
        _decayed(spark.read.parquet(store).drop("batch_id")), "event_date"
    )


def _decayed_one_shot(spark):
    return _rows(
        mart_state.decayed_read(
            mart_state.kpi_cells(_events(spark), []), "revenue_cents", lam=0.9
        ),
        "event_date",
    )


def test_fold_decayed_batch_redelivery_noop(spark, tmp_path):
    """The decayed face streams through the linear cell store under
    at-least-once delivery: each batch's kpi cells land in their own
    fold_cells partition, so re-folding a delivered batch rewrites
    identical rows — the decayed read is unchanged, and it is
    BIT-identical to the one-shot decayed_read of everything delivered."""
    store = str(tmp_path / "decayed_cells")
    batches = _decayed_batches(spark)
    for i, b in enumerate(batches):
        fold_cells(mart_state.kpi_cells(b, []), store, batch_id=i)
    once = _decayed_store(spark, store)
    fold_cells(
        mart_state.kpi_cells(batches[1], []), store, batch_id=1
    )  # redelivery
    assert _decayed_store(spark, store) == once
    # stream == batch: the store reads equal to the one-shot decayed read
    assert once == _decayed_one_shot(spark)


def test_fold_decayed_batch_absorbs_late_day(spark, tmp_path):
    """A batch whose days are OLDER than days already folded (late days)
    lands beside them in the cell store, and the decayed read of the
    store equals the one-shot read: linear cells absorb the past."""
    store = str(tmp_path / "decayed_cells")
    b0, b1, b2 = _decayed_batches(spark)
    for i, b in enumerate((b1, b2, b0)):  # the earliest days arrive last
        fold_cells(mart_state.kpi_cells(b, []), store, batch_id=i)
    assert _decayed_store(spark, store) == _decayed_one_shot(spark)


def test_fold_decayed_batch_empty_batch_carries_through(spark, tmp_path):
    """An empty micro-batch folds to no cells; the batches around it
    still read equal to the one-shot series."""
    store = str(tmp_path / "decayed_cells")
    b0, b1, b2 = _decayed_batches(spark)
    empty = b0.filter("1 = 0")
    for i, b in enumerate((b0, empty, b1, b2)):
        fold_cells(mart_state.kpi_cells(b, []), store, batch_id=i)
    assert _decayed_store(spark, store) == _decayed_one_shot(spark)


def test_state_folds_are_day_permutation_invariant(spark, tmp_path):
    """The backfill law (r13 verdict item 5): per-day cells folded in
    ANY arrival order — including a LATE day landing after later days
    were already folded — read identically to the calendar-ordered fold
    for the kpi, moment, and decayed READS, because cells are linear
    and every read is a pure function of the folded cell state."""
    import random

    ev = _events(spark)
    days = sorted(
        r["event_date"] for r in ev.select("event_date").distinct().collect()
    )
    rng = random.Random(42)
    perm = days[:]
    rng.shuffle(perm)
    # a demonstrably-late arrival: force the earliest day to fold LAST
    perm.remove(days[0])
    perm.append(days[0])

    kpi_store = str(tmp_path / "kpi_perm")
    mom_store = str(tmp_path / "mom_perm")
    purchases = ev.filter(F.col("event_type") == "purchase")
    for i, d in enumerate(perm):
        day = ev.filter(F.col("event_date") == d)
        fold_cells(mart_state.kpi_cells(day, []), kpi_store, batch_id=i)
        fold_cells(
            mart_state.moment_cells(
                purchases.filter(F.col("event_date") == d), [], "price"
            ),
            mom_store,
            batch_id=i,
        )

    kpi_cells_folded = mart_state.kpi_fold(
        spark.read.parquet(kpi_store).drop("batch_id"), ["event_date"]
    )
    one_kpi = mart_state.kpi_cells(ev, [])
    assert _rows(kpi_cells_folded, "event_date") == _rows(
        one_kpi, "event_date"
    )
    # decayed read over the permutation-folded cell store == calendar
    assert _rows(
        mart_state.decayed_read(kpi_cells_folded, "revenue_cents", lam=0.9),
        "event_date",
    ) == _rows(
        mart_state.decayed_read(one_kpi, "revenue_cents", lam=0.9),
        "event_date",
    )
    # moment read likewise
    mom_folded = mart_state.moment_fold(
        spark.read.parquet(mom_store).drop("batch_id"), ["event_date"]
    )
    assert _rows(
        mart_state.moment_read(mom_folded, ["event_date"]), "event_date"
    ) == _rows(
        mart_state.moment_read(
            mart_state.moment_cells(purchases, [], "price"), ["event_date"]
        ),
        "event_date",
    )


def test_ewm_stats_matches_reference_fold(spark):
    """ewm_stats ≡ a python reference of the same day-grain decay law
    on a small synthetic series (gap days contribute 0), and the
    outputs are layout-invariant."""
    import datetime as dt

    rows = [
        (dt.date(2024, 1, 1), 10.0),
        (dt.date(2024, 1, 1), 20.0),
        (dt.date(2024, 1, 2), 5.0),
        (dt.date(2024, 1, 4), 7.5),
        (dt.date(2024, 1, 4), 2.5),
        (dt.date(2024, 1, 7), 40.0),
    ]
    df = spark.createDataFrame(rows, "event_date date, price double")
    cells = mart_state.moment_cells(df, [], "price")
    got = {
        str(r.event_date): (r.n_days, r.ewm_n, r.ewm_mean, r.ewm_var)
        for r in mart_state.ewm_stats(cells, lam=0.5).collect()
    }
    # python reference: fold per day over the dense calendar
    by_day = {}
    for d, v in rows:
        n, sx, sxx = by_day.get(d, (0, 0.0, 0.0))
        by_day[d] = (n + 1, sx + v, sxx + v * v)
    lo = min(by_day)
    for day in sorted(by_day):
        en = ex = exx = 0.0
        for i in range((day - lo).days + 1):
            d = lo + dt.timedelta(days=i)
            n, sx, sxx = by_day.get(d, (0, 0.0, 0.0))
            en = en * 0.5 + n
            ex = ex * 0.5 + sx
            exx = exx * 0.5 + sxx
        m = ex / en
        var = (en * exx - ex * ex) / (en * en)
        nd, g_en, g_m, g_v = got[str(day)]
        assert nd == (day - lo).days + 1
        # engine publishes at 6dp (HALF_UP); reference is unrounded
        assert abs(g_en - en) < 5e-7
        assert abs(g_m - m) < 5e-7
        assert abs(g_v - var) < 5e-7
    # layout invariance (exact DECIMAL cells -> identical folds)
    again = {
        str(r.event_date): (r.n_days, r.ewm_n, r.ewm_mean, r.ewm_var)
        for r in mart_state.ewm_stats(
            mart_state.moment_cells(df.repartition(5), [], "price"),
            lam=0.5,
        ).collect()
    }
    assert again == got


def test_replay_decayed_skips_empty_batches(spark):
    """Empty batches pass through the decayed replay: the replay around
    them still equals the one-shot read, and a replay of nothing but
    empty batches is an empty series."""

    def decayed_replay(batches):
        return replay(batches, lambda b: mart_state.kpi_cells(b, []), _decayed)

    b0, b1, b2 = _decayed_batches(spark)
    empty = b0.filter("1 = 0")
    got = _rows(decayed_replay([empty, b0, empty, b1, b2]), "event_date")
    assert got == _decayed_one_shot(spark)
    assert decayed_replay([empty, empty]).collect() == []


def _revenue_cells(spark, rows, keys=()):
    """kpi_cells of purchase rows (*keys, day, price)."""
    schema = [f"{k} string" for k in keys] + ["event_date date", "price double"]
    ev = spark.createDataFrame(rows, ", ".join(schema)).withColumn(
        "event_type", F.lit("purchase")
    )
    return mart_state.kpi_cells(ev, list(keys))


def test_decayed_reads_single_day_and_empty_input(spark):
    """A single observed day reads its own cell (n_days 1); empty cells
    read zero rows without error, for every decayed read."""
    import datetime as dt

    day = dt.date(2024, 3, 5)
    one = _revenue_cells(spark, [(day, 12.5)])
    assert [tuple(r) for r in mart_state.decayed_read(
        one, "revenue_cents", lam=0.9
    ).collect()] == [(day, 1, 12.5)]
    prices = spark.createDataFrame([(day, 4.0)], "event_date date, price double")
    (r,) = mart_state.ewm_stats(
        mart_state.moment_cells(prices, [], "price"), lam=0.9
    ).collect()
    assert (r.n_days, r.ewm_n, r.ewm_mean, r.ewm_var) == (1, 1.0, 4.0, 0.0)
    brand = _revenue_cells(spark, [("b", day, 3.0)], keys=("brand",))
    assert [tuple(r) for r in mart_state.decayed_now_by(
        brand, ["brand"], "revenue_cents", lam=0.9
    ).collect()] == [("b", 1, 3.0)]

    empty = one.filter("1 = 0")
    assert not mart_state.decayed_read(empty, "revenue_cents", lam=0.9).collect()
    assert mart_state.ewm_stats(
        mart_state.moment_cells(empty, [], "revenue_cents"), lam=0.9
    ).collect() == []
    for keys, cells in ((["brand"], brand), ([], one)):
        assert not mart_state.decayed_now_by(
            cells.filter("1 = 0"), keys, "revenue_cents", lam=0.9
        ).collect()


def test_decayed_read_refuses_repeated_day(spark):
    """Cells must be at day grain: two cells on one day would misalign
    the dense calendar, so the read fails instead of guessing."""
    import datetime as dt

    import pytest
    from pyspark.errors import SparkRuntimeException

    day = dt.date(2024, 3, 5)
    two = [("a", day, 1.0), ("b", day, 2.0)]
    cells = _revenue_cells(spark, two, ("brand",))
    with pytest.raises(SparkRuntimeException, match="DUPLICATED_MAP_KEY"):
        mart_state.decayed_read(cells, "revenue_cents", lam=0.9).collect()


def test_decayed_now_by_global_calendar_gaps_and_null_key(spark):
    """Every group folds over the GLOBAL calendar [lo, hi] with gap days
    at 0 (a python Horner reference), so a group that stopped selling
    decays; a NULL key is a group like any other and reads its own
    cells."""
    import datetime as dt

    d = [dt.date(2024, 1, i) for i in range(1, 8)]
    rows = [
        ("a", d[0], 100.0),
        ("a", d[1], 50.0),  # stops early: decays over 5 days
        ("b", d[3], 10.0),  # gaps on both sides of its own cells
        ("b", d[6], 20.0),
        (None, d[2], 8.0),
        (None, d[2], 2.0),
    ]
    cells = _revenue_cells(spark, rows, ("brand",))
    got = {
        r.brand: (r.n_days, r.decayed)
        for r in mart_state.decayed_now_by(
            cells, ["brand"], "revenue_cents", lam=0.5
        ).collect()
    }

    def horner(group):
        acc = 0.0
        for day in d:
            s = sum(p for g, x, p in rows if g == group and x == day)
            acc = acc * 0.5 + s
        return round(acc, 6)

    assert got == {g: (7, horner(g)) for g in ("a", "b", None)}
