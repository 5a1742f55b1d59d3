"""Count-min sketch + heavy hitters (operators/frequency.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_retail_etl_spark.operators import frequency

#: a tight sketch over a 3-letter alphabet so collisions are guaranteed
W, D = 8, 3


def _occ(spark, counts: dict[str, int], parts: int | None = None):
    rows = [(v,) for v, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, ["v"])
    return df.repartition(parts) if parts else df


COUNTS = {"a": 7, "b": 5, "c": 3, "d": 2, "e": 1, "f": 1}


def test_cms_never_underestimates(spark):
    """The CMS guarantee: est ≥ true count for EVERY key (collisions
    only add), at a width small enough that collisions must happen."""
    occ = _occ(spark, COUNTS)
    cms = frequency.cms_build(occ, "v", width=W, depth=D)
    probed = frequency.cms_probe(
        occ.distinct(), "v", cms, width=W, depth=D
    ).collect()
    assert len(probed) == len(COUNTS)
    for r in probed:
        assert r.cms_est >= COUNTS[r.v]
    # total mass conservation: each CMS row sums to N occurrences
    counters = cms.first().counters
    n = sum(COUNTS.values())
    for j in range(D):
        assert sum(counters[j * W : (j + 1) * W]) == n


def test_cms_partitioning_invariant(spark):
    """md5 positions + integer counters ⇒ the sketch is bit-identical
    under any partitioning."""
    a = frequency.cms_build(_occ(spark, COUNTS), "v", width=W, depth=D)
    b = frequency.cms_build(
        _occ(spark, COUNTS, parts=7), "v", width=W, depth=D
    )
    assert a.first().counters == b.first().counters


def test_cms_linearity(spark):
    """cms(A ⊎ B) == cms(A) + cms(B) element-wise — shards build
    independently and merge with one zip_with(+)."""
    left = {"a": 3, "b": 1, "x": 4}
    right = {"a": 4, "b": 4, "c": 3, "d": 2, "e": 1, "f": 1, "x": 1}
    both = {k: left.get(k, 0) + right.get(k, 0) for k in {*left, *right}}
    ca = frequency.cms_build(_occ(spark, left), "v", width=W, depth=D)
    cb = frequency.cms_build(_occ(spark, right), "v", width=W, depth=D)
    cab = frequency.cms_build(_occ(spark, both), "v", width=W, depth=D)
    merged = [
        x + y
        for x, y in zip(ca.first().counters, cb.first().counters)
    ]
    assert merged == cab.first().counters
    # the API form of the same property
    api = frequency.cms_merge(ca, cb).first()
    assert api.counters == cab.first().counters
    assert (api.width, api.depth) == (W, D)


def test_cms_nulls_ignored(spark):
    occ = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,)], ["v"]
    )
    cms = frequency.cms_build(occ, "v", width=W, depth=D)
    counters = cms.first().counters
    for j in range(D):
        assert sum(counters[j * W : (j + 1) * W]) == 2
    probed = frequency.cms_probe(occ, "v", cms, width=W, depth=D)
    by_v = {r.v: r.cms_est for r in probed.collect()}
    assert by_v[None] is None and by_v["a"] >= 2


def test_heavy_hitters_exact_vs_naive(spark):
    """The sketch prefilter is lossless: output == the naive exact
    groupBy-filter, even at a width where est > exact for some keys."""
    occ = _occ(spark, COUNTS, parts=5)
    got = frequency.heavy_hitters(
        occ, "v", threshold=3, width=W, depth=D
    ).collect()
    naive = {v: n for v, n in COUNTS.items() if n >= 3}
    assert {(r.value, r.n_exact) for r in got} == set(naive.items())
    # ordered by (n_exact desc, value); audit column never underestimates
    assert [r.value for r in got] == ["a", "b", "c"]
    for r in got:
        assert r.cms_est >= r.n_exact


def test_heavy_hitters_threshold_validation(spark):
    with pytest.raises(ValueError, match="threshold"):
        frequency.heavy_hitters(
            _occ(spark, COUNTS), "v", threshold=0, width=W, depth=D
        )


def test_heavy_hitters_fractional_threshold(spark):
    """threshold_frac resolves to ceil(frac·N) — the scale-safe cut:
    identical output to the equivalent absolute threshold."""
    import math

    occ = _occ(spark, COUNTS)
    n = sum(COUNTS.values())  # 19
    frac = 0.15               # ceil(0.15·19) = 3
    via_frac = frequency.heavy_hitters(
        occ, "v", threshold_frac=frac, width=W, depth=D
    ).collect()
    via_abs = frequency.heavy_hitters(
        occ, "v", threshold=math.ceil(frac * n), width=W, depth=D
    ).collect()
    assert via_frac == via_abs and len(via_frac) == 3
    with pytest.raises(ValueError, match="exactly one"):
        frequency.heavy_hitters(occ, "v", width=W, depth=D)
    with pytest.raises(ValueError, match="exactly one"):
        frequency.heavy_hitters(
            occ, "v", threshold=3, threshold_frac=0.1, width=W, depth=D
        )
    with pytest.raises(ValueError, match="threshold_frac"):
        frequency.heavy_hitters(
            occ, "v", threshold_frac=1.5, width=W, depth=D
        )


GROUPED = {
    ("g1", "a"): 6, ("g1", "b"): 3, ("g1", "c"): 1,
    ("g2", "a"): 2, ("g2", "d"): 1,
}


def _gocc(spark, counts, parts=None):
    rows = [(g, v) for (g, v), n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, ["g", "v"])
    return df.repartition(parts) if parts else df


def test_heavy_hitters_by_exact_vs_naive_absolute(spark):
    """Grouped output == per-group naive groupBy-filter, at a width
    where cross-key collisions happen WITHIN groups."""
    got = frequency.heavy_hitters_by(
        _gocc(spark, GROUPED, parts=5), "v", "g",
        threshold=2, width=W, depth=D,
    ).collect()
    naive = {
        (g, v): n for (g, v), n in GROUPED.items() if n >= 2
    }
    assert {(r.g, r.value, r.n_exact) for r in got} == {
        (g, v, n) for (g, v), n in naive.items()
    }
    for r in got:
        assert r.cms_est >= r.n_exact and r.threshold == 2
    # ordering: group asc, count desc, value asc
    assert [(r.g, r.value) for r in got] == [
        ("g1", "a"), ("g1", "b"), ("g2", "a")
    ]


def test_heavy_hitters_by_fractional_is_per_group(spark):
    """frac resolves against EACH group's mass: 30% of g1's 10
    occurrences = 3, 30% of g2's 3 occurrences = 1 — 'c' fails in g1
    (1 < 3) while 'd' passes in g2 (1 >= 1)."""
    got = frequency.heavy_hitters_by(
        _gocc(spark, GROUPED), "v", "g",
        threshold_frac=0.3, width=W, depth=D,
    ).collect()
    by = {(r.g, r.value): (r.n_exact, r.threshold) for r in got}
    assert by == {
        ("g1", "a"): (6, 3), ("g1", "b"): (3, 3),
        ("g2", "a"): (2, 1), ("g2", "d"): (1, 1),
    }


def test_heavy_hitters_by_shuffle_path_matches_broadcast(spark):
    """broadcast_cells=False (the too-many-groups fallback) is the same
    algorithm on shuffle joins — identical output."""
    a = frequency.heavy_hitters_by(
        _gocc(spark, GROUPED), "v", "g", threshold=2, width=W, depth=D
    ).collect()
    b = frequency.heavy_hitters_by(
        _gocc(spark, GROUPED), "v", "g", threshold=2, width=W, depth=D,
        broadcast_cells=False,
    ).collect()
    assert a == b


def test_heavy_hitters_by_validation(spark):
    df = _gocc(spark, GROUPED)
    with pytest.raises(ValueError, match="exactly one"):
        frequency.heavy_hitters_by(df, "v", "g", width=W, depth=D)
    with pytest.raises(ValueError, match="threshold_frac"):
        frequency.heavy_hitters_by(
            df, "v", "g", threshold_frac=0.0, width=W, depth=D
        )
    with pytest.raises(ValueError, match="threshold"):
        frequency.heavy_hitters_by(
            df, "v", "g", threshold=0, width=W, depth=D
        )


def test_invalid_cuts_run_no_spark_job(spark):
    """Every heavy-hitter argument is checked before the first Spark
    job: a bad call fails fast instead of scanning the corpus first."""
    df = _gocc(spark, GROUPED)
    days = df.select(F.current_date().alias("day"), "v")
    bad = [
        lambda: frequency.heavy_hitters_by(
            df, "v", "g", threshold=0, width=W, depth=D
        ),
        lambda: frequency.heavy_hitters_by(
            df, "v", "g", threshold_frac=1.5, width=W, depth=D
        ),
        lambda: frequency.heavy_hitters(
            df, "v", threshold_frac=0.0, width=W, depth=D
        ),
        lambda: frequency.rolling_heavy_hitters(
            days, "v", "day", threshold_frac=0.0
        ),
        lambda: frequency.rolling_heavy_hitters(
            days, "v", "day", window_days=0, threshold_frac=0.5
        ),
    ]
    sc = spark.sparkContext
    for i, call in enumerate(bad):
        group = f"hh-invalid-{i}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError):
                call()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup(group) == [], i


def test_rolling_heavy_hitters_matches_naive_windows(spark):
    """Window-grain cells + sketch prune must reproduce the naive
    exact trailing-window computation — including partial leading
    windows and per-window fractional thresholds — with est ≥ exact for
    every reported row (the overestimate guarantee survives the window
    merge)."""
    import datetime as dt
    from collections import Counter

    d0 = dt.date(2024, 1, 1)
    rows = []
    # user "hot" fires every day; "warm" every other day; 20 one-off
    # users per day force sketch collisions at W=8
    for i in range(10):
        day = d0 + dt.timedelta(days=i)
        rows.append((day, "hot"))
        rows.append((day, "hot"))
        if i % 2 == 0:
            rows.append((day, "warm"))
        rows += [(day, f"u{i}_{j}") for j in range(20)]
    df = spark.createDataFrame(rows, ["day", "user"])
    out = frequency.rolling_heavy_hitters(
        df, "user", "day", window_days=3, threshold_frac=0.05,
        width=W, depth=D,
    ).collect()
    # naive expectation
    days = sorted({r[0] for r in rows})
    want = {}
    for wd in days:
        lo = wd - dt.timedelta(days=2)
        win = [u for (d, u) in rows if lo <= d <= wd]
        thr = max(1, -(-len(win) * 5 // 100))  # ceil(0.05 * n)
        for u, n in Counter(win).items():
            if n >= thr:
                want[(wd, u)] = (n, thr)
    got = {(r.window_end, r.value): (r.n_exact, r.threshold) for r in out}
    assert got == want
    assert all(r.cms_est >= r.n_exact for r in out)
    # layout-invariance of the full report
    again = frequency.rolling_heavy_hitters(
        df.repartition(7), "user", "day", window_days=3,
        threshold_frac=0.05, width=W, depth=D,
    ).collect()
    assert {(r.window_end, r.value): (r.n_exact, r.cms_est, r.threshold)
            for r in again} == {
        (r.window_end, r.value): (r.n_exact, r.cms_est, r.threshold)
        for r in out
    }
    with pytest.raises(ValueError):
        frequency.rolling_heavy_hitters(
            df, "user", "day", window_days=0, threshold_frac=0.05
        )
    with pytest.raises(ValueError):
        frequency.rolling_heavy_hitters(
            df, "user", "day", threshold_frac=0.0
        )


def test_heavy_hitters_rejects_mismatched_prebuilt_cms(spark):
    # a prebuilt sketch with different geometry reads the wrong counter
    # cells, voiding the lossless-prune guarantee — must error, not
    # silently drop true heavy hitters (round-11 advice)
    df = spark.createDataFrame(
        [(f"v{i % 5}",) for i in range(100)], ["value"]
    )
    sk = frequency.cms_build(df, "value", width=64, depth=3)
    with pytest.raises(ValueError, match="geometry"):
        frequency.heavy_hitters(
            df, "value", threshold=5, width=128, depth=3, cms=sk
        )
    # matching geometry passes through and stays exact
    out = frequency.heavy_hitters(
        df, "value", threshold=5, width=64, depth=3, cms=sk
    ).collect()
    assert {r.value for r in out} == {f"v{i}" for i in range(5)}


def test_cms_cells_weighted_grain_equals_raw(spark):
    """The grouped heavy hitters contract the occurrence stream to the
    (group, value, n) grain before sketching. CMS is linear, so
    weighted cells must be BIT-identical to raw-occurrence cells —
    every (group, idx, c) row."""
    import datetime as dt

    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(4):
        day = d0 + dt.timedelta(days=i)
        rows += [(day, v) for v, n in COUNTS.items() for _ in range(n + i)]
    raw = spark.createDataFrame(rows, ["day", "v"])
    weighted = raw.groupBy("day", "v").agg(
        F.count(F.lit(1)).cast("long").alias("__w")
    )
    a = frequency.cms_cells(
        raw, "v", group_cols=("day",), width=W, depth=D
    )
    b = frequency.cms_cells(
        weighted, "v", group_cols=("day",), weight_col="__w",
        width=W, depth=D,
    )
    assert a.schema == b.schema
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_cms_from_cells_of_overlapping_batches_equals_one_shot(spark):
    """Cells from batches that share keys (so their idx overlap) union
    and densify to exactly the one-shot sketch; no cells at all read as
    an all-zero sketch."""
    batches = [{"a": 3, "b": 1}, {"a": 4, "c": 2}, {"b": 2, "c": 1, "e": 1}]
    cells = None
    for counts in batches:
        c = frequency.cms_cells(_occ(spark, counts), "v", width=W, depth=D)
        cells = c if cells is None else cells.unionByName(c)
    both = {
        k: sum(b.get(k, 0) for b in batches) for k in {"a", "b", "c", "e"}
    }
    got = frequency.cms_from_cells(cells, width=W, depth=D).first()
    want = frequency.cms_build(_occ(spark, both), "v", width=W, depth=D)
    assert got == want.first()
    empty = frequency.cms_from_cells(cells.filter("1 = 0"), width=W, depth=D)
    assert empty.first().counters == [0] * (W * D)
