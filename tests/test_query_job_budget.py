"""Driver-action budgets for the registry queries that used to be the
most job-heavy (ROADMAP item 2; perfbench's ``driver_bound`` workload).

Each query is built and forced with the noop sink under its own job
group, and every Spark job the group ran is counted — the pins and
collects inside the query function as well as the sink's own. Measured
at sf0.001 on local[4]: psi_drift 14, robust_value_stats 17 (35 and 33
before the quantile picks became one aggregation and the bounded edge
and count results were collected once). Every sparse-state fold reads
its input in one aggregation that collects the cells as a map and
densifies it with ``functions.columns.dense_array`` — no key-range
spine join: streaming_decayed 7 (15 with the calendar join),
decayed_revenue and ewm_price_stats 4 each (9), trending_brands 7 (13),
heavy_hitters 9 (10), streaming_heavy_hitters 16 (17) and bloom_decontam
14 (15). The grouped heavy hitters share one engine: heavy_hitters_by_lang
15, and rolling_heavy_hitters, which runs it with the trailing window as
the group, 17 (21 with its own per-day cell sums and probe chain).
perplexity_deciles takes its row count from global_cumsum's
offsets broadcast (20; 22 with a separate count). The rolling faces
and the quantile-sketch reads are
budgeted at exactly their measured counts: the window joins over one
``days`` frame share a single broadcast (``trailing_windows``), and
``sample_quantiles`` explodes a literal q array instead of joining a
``createDataFrame`` q table. A query that grows an eager action fails
here."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

JOB_BUDGET = {
    "psi_drift": 14,
    "robust_value_stats": 17,
    "streaming_decayed": 7,
    "rolling_mart": 14,
    "rolling_volatility": 9,
    "rolling_sample": 18,
    "rolling_heavy_hitters": 17,
    "rolling_distinct_hll": 13,
    "rolling_quantiles": 22,
    "streaming_quantiles": 24,
    "quantile_sketch": 19,
    "decayed_revenue": 4,
    "ewm_price_stats": 4,
    "trending_brands": 7,
    "heavy_hitters": 9,
    "heavy_hitters_by_lang": 15,
    "streaming_heavy_hitters": 16,
    "bloom_decontam": 14,
    "perplexity_deciles": 20,
}


def _jobs(spark, sf_dir, name):
    sc = spark.sparkContext
    group = f"job-budget-{name}"
    sc.setJobGroup(group, name)
    try:
        df = entry.queries()[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", JOB_BUDGET)
def test_query_job_budget(spark, sf_dir, name):
    jobs = _jobs(spark, sf_dir, name)
    assert jobs <= JOB_BUDGET[name], f"{name} ran {jobs} Spark jobs"
