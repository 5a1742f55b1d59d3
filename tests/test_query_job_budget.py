"""Driver-action budgets for the registry queries that used to be the
most job-heavy (ROADMAP item 2; perfbench's ``driver_bound`` workload).

Each query is built and forced with the noop sink under its own job
group, and every Spark job the group ran is counted — the pins and
collects inside the query function as well as the sink's own. Every
testdata table is loaded once first: ``sources.tables.load_table``
infers a table's schema on its first read only, and that one job must
not land on whichever query happens to read the table first. Every
budget is the count measured at sf0.001 on local[4] (counts before the
schema memo and before global_cumsum observed its per-partition totals
on its pin, in brackets):

- the ``global_cumsum`` callers: psi_drift 10 (14), global_quantiles 7
  (11), ks_drift 15 (22), corpus_shuffle and epoch_slice 7 (11),
  curriculum_order 14 (21), corpus_budget 7 (11) and perplexity_deciles
  16 (20), which takes its row count from global_cumsum's total;
- robust_value_stats 8 (17): one pinned wide pick, then one deviation
  pass that yields MAD, n_trimmed and the trimmed mean together;
- the sparse-state folds, which read their input in one aggregation and
  densify it with ``functions.columns.dense_array`` — no key-range spine
  join: streaming_decayed 6 (7), decayed_revenue and ewm_price_stats 3
  (4), trending_brands 5 (7), heavy_hitters 8 (9),
  streaming_heavy_hitters 15 (16) and bloom_decontam 13 (14);
- the grouped heavy hitters' one engine: heavy_hitters_by_lang 14 (15)
  and rolling_heavy_hitters 16 (17), which runs it with the trailing
  window as the group;
- the rolling faces and quantile-sketch reads, whose window joins over
  one ``days`` frame share a single broadcast (``trailing_windows``)
  and whose ``sample_quantiles`` explodes a literal q array:
  rolling_mart 13 (14), rolling_volatility 8 (9), rolling_sample 17
  (18), rolling_distinct_hll 12 (13), rolling_quantiles 21 (22),
  streaming_quantiles 23 (24) and quantile_sketch 18 (19);
- the vector-search family's one fit, assignment, probe and ranker:
  knn_cosine 3, knn_by_label 8, ann_lsh 4, ann_ivf 6, ann_pq 6, ivf_pq
  10, ann_recall 25, semdedup 8, neardup_cosine 3, neardup_cosine_lsh
  6, hard_negatives 3 and matryoshka_recall 17 (the last two vary from
  run to run in one session, 24–25 and 15–17, so each pins its max);
- the near-dup family's one candidate-pair core, neardup_jaccard
  through audio_neardup below (connected_components consumers vary by
  one job from run to run, so they stay unpinned).

A query that grows an eager action fails here."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from airflow_retail_etl_spark.sources.tables import TABLE_NAMES, load_table

JOB_BUDGET = {
    "psi_drift": 10,
    "robust_value_stats": 8,
    "streaming_decayed": 6,
    "rolling_mart": 13,
    "rolling_volatility": 8,
    "rolling_sample": 17,
    "rolling_heavy_hitters": 16,
    "rolling_distinct_hll": 12,
    "rolling_quantiles": 21,
    "streaming_quantiles": 23,
    "quantile_sketch": 18,
    "decayed_revenue": 3,
    "ewm_price_stats": 3,
    "trending_brands": 5,
    "heavy_hitters": 8,
    "heavy_hitters_by_lang": 14,
    "streaming_heavy_hitters": 15,
    "bloom_decontam": 13,
    "perplexity_deciles": 16,
    "global_quantiles": 7,
    "ks_drift": 15,
    "corpus_shuffle": 7,
    "epoch_slice": 7,
    "curriculum_order": 14,
    "corpus_budget": 7,
    "knn_cosine": 3,
    "knn_by_label": 8,
    "ann_lsh": 4,
    "ann_ivf": 6,
    "ann_pq": 6,
    "ivf_pq": 10,
    "ann_recall": 25,
    "semdedup": 8,
    "neardup_cosine": 3,
    "neardup_cosine_lsh": 6,
    "hard_negatives": 3,
    "matryoshka_recall": 17,
    "neardup_jaccard": 3,
    "dedup_threshold_sweep": 7,
    "containment_pairs": 3,
    "minhash_lsh_pairs": 9,
    "simhash_pairs": 5,
    "winnow_pairs": 7,
    "shared_spans": 3,
    "span_excise": 6,
    "duplication_profile": 14,
    "decontam_excise": 8,
    "eval_leak_report": 12,
    "incremental_dedup": 11,
    "streaming_admission": 53,
    "image_neardup": 7,
    "video_neardup": 7,
    "audio_neardup": 7,
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


@pytest.fixture(scope="module")
def loaded(spark, sf_dir):
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t)


@pytest.mark.parametrize("name", JOB_BUDGET)
def test_query_job_budget(spark, sf_dir, loaded, name):
    jobs = _jobs(spark, sf_dir, name)
    assert jobs <= JOB_BUDGET[name], f"{name} ran {jobs} Spark jobs"
