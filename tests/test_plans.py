"""Physical-plan regression guards.

These pin the plan shapes that matter at 100 TB: filters reaching the
parquet scan, column-pruned reads, broadcast joins for dims, partial
aggregation before the shuffle, top-k as TakeOrderedAndProject. A refactor
that silently loses one of these fails here, not on the cluster.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry
from airflow_retail_etl_spark.plans.explain import (
    formatted_plan,
    has_broadcast_join,
)


@pytest.fixture(scope="module")
def q(sf_dir):
    return {name: fn for name, fn in entry.queries().items()}


def test_pricing_summary_pushes_shipdate_filter(spark, q, sf_dir):
    plan = formatted_plan(q["pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_scans_are_column_pruned(spark, q, sf_dir):
    # events_summary needs only ts + event_type out of 6 columns
    plan = formatted_plan(q["events_summary"](spark, sf_dir))
    scan = next(s for s in plan.split("\n\n") if "ReadSchema" in s)
    assert "value" not in scan and "props" not in scan and "user_id" not in scan


def test_funnel_join_broadcasts_dim(spark, q, sf_dir):
    df = q["daily_funnel_by_brand"](spark, sf_dir)
    assert has_broadcast_join(df)
    # and the events side must NOT shuffle for the join: a single shuffle
    # Exchange (for the final groupBy) is expected
    plan = formatted_plan(df)
    shuffles = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan))
    assert shuffles == 1, plan


def test_fact_rollup_has_partial_aggregation(spark, q, sf_dir):
    plan = formatted_plan(q["fact_rollup"](spark, sf_dir))
    # partial + final hash aggregate around a single exchange
    assert len(set(re.findall(r"HashAggregate \((\d+)\)", plan))) == 2
    assert len(set(re.findall(r"\bExchange \((\d+)\)", plan))) == 1


def test_top_k_plans_take_ordered(spark, q, sf_dir):
    plan = formatted_plan(q["top_brands_by_revenue"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_knn_broadcasts_queries(spark, q, sf_dir):
    df = q["knn_cosine"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_no_python_udfs_in_relational_queries(spark, q, sf_dir):
    # every reference-parity query must stay fully JVM-side
    for name in (
        "staging_clean",
        "fact_rollup",
        "daily_revenue_summary",
        "daily_funnel_by_brand",
        "pricing_summary",
        "doc_stats",
    ):
        plan = formatted_plan(q[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_dim_product_is_single_exchange(spark, q, sf_dir):
    # D2+D3 fuse into one window pass: exactly one shuffle (on the dim key).
    # The formatted plan prints each node in the tree AND the detail list,
    # so count the numbered detail headers.
    plan = formatted_plan(q["dim_product"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_regional_revenue_broadcasts_catalogs(spark, q, sf_dir):
    df = q["regional_revenue"](spark, sf_dir)
    assert has_broadcast_join(df)
    # region filter reaches its scan
    assert "r_name" in formatted_plan(df)


def test_decontaminate_broadcasts_eval_grams(spark, q, sf_dir):
    # the training side must probe a broadcast eval-gram set, never
    # shuffle itself against it
    df = q["decontaminate"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_mix_corpus_broadcasts_stats_and_never_shuffles_corpus(spark, q, sf_dir):
    plan = formatted_plan(q["mix_corpus"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" in plan
    # plain Exchanges only for the two micro-aggregates (stats, argmin)
    # and the presentation sort — the corpus scan feeds the joins directly
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_pack_sequences_single_window_exchange(spark, q, sf_dir):
    # chunking repartitions by doc, packing windows by bucket, the query
    # sorts for presentation: exactly three exchanges, no more
    plan = formatted_plan(q["pack_sequences"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3
    assert "Window" in plan


def test_stratified_sample_is_pure_scan_filter(spark, q, sf_dir):
    # membership must evaluate on the scan: no Exchange at all
    plan = formatted_plan(q["stratified_sample"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_quality_filter_and_pii_are_zero_shuffle_projections(spark, q, sf_dir):
    for name in ("quality_filter", "pii_redaction"):
        plan = formatted_plan(q[name](spark, sf_dir))
        # only the presentation orderBy may exchange (range partitioning)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scd2_windows_share_one_exchange(spark, q, sf_dir):
    # snapshot dedup + change detection + interval close all hash by
    # user_id: the plan must not re-exchange between the windows
    plan = formatted_plan(q["scd2_user_status"](spark, sf_dir))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 3, plan  # user-key hash, day-key hash, final sort


def test_min_cost_supplier_broadcasts_catalogs(spark, q, sf_dir):
    # part filter joins before the window; supplier/nation attach to
    # winners only — all three as broadcasts, fact side never broadcast
    df = q["min_cost_supplier"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_round4_queries_are_python_free(spark, q, sf_dir):
    # the PQ path in particular must stay HOF-only (its verifiability
    # depends on built-in evaluation; contrast ann_lsh, whose Arrow
    # matmul is the documented exception)
    for name in (
        "ann_pq",
        "unigram_score",
        "tfidf_keywords",
        "incremental_dedup",
        "user_retention",
        "min_cost_supplier",
        "dormant_rich_customers",
        "significant_parts",
    ):
        plan = formatted_plan(q[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_scd2_asof_plan_shape(spark, q, sf_dir):
    """Pin the as-of lookup's plan (flagged as the only r5->r6 bench
    regression): the snapshot build must keep the WindowGroupLimit
    rank-1 pushdown (pre-shuffle top-1 per (user, day), not a full
    window over all events), the as-of bound must attach as a 1-row
    broadcast (BroadcastNestedLoopJoin on a scalar aggregate — the
    correct scalar pattern, PLANS.md), and nothing may sort-merge."""
    plan = formatted_plan(q["scd2_asof"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # exactly two parquet scans: events for snapshots + events for the
    # 1-row bound (no accidental re-reads)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan


def test_heavy_hitters_prune_is_pre_aggregation(spark, q, sf_dir):
    """The CMS est >= threshold prefilter must evaluate BEFORE the exact
    groupBy — Catalyst pushes it into the broadcast cross-join condition
    (map-side), so the key-grain shuffle carries only candidate
    occurrences. If it ever migrates above the aggregate, the sketch buys
    nothing at scale."""
    df = q["heavy_hitters"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    join_line = next(l for l in opt.splitlines() if "Join Cross" in l)
    assert ">= 40" in join_line, opt
    # and the probe side never shuffles for the join: broadcast hint rides
    # the one-row sketch
    assert "rightHint=(strategy=broadcast)" in join_line


def _final_plan(df) -> str:
    """The executed (post-AQE) plan of ``df`` after running it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize(
    "name, scans",
    [("decayed_revenue", 1), ("ewm_price_stats", 1), ("streaming_decayed", 4)],
)
def test_decayed_reads_scan_events_once(spark, q, sf_dir, name, scans):
    """mart_state's claim that the corpus is scanned once per read: the
    cells feed one aggregation, so the executed (post-AQE) plan holds
    one events scan — one per batch for the four-batch replay. A second
    consumer of the cells would re-scan and re-aggregate the events."""
    final = _final_plan(q[name](spark, sf_dir))
    found = re.findall(r"FileScan parquet [^\n]*events\.parquet", final)
    assert len(found) == scans, final


def test_robust_stats_reads_events_once_after_its_pin(spark, q, sf_dir):
    """robust_stats pins its first rank pass as one |groups|-row frame;
    the rest of the executed (post-AQE) plan reads the events once,
    broadcast-joined to that pin BELOW the deviation aggregation. The
    MAD, n_trimmed and trimmed mean come out of one grouped pick — no
    per-statistic frames joined above it, and no second trim scan."""
    final = _final_plan(q["robust_value_stats"](spark, sf_dir))
    lines = final.splitlines()
    scans = [l for l in lines if re.search(r"FileScan parquet .*events\.parquet", l)]
    assert len(scans) == 1, final
    joins = [i for i, l in enumerate(lines) if "Join" in l]
    top_agg = next(i for i, l in enumerate(lines) if "HashAggregate" in l)
    assert len(joins) == 1 and joins[0] > top_agg, final


def test_global_cumsum_offsets_need_no_aggregation_or_broadcast(spark, q, sf_dir):
    """global_cumsum's per-partition totals are observed on the pin's own
    job and enter the window as literals: global_quantiles' executed
    plan aggregates nothing by ``__pid`` and broadcasts nothing."""
    final = _final_plan(q["global_quantiles"](spark, sf_dir))
    assert not re.search(r"HashAggregate\(keys=\[__pid", final), final
    assert "BroadcastExchange" not in final, final
