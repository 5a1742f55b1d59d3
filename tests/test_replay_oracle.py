"""State-read certificates against the DuckDB oracle, compared the way
``tools/check_oracle.py`` does: every replay-backed registry query folds
its input in batches, every rolling query reads trailing windows from
per-day state, every decayed query folds a dense calendar by Horner,
``perplexity_deciles`` ranks through ``global_cumsum``, and
``heavy_hitters_by_lang`` runs the grouped heavy-hitter engine that
``rolling_heavy_hitters`` shares, and the rank passes of
``operators.selection`` (global and grouped quantiles, the two drift
scores, robust statistics) pick exact order statistics, and the
vector-search family (``operators.similarity`` / ``semdedup``) ends
every per-query top-k in one exact ranker, and the near-dup family
(``operators.dedup`` and its multimodal faces) pairs candidates through
one keyed self-join and verifies them exactly; each must equal its
one-shot ``oracle_sql()`` twin bit-for-bit."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

import __spark_entry__ as entry
from airflow_retail_etl_spark.sources.tables import TABLE_NAMES

REPLAY_QUERIES = [
    "streaming_mart",
    "streaming_volatility",
    "streaming_demand_shift",
    "streaming_sketch",
    "streaming_sample",
    "streaming_heavy_hitters",
    "streaming_quantiles",
    "streaming_decayed",
]

ROLLING_QUERIES = [
    "rolling_mart",
    "rolling_volatility",
    "rolling_sample",
    "rolling_heavy_hitters",
    "rolling_distinct_hll",
    "rolling_quantiles",
]

STATE_READ_QUERIES = [
    "decayed_revenue",
    "ewm_price_stats",
    "trending_brands",
    "perplexity_deciles",
    "heavy_hitters_by_lang",
]

RANK_QUERIES = [
    "global_quantiles",
    "grouped_quantiles",
    "ks_drift",
    "psi_drift",
    "robust_value_stats",
]

VECTOR_QUERIES = [
    "knn_cosine",
    "knn_by_label",
    "ann_lsh",
    "ann_ivf",
    "ann_pq",
    "ivf_pq",
    "ann_recall",
    "semdedup",
    "neardup_cosine",
    "neardup_cosine_lsh",
    "hard_negatives",
    "matryoshka_recall",
]

DEDUP_QUERIES = [
    "neardup_jaccard",
    "dedup_threshold_sweep",
    "containment_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "winnow_pairs",
    "shared_spans",
    "span_excise",
    "duplication_profile",
    "decontam_excise",
    "eval_leak_report",
    "incremental_dedup",
    "streaming_admission",
    "dup_clusters",
    "image_neardup",
    "video_neardup",
    "audio_neardup",
]


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle_under_test",
        os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="module")
def compare():
    return _check_oracle().compare


@pytest.mark.parametrize(
    "name",
    REPLAY_QUERIES
    + ROLLING_QUERIES
    + STATE_READ_QUERIES
    + RANK_QUERIES
    + VECTOR_QUERIES
    + DEDUP_QUERIES,
)
def test_replay_query_matches_one_shot_oracle(
    spark, sf_dir, oracle_con, compare, name
):
    sdf = entry.queries()[name](spark, sf_dir).toPandas()
    odf = oracle_con.sql(entry.oracle_sql()[name]).df()
    assert len(sdf) > 0
    assert compare(name, sdf, odf) == []
