"""Deterministic Bloom filter (functions/bloom.py) and the bloom-gated
decontamination prefilter built on it."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions import bloom

N_BITS = 64 * 64  # 4096 bits
K = 7


def _vals(spark, xs):
    return spark.createDataFrame([(str(x),) for x in xs], ["v"])


def test_no_false_negatives_and_fp_rate_near_theory(spark):
    """Every inserted value probes positive (the Bloom guarantee); the
    false-positive rate over a disjoint probe set sits near
    (1 - e^{-kn/m})^k."""
    members = [f"member-{i}" for i in range(200)]
    others = [f"other-{i}" for i in range(2000)]
    filt = bloom.build_bloom(
        _vals(spark, members), "v", n_bits=N_BITS, k_hashes=K
    )
    probe_in = bloom.bloom_probe(
        _vals(spark, members), "v", filt, n_bits=N_BITS, k_hashes=K
    )
    assert probe_in.filter(~F.col("bloom_hit")).count() == 0
    fp = (
        bloom.bloom_probe(
            _vals(spark, others), "v", filt, n_bits=N_BITS, k_hashes=K
        )
        .filter(F.col("bloom_hit"))
        .count()
    )
    theory = (1 - math.exp(-K * 200 / N_BITS)) ** K
    assert fp / 2000 < max(4 * theory, 0.02), (fp, theory)


def test_filter_bits_deterministic_across_partitionings(spark):
    a = bloom.build_bloom(
        _vals(spark, range(500)), "v", n_bits=N_BITS
    ).first()
    b = bloom.build_bloom(
        _vals(spark, range(500)).repartition(13), "v", n_bits=N_BITS
    ).first()
    assert a.bits == b.bits
    assert len(a.bits) == N_BITS // 64


def test_null_values_ignored_and_probe_false(spark):
    df = spark.createDataFrame([("a",), (None,)], ["v"])
    filt = bloom.build_bloom(df, "v", n_bits=N_BITS)
    out = {
        r.v: r.bloom_hit
        for r in bloom.bloom_probe(
            df, "v", filt, n_bits=N_BITS
        ).collect()
    }
    assert out["a"] is True
    assert out[None] is False


def test_n_bits_must_be_word_aligned(spark):
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom.build_bloom(_vals(spark, ["x"]), "v", n_bits=100)


def test_n_bits_over_int_positions_refused(spark):
    """Positions are INTs, so a filter over 2^31 bits is refused when
    the plan is built — never a wrapped word index (false negatives)."""
    big = (1 << 31) + 64
    with pytest.raises(ValueError, match="m <= 2\\^31"):
        bloom.build_bloom(_vals(spark, ["x"]), "v", n_bits=big)
    filt = bloom.build_bloom(_vals(spark, ["x"]), "v", n_bits=N_BITS)
    with pytest.raises(ValueError, match="m <= 2\\^31"):
        bloom.bloom_probe(_vals(spark, ["x"]), "v", filt, n_bits=big)


def test_bloom_contamination_superset_of_exact(spark):
    """The bloom gate must flag EVERY doc the exact rule drops (no
    false negatives — the prefilter contract), with any extras being
    Bloom false positives."""
    from airflow_retail_etl_spark.operators import decontam

    eval_df = spark.createDataFrame(
        [(100, "the secret benchmark passage about arctic terns "
               "migrating across both polar circles every year")],
        ["doc_id", "text"],
    )
    train_rows = [
        (1, "clean document about database engines and query planning"),
        (2, "contains the secret benchmark passage about arctic terns "
            "migrating across both polar circles every year verbatim"),
        (3, "another clean text with nothing shared at all in common"),
    ]
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    exact = {
        r.id
        for r in decontam.contamination(
            train, eval_df, "text", "doc_id", n=13
        ).collect()
    }
    gated = decontam.bloom_contamination(
        train, eval_df, "text", "doc_id", n=13, n_bits=N_BITS
    )
    flagged = {
        r.id for r in gated.filter(F.col("n_bloom_hits") > 0).collect()
    }
    assert exact <= flagged
    assert 2 in flagged and 1 not in exact
