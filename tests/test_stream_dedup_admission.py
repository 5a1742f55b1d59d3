"""Streaming corpus admission (foreachBatch → incremental LSH dedup)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_retail_etl_spark.streaming.incremental import dedup_stream_sink

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
FRESH = "penguin walrus narwhal dolphin seal otter orca whale manatee dugong"
NOVEL = "completely novel words paint garden bicycle mountain river cloud fire"

DAY1 = [(1, BASE), (2, FRESH), (3, FRESH)]          # 3 dups 2 in-batch
DAY2 = [(10, BASE), (11, FRESH), (12, NOVEL)]        # 10,11 dup the corpus


def _drain(spark, feed, index, out, ckpt):
    stream = (
        spark.readStream.format("parquet")
        .schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)   # one micro-batch per day file
        # (each day is coalesced to a single parquet part below)
        .load(feed)
    )
    q = dedup_stream_sink(
        stream,
        index_path=index,
        out_path=out,
        checkpoint=ckpt,
    )
    q.awaitTermination(180)


def test_streamed_admission_maintains_index_across_batches(spark, tmp_path):
    feed = str(tmp_path / "feed")
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for day in (DAY1, DAY2):
        spark.createDataFrame(day, SCHEMA).coalesce(1).write.mode("append").parquet(feed)
    _drain(spark, feed, index, out, ckpt)

    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    # day 1: 1 and 2 admitted (3 drops to sibling 2); day 2: only 12 —
    # 10 dups indexed doc 1, 11 dups indexed doc 2
    assert admitted == [1, 2, 12]
    # the band index holds exactly the admitted docs' band rows (21 bands
    # each, keys only — shingles live once per doc in the companion store)
    idx = spark.read.parquet(f"{index}/bands")
    assert sorted(
        r["doc_id"] for r in
        idx.select(idx["id"].alias("doc_id")).distinct().collect()
    ) == [1, 2, 12]
    assert idx.count() == 3 * 21
    assert "shingles" not in idx.columns
    sh = spark.read.parquet(f"{index}/shingles")
    assert sh.count() == 3


def test_streamed_admission_is_restart_safe(spark, tmp_path):
    """Draining day 1, then appending day 2 and re-starting from the same
    checkpoint must not re-admit or re-index day-1 docs."""
    feed = str(tmp_path / "feed")
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(DAY1, SCHEMA).coalesce(1).write.mode("append").parquet(feed)
    _drain(spark, feed, index, out, ckpt)
    spark.createDataFrame(DAY2, SCHEMA).coalesce(1).write.mode("append").parquet(feed)
    _drain(spark, feed, index, out, ckpt)

    admitted = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert admitted == [1, 2, 12]
    assert spark.read.parquet(f"{index}/bands").count() == 3 * 21


def test_admit_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch with the same
    batch_id (crash-after-index-write, restart-before-checkpoint) must
    not duplicate admitted docs OR self-match the batch against its own
    index rows and drop everything — the two failure modes of the old
    append-based writes."""
    from airflow_retail_etl_spark.streaming.incremental import admit_doc_batch

    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    b1 = spark.createDataFrame(DAY1, SCHEMA)
    admit_doc_batch(b1, index_path=index, out_path=out, batch_id=0)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2]

    # full replay of batch 0 (worst case: its index rows already persisted)
    admit_doc_batch(b1, index_path=index, out_path=out, batch_id=0)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == first
    assert spark.read.parquet(f"{index}/bands").count() == 2 * 21

    # and the next batch still sees the batch-0 index
    admit_doc_batch(
        spark.createDataFrame(DAY2, SCHEMA),
        index_path=index, out_path=out, batch_id=1,
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [1, 2, 12]


def test_replay_admission_equals_streamed_sink(spark, tmp_path):
    """replay_admission (the registry/batch face) admits exactly the set
    the checkpointed foreachBatch sink admits for the same arrival order
    — stream ≡ batch for corpus admission."""
    from airflow_retail_etl_spark.streaming.incremental import (
        replay_admission,
    )

    feed = str(tmp_path / "feed")
    for day in (DAY1, DAY2):
        spark.createDataFrame(day, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    _drain(spark, feed, str(tmp_path / "index"), str(tmp_path / "out"),
           str(tmp_path / "ckpt"))
    streamed = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )

    batches = [spark.createDataFrame(d, SCHEMA) for d in (DAY1, DAY2)]
    replayed = sorted(
        r["doc_id"] for r in replay_admission(batches).collect()
    )
    assert replayed == streamed == [1, 2, 12]


def test_index_compaction_preserves_admission_decisions(spark, tmp_path):
    """compact_index folds N batch partitions into one; subsequent
    admission decisions are identical to an uncompacted control, and the
    file count shrinks."""
    import glob

    from airflow_retail_etl_spark.streaming.incremental import (
        admit_doc_batch,
        compact_index,
    )

    DAY3 = [(20, BASE), (21, "fresh unseen sentence about icebergs and "
                             "glaciers drifting north")]
    outs = {}
    for label in ("compacted", "control"):
        index = str(tmp_path / label / "index")
        out = str(tmp_path / label / "out")
        admit_doc_batch(spark.createDataFrame(DAY1, SCHEMA),
                        index_path=index, out_path=out, batch_id=0)
        admit_doc_batch(spark.createDataFrame(DAY2, SCHEMA),
                        index_path=index, out_path=out, batch_id=1)
        if label == "compacted":
            before = len(glob.glob(f"{index}/bands/**/*.parquet",
                                   recursive=True))
            compact_index(spark, index)
            after = len(glob.glob(f"{index}/bands/**/*.parquet",
                                  recursive=True))
            assert after < before
            assert after == 21  # one file per band partition
            # everything folded into the maintenance batch_id
            assert glob.glob(f"{index}/bands/*/batch_id=-1")
            assert not glob.glob(f"{index}/bands/*/batch_id=0")
        admit_doc_batch(spark.createDataFrame(DAY3, SCHEMA),
                        index_path=index, out_path=out, batch_id=2)
        outs[label] = sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        )
    # doc 20 dups the indexed corpus (doc 1), doc 21 is novel
    assert outs["compacted"] == outs["control"] == [1, 2, 12, 21]


def _admitted(batch, drops):
    return batch.join(drops, batch["doc_id"] == drops["drop_id"], "left_anti")


def test_bucketed_index_probe_is_exchange_free_on_index_side(spark, sf_dir):
    """Round-8 verdict item 5: persisting the band index BUCKETED on the
    (band, bucket) join key must let incremental_lsh_dedup's index-side
    sort-merge join read co-located buckets — no Exchange and no Sort
    above the index scan; only the batch side shuffles. Results must be
    identical to the plain-layout probe."""
    import re

    from airflow_retail_etl_spark.operators import dedup
    from airflow_retail_etl_spark.plans.explain import formatted_plan
    from airflow_retail_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    bands = dedup.band_rows(dedup.minhash_signatures(corpus, "text", "doc_id"))
    batch_sigs = dedup.minhash_signatures(batch, "text", "doc_id")
    shingles = dedup.shingle_store(corpus, "text", "doc_id")
    spark.sql("DROP TABLE IF EXISTS band_idx_test")
    dedup.write_band_index_bucketed(bands, "band_idx_test", buckets=8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            surv_bucketed = _admitted(
                batch,
                dedup.incremental_lsh_dedup(
                    spark.table("band_idx_test"), batch_sigs,
                    index_shingles=shingles,
                ),
            )
            plan = formatted_plan(surv_bucketed)
            assert "SortMergeJoin" in plan
            # the bucketed index scan feeds its SMJ directly: every scan
            # of the bucketed table must have Bucketed: true and no
            # Exchange between it and the join (the scan's plan id never
            # appears under an Exchange input). Cheap global form: the
            # candidate cross-join subtree contains exactly ONE
            # non-broadcast Exchange (the incoming side) where the plain
            # layout needs two.
            assert "Bucketed: true" in plan, plan
            n_ex_bucketed = len(
                re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan)
            )
            plain = _admitted(
                batch,
                dedup.incremental_lsh_dedup(
                    bands, batch_sigs, index_shingles=shingles
                ),
            )
            n_ex_plain = len(
                re.findall(
                    r"(?<!Broadcast)Exchange \(\d+\)",
                    formatted_plan(plain),
                )
            )
            assert n_ex_bucketed < n_ex_plain, (n_ex_bucketed, n_ex_plain)
            got = sorted(r.doc_id for r in surv_bucketed.collect())
            want = sorted(r.doc_id for r in plain.collect())
            assert got == want
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS band_idx_test")
