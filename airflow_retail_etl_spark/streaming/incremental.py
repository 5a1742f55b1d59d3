"""Streaming incremental dimension maintenance (foreachBatch → SCD-2).

The reference's intent is incremental loads; the streaming-first form is
a snapshot feed (one row per key per day) folded into a persistent SCD-2
history as batches arrive. ``foreachBatch`` is the right primitive: the
stream delivers micro-batches exactly once (checkpointed), and each batch
runs the same DataFrame MERGE logic the batch path uses
(operators.scd.scd2_upsert) — no second implementation to drift.

Per batch: the distinct snapshot dates are collected to the driver (a
few DATE values — bounded by days per batch, never data rows), each
date's slice is folded in order, and the new history OVERWRITES the
store after an eager localCheckpoint cuts the read-lineage (you cannot
lazily overwrite the parquet you are reading). History size is dimension
scale × versions, so the rewrite is cheap relative to the fact stream;
at very long histories move the store to a log table format and swap the
overwrite for a MERGE.

Out-of-order DAYS across batches are rejected by scd2_upsert's contract
(batch_date must advance); late rows WITHIN a day are fine — the day's
slice is whatever the feed delivered for that date in this batch.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_retail_etl_spark.operators.scd import (
    scd2_from_snapshots,
    scd2_upsert,
)


def _require_batches(batches: Sequence[DataFrame], fn: str) -> None:
    """Fail fast on an empty replay. Zero batches would otherwise
    surface as an unnamed error deep inside the state fold (a
    ``reduce`` of nothing, a ``None``-seeded accumulator) instead of
    naming the actual mistake (round-12 advice)."""
    if not batches:
        raise ValueError(f"{fn}: empty batches — nothing to replay")


def _read_history(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except Exception:  # AnalysisException: path does not exist yet
        return None


def fold_snapshot_batch(
    batch: DataFrame,
    history_path: str,
    keys: Sequence[str],
    attrs: Sequence[str],
    snap_col: str,
) -> None:
    """Fold one micro-batch of dated snapshots into the history store."""
    if batch.isEmpty():
        return
    spark = batch.sparkSession
    dates = sorted(
        r[0] for r in batch.select(snap_col).distinct().collect()
    )
    hist = _read_history(spark, history_path)
    if hist is None:
        first = batch.filter(F.col(snap_col) == dates[0])
        hist = scd2_from_snapshots(first, keys, attrs, snap_col)
        dates = dates[1:]
    for day in dates:
        slice_ = batch.filter(F.col(snap_col) == day).drop(snap_col)
        hist = scd2_upsert(hist, slice_, keys, attrs, F.lit(day))
    hist.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        history_path
    )


def scd2_stream_sink(
    snapshots: DataFrame,
    *,
    history_path: str,
    checkpoint: str,
    keys: Sequence[str],
    attrs: Sequence[str],
    snap_col: str,
    available_now: bool = True,
):
    """Start the snapshot stream folding into an SCD-2 parquet history.

    Returns the StreamingQuery; callers drain with awaitTermination (the
    AvailableNow default reproduces daily-batch semantics)."""

    def _fold(batch: DataFrame, _batch_id: int) -> None:
        fold_snapshot_batch(batch, history_path, keys, attrs, snap_col)

    writer = (
        snapshots.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming corpus admission: foreachBatch → incremental LSH dedup
# ---------------------------------------------------------------------------


def admit_doc_batch(
    batch: DataFrame,
    *,
    index_path: str,
    out_path: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
) -> None:
    """Admit one micro-batch of documents against the persisted LSH index.

    Survivors (docs near-duplicating neither the indexed corpus nor a
    smaller-id batch sibling) land under ``out_path``; their band rows
    and shingle sets land under ``index_path`` (``bands/`` partitioned
    by band — directory-level pruning for any band-filtered read — plus
    ``shingles/``, one row per doc) so the NEXT batch sees them. Batch
    work scales with the batch (dedup.incremental_lsh_dedup).

    IDEMPOTENT PER BATCH: foreachBatch is at-least-once, so every write
    is a dynamic partition OVERWRITE keyed by ``batch_id`` — a replayed
    batch rewrites its own partitions instead of appending duplicates —
    and the index reads EXCLUDE the current batch_id (partition-pruned),
    so a crash that indexed this batch before checkpointing cannot make
    the replay self-match and drop its own docs. Replay therefore
    recomputes the identical survivor set and the rewrite is a no-op:
    effectively exactly-once output on top of at-least-once delivery.
    """
    from airflow_retail_etl_spark.operators import dedup

    if batch.isEmpty():
        return
    spark = batch.sparkSession
    # sign the batch ONCE (the expensive pass: shingle explode + 63-hash
    # min-agg) and pin it; the dedup, the survivor write, and the index
    # writes are all cheap derivations off this one materialization
    sigs = dedup.minhash_signatures(
        batch, text_col, id_col, num_hashes=63
    ).localCheckpoint(eager=True)
    bands = _read_history(spark, f"{index_path}/bands")
    shingles = _read_history(spark, f"{index_path}/shingles")
    if bands is None or shingles is None:
        # bootstrap: empty typed index off the signed batch (the first
        # batch self-dedups through the same LSH path as every later one)
        bands = dedup.band_rows(sigs.limit(0))
        shingles = sigs.select("id", "shingles").limit(0)
    else:
        bands = bands.filter(F.col("batch_id") != batch_id).select(
            "id", "band", "bucket"
        )
        shingles = shingles.filter(F.col("batch_id") != batch_id).select(
            "id", "shingles"
        )
    # pin the verdict (kilobytes), not the survivor rows: the admitted
    # rows and the index rows are anti joins off it, and the batch is
    # read the same number of times
    drops = dedup.incremental_lsh_dedup(
        bands, sigs, index_shingles=shingles, min_jaccard=min_jaccard
    ).localCheckpoint(eager=True)

    def _admitted(df: DataFrame, col: str) -> DataFrame:
        return df.join(drops, df[col] == drops["drop_id"], "left_anti")

    survivors = _admitted(batch, id_col)
    surv_bands = _admitted(dedup.band_rows(sigs), "id")
    surv_shingles = _admitted(sigs.select("id", "shingles"), "id")
    bid = F.lit(batch_id).cast("long")

    def _overwrite(df: DataFrame, path: str, *partition_cols: str) -> None:
        (
            df.withColumn("batch_id", bid)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols, "batch_id")
            .parquet(path)
        )

    _overwrite(survivors, out_path)
    _overwrite(surv_bands, f"{index_path}/bands", "band")
    _overwrite(surv_shingles, f"{index_path}/shingles")


def compact_index(
    spark: SparkSession,
    index_path: str,
    *,
    compacted_batch_id: int = -1,
) -> None:
    """Maintenance compaction for the persisted LSH admission index.

    Every admitted batch adds one ``batch_id`` partition per band (21
    bands × N batches of small files); long-running admission therefore
    accumulates exactly the small-file pathology ``io.compact_partitions``
    exists for. This folds ALL batch partitions into a single
    ``batch_id=compacted_batch_id`` layout (one file per band partition;
    shingles into one partition), shrinking both file count and the
    partition listing the per-batch index read must prune.

    RUN BETWEEN STREAM RUNS (like any table-maintenance job): the
    per-batch idempotence scheme replays a crashed batch by excluding its
    own ``batch_id`` from the index read — rows folded into the
    compacted id would escape that exclusion. A cleanly stopped stream
    has committed its last batch, so nothing can replay; the default
    ``-1`` sits below every real foreachBatch id by construction.
    """
    from airflow_retail_etl_spark.io import promote_staging

    for sub, parts in (("bands", ["band"]), ("shingles", [])):
        path = f"{index_path}/{sub}"
        df = _read_history(spark, path)
        if df is None:
            continue
        folded = df.drop("batch_id").withColumn(
            "batch_id", F.lit(compacted_batch_id).cast("long")
        )
        # stage-to-temp-then-swap (promote_staging), never overwrite the
        # path being read in place: the old cache()+overwrite approach
        # could recompute from partially-deleted input if cached blocks
        # were evicted mid-write, and a crash mid-overwrite destroyed the
        # admission index with no backup. The staged write also makes the
        # old batch_id partitions disappear by construction (fresh dir) —
        # no static-overwrite-mode override needed.
        staging = f"{path}__staging"
        (
            folded.repartition(*[F.col(c) for c in (*parts, "batch_id")])
            .write.mode("overwrite")
            .partitionBy(*parts, "batch_id")
            .parquet(staging)
        )
        promote_staging(spark, staging, path)


def replay_admission(
    batches: Sequence[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_jaccard: float = 0.5,
    hash: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Replay ordered document batches through incremental LSH admission,
    entirely as DataFrames — the batch face of dedup_stream_sink.

    Exactly the per-micro-batch logic admit_doc_batch runs (empty typed
    index bootstrap, incremental_lsh_dedup per batch, survivors' band +
    shingle rows feeding the next batch) with the parquet store replaced
    by accumulating DataFrames, so the admission SEMANTICS — drop on a
    verified match with any previously admitted doc or a smaller-id
    batch sibling — are testable and oracle-checkable without a
    checkpoint directory. Each batch is SIGNED ONCE (the expensive
    shingle-explode + 63-hash min-agg) into an eager localCheckpoint,
    and its admission VERDICT (the drop-id set — kilobytes) into a
    second; the admitted rows and the next-batch band/shingle index
    rows are all cheap anti/semi joins off those two materializations
    (checkpointing full survivor documents instead re-writes every
    batch's text for no extra pinning). The fold is inherently
    sequential (batch N's index depends on N−1's survivors), and
    without the pinning every later batch's plan re-shingles ALL prior
    survivors through the accumulated union's lineage — quadratic in
    batches (measured 11.1 s → 8.5 s at sf0.1 even at just 3 batches;
    the gap widens with batch count).

    Only the VERDICTS are sequential: each batch's SIGNING pass is a
    pure function of that batch alone, so all signing checkpoints are
    submitted CONCURRENTLY from a small driver thread pool before the
    fold starts (round 16, guide §2.6 "overlap independent jobs" —
    Spark's scheduler back-fills executors across jobs, and the
    per-job driver gaps, 40-50% of this query's wall at sf0.1, overlap
    instead of serializing; the fold previously alternated
    sign→verdict→sign→verdict through ~57 strictly sequential jobs).
    Values are unchanged — each checkpoint materializes the identical
    per-batch frame; ``pyspark.inheritable_thread_target`` carries the
    caller's job group/description onto the pool threads so bench job
    accounting still sees these jobs.
    Returns the admitted union in arrival order.
    """
    _require_batches(batches, "replay_admission")
    from airflow_retail_etl_spark.operators import dedup

    first = batches[0]
    sigs_lazy = [
        dedup.minhash_signatures(
            b, text_col, id_col, num_hashes=63, hash=hash
        )
        for b in batches
    ]
    if len(sigs_lazy) > 1:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        # session form: clones the caller's job group/description (and
        # tags) at WRAP time — i.e. here, inside the timed window — so
        # bench job accounting attributes the pool's jobs to this query
        @inheritable_thread_target(first.sparkSession)
        def _pin(s: DataFrame) -> DataFrame:
            return s.localCheckpoint(eager=True)

        # 3 concurrent signing jobs is plenty (guide §2.6): enough to
        # fill each other's driver gaps and stage tails, not so many
        # that they fight for executor slots
        with ThreadPoolExecutor(
            max_workers=min(3, len(sigs_lazy))
        ) as pool:
            sigs_pinned = list(pool.map(_pin, sigs_lazy))
    else:
        sigs_pinned = [sigs_lazy[0].localCheckpoint(eager=True)]
    # empty typed index off the signed first batch
    bands = dedup.band_rows(sigs_pinned[0].limit(0), hash=hash)
    shingles = sigs_pinned[0].select("id", "shingles").limit(0)
    admitted: DataFrame | None = None
    for b, sigs in zip(batches, sigs_pinned):
        drops = dedup.incremental_lsh_dedup(
            bands,
            sigs,
            index_shingles=shingles,
            min_jaccard=min_jaccard,
            hash=hash,
            max_bucket_size=max_bucket_size,
        ).localCheckpoint(eager=True)
        surv = b.join(
            drops, b[id_col] == drops["drop_id"], "left_anti"
        )
        admitted = surv if admitted is None else admitted.unionByName(surv)
        surv_ids = sigs.select("id").join(
            drops, F.col("id") == drops["drop_id"], "left_anti"
        )
        bands = bands.unionByName(
            dedup.band_rows(sigs, hash=hash).join(surv_ids, "id", "left_semi")
        )
        shingles = shingles.unionByName(
            sigs.select("id", "shingles").join(surv_ids, "id", "left_semi")
        )
    return admitted


def dedup_stream_sink(
    docs: DataFrame,
    *,
    index_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    available_now: bool = True,
):
    """Start a document stream deduplicating through the LSH index store.

    The streaming face of incremental corpus dedup: checkpointed
    micro-batches, each admitted with the SAME operator the batch path
    uses, and each batch's writes idempotent per batch_id (see
    admit_doc_batch) — so the at-least-once foreachBatch contract still
    yields an exactly-once admitted corpus, consistent with its index
    across restarts and replays. Returns the StreamingQuery.
    """

    def _admit(batch: DataFrame, batch_id: int) -> None:
        admit_doc_batch(
            batch,
            index_path=index_path,
            out_path=out_path,
            batch_id=batch_id,
            text_col=text_col,
            id_col=id_col,
            min_jaccard=min_jaccard,
        )

    writer = (
        docs.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Mergeable state stores: one fold per store policy, one DataFrame replay
# ---------------------------------------------------------------------------


def fold_cells(cells: DataFrame, state_path: str, *, batch_id: int) -> None:
    """Persist one micro-batch's state cells under the LINEAR store
    policy: the face for state that is a pure function of its batch and
    merges by summing or re-thresholding across batches — CMS counters
    (``frequency.cms_cells``), quantile level-samples
    (``qsketch.qsketch_state``), and KPI and moment cells
    (``mart_state.kpi_cells`` / ``moment_cells``) — which also serve the
    decayed reads (``decayed_read`` / ``ewm_stats`` of the folded
    cells), since a decayed value is linear in the per-day sums.

    A replayed batch folded into one accumulated store would
    double-count, so each batch lands under its own ``batch_id=``
    partition with dynamic partition OVERWRITE (the admit_doc_batch
    contract): an at-least-once redelivery rewrites its own partition
    with identical rows instead of appending. Read the store at any time
    with the face's own merge across partitions (``cms_from_cells``,
    ``requantize`` + ``sample_quantiles``, ``kpi_fold``,
    ``moment_fold``) — bit-identical to the one-shot state of
    everything delivered, in any delivery order: a late day's cells
    land beside the later days already folded and merge by the same
    sum. The store is ≤ n_batches × per-batch cells;
    compact by merging old partitions into one when the batch count
    grows past reading comfort."""
    (
        cells.withColumn("batch_id", F.lit(int(batch_id)))
        .repartition(1)  # small per-batch state — one file per partition
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(state_path)
    )


def fold_merged(
    batch: DataFrame,
    state_path: str,
    state: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Fold one micro-batch into a store under the IDEMPOTENT policy:
    the face for state whose merge is an idempotent, associative,
    commutative order statistic — HLL registers
    (``cardinality.hll_registers``, merged by MAX(mx) per reg) and
    bottom-k samples (``sampling.sample_state``, merged by
    ``sampling.sample_fold``). A REPLAYED batch cannot change the merged
    state, so the store holds one state with no batch-id bookkeeping.

    ``state`` maps the batch to its state frame; ``merge`` collapses
    that frame unioned with the prior store back to state. The
    read-merge-overwrite cycle pays one eager localCheckpoint to cut the
    read lineage (same contract as fold_snapshot_batch). An empty batch
    is a no-op."""
    if batch.isEmpty():
        return
    merged = state(batch)
    prior = _read_history(batch.sparkSession, state_path)
    if prior is not None:
        merged = merge(merged.unionByName(prior.select(*merged.columns)))
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        state_path
    )


def replay(
    batches: Sequence[DataFrame],
    state: Callable[[DataFrame], DataFrame],
    finish: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Replay ordered batches through a mergeable state fold entirely as
    DataFrames — the store-less batch face of :func:`fold_cells` and
    :func:`fold_merged`: ``finish`` of the union of every batch's
    ``state``. ``finish`` holds the face's merge and read
    (``hll_fold`` after MAX per register, ``cms_from_cells``,
    ``requantize`` + ``sample_quantiles``, ``sample_read``,
    ``kpi_fold``, ``moment_fold``, ``decayed_read`` of ``kpi_fold``).
    Each face's merge law makes the
    result BIT-IDENTICAL to the one-shot read of the concatenated input
    — which is what the replay-backed queries' oracles compute,
    certifying stream ≡ batch cross-engine."""
    _require_batches(batches, "replay")
    return finish(reduce(DataFrame.unionByName, map(state, batches)))
