"""Persisted IVF-PQ ANN index: build once, query many (SURVEY §7.4
extension — the vector-side sibling of the dedup band index).

An in-memory `ivf_pq_topk` refits the coarse quantizer and re-encodes the
corpus on every call; an ANN *service* does that once. Layout under
``<path>``:

- ``cells/``      — (id, v, nn, codes) parquet, PARTITIONED BY ``cell``.
                    The partition column is directory metadata, and the
                    query path joins the scan against a broadcast of the
                    probed (query, cell) pairs, so Spark's dynamic
                    partition pruning turns "probe n_probe of n_cells"
                    into READING n_probe/n_cells of the files — the scan
                    cost a 100 TB index actually pays (plan-pinned).
- ``centroids/``  — (cell, centroid) coarse-quantizer centers (tiny).
- ``codebook/``   — (s, j, c) PQ codebook rows (m·ksub vectors, tiny).

The stored tables are self-describing: the query path reconstructs the
LUT/ADC expressions from the persisted codebook (m·ksub constant rows —
control-plane data on the order of the plan itself, same class as the
inlined seeded literals), never from anything implicit in the session.

``append_to_ann_index`` admits new vectors without refitting: assignment
to the EXISTING centroids (the build's own argmin,
``similarity._nearest_centroid_udf``) and encoding with the STORED
codebook are both pure projections over the constants, appended as new
files inside the assigned cell partitions — per-batch work ∝ batch, the
same incremental contract as the dedup band index. Re-fit (build again) when drift degrades
recall; centroid quality only gates candidate generation, never
correctness of returned sims (exact rescore).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_retail_etl_spark.operators.similarity import (
    _CORPUS,
    _adc_col,
    _fit_coarse_cells,
    _nearest_centroid_udf,
    _pq_codebook,
    _pq_literals,
    _pq_query_side,
    _pq_shortlist_rescore,
    _probe_cells,
    _side,
    pq_encode,
)


def build_ann_index(
    vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    dims: int = 64,
    n_cells: int = 16,
    seed: int = 7,
    fit_fraction: float | None = None,
    max_iter: int = 4,
    codebook=None,
) -> None:
    """Fit, encode, and persist the index (overwrites ``path``).

    Exactly ivf_pq_topk's corpus side — sampled-fit coarse cells, PQ
    codes riding the assignment — with the three tables written out
    instead of consumed inline. ``codebook`` defaults to the seeded
    literals; pass ``pq_train_codebook`` output for data-adapted codes.
    """
    dsub = dims // m
    cb = _pq_codebook(m, ksub, dsub) if codebook is None else codebook
    assert cb.shape == (m, ksub, dsub), cb.shape

    assigned, centers_df = _fit_coarse_cells(
        _side(vectors, id_col, vec_col, _CORPUS),
        n_cells=n_cells,
        seed=seed,
        fit_fraction=fit_fraction,
        max_iter=max_iter,
    )
    enc = pq_encode(
        assigned,
        id_col="neighbor_id",
        vec_col="cv",
        m=m,
        ksub=ksub,
        dims=dims,
        codebook=cb,
        keep=("cell",),
    )
    # one file per cell partition (repartition on the partition column —
    # the same layout compact_ann_index restores): without it the encode
    # write lands shuffle_partitions files PER CELL (~500 small files at
    # sf0.1), which taxes every query's listing/footer reads and made the
    # build's coalescing luck visible in per-query plan time (round 12).
    # Cells big enough to want multi-file parallelism get it back from
    # maxPartitionBytes input splits; appends still land per-batch files
    # (compact_ann_index folds those).
    (
        enc.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/cells")
    )
    centers_df.write.mode("overwrite").parquet(f"{path}/centroids")
    spark = vectors.sparkSession
    cb_rows = [
        (s, j, [float(x) for x in cb[s, j]])
        for s in range(m)
        for j in range(ksub)
    ]
    spark.createDataFrame(cb_rows, ["s", "j", "c"]).write.mode(
        "overwrite"
    ).parquet(f"{path}/codebook")


def _fs_signature(spark: SparkSession, dirpath: str) -> tuple:
    """RECURSIVE (total_bytes, file_count, dir_count) of ``dirpath`` —
    one Hadoop ``getContentSummary`` RPC — the cache key that detects
    index rebuilds, appends, deletes, and compactions.

    Recursion matters (round-8 advice): a top-level listStatus saw only
    directory entries whose mtimes can miss two appends landing within
    the filesystem's mtime granularity — and object stores have no real
    directory mtimes at all. Until round 12 this was a full per-file
    (path, length, mtime) inventory via ``listFiles``, which costs ~4
    py4j round-trips PER FILE on the driver: ~2.1 s per query against a
    497-file sf0.1 index — THE dominant cost of ``ann_index_topk``'s
    plan construction and the root cause of ivf_pq's session-bimodal
    bench readings (the file count, hence the listing cost, varied with
    how the build's write coalesced). The content summary is one remote
    call regardless of file count and still perturbs on every mutation
    this module can perform: build/compact rewrite lengths and counts,
    append/delete add files (mtime freezes are irrelevant — the
    signature never reads mtimes). The only theoretical gap — a rewrite
    leaving total bytes AND file count identical — cannot be SILENT:
    parquet writers always generate fresh UUID file names, so a stale
    cached DataFrame would point at deleted files and fail loudly at
    its next action, never return stale rows."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(dirpath)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(p):  # optional dirs (tombstones) sign as empty
        return ()
    cs = fs.getContentSummary(p)
    return (cs.getLength(), cs.getFileCount(), cs.getDirectoryCount())


#: ((app_id, path) → (codebook+centroid signature, codebook ndarray,
#: centroid rows, centroid schema)). Build-once-query-many is the
#: index's contract; the constants are plan-construction inputs
#: (LUT/ADC literals, broadcast centroids), so re-collecting them per
#: query costs two Spark jobs for data that changes only on rebuild.
#: The signature (recursive file inventory) invalidates on rebuild;
#: appends touch only ``cells/`` and correctly keep the cache. Keys
#: include the SparkSession's applicationId (round-8 advice: a
#: path-only key served DataFrames bound to a dead session after a
#: restart, and grew unboundedly per path — replacing stale app
#: generations in place bounds it to live-apps × paths).
_META_CACHE: dict[tuple[str, str], tuple[tuple, "np.ndarray", list, object]] = {}


def _cache_key(spark: SparkSession, path: str) -> tuple[str, str]:
    return (spark.sparkContext.applicationId, path)


def _load_index_meta(spark: SparkSession, path: str):
    """Stored codebook → ndarray (m, ksub, dsub) + centroid rows/schema,
    cached per path+signature.

    A driver-side read of m·ksub constant vectors — the query plan needs
    them as LITERALS (the LUT/ADC expressions are built from them), so
    this is plan construction, not a data collect.
    """
    sig = _fs_signature(spark, f"{path}/codebook") + _fs_signature(
        spark, f"{path}/centroids"
    )
    key = _cache_key(spark, path)
    hit = _META_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1], hit[2], hit[3]
    rows = spark.read.parquet(f"{path}/codebook").collect()
    m = 1 + max(r["s"] for r in rows)
    ksub = 1 + max(r["j"] for r in rows)
    cb = np.empty((m, ksub, len(rows[0]["c"])))
    for r in rows:
        cb[r["s"], r["j"]] = r["c"]
    cent_df = spark.read.parquet(f"{path}/centroids")
    cent_rows = cent_df.collect()
    # drop entries for dead app generations of the same path
    for k in [k for k in _META_CACHE if k[1] == path and k != key]:
        del _META_CACHE[k]
    _META_CACHE[key] = (sig, cb, cent_rows, cent_df.schema)
    return cb, cent_rows, cent_df.schema


#: (app_id, path) → (cells/ signature, DataFrame). The partitioned read
#: re-runs partition discovery (a listing job over every cell directory)
#: on each ``spark.read.parquet`` — per-query overhead for an index that
#: changes only on build/append. The recursive file signature catches
#: rebuilds and appends; the applicationId in the key keeps a restarted
#: session from receiving a DataFrame bound to the dead one.
_CELLS_CACHE: dict[tuple[str, str], tuple[tuple, DataFrame]] = {}


def _cells_df(spark: SparkSession, path: str) -> DataFrame:
    """LIVE cells: the stored rows minus tombstoned ids. Deletes are a
    broadcast anti-join until compaction folds them in physically, so
    a deleted vector can neither occupy a shortlist slot nor be
    returned; the cache signature covers BOTH dirs, so a delete or a
    compaction invalidates it."""
    sig = _fs_signature(spark, f"{path}/cells") + _fs_signature(
        spark, f"{path}/tombstones"
    )
    key = _cache_key(spark, path)
    hit = _CELLS_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    df = spark.read.parquet(f"{path}/cells")
    tomb = _tombstones_df(spark, path)
    if tomb is not None:
        df = df.join(
            F.broadcast(tomb), df["id"] == tomb["__dead_id"], "left_anti"
        )
    for k in [k for k in _CELLS_CACHE if k[1] == path and k != key]:
        del _CELLS_CACHE[k]
    _CELLS_CACHE[key] = (sig, df)
    return df


def _tombstones_df(spark: SparkSession, path: str):
    """(``__dead_id``) or None when no tombstones exist."""
    try:
        t = spark.read.parquet(f"{path}/tombstones")
    except Exception:  # AnalysisException: dir absent
        return None
    return t.select(F.col("id").alias("__dead_id")).distinct()


def delete_from_ann_index(spark: SparkSession, path: str, ids) -> None:
    """Tombstone vectors out of the index — the missing third of the
    lifecycle (build / append / DELETE / compact). ``ids`` is a
    DataFrame whose first column holds the ids, or a Python iterable.

    Deletes are LOGICAL and O(batch): one id-list parquet append under
    ``tombstones/`` — no cells rewrite, no refit (centroids/codebook
    gate candidate generation only, and the rescore is exact over live
    rows). The query path anti-joins the broadcast tombstone set;
    ``compact_ann_index`` applies them physically and clears the
    directory, with a crash-safe order (cells swap first, clear after —
    a crash between leaves no-op tombstones, never resurrects rows).
    Re-adding a deleted id goes through ``append_to_ann_index`` AFTER a
    compaction; while a tombstone for the id exists, the anti-join
    hides every row of that id by design (delete wins)."""
    if isinstance(ids, DataFrame):
        first = ids.columns[0]
        df = ids.select(F.col(first).alias("id")).distinct()
    else:
        df = spark.createDataFrame(
            [(int(i),) for i in ids], "id bigint"
        ).distinct()
    df.write.mode("append").parquet(f"{path}/tombstones")


def ann_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    shortlist: int = 50,
    prune_rescore: bool | None = None,
) -> DataFrame:
    """Top-k against the persisted index: the stored codebook's LUT,
    ``similarity._probe_cells`` over the stored centroids, the ADC scan
    of the probed cells and ``_pq_shortlist_rescore`` — the same steps
    as ivf_pq_topk's query side.

    The cells scan joins a BROADCAST of the probed (query, cell) pairs
    on the partition column, so dynamic partition pruning restricts the
    scan to the probed cells' directories (pinned in tests): per-query
    I/O is n_probe/n_cells of the index, which is the entire point of
    persisting it. Shortlist + exact rescore as everywhere else; m/ksub
    come from the stored codebook, not arguments — the index is
    self-describing.

    ``prune_rescore`` controls whether the exact-rescore vector fetch
    ALSO joins on the partition column (pruning the second cells scan to
    the probed directories). Pruning pays a DPP subquery per query-batch
    — worth it exactly when the scan it skips is bigger. Default None
    decides by the index's on-disk size (same philosophy as Spark's own
    size-based join selection): ≥64 MB → prune; a small index reads
    faster whole than the subquery costs. Tests force both paths.
    """
    cb, cent_rows, cent_schema = _load_index_meta(spark, path)
    m, ksub, dsub = cb.shape
    cent, _ = _pq_literals(m, ksub, dsub, cb)

    q = _pq_query_side(queries, id_col, vec_col, cent, m, ksub, dsub)
    # centroids re-enter as a local-rows DataFrame (n_cells rows, cached
    # with the codebook) — no parquet scan in the query plan for them
    centers_df = spark.createDataFrame(cent_rows, cent_schema)
    probed = _probe_cells(q, centers_df, n_probe).select(
        "query_id", "qq", "lut", "cell"
    )

    enc = _cells_df(spark, path).withColumnsRenamed(
        {"id": "neighbor_id", "v": "cv", "nn": "cc"}
    )
    adc = (
        enc.select("neighbor_id", "cc", "codes", "cell")
        .join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "cell", _adc_col(m, ksub).alias("adc")
        )
    )
    # rescore joins on (cell, neighbor_id): every shortlist candidate came
    # from a probed cell, so carrying the partition column lets dynamic
    # partition pruning restrict the SECOND cells scan to the probed
    # directories too — without it the exact-rescore vector fetch re-reads
    # the whole index
    if prune_rescore is None:
        # recursive byte count (top-level listStatus only sees the cell
        # DIRECTORIES, whose length is 0) — one getContentSummary call
        cells_bytes = _fs_signature(spark, f"{path}/cells")[0]
        prune_rescore = cells_bytes >= 64 * 1024 * 1024
    join_on = ("cell", "neighbor_id") if prune_rescore else ("neighbor_id",)
    return _pq_shortlist_rescore(
        adc, enc, q, k=k, shortlist=shortlist, join_on=join_on
    )


def append_to_ann_index(
    vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Admit new vectors into the existing index without refitting.

    Assignment = the build's own ``_nearest_centroid_udf`` over the
    STORED centroids (a vector appended here lands in the cell
    ``build_ann_index`` would have given it — pinned in tests),
    encoding = the STORED codebook — both constant projections, so the
    append shuffles nothing and lands as new files in the assigned cell
    partitions. The incremental contract of the dedup band index, for
    vectors.
    """
    spark = vectors.sparkSession
    cb, cent_rows, _ = _load_index_meta(spark, path)
    m, ksub, dsub = cb.shape
    centers = np.empty((len(cent_rows), len(cent_rows[0]["centroid"])))
    for r in cent_rows:
        centers[r["cell"]] = r["centroid"]
    assigned = _side(vectors, id_col, vec_col, _CORPUS).withColumn(
        "cell", _nearest_centroid_udf(centers)(F.col("cv"))
    )
    enc = pq_encode(
        assigned,
        id_col="neighbor_id",
        vec_col="cv",
        m=m,
        ksub=ksub,
        dims=m * dsub,
        codebook=cb,
        keep=("cell",),
    )
    enc.write.mode("append").partitionBy("cell").parquet(f"{path}/cells")


def compact_ann_index(spark: SparkSession, path: str) -> None:
    """Maintenance compaction for the persisted index's ``cells/`` table.

    Every ``append_to_ann_index`` batch lands new files inside the
    assigned cell partitions; a long-lived index accumulates exactly the
    small-file pathology the streaming band index's ``compact_index``
    exists for — file-count-bound listing and footer reads on every
    query. This folds each cell partition to one file (repartition on
    the partition column → one task per cell → one file), staged to a
    temp dir and swapped in with ``io.promote_staging`` (never
    overwrite-in-place the table being read; crash-recoverable at every
    point). Decision-preserving for LIVE rows: tombstoned ids
    (``delete_from_ann_index``) are applied physically here and the
    tombstone directory cleared after the swap; otherwise same rows,
    same cells — only the file layout changes. The query path's metadata/listing caches invalidate
    themselves via the directory-signature check. Centroids and codebook
    are single-file constants and never need compaction.
    """
    from airflow_retail_etl_spark.io import promote_staging

    cells = f"{path}/cells"
    staging = f"{cells}__staging"
    (
        _cells_df(spark, path)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staging)
    )
    promote_staging(spark, staging, cells)
    # clear tombstones AFTER the swap: a crash in between leaves no-op
    # tombstones (their rows are already gone), never resurrected rows;
    # deleting an absent directory is a no-op
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")
    p.getFileSystem(sc._jsc.hadoopConfiguration()).delete(p, True)


def recall_report(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe_grid: tuple[int, ...] = (1, 2, 4, 8, 16),
    shortlist: int = 50,
) -> DataFrame:
    """Recall@k frontier of the PERSISTED index across ``n_probe_grid`` —
    the observability report an ANN service publishes so consumers pick
    their n_probe with eyes open: (n_probe, n_hits, n_pairs,
    recall_at_k).

    Ground truth is exact brute-force cosine over the vectors STORED in
    the index's cells table (the index's own corpus — so the report
    grades probing + the ADC shortlist, not ingestion drift). Each grid
    point runs the real query path (``ann_index_topk``: DPP-pruned cell
    scan, ADC shortlist, exact rescore). Unlike the exact-rescore IVF
    frontier (similarity.ivf_recall_report, provably monotone), a FIXED
    ADC shortlist can evict a true neighbor as n_probe adds candidates —
    so monotonicity holds when ``shortlist`` covers the probed
    candidates (pinned in tests with shortlist ≥ corpus) but is not
    guaranteed at production shortlists; that gap IS the report's
    point."""
    from airflow_retail_etl_spark.operators.similarity import (
        brute_force_topk,
    )

    stored = _cells_df(spark, path).select(
        F.col("id").alias(id_col), F.col("v").alias(vec_col)
    )
    exact = brute_force_topk(
        stored, queries, id_col=id_col, vec_col=vec_col, k=k
    ).select("query_id", "neighbor_id")
    # denominator = the ACTUAL ground-truth pair count, not |Q|*k:
    # brute_force_topk excludes self-matches and returns < k rows per
    # query when the live (post-tombstone) corpus has fewer than k+1
    # vectors, so |Q|*k would understate recall on small or
    # heavily-deleted indexes and never reach 1.0
    n_pairs = exact.count()
    rows = []
    for p in n_probe_grid:
        got = ann_index_topk(
            spark, path, queries,
            id_col=id_col, vec_col=vec_col,
            k=k, n_probe=int(p), shortlist=shortlist,
        ).select("query_id", "neighbor_id")
        hits = got.join(
            exact, ["query_id", "neighbor_id"], "left_semi"
        ).count()
        rows.append((int(p), int(hits), int(n_pairs)))
    rep = spark.createDataFrame(
        rows, "n_probe int, n_hits long, n_pairs long"
    )
    return rep.select(
        "n_probe", "n_hits", "n_pairs",
        F.round(F.col("n_hits") / F.col("n_pairs"), 6).alias("recall_at_k"),
    ).orderBy("n_probe")
