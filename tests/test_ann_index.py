"""Persisted IVF-PQ ANN index: build / query / append / pruning."""

from __future__ import annotations

from airflow_retail_etl_spark.operators import ann_index, similarity
from airflow_retail_etl_spark.sources.tables import load_table


def _tuples(rows):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"]) for r in rows
    )


def test_index_probe_all_equals_exhaustive_pq(spark, sf_dir, tmp_path):
    """Round-tripping the corpus through the persisted index must not
    change a single tuple: probe-all over the stored cells ≡ pq_topk's
    exhaustive scan (same seeded codebook, same shortlist/rescore)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id % 100 = 0")
    path = str(tmp_path / "ann")
    ann_index.build_ann_index(emb, path, n_cells=16, fit_fraction=0.5)
    got = ann_index.ann_index_topk(
        spark, path, queries, k=10, n_probe=16, shortlist=50
    ).collect()
    want = similarity.pq_topk(emb, queries, k=10, shortlist=50).collect()
    assert _tuples(got) == _tuples(want)


def test_query_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """THE reason the index persists partitioned by cell: the probed-cell
    join dynamically prunes the cells scan to n_probe/n_cells of the
    directories — at 100 TB that fraction is the query's I/O bill."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id % 250 = 0")
    path = str(tmp_path / "ann")
    ann_index.build_ann_index(emb, path, n_cells=16, fit_fraction=0.5)
    df = ann_index.ann_index_topk(
        spark, path, queries, k=5, n_probe=2, shortlist=20,
        prune_rescore=True,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]
    # With prune_rescore (the big-index default), EVERY cells scan must
    # be pruned — the exact-rescore vector fetch joins on
    # (cell, neighbor_id) precisely so the second scan doesn't re-read
    # the whole index (round 8). Tree-line text truncates, so parse the
    # formatted explain's per-node blocks instead.
    import contextlib
    import io

    def cells_scan_blocks(frame):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain("formatted")
        blocks = buf.getvalue().split("\n\n")
        return [
            b for b in blocks if "Scan parquet" in b and "/cells" in b
        ]

    scans = cells_scan_blocks(df)
    assert scans and all("dynamicpruning" in b for b in scans), scans
    # results are identical either way — pruning is a plan choice only
    pruned = ann_index.ann_index_topk(
        spark, path, queries, k=5, n_probe=2, shortlist=20,
        prune_rescore=True,
    ).collect()
    unpruned = ann_index.ann_index_topk(
        spark, path, queries, k=5, n_probe=2, shortlist=20,
        prune_rescore=False,
    ).collect()
    assert _tuples(pruned) == _tuples(unpruned)
    # auto mode on a KB-sized test index picks the whole-scan rescore
    # (the DPP subquery costs more than the scan it would skip)
    auto = ann_index.ann_index_topk(
        spark, path, queries, k=5, n_probe=2, shortlist=20
    )
    auto_scans = cells_scan_blocks(auto)
    assert sum("dynamicpruning" in b for b in auto_scans) < len(auto_scans)


def test_append_admits_new_vectors_without_refit(spark, sf_dir, tmp_path):
    """Incremental admission: vectors appended with the stored centroids/
    codebook are findable, and the original tuples are unchanged (append
    only adds files inside existing cell partitions)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter("vec_id % 10 != 0")
    extra = emb.filter("vec_id % 10 = 0")
    queries = emb.filter("vec_id % 100 = 0")
    path = str(tmp_path / "ann")
    ann_index.build_ann_index(base, path, n_cells=16, fit_fraction=0.5)
    before = ann_index.ann_index_topk(
        spark, path, queries, k=10, n_probe=16, shortlist=10_000
    ).collect()

    ann_index.append_to_ann_index(extra, path)
    after = ann_index.ann_index_topk(
        spark, path, queries, k=10, n_probe=16, shortlist=10_000
    ).collect()

    # probe-all + full shortlist ⇒ exact over whatever the index holds:
    # after the append it must equal brute force over the FULL corpus
    want = similarity.brute_force_topk(emb, queries, k=10).collect()
    assert _tuples(after) == _tuples(want)
    # and the pre-append answer was exact over the base corpus
    want_base = similarity.brute_force_topk(base, queries, k=10).collect()
    # queries not in base still rank base neighbors; self-exclusion only
    # applies to ids present, so compare against brute force on base with
    # the same query set
    assert _tuples(before) == _tuples(want_base)


def test_append_assigns_the_cell_the_build_would(spark, sf_dir, tmp_path):
    """append_to_ann_index assigns with the build's own argmin over the
    stored centroids: a copy of an indexed vector, appended under a new
    id, lands in its original's cell."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann")
    ann_index.build_ann_index(emb, path, n_cells=16, fit_fraction=0.5)
    offset = 1_000_000
    copies = emb.filter("vec_id % 7 = 0").withColumn(
        "vec_id", F.col("vec_id") + offset
    )
    ann_index.append_to_ann_index(copies, path)
    cell = {
        r["id"]: r["cell"]
        for r in spark.read.parquet(f"{path}/cells").select("id", "cell").collect()
    }
    copied = {i - offset: c for i, c in cell.items() if i >= offset}
    assert len(copied) == copies.count()
    assert len(set(copied.values())) > 1
    assert {i: cell[i] for i in copied} == copied


def test_compact_folds_append_files_and_preserves_answers(spark, sf_dir, tmp_path):
    """append_to_ann_index accumulates files per cell; compact folds each
    cell to ONE file, answers identical before/after (the query path's
    caches invalidate via the directory signature)."""
    import glob
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter("vec_id % 3 = 0")
    queries = emb.filter("vec_id % 100 = 0")
    path = str(tmp_path / "ann")
    ann_index.build_ann_index(base, path, n_cells=8, fit_fraction=0.5)
    ann_index.append_to_ann_index(emb.filter("vec_id % 3 = 1"), path)
    ann_index.append_to_ann_index(emb.filter("vec_id % 3 = 2"), path)

    def files_per_cell():
        out = {}
        for d in glob.glob(os.path.join(path, "cells", "cell=*")):
            out[os.path.basename(d)] = len(
                [f for f in os.listdir(d) if f.endswith(".parquet")]
            )
        return out

    before_files = files_per_cell()
    assert any(n > 1 for n in before_files.values()), before_files
    before = ann_index.ann_index_topk(
        spark, path, queries, k=10, n_probe=8, shortlist=100
    ).collect()

    ann_index.compact_ann_index(spark, path)
    after_files = files_per_cell()
    assert set(after_files) == set(before_files)
    assert all(n == 1 for n in after_files.values()), after_files
    after = ann_index.ann_index_topk(
        spark, path, queries, k=10, n_probe=8, shortlist=100
    ).collect()
    assert _tuples(after) == _tuples(before)


def test_cache_keys_and_signature_resolution(spark, sf_dir, tmp_path):
    """Round-8 advice pins: (1) caches are keyed by (applicationId,
    path) so a restarted session can never receive a DataFrame bound to
    a dead one, and stale app generations are evicted rather than
    accumulating; (2) the fs signature is a RECURSIVE file inventory, so
    an append that leaves every directory mtime unchanged (object-store
    semantics / coarse mtime granularity) still perturbs it."""
    import os
    from airflow_retail_etl_spark.operators import ann_index as ai
    from airflow_retail_etl_spark.sources.tables import load_table

    path = str(tmp_path / "idx")
    vecs = load_table(spark, sf_dir, "embeddings").limit(64)
    ai.build_ann_index(vecs, path, n_cells=4)

    app = spark.sparkContext.applicationId
    ai._cells_df(spark, path)
    ai._load_index_meta(spark, path)
    assert (app, path) in ai._CELLS_CACHE
    assert (app, path) in ai._META_CACHE

    # a dead-session generation for the same path is evicted on refresh
    ai._CELLS_CACHE[("dead-app", path)] = ai._CELLS_CACHE[(app, path)]
    ai._META_CACHE[("dead-app", path)] = ai._META_CACHE[(app, path)]
    ai._CELLS_CACHE.pop((app, path))
    ai._META_CACHE.pop((app, path))
    ai._cells_df(spark, path)
    ai._load_index_meta(spark, path)
    assert ("dead-app", path) not in ai._CELLS_CACHE
    assert ("dead-app", path) not in ai._META_CACHE

    # freeze every mtime under cells/, then land a new file inside an
    # existing cell partition: the recursive signature must still change
    cells = f"{path}/cells"
    before = ai._fs_signature(spark, cells)
    stamp = 1_600_000_000
    celldir = next(
        os.path.join(cells, d) for d in os.listdir(cells)
        if d.startswith("cell=")
    )
    with open(os.path.join(celldir, "part-appended.parquet"), "wb") as f:
        f.write(b"x")
    for root, _dirs, files in os.walk(cells):
        os.utime(root, (stamp, stamp))
        for fn in files:
            os.utime(os.path.join(root, fn), (stamp, stamp))
    after = ai._fs_signature(spark, cells)
    assert before != after


def test_recall_report_monotone_and_exact_at_probe_all(spark, sf_dir):
    """Recall frontiers: (1) the exact-rescore IVF form is monotone in
    n_probe and reaches 1.0 at probe-all (provable: top-k of a growing
    candidate set under a strict total order); (2) the persisted-index
    form (real query path: DPP scan + ADC shortlist + rescore) is
    monotone when the shortlist covers the probed candidates, and also
    reaches 1.0 at probe-all then (probe-all + full shortlist enumerates
    every pair exactly)."""
    from pyspark.sql import functions as F

    from airflow_retail_etl_spark.operators import ann_index as ai
    from airflow_retail_etl_spark.operators import similarity
    from airflow_retail_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)

    rep = similarity.ivf_recall_report(
        emb, qs, k=10, n_probe_grid=(1, 4, 16), n_cells=16
    ).collect()
    rec = [r.recall_at_k for r in sorted(rep, key=lambda r: r.n_probe)]
    assert rec == sorted(rec), rec
    assert rec[-1] == 1.0
    scanned = [r.avg_scanned for r in sorted(rep, key=lambda r: r.n_probe)]
    assert scanned == sorted(scanned)

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/idx"
        ai.build_ann_index(emb, path, n_cells=8)
        n = emb.count()
        rep2 = ai.recall_report(
            spark, path, qs, k=10, n_probe_grid=(1, 4, 8), shortlist=n
        ).collect()
        rec2 = [r.recall_at_k for r in sorted(rep2, key=lambda r: r.n_probe)]
        assert rec2 == sorted(rec2), rec2
        assert rec2[-1] == 1.0


def test_recall_report_small_corpus_reaches_one(spark):
    """Recall denominator = the ACTUAL ground-truth pair count, not
    |Q|*k: with a corpus smaller than k+1 vectors, brute force returns
    fewer than k neighbors per query (self-matches excluded), and a
    probe-all run that returns exactly those pairs must report
    recall 1.0 — the |Q|*k denominator would cap it at (n-1)/k
    (round-9 advice, ann_index.py + similarity.ivf_recall_report)."""
    import tempfile

    from airflow_retail_etl_spark.operators import ann_index as ai
    from airflow_retail_etl_spark.operators import similarity

    n, dims, k = 6, 64, 10  # n - 1 < k: ground truth is 5 pairs/query
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(dims)])
         for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    qs = emb.limit(2)

    rep = {
        r.n_probe: r
        for r in similarity.ivf_recall_report(
            emb, qs, k=k, n_probe_grid=(4,), n_cells=4, dims=dims
        ).collect()
    }
    assert rep[4].n_pairs == 2 * (n - 1)
    assert rep[4].recall_at_k == 1.0

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/idx"
        ai.build_ann_index(emb, path, n_cells=2, dims=dims)
        rep2 = {
            r.n_probe: r
            for r in ai.recall_report(
                spark, path, qs, k=k, n_probe_grid=(2,), shortlist=n
            ).collect()
        }
        assert rep2[2].n_pairs == 2 * (n - 1)
        assert rep2[2].recall_at_k == 1.0


def test_delete_tombstones_then_compact(spark, sf_dir, tmp_path):
    """Index lifecycle's delete leg: tombstoned ids vanish from query
    results immediately (their former ranks filled by live vectors, not
    holes), survive replayed deletes idempotently, and compaction
    applies them physically and clears the tombstone directory while
    preserving every live answer."""
    import os

    from pyspark.sql import functions as F

    from airflow_retail_etl_spark.operators import ann_index as ai
    from airflow_retail_etl_spark.sources.tables import load_table

    path = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    ai.build_ann_index(emb, path, n_cells=4)
    qs = emb.filter(F.col("vec_id") % 50 == 0).limit(3)

    before = ai.ann_index_topk(spark, path, qs, k=5, n_probe=4)
    victims = sorted({r.neighbor_id for r in before.collect()})[:2]
    ai.delete_from_ann_index(spark, path, victims)
    ai.delete_from_ann_index(spark, path, victims)  # replay: idempotent

    after = ai.ann_index_topk(spark, path, qs, k=5, n_probe=4)
    rows = after.collect()
    assert not {r.neighbor_id for r in rows} & set(victims)
    # ranks stay dense: every query still gets k results from live rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 6)) for v in per_q.values())

    expect = sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in rows
    )
    ai.compact_ann_index(spark, path)
    assert not os.path.exists(f"{path}/tombstones")
    stored_ids = {
        r.id for r in spark.read.parquet(f"{path}/cells").collect()
    }
    assert not stored_ids & set(victims)  # physically gone
    again = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ai.ann_index_topk(spark, path, qs, k=5, n_probe=4).collect()
    )
    assert again == expect
