"""Document deduplication operators (SURVEY §7.4 / BASELINE extensions).

Beyond ``exact_dedup`` (a hash-groupBy on a content fingerprint), every
near-dup operator here is one filter → verify pipeline:

- filter — each family derives join keys per document (shingles,
  MinHash bands, SimHash blocks, winnowing fingerprints, span anchors),
  optionally caps hot keys (``max_doc_freq`` / ``max_bucket_size``, the
  SCALE.md skew guards), and pairs documents sharing a key through ONE
  ordered keyed self-join, ``_key_pairs`` (id_a < id_b);
- verify — candidate pairs are re-scored exactly: set overlap by the
  inverted-index count (``_pair_counts``) or, when keys were capped or
  sampled, by one full-set intersection (``_verify_sets``), scored by
  one Jaccard expression (``_jaccard``); SimHash pairs by Hamming
  distance, span anchors by gaps-and-islands over alignment diagonals.

Precision is exact everywhere; only candidate generation (LSH curves,
caps) trades recall. ``similarity`` and ``semdedup`` pair embeddings
through the same ``_key_pairs``. All functions take and return
DataFrames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions.partitioning import _spread_id

from airflow_retail_etl_spark.functions import xhash
from airflow_retail_etl_spark.functions.text import (
    char_shingles_from,
    fingerprint,
    normalize_text,
    token_shingles_from,
    tokens,
)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: fingerprint → (keeper, n_copies).

    Keeper = min id (deterministic). Output one row per distinct content.
    """
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _with_shingles(
    df: DataFrame, text_col: str, id_col: str, *, kind: str, n: int
) -> DataFrame:
    """(id, shingles) with the tokenization MATERIALIZED before shingling.

    Two-step on purpose: the shingle lambda references its input per output
    element, and Catalyst re-evaluates nested expressions inside HOF lambdas
    — inlining the tokenizer would cost O(tokens²) regex work per document.
    The repartition between the steps (a) forces a bound column (no project
    collapse) and (b) spreads the CPU-heavy shingling across cores even when
    the source is a single small parquet file; Spark reuses the exchange for
    self-joins downstream, so the tokenization runs exactly once.
    """
    if kind == "token":
        base = df.select(
            F.col(id_col).alias("id"),
            tokens(normalize_text(F.col(text_col))).alias("base"),
        )
        shingle = token_shingles_from(F.col("base"), n)
    else:
        base = df.select(
            F.col(id_col).alias("id"),
            normalize_text(F.col(text_col)).alias("base"),
        )
        shingle = char_shingles_from(F.col("base"), n)
    return base.transform(_spread_id).select(
        "id", shingle.alias("shingles")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    kind: str = "token",
    n: int = 3,
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs sharing ≥1 shingle, with exact Jaccard similarity.

    Inverted-index join: explode distinct shingles, equi-join on the shingle,
    count co-occurrences per (id_a < id_b) pair, then
    J = inter / (|A| + |B| - inter). Returns (id_a, id_b, jaccard).

    ``max_doc_freq`` is the stop-shingle skew guard (SCALE.md): a shingle
    appearing in more than that many documents contributes freq² rows to the
    self-join — one shingle shared by 1M docs is 10¹² join rows. With the cap
    set, such shingles are dropped from CANDIDATE GENERATION only, and every
    surviving candidate pair is re-scored on the full shingle sets, so
    reported Jaccard values stay exact; only pairs whose overlap consists
    EXCLUSIVELY of capped (ubiquitous) shingles are missed — at a sane cap
    those pairs are boilerplate-overlap noise, not near-duplicates. Default
    None keeps the single-join exact plan (the oracle-checked verifier).
    """
    sh = _with_shingles(df, text_col, id_col, kind=kind, n=n)
    return set_jaccard_pairs(
        sh, min_jaccard=min_jaccard, max_doc_freq=max_doc_freq
    )


def _key_pairs(rows: DataFrame, keys: list[str], *carry: str) -> DataFrame:
    """The ordered keyed self-join every pair generator starts from:
    rows with equal ``keys`` pair up as (id_a, id_b, <c>_a, <c>_b, ...)
    with id_a < id_b, one row per shared key, carrying each ``carry``
    column from both sides. Candidate callers add
    ``dropDuplicates(["id_a", "id_b"])``; overlap callers count. No
    keys is the all-pairs scan."""
    a, b = rows.alias("a"), rows.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    return a.join(b, [*on, F.col("a.id") < F.col("b.id")]).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )


def _verify_sets(
    cands: DataFrame, sets_a: DataFrame, sets_b: DataFrame
) -> DataFrame:
    """Exact set overlap of candidate pairs: (id_a, id_b, n_a, n_b, inter).

    Both full (id, shingles) sets re-attach to the (small, deduplicated)
    candidate set by id — the bands/keys that generated the candidates
    never carry the set payload — and ``inter`` is one array_intersect,
    so the counts are exact however the candidates were pruned."""

    def side(sets: DataFrame, s: str) -> DataFrame:
        return sets.select(
            F.col("id").alias(f"id_{s}"), F.col("shingles").alias(f"sh_{s}")
        )

    both = cands.join(side(sets_a, "a"), "id_a").join(side(sets_b, "b"), "id_b")
    return both.select(
        "id_a",
        "id_b",
        F.size("sh_a").alias("n_a"),
        F.size("sh_b").alias("n_b"),
        F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
    )


def _jaccard() -> Column:
    """Jaccard of an (n_a, n_b, inter) pair row: one division of exact
    integers."""
    return F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))


def _pair_counts(sh: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """(id_a, id_b, n_a, n_b, inter) for every pair of (id, shingles)
    rows sharing ≥1 element, counts exact.

    Uncapped: one inverted-index self-join plus a count. |set| rides
    through the explode, so the pair aggregation has both sizes in its
    group keys (functionally dependent on the ids) — no size-lookup
    joins. explode_OUTER on purpose: plain explode lets Catalyst infer a
    size(shingles)>0 filter and push it below the materialization
    exchange, re-inlining the whole shingle expression into a
    pre-repartition Filter (single partition, O(tokens²)) — observed 4×
    slowdown. Shingle arrays are never empty (≥1 by construction), so
    outer semantics are identical.

    Capped (``max_doc_freq``): elements in more than that many sets are
    dropped from CANDIDATE GENERATION only — one doc-frequency
    aggregation on the exploded index, filtered before the self-join —
    and every candidate is re-scored on the full sets by
    ``_verify_sets``, so the counts stay exact even though capped
    elements generated no candidates."""
    if max_doc_freq is None:
        inv = sh.select(
            "id",
            F.size("shingles").alias("n_sh"),
            F.explode_outer("shingles").alias("s"),
        )
        return (
            _key_pairs(inv, ["s"], "n_sh")
            .groupBy(
                "id_a",
                "id_b",
                F.col("n_sh_a").alias("n_a"),
                F.col("n_sh_b").alias("n_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
    inv = sh.select("id", F.explode_outer("shingles").alias("s"))
    rare = inv.groupBy("s").agg(F.count("*").alias("df_s")).filter(
        F.col("df_s") <= max_doc_freq
    )
    capped = inv.join(rare.select("s"), "s", "left_semi")
    cands = _key_pairs(capped, ["s"]).dropDuplicates(["id_a", "id_b"])
    return _verify_sets(cands, sh, sh)


def set_jaccard_pairs(
    sh: DataFrame,
    *,
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over PRECOMPUTED element sets — the engine beneath
    jaccard_pairs, exposed for non-text elements (video frame perceptual
    hashes, feature/tag sets, cluster memberships).

    ``sh`` must be (id, shingles) with ``shingles`` an array of DISTINCT
    elements per id. Pairs and counts come from ``_pair_counts`` (the
    single inverted-index join, or the ``max_doc_freq`` hot-element
    candidate cap with exact full-set re-scoring — see jaccard_pairs'
    docstring for the skew story).
    """
    out = _pair_counts(sh, max_doc_freq).select(
        "id_a", "id_b", _jaccard().alias("jaccard")
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    kind: str = "token",
    n: int = 3,
    num_hashes: int = 64,
    hash: str = "xxhash64",
) -> DataFrame:
    """(id, shingles, sig) — MinHash signatures via explode + hash-agg.

    Shape matters: computing each of the ``num_hashes`` minima as an
    aggregate over the exploded shingles (a) evaluates every hash exactly
    once — an Aggregate is a materialization barrier, so downstream band
    slicing can't re-inline the computation the way CollapseProject does to
    pure projections — and (b) shrinks to one row per doc at the partial-agg
    stage, so the shuffle carries num_hashes values per doc regardless of
    document size. The shingle sets ride along via an id-equi join that
    reuses the same hash partitioning (no extra shuffle).

    ``hash`` picks the family: ``"xxhash64"`` (production — fastest, JVM
    intrinsic) or ``"md5km"`` (cross-engine: Kirsch–Mitzenmacher double
    hashing off the two md5 halves, bit-replicable in DuckDB — see
    functions.xhash — at ~one md5 per shingle instead of num_hashes
    xxhash64 calls). The md5km family supports ``num_hashes <= 63``
    (the long-domain KM carry needs i ≤ 62 — functions.xhash._km_hilo);
    every in-repo md5km site passes 63. xxhash64 has no limit.
    """
    if hash == "md5km" and num_hashes > 63:
        raise ValueError(
            "minhash_signatures: the md5km family supports num_hashes"
            f" <= 63 (long-domain KM i <= 62 guard), got {num_hashes};"
            " pass num_hashes=63 or use hash='xxhash64'"
        )
    sh = _with_shingles(df, text_col, id_col, kind=kind, n=n)
    inv = sh.select("id", F.explode_outer("shingles").alias("s"))
    if hash == "xxhash64":
        mins = inv.groupBy("id").agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"mh{i}")
                for i in range(num_hashes)
            ]
        )
        sig = F.array(*[F.col(f"mh{i}") for i in range(num_hashes)])
    elif hash == "md5km":
        # LONG-domain KM (round 15): the biased signed image of each
        # (h1 + i·h2) mod 2^64 keeps the 63 MIN aggregates in primitive
        # codegen — the previous DECIMAL(21,0) minima allocated a
        # BigDecimal per hash per shingle (measured 3-4× slower).
        # biased_to_u64_dec restores the EXACT decimal values per doc at
        # the aggregated grain, so signatures (and the md5-of-string
        # band buckets derived from them) are bit-identical.
        h1a, l1a = xhash.md5_u64_hilo(F.col("s"), 1)
        h2a, l2a = xhash.md5_u64_hilo(F.col("s"), 2)
        halves = inv.select(
            "id",
            h1a.alias("h1"),
            l1a.alias("l1"),
            h2a.alias("h2"),
            l2a.alias("l2"),
        )
        mins = halves.groupBy("id").agg(
            *[
                F.min(
                    xhash.km_hash_biased(
                        F.col("h1"), F.col("l1"), F.col("h2"), F.col("l2"), i
                    )
                ).alias(f"mh{i}")
                for i in range(num_hashes)
            ]
        )
        sig = F.array(
            *[
                xhash.biased_to_u64_dec(F.col(f"mh{i}"))
                for i in range(num_hashes)
            ]
        )
    else:
        raise ValueError(f"unknown hash family: {hash!r}")
    return sh.join(mins, "id").select("id", "shingles", sig.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    kind: str = "token",
    n: int = 3,
    num_hashes: int = 63,
    bands: int = 21,
    min_jaccard: float = 0.5,
    hash: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs at scale: MinHash → banded LSH → exact-Jaccard verify.

    With num_hashes=63, bands=21 (rows/band r=3) the LSH S-curve catches
    J≥0.5 pairs with p = 1-(1-J³)^21 ≥ 0.94 (≥0.9994 at J≥0.6) while random
    pairs (J≈0.05) collide only ~0.3% of the time; every candidate is then
    verified with exact Jaccard on the shingle sets, so precision is exact
    and only recall depends on the curve.
    Returns (id_a, id_b, jaccard) for verified pairs.

    ``max_bucket_size`` caps the band self-join (SCALE.md skew guard): a
    (band, bucket) shared by m docs contributes m² candidate rows, and a
    corpus with a large exact-duplicate cluster puts ALL its copies in the
    same bucket in EVERY band — quadratic blowup the S-curve math never
    sees. Buckets above the cap are dropped from candidate generation;
    members of such mega-buckets are (near-)identical clusters that
    ``exact_dedup`` should collapse first (run it before this operator —
    the guard is the backstop, not the strategy). None disables.

    ``hash``: "xxhash64" (production) or "md5km" (cross-engine — signatures
    AND band buckets derived from md5 so DuckDB can replicate candidate
    generation bit-exactly; see functions.xhash).

    Recall accounting for the cap: :func:`cap_dropped_mass` over
    ``band_rows(minhash_signatures(...))`` with the same keys and cap.
    """
    sigs = minhash_signatures(
        df, text_col, id_col, kind=kind, n=n, num_hashes=num_hashes, hash=hash
    )
    banded = _cap_buckets(
        _banded(sigs, bands, num_hashes, hash), ["band", "bucket"],
        max_bucket_size,
    )
    cands = _key_pairs(banded, ["band", "bucket"]).dropDuplicates(
        ["id_a", "id_b"]
    )
    return (
        _verify_sets(cands, sigs, sigs)
        .select("id_a", "id_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _banded(sigs: DataFrame, bands: int, num_hashes: int, hash: str) -> DataFrame:
    """(id, band, bucket) from signature rows — the LSH banding step:
    ``bands`` bands of ``num_hashes // bands`` rows each.

    Bands WITHOUT the shingle arrays: the (band, bucket) joins shuffle
    ~20 bytes/row instead of the ~1KB shingle payload × bands × 2 sides;
    shingles re-attach to the (much smaller) candidate pair set.
    explode_outer: see _pair_counts — avoids InferFiltersFromGenerate
    re-inlining the signature computation below the exchange.

    ``bands`` outside [1, num_hashes] raises: more bands than hashes
    leaves 0 rows per band, every band hashes the empty slice, and all
    documents share one bucket per band — the band join degenerates to
    all pairs, and a bucket cap then drops every candidate without an
    error.
    """
    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"bands={bands} must be in [1, num_hashes={num_hashes}]: more"
            " bands than hashes leaves empty bands that put every document"
            " in one bucket"
        )
    rows_per_band = num_hashes // bands
    if hash == "xxhash64":
        def bucket_of(band):
            return F.xxhash64(
                F.slice(F.col("sig"), band * rows_per_band + 1, rows_per_band)
            )
    else:
        # md5 of the comma-joined decimal minima — string in, hex out, both
        # replicable in DuckDB (md5(string_agg(mh::VARCHAR, ',' ORDER BY i)))
        def bucket_of(band):
            return F.md5(
                F.array_join(
                    F.transform(
                        F.slice(
                            F.col("sig"), band * rows_per_band + 1, rows_per_band
                        ),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            )

    return sigs.select(
        "id",
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.struct(
                    band.alias("band"), bucket_of(band).alias("bucket")
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def write_band_index_bucketed(
    bands_df: DataFrame,
    table: str,
    *,
    buckets: int = 64,
    path: str | None = None,
    append: bool = False,
) -> None:
    """Persist ``band_rows`` output as a BUCKETED catalog table,
    clustered AND sorted by the (band, bucket) join key.

    The 100 TB admission shape: the index side of
    ``incremental_lsh_dedup``'s candidate sort-merge join is the
    corpus-scale side, and with a plain parquet layout every per-batch
    probe re-shuffles and re-sorts it. A bucketed table's scan reports
    HashPartitioning((band, bucket), ``buckets``) + the sort order, so
    the probe join plans NO exchange and NO sort above the index scan —
    only the (batch-sized) incoming side shuffles. Same trick as the
    fact⋈dim co-location in tests/test_bucketing.py; pinned for this
    index in tests/test_stream_dedup_admission.py.

    ``append=True`` adds survivor rows batch-proportionally (Spark
    datasource bucketed tables accept multiple files per bucket;
    co-location survives appends, the one-file-per-bucket sorted-read
    fast path degrades to a re-sort until a compaction rewrite).
    ``path`` makes it an external table at that location. ``buckets``
    sizes the co-located parallelism — pick ≈ the cluster's target scan
    parallelism, NOT bands×buckets (it is a hash modulus, not a
    directory fanout)."""
    w = (
        bands_df.write.bucketBy(buckets, "band", "bucket")
        .sortBy("band", "bucket")
        .mode("append" if append else "overwrite")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def band_rows(
    sigs: DataFrame,
    *,
    num_hashes: int = 63,
    bands: int = 21,
    hash: str = "xxhash64",
) -> DataFrame:
    """Persistable LSH band index: (id, band, bucket) from
    ``minhash_signatures`` output.

    The incremental-dedup building block: sign and band the corpus ONCE
    (checkpoint the signatures and derive both the dedup and the index
    rows from one materialization), write this table out, and each
    day's batch joins against it instead of re-shingling/re-hashing the
    whole corpus (incremental_lsh_dedup). Rows per doc = ``bands``, ~20
    bytes each — KEYS ONLY. The exact-Jaccard verify's shingle sets live
    in the companion one-row-per-id ``shingle_store`` table: storing
    them here would copy every doc's shingle array ×bands for no
    read-time benefit, since the band join never looks at them. Persist
    the band table PARTITIONED BY band: any reader that filters bands
    scans 1/bands of the files, and the band column itself costs no
    storage (it is directory metadata)."""
    return _banded(sigs, bands, num_hashes, hash)


def shingle_store(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    kind: str = "token",
    n: int = 3,
) -> DataFrame:
    """(id, shingles), one row per doc — the band index's verify-side
    companion table (the space-for-compute trade an indexed dedup
    service makes, stored ONCE per doc instead of once per band)."""
    return _with_shingles(df, text_col, id_col, kind=kind, n=n)


def incremental_lsh_dedup(
    index: DataFrame,
    sigs: DataFrame,
    *,
    index_shingles: DataFrame,
    num_hashes: int = 63,
    bands: int = 21,
    min_jaccard: float = 0.5,
    hash: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Admission verdict of one batch against a PRECOMPUTED corpus index
    — the 100 TB form of incremental_dedup. Returns (drop_id).

    ``sigs`` is the batch's ``minhash_signatures`` (same kind/n/
    num_hashes/hash as the index); ``index`` is ``band_rows`` output
    (typically a parquet table maintained across batches, partitioned
    by band) and ``index_shingles`` its ``shingle_store`` companion for
    the exact-Jaccard verify — no corpus re-read, no re-hashing. Work
    per batch scales with the BATCH: candidates come from the
    (band, bucket) join batch-vs-index plus the batch self-join, and
    exact Jaccard verifies both. Drop rule matches incremental_dedup: a
    batch doc falls to any verified match with the index or with a
    smaller-id batch sibling. Same ``max_bucket_size`` skew backstop on
    both joins.

    The verdict is one small id column: callers pin IT rather than the
    surviving rows (kilobytes instead of documents), anti-join the batch
    for the admitted rows, and append the survivors' ``band_rows`` +
    ``shingle_store`` rows for the next batch.
    """
    keys = ["band", "bucket"]
    inc_banded = _cap_buckets(
        _banded(sigs, bands, num_hashes, hash), keys, max_bucket_size
    )
    ex_banded = _cap_buckets(
        index.select("id", "band", "bucket"), keys, max_bucket_size
    )
    # id_a is the batch doc that drops on a verified match with id_b:
    # batch × index candidates (keys only) ...
    cross = (
        inc_banded.alias("a")
        .join(
            ex_banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # ... and batch × batch, where the smaller id wins (the larger drops)
    own = (
        _key_pairs(inc_banded, keys)
        .select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # ONE verify for both candidate sources (round 9: two separate verify
    # join chains cost an extra join + exchange per batch). Partners come
    # from the union store (index shingles ∪ batch shingles — ids are
    # globally unique under the incremental contract: the index holds
    # previously admitted docs, the batch holds new ones).
    store = index_shingles.select("id", "shingles").unionByName(
        sigs.select("id", "shingles")
    )
    return (
        _verify_sets(cross.unionByName(own), sigs, store)
        .filter(_jaccard() >= min_jaccard)
        .select(F.col("id_a").alias("drop_id"))
        .distinct()
    )


def _cap_buckets(
    df: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets larger than the cap before a self-join.

    One window count partitioned by the bucket keys — the same hash
    partitioning the self-join needs anyway, so the exchange is shared; no
    collect, no second scan. m members in a bucket → m² candidate pairs, so
    the cap bounds per-bucket join work at max_bucket_size².
    """
    if max_bucket_size is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )


def cap_dropped_mass(
    df: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
    *,
    member_col: str | None = None,
) -> DataFrame:
    """Recall accounting for ``_cap_buckets`` (round-9 verdict item 7):
    bucket/cluster caps drop candidate pairs BY DESIGN, and only span
    excision reported what it dropped — a 100 TB operator should see
    cap-induced recall loss, not infer it.

    One-row report over the same bucketed frame a capped operator scans:
    (n_buckets, n_buckets_over_cap, rows_total, rows_dropped,
    frac_rows_dropped[, n_members_affected]) where a "row" is one bucket
    membership (the unit ``_cap_buckets`` filters) and
    ``n_members_affected`` (when ``member_col`` is given) counts distinct
    members touching ≥1 over-cap bucket — an upper bound on docs whose
    pairs the cap can lose (LSH multi-banding usually still catches them
    in a survivable band). One groupBy aggregation — same shuffle key as
    the capped self-join, diagnostic-only cost.
    """
    cap = F.lit(max_bucket_size or 2**62)
    over = F.col("__bn") > cap
    sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn"))
    report = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(over.cast("long")).cast("long").alias("n_buckets_over_cap"),
        F.sum("__bn").cast("long").alias("rows_total"),
        F.sum(F.when(over, F.col("__bn")).otherwise(0))
        .cast("long")
        .alias("rows_dropped"),
    ).withColumn(
        "frac_rows_dropped",
        F.round(
            F.col("rows_dropped")
            / F.nullif(F.col("rows_total"), F.lit(0)),
            6,
        ),
    )
    if member_col:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys)
        affected = (
            df.withColumn("__bn", F.count(F.lit(1)).over(w))
            .filter(over)
            .agg(
                F.count_distinct(F.col(member_col))
                .cast("long")
                .alias("n_members_affected")
            )
        )
        report = report.crossJoin(affected)
    return report


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Resolve candidate pairs into duplicate CLUSTERS: (node, comp).

    The last stage of a dedup pipeline at scale: pair generators
    (jaccard_pairs / minhash_lsh_pairs / simhash_pairs) emit edges, but the
    unit of deduplication is the connected component — A~B and B~C must
    collapse to one keeper even when A~C was never emitted. ``comp`` is the
    MINIMUM node id reachable from ``node`` (deterministic keeper).

    Algorithm: iterative min-label propagation with pointer jumping.
    Each round is two hash joins on the component-id key:

    1. propagate — comp(n) ← min(comp(n), min over neighbors comp(m));
    2. jump      — comp(n) ← comp(comp(n))  (path halving).

    Propagation alone needs O(diameter) rounds — a 1M-long chain would need
    1M shuffles; the jump step doubles the pointer distance covered per
    round, so convergence is O(log d) rounds. Each round ends in an eager
    ``localCheckpoint``: the lineage is truncated (no exponential plan
    growth across iterations) and the iterate is pinned so the convergence
    check and the next round share one materialization. Round 1 is
    UNROLLED into the assign construction (off the identity assignment,
    propagate is just ``least(node, min neighbor id)``), so the identity
    checkpoint — a whole driver action per call — never materializes,
    and the loop tests the FIXPOINT first: stop when no edge spans two
    labels (labels only decrease; the min node keeps itself; once
    edge-consistent, comp∘comp = comp). The per-round driver action is a
    LIMIT-1 existence probe, not a collect of data rows — state lives
    executor-side throughout.

    ``nodes``: optional one-column DataFrame of the full node universe;
    nodes with no edges come out as singleton components (comp = self).
    Default: nodes appearing in ``pairs``.
    """
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if nodes is None:
        universe = edges.select(F.col("src").alias("node")).distinct()
    else:
        universe = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
    # Round 1 unrolled into the assign construction (round 16): off the
    # identity assignment, propagate is simply comp = least(node,
    # min neighbor id) and jump is one self-join on that — so the first
    # materialized frame IS round 1's output and the identity-assign
    # checkpoint (a whole extra driver action + its AQE sub-jobs, per
    # call, across every CC consumer) disappears. Same per-round
    # dataflow, same fixpoint, bit-identical assignments (test-pinned).
    nbr0 = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_comp"))
        .withColumnRenamed("src", "node")
    )
    prop0 = universe.join(nbr0, "node", "left").select(
        "node",
        F.least(F.col("node"), F.coalesce("nbr_comp", "node")).alias("comp"),
    )
    jump0 = (
        prop0.alias("x")
        .join(
            prop0.select(
                F.col("node").alias("c_node"), F.col("comp").alias("c_comp")
            ).alias("y"),
            F.col("x.comp") == F.col("y.c_node"),
            "left",
        )
        .select(
            F.col("x.node").alias("node"),
            F.coalesce(F.col("y.c_comp"), F.col("x.comp")).alias("comp"),
        )
    )
    assign = jump0.localCheckpoint(eager=True)

    for _ in range(max_iter):
        # fixpoint test first: round 1 already ran above, and shallow
        # dup-cluster graphs (pairs/stars) are AT the fixpoint here
        crossing = (
            edges.join(
                assign.select(
                    F.col("node").alias("src"), F.col("comp").alias("scomp")
                ),
                "src",
            )
            .join(
                assign.select(
                    F.col("node").alias("dst"), F.col("comp").alias("dcomp")
                ),
                "dst",
            )
            .filter(F.col("scomp") != F.col("dcomp"))
            .limit(1)
            .count()
        )
        if crossing == 0:
            break
        nbr_min = (
            edges.join(
                assign.select(
                    F.col("node").alias("dst"), F.col("comp").alias("dcomp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dcomp").alias("nbr_comp"))
            .withColumnRenamed("src", "node")
        )
        prop = assign.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
        )
        jump = (
            prop.alias("x")
            .join(
                prop.select(
                    F.col("node").alias("c_node"), F.col("comp").alias("c_comp")
                ).alias("y"),
                F.col("x.comp") == F.col("y.c_node"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.coalesce(F.col("y.c_comp"), F.col("x.comp")).alias("comp"),
            )
        )
        assign = jump.localCheckpoint(eager=True)
    return assign


def simhash(
    df: DataFrame, text_col: str, id_col: str, *, hash: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per document from token hashes.

    bit b of the signature = majority vote of bit b across token hash
    values, computed with HOFs over the hash array — one projection + one
    materialization exchange, no join. Near-dups are pairs with small
    Hamming distance (see simhash_pairs).

    ``hash``: "xxhash64" (production) or "md5" (signed i64 off the first
    md5 half — bit-replicable in DuckDB, see functions.xhash, so the full
    signature is oracle-checkable).

    The token-hash array is materialized behind an exchange before the 64
    per-bit majority votes: each vote references the array twice, and
    CollapseProject would otherwise re-inline the tokenize+hash expression
    128 times per row (the HOF re-evaluation trap — see _with_shingles).
    """
    toks = F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, _gram_hasher(hash)).alias("hashes"),
    ).transform(_spread_id)
    hashes = F.col("hashes")
    n_tok = F.size(hashes)

    # Per bit: majority vote across token hashes. Bit masks are Python-side
    # literals (shift amounts must be ints for shiftright); bit 63 is the
    # sign bit of the signed 64-bit hash, tested as h < 0 and contributed as
    # Long.MIN. Disjoint masks are OR-chained — no overflow possible.
    def bit_set(bit: int) -> Column:
        if bit == 63:
            return F.when(
                F.size(F.filter(hashes, lambda h: h < 0)) * 2 > n_tok,
                F.lit(-(1 << 63)).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        mask = 1 << bit
        return F.when(
            F.size(
                F.filter(hashes, lambda h: h.bitwiseAND(F.lit(mask)) != 0)
            )
            * 2
            > n_tok,
            F.lit(mask).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    sig = bit_set(0)
    for b in range(1, 64):
        sig = sig.bitwiseOR(bit_set(b))
    return hashed.select("id", sig.alias("simhash"))


def simhash_pairs(
    sigs: DataFrame,
    *,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup candidates from SimHash signatures, banded by bit blocks.

    Splits the 64-bit signature into ``64 // prefix_bits`` blocks (4 of
    16 bits by default); a pair within Hamming distance ``max_hamming``
    differs in at most that many blocks, so when there are MORE blocks
    than that it agrees on ≥1 whole block (pigeonhole) and
    block-equality bucketing finds every such pair without O(n²)
    compare. Fewer blocks would silently miss pairs, so that raises.

    ``max_bucket_size`` guards the block self-join the same way as in
    minhash_lsh_pairs: an exact-dup cluster shares ALL blocks, so its m
    copies alone generate 4m² candidate rows — collapse with exact_dedup
    first; the cap is the backstop. None disables.
    """
    blocks = 64 // prefix_bits
    if blocks <= max_hamming:
        raise ValueError(
            f"prefix_bits={prefix_bits} gives {blocks} blocks, too few for"
            f" max_hamming={max_hamming}: the block pigeonhole needs more"
            " blocks than differing bits; lower prefix_bits"
        )
    mask = (1 << prefix_bits) - 1
    banded = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(blk).alias("blk"),
                        F.shiftright(F.col("simhash"), blk * prefix_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for blk in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.blk", "bb.block_val")
    banded = _cap_buckets(banded, ["blk", "block_val"], max_bucket_size)
    pairs = _key_pairs(banded, ["blk", "block_val"], "simhash").dropDuplicates(
        ["id_a", "id_b"]
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return pairs.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    window: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003).

    The partial-overlap detector exact/MinHash dedup lacks: hash every
    positional char k-gram, slide a window of ``window`` hashes, keep each
    window's MINIMUM — any shared substring of length ≥ k+window−1 is
    GUARANTEED to surface at least one common fingerprint, while only
    ~2/(window+1) of positions are kept. Output: (id, fps array<bigint>).

    All HOF projections, zero shuffles beyond the materialization
    exchanges: the k-gram hash array and the window minima are separate
    SELECTs behind repartitions — the Catalyst lambda re-evaluation trap
    (see _with_shingles) would otherwise recompute the hash array once
    per window position, turning O(n·w) into O(n²·k) regex-free but
    quadratic work.

    ``hash_family="md5"`` switches to the engine-portable md5 hash
    (functions.xhash.md5_long) so the DuckDB oracle replays fingerprints
    bit-exactly; production keeps xxhash64.
    """
    hash_gram = _gram_hasher(hash_family)
    base = df.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("t"),
    ).transform(_spread_id)
    hashes = base.select(
        "id",
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length("t") - (k - 1), F.lit(1))
            ),
            lambda i: hash_gram(F.col("t").substr(i, F.lit(k))),
        ).alias("hs"),
    ).transform(_spread_id)
    return hashes.select(
        "id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("hs") - (window - 1), F.lit(1)),
                ),
                lambda j: F.array_min(F.slice(F.col("hs"), j, window)),
            )
        ).alias("fps"),
    )


def winnow_overlap_pairs(
    fps: DataFrame,
    *,
    min_shared: int = 2,
    max_doc_freq: int | None = 1_000,
) -> DataFrame:
    """Pairs sharing ≥ ``min_shared`` winnowing fingerprints.

    Inverted-index join on the (already ~2/(window+1)-sampled)
    fingerprints; ``max_doc_freq`` drops boilerplate fingerprints before
    the self-join, same skew rationale as jaccard_pairs. Pick ``k`` large
    enough to discriminate on low-entropy corpora — a tiny vocabulary
    makes short grams near-universal, and then the cap (not the join)
    must do the pruning.

    The exploded index is eagerly checkpointed: it feeds the
    doc-frequency stats AND both self-join sides, and without pinning it
    each consumer would re-run the per-position hashing (the expensive
    leaf) — the checkpoint trades a small (id, fp) spill for 3× the hash
    compute.
    """
    inv = (
        fps.select("id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .localCheckpoint(eager=True)
    )
    if max_doc_freq is not None:
        rare = (
            inv.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
        )
        inv = inv.join(rare.select("fp"), "fp", "left_semi")
    return (
        _key_pairs(inv, ["fp"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Admit only the incoming documents that duplicate nothing already
    indexed: the per-batch form of corpus dedup (reference intent: "all
    loads incremental", /root/reference/README.md:55 — the dedup analogue
    of io.write_partitioned's per-date overwrite).

    Batch-incremental semantics (declarative, one pass): an incoming doc
    is DROPPED iff it is a near-duplicate (Jaccard ≥ ``min_jaccard``) of
    (a) any existing doc, or (b) an incoming doc with a smaller id —
    within-batch ties keep the earliest id, matching exact_dedup's keeper
    rule. (A strictly-online variant where an incoming dup of a *dropped*
    doc survives would need an iterative fixpoint; pipelines batch per
    day/partition, where this declarative rule is the standard one.)

    Pairs come from exact ``jaccard_pairs`` over the UNION corpus (the
    oracle-checkable verifier); at scale, ``incremental_lsh_dedup``
    admits against a precomputed band index instead, so work scales with
    the batch. Returns the surviving incoming rows (original columns).
    """
    ex = existing.select(F.col(id_col), F.col(text_col))
    inc = incoming.select(F.col(id_col), F.col(text_col))
    union = ex.unionByName(inc)
    pairs = jaccard_pairs(
        union, text_col, id_col, kind="token", n=3, min_jaccard=min_jaccard
    ).select("id_a", "id_b")
    new_ids = incoming.select(F.col(id_col).alias("__nid")).distinct()
    # pairs are emitted with id_a < id_b, so:
    #  - id_b incoming  ⇒ its partner is existing or a smaller incoming id
    #    ⇒ id_b drops;
    #  - id_a incoming AND id_b existing ⇒ id_a drops.
    b_new = pairs.join(
        new_ids, pairs["id_b"] == new_ids["__nid"], "left_semi"
    ).select(F.col("id_b").alias("drop_id"))
    a_new_b_old = (
        pairs.join(new_ids, pairs["id_a"] == new_ids["__nid"], "left_semi")
        .join(new_ids, pairs["id_b"] == new_ids["__nid"], "left_anti")
        .select(F.col("id_a").alias("drop_id"))
    )
    drops = b_new.unionByName(a_new_b_old).distinct()
    return incoming.join(
        drops, incoming[id_col] == drops["drop_id"], "left_anti"
    )


#: measured safe ceiling for the span-anchor doc-frequency cap: the
#: anchor join's volume grows with cap² (Σmin(df,cap)²), and the round-9
#: sf10 probe (tools/span_scale_probe.py; SCALE.md "Cap transition
#: measured one decade further") found cap=200 settles sub-linear while
#: cap=400 exhausted shuffle disk (DNF). Raising past this requires
#: unsafe_large_cap=True — an explicit statement that the cluster's
#: shuffle capacity is provisioned for the quadratic-in-cap volume.
SPAN_CAP_SAFE_MAX = 200


def _check_span_args(
    k: int, min_len: int, max_doc_freq: int | None, unsafe_large_cap: bool
) -> None:
    """The argument check both shared-span faces share: the anchor cap
    envelope and the k detection floor."""
    if (
        max_doc_freq is not None
        and max_doc_freq > SPAN_CAP_SAFE_MAX
        and not unsafe_large_cap
    ):
        raise ValueError(
            f"max_doc_freq={max_doc_freq} exceeds the measured safe "
            f"ceiling {SPAN_CAP_SAFE_MAX}: anchor-join shuffle volume "
            "grows quadratically in the cap and cap=400 exhausted "
            "shuffle disk at the sf10 probe (SCALE.md span-cap "
            "envelope). Pass unsafe_large_cap=True only if shuffle "
            "capacity is provisioned for Σmin(df,cap)² anchor matches."
        )
    if min_len < k:
        raise ValueError(
            f"min_len={min_len} < k={k}: spans shorter than the anchor "
            "k-gram produce no anchors, so the exactness guarantee would "
            "silently not hold for lengths in [min_len, k). Lower k or "
            "raise min_len — k is the detection floor."
        )


def shared_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 16,
    min_len: int = 40,
    max_doc_freq: int | None = None,
    hash_family: str = "xxhash64",
    unsafe_large_cap: bool = False,
) -> DataFrame:
    """EXACT cross-document shared-substring spans (the plagiarism
    "diagonal method") — winnowing's exactness upgrade: not just WHICH
    pairs share a substring, but WHERE and HOW LONG, with no hash-window
    sampling loss.

    Anchors: the hash of every positional char ``k``-gram of the
    normalized text (stride 1). A substring of length S shared by two
    docs yields S−k+1 anchor matches on the same alignment diagonal
    (pos_a − pos_b constant) at CONSECUTIVE positions, so maximal shared
    runs are gaps-and-islands over (id_a, id_b, diag): island length
    (max_pos − min_pos) + k is exactly the shared-span length. Spans
    shorter than ``min_len`` are dropped after grouping, so the guarantee
    is exact for every surviving span (collisions aside: 64-bit hashes on
    ≤corpus-sized anchor sets make false anchors ~2⁻⁶⁴·n²; a verifying
    substr compare would add one join — omitted as the same trade
    jaccard verification makes).

    Output: (id_a, id_b, start_a, start_b, span_len), id_a < id_b,
    1-based starts into the NORMALIZED text, one row per maximal run.

    Scale: anchor volume is corpus chars (the same order as the token
    explode every dedup family already does); the join is equality on the
    anchor hash. ``max_doc_freq`` drops anchors present in more than that
    many documents BEFORE the self-join — the boilerplate/stop-phrase
    skew guard shared with jaccard/containment; a dropped hot anchor can
    split or shrink a reported span (never invent one), documented
    recall trade at scale. The islands window partitions by
    (id_a, id_b, diag) — bounded by the longer document, never global.

    ``hash_family="md5"`` switches anchors to the engine-portable md5
    hash (functions.xhash.md5_long) so the DuckDB oracle replays spans
    bit-exactly; production keeps xxhash64 (same contract as
    winnow_fingerprints).

    Caps above ``SPAN_CAP_SAFE_MAX`` are refused unless
    ``unsafe_large_cap=True`` — the sf10 probe measured cap=400 DNF on
    shuffle-disk exhaustion (quadratic-in-cap anchor volume; SCALE.md).
    ``max_doc_freq=None`` stays allowed: the documented exhaustive /
    verification mode for corpora small enough to enumerate.
    """
    _check_span_args(k, min_len, max_doc_freq, unsafe_large_cap)
    anchors = _span_anchors(
        df, text_col, id_col, k=k, hash_family=hash_family,
        max_doc_freq=max_doc_freq,
    )
    matches = _key_pairs(anchors, ["h"], "pos").select(
        "id_a",
        "id_b",
        F.col("pos_a").alias("pa"),
        F.col("pos_b").alias("pb"),
        (F.col("pos_a") - F.col("pos_b")).alias("diag"),
    )
    return _diag_islands(matches, k=k, min_len=min_len)


def _gram_hasher(hash_family: str):
    if hash_family == "md5":
        def hash_gram(g: Column) -> Column:
            return xhash.md5_long(g)
    elif hash_family == "xxhash64":
        def hash_gram(g: Column) -> Column:
            return F.xxhash64(g)
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return hash_gram


def _span_anchors(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int,
    hash_family: str,
    max_doc_freq: int | None,
) -> DataFrame:
    """(id, pos, h): the hash of every positional char k-gram of the
    normalized text, materialized behind a spread exchange (the
    HOF-lambda trap: see _with_shingles), optionally doc-freq capped.

    The anchor frame is deliberately NOT pinned before reuse. The
    capped plan does re-execute the per-char hashing scan FOUR
    times (each self-join side plus each side's df-cap aggregation —
    the broadcast semi blocks exchange reuse; PLANS.md span_excise
    audit), but the recompute is CHEAPER than pinning: measured at sf1
    in fresh pretouched JVMs (round 11), capped xxhash64 runs 19.2 s
    cold / 15.6 s warm WITHOUT materialization vs 21.6-68.7 s WITH it,
    and the uncapped md5 form regressed 128 s -> 238 s — the anchor
    scan is ~2 s of the total, while an eager 19M-row checkpoint adds
    a hard pre-AQE barrier plus never-freed RDD blocks that degrade
    every later job in the session (348 s second run)."""
    hash_gram = _gram_hasher(hash_family)
    base = df.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("t"),
    ).transform(_spread_id)
    anchors = base.filter(F.length("t") >= k).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - (k - 1)),
                lambda i: hash_gram(F.col("t").substr(i, F.lit(k))),
            )
        ).alias("pos0", "h"),
    ).select("id", (F.col("pos0") + 1).alias("pos"), "h")
    if max_doc_freq is not None:
        rare = (
            anchors.groupBy("h")
            .agg(F.count_distinct("id").alias("df_h"))
            .filter(F.col("df_h") <= max_doc_freq)
        )
        anchors = anchors.join(rare.select("h"), "h", "left_semi")
    return anchors


def span_cap_dropped(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 16,
    max_doc_freq: int,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document recall accounting for the span-anchor doc-frequency
    cap (round-9 verdict item 7): (id, capped_anchor_rows) — how many of
    a document's anchor occurrences a ``max_doc_freq`` cap excludes from
    the anchor join. A dropped hot anchor can split or shrink a reported
    span; this makes that loss visible per document (and, aggregated by
    source, per corpus slice) instead of inferred. Docs with no hot
    anchors are absent — LEFT-join and coalesce to 0.

    Same anchor scan + one df aggregation as the capped detection path;
    diagnostic-only cost, no all-pairs work.
    """
    anchors = _span_anchors(
        df, text_col, id_col, k=k, hash_family=hash_family,
        max_doc_freq=None,
    )
    hot = (
        anchors.groupBy("h")
        .agg(F.count_distinct("id").alias("df_h"))
        .filter(F.col("df_h") > max_doc_freq)
    )
    return (
        anchors.join(hot.select("h"), "h", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("capped_anchor_rows"))
    )


def _diag_islands(matches: DataFrame, *, k: int, min_len: int) -> DataFrame:
    """Gaps-and-islands over alignment diagonals: maximal consecutive
    anchor runs → exact (start_a, start_b, span_len) spans.

    (id_a, id_b, diag, pa) is unique BY CONSTRUCTION: anchor rows are
    unique per (id, pos), and for a fixed diagonal each pa pairs with
    exactly one pb — repeated k-grams create matches on OTHER diagonals,
    never duplicates within one. So no distinct pass is needed, and the
    islands window is the single shuffle of the whole tail.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    islands = matches.withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    return (
        islands.groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.max("pa") - F.min("pa") + k).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select("id_a", "id_b", "start_a", "start_b", "span_len")
    )


def shared_span_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 16,
    min_len: int = 40,
    max_doc_freq: int | None = None,
    hash_family: str = "xxhash64",
    unsafe_large_cap: bool = False,
) -> DataFrame:
    """EXACT shared-substring spans BETWEEN two corpora (no self-pairs):
    every maximal substring ≥ ``min_len`` chars that a ``left`` document
    shares with any ``right`` document, with exact positions in both.

    The cross face of shared_span_pairs — built for span-grain
    decontamination (left = training corpus, right = benchmark/eval set:
    cut the leaked passage, keep the document) and cross-snapshot
    overlap audits. Cost is Σ_h df_left(h)·df_right(h) — with a small
    right side this is far cheaper than the self-join, and
    ``max_doc_freq`` caps the LEFT (large-corpus) anchor doc-frequency,
    the same boilerplate guard with the same split-never-invent
    semantics. Ids on the two sides are independent (they may collide
    numerically; a pair is always (left id, right id)).

    Output: (id_a, id_b, start_a, start_b, span_len) where ``id_a`` is
    the LEFT document, 1-based starts into each side's NORMALIZED text.
    Caps above ``SPAN_CAP_SAFE_MAX`` are refused without
    ``unsafe_large_cap=True`` (see shared_span_pairs / SCALE.md).
    """
    _check_span_args(k, min_len, max_doc_freq, unsafe_large_cap)
    la = _span_anchors(
        left, text_col, id_col, k=k, hash_family=hash_family,
        max_doc_freq=max_doc_freq,
    )
    ra = _span_anchors(
        right, text_col, id_col, k=k, hash_family=hash_family,
        max_doc_freq=None,
    )
    matches = la.alias("a").join(
        ra.alias("b"), F.col("a.h") == F.col("b.h")
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    return _diag_islands(matches, k=k, min_len=min_len)


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
    *,
    id_span_col: str = "id_b",
    start_col: str = "start_b",
    len_col: str = "span_len",
) -> DataFrame:
    """Excise character spans from documents — the removal half of exact
    substring dedup (detect with shared_span_pairs, keep the first
    occurrence, cut the repeats out of every later document; the
    "dedup makes LMs better" pipeline step, applied at span grain
    instead of dropping whole documents).

    ``spans`` rows name a document (``id_span_col``) and a 1-based
    ``start_col``/``len_col`` into its NORMALIZED text — the coordinate
    system shared_span_pairs emits; the output text is therefore the
    normalized form with the spans removed. Overlapping/adjacent spans
    are interval-merged first (gaps-and-islands on the running max end),
    so double-reported regions excise once.

    Plan: one window pass per doc to merge intervals (state bounded by a
    doc's span count), one aggregation collecting the merged intervals
    into a sorted array, and ONE projection rebuilding the text with
    ``F.aggregate`` over that array (substr concat — JVM-side, no UDF).
    Docs with no spans pass through unchanged. Returns
    (id, text_clean, n_removed_chars).
    """
    from pyspark.sql import Window

    sp = spans.select(
        F.col(id_span_col).alias("id"),
        F.col(start_col).cast("int").alias("s"),
        (F.col(start_col) + F.col(len_col)).cast("int").alias("e"),  # excl
    )
    w = Window.partitionBy("id").orderBy("s", "e")
    run_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        F.when(F.col("s") > F.coalesce(run_end, F.lit(0)), 1).otherwise(0)
    ).over(w)
    merged = (
        sp.withColumn("grp", grp)
        .groupBy("id", "grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs")
        )
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("t"),
    )
    joined = base.join(merged, "id", "left")
    # fold over intervals: (cursor, acc) -> append the kept slice before
    # each interval, jump the cursor past it; finish with the tail
    rebuilt = F.aggregate(
        F.coalesce("ivs", F.array()),
        F.struct(
            F.lit(1).alias("cur"), F.lit("").cast("string").alias("acc")
        ),
        lambda st, iv: F.struct(
            F.greatest(st["cur"], iv["e"]).alias("cur"),
            F.concat(
                st["acc"],
                F.when(
                    iv["s"] > st["cur"],
                    F.col("t").substr(st["cur"], iv["s"] - st["cur"]),
                ).otherwise(F.lit("")),
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st["acc"], F.col("t").substr(st["cur"], F.length("t"))
        ),
    )
    return joined.select(
        F.col("id").alias(id_col),
        rebuilt.alias("text_clean"),
        F.length("t").alias("__orig_len"),
    ).select(
        id_col,
        "text_clean",
        (F.col("__orig_len") - F.length("text_clean")).alias(
            "n_removed_chars"
        ),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    kind: str = "token",
    n: int = 3,
    min_containment: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with exact shingle CONTAINMENT — the asymmetric sibling
    of jaccard_pairs: containment = inter / min(|A|, |B|), the fraction
    of the SMALLER document's shingles found in the other.

    Jaccard misses exactly the duplicates a training corpus most wants
    caught: a short doc quoted inside a long one scores
    J ≈ |A|/|B| ≈ 0 however verbatim the inclusion, while its
    containment is ≈ 1. Same inverted-index join and skew story as
    jaccard_pairs (``max_doc_freq`` drops ubiquitous shingles from
    candidate generation only; surviving pairs are re-scored exactly on
    full sets); jaccard rides along for free — both denominators are
    functions of (n_a, n_b, inter) the aggregation already carries.
    Returns (id_a, id_b, containment, jaccard), id_a < id_b.

    Containment and jaccard are each ONE division of the exact integers
    ``_pair_counts`` returns on both the capped and uncapped paths
    (oracle-grade): no float reconstruction, so a pair sitting exactly
    at ``min_containment`` cannot flip membership between paths or
    engines.
    """
    sh = _with_shingles(df, text_col, id_col, kind=kind, n=n)
    out = _pair_counts(sh, max_doc_freq).select(
        "id_a",
        "id_b",
        (F.col("inter") / F.least("n_a", "n_b")).alias("containment"),
        _jaccard().alias("jaccard"),
    )
    if min_containment > 0:
        out = out.filter(F.col("containment") >= min_containment)
    return out


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_dist: int = 2,
    key_chars: int = 80,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Edit-distance near-dup pairs over a short normalized key —
    (id_a, id_b, dist) for every pair whose first ``key_chars``
    normalized characters are within Levenshtein distance ``max_dist``.

    The one near-dup semantics the sketch families don't give: Jaccard /
    MinHash / SimHash are set/bag similarities (order-insensitive,
    token-grain), while edit distance counts ORDERED character edits —
    the right notion for titles, queries, URLs, and template IDs. The
    key is a bounded prefix because Levenshtein verification is
    O(len²) per pair; for whole-document near-dup use the span/sketch
    families.

    Scale shape (NOT all-pairs): PassJoin-style pigeonhole blocking.
    Split each string of length n into m = max_dist+1 contiguous
    segments (fixed boundaries per length); if ed(s, t) ≤ max_dist then
    at least one of s's segments occurs VERBATIM in t within ±max_dist
    of its position (≤ max_dist edits shift any alignment by ≤
    max_dist). So the segmented side emits m keys per doc and the probe
    side emits, for every candidate partner length ℓ ∈ [n−k, n+k], the
    substrings at the partner's segment boundaries ± k — O(k²·m) keys
    per doc, a CONSTANT per row. Candidates join on (partner_length,
    segment_index, content); exact verification uses Spark's
    threshold-bounded ``levenshtein(a, b, k)`` (early-exit DP).
    Completeness is pinned by the DuckDB oracle, which computes the
    all-pairs distance directly. ``max_bucket_size`` caps degenerate
    blocks (boilerplate prefixes) exactly like the LSH bucket caps.
    """
    k, m = max_dist, max_dist + 1
    base = df.select(
        F.col(id_col).alias("id"),
        F.substring(normalize_text(F.col(text_col)), 1, key_chars).alias(
            "s"
        ),
    ).withColumn("n", F.length("s")).transform(_spread_id)

    def seg_len(ell, i):  # length of segment i when the string has len ell
        return (ell / m).cast("int") + F.when(
            i < ell % m, F.lit(1)
        ).otherwise(F.lit(0))

    def seg_pos(ell, i):  # 0-based start of segment i
        base_len = (ell / m).cast("int")
        return i * base_len + F.least(i, ell % m)

    idx = F.sequence(F.lit(0), F.lit(m - 1))
    segs = base.select(
        "id",
        "s",
        "n",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("i"),
                    F.substring(
                        F.col("s"),
                        seg_pos(F.col("n"), i) + 1,
                        seg_len(F.col("n"), i),
                    ).alias("content"),
                ),
            )
        ).alias("g"),
    ).select("id", F.col("g.i").alias("i"), F.col("g.content").alias("content"), F.col("n").alias("ell"))
    segs = segs.filter(F.length("content") > 0)

    # prune probe partner-lengths against the corpus length histogram:
    # ℓ values nobody has generate keys nobody joins. The histogram is
    # bounded by key_chars+1 distinct values (≤ 81 here) — a model-sized
    # driver constant, the ANN-codebook class of collect; on prefix-key
    # corpora where every doc normalizes to the full key length this is
    # a (2k+1)× probe-key reduction.
    present = sorted(
        r["n"] for r in base.select("n").distinct().collect()
    )
    lens = F.filter(
        F.sequence(F.col("n") - k, F.col("n") + k),
        lambda ell: ell.isin(*present) if present else F.lit(False),
    )
    shifts = F.sequence(F.lit(-k), F.lit(k))
    probes = base.select(
        "id",
        "s",
        "n",
        F.explode(
            F.flatten(
                F.transform(
                    lens,
                    lambda ell: F.flatten(
                        F.transform(
                            idx,
                            lambda i: F.transform(
                                shifts,
                                lambda d: F.struct(
                                    ell.alias("ell"),
                                    i.alias("i"),
                                    (seg_pos(ell, i) + d).alias("p"),
                                    seg_len(ell, i).alias("L"),
                                ),
                            ),
                        )
                    ),
                )
            )
        ).alias("g"),
    ).filter(
        (F.col("g.ell") >= 1)
        & (F.col("g.L") >= 1)
        & (F.col("g.p") >= 0)
        & (F.col("g.p") + F.col("g.L") <= F.col("n"))
    ).select(
        F.col("id").alias("pid"),
        F.col("g.ell").alias("ell"),
        F.col("g.i").alias("i"),
        F.substring(
            F.col("s"), F.col("g.p") + 1, F.col("g.L")
        ).alias("content"),
    ).dropDuplicates(["pid", "ell", "i", "content"])

    segs = _cap_buckets(segs, ["ell", "i", "content"], max_bucket_size)
    probes = _cap_buckets(probes, ["ell", "i", "content"], max_bucket_size)
    cand = (
        segs.join(probes, ["ell", "i", "content"])
        .filter(F.col("id") != F.col("pid"))
        .select(
            F.least("id", "pid").alias("id_a"),
            F.greatest("id", "pid").alias("id_b"),
        )
    )
    # pigeonhole escape hatch: a string of length ≤ k can have EVERY
    # nonempty segment edited (the untouched part may be the empty one),
    # so segment keys prove nothing for it. Its partners are ≤ 2k chars
    # (length diff bounds edits), so pair the ≤k strings against the
    # ≤2k strings in one dedicated block — a sliver of any real corpus,
    # and still behind the same skew cap.
    tiny_a = base.filter(F.col("n") <= k).select(
        F.col("id").alias("tid"), F.lit(1).alias("__blk")
    )
    tiny_b = _cap_buckets(
        base.filter(F.col("n") <= 2 * k).select(
            F.col("id").alias("pid2"), F.lit(1).alias("__blk")
        ),
        ["__blk"],
        max_bucket_size,
    )
    cand_tiny = (
        tiny_a.join(tiny_b, "__blk")
        .filter(F.col("tid") != F.col("pid2"))
        .select(
            F.least("tid", "pid2").alias("id_a"),
            F.greatest("tid", "pid2").alias("id_b"),
        )
    )
    cand = cand.unionByName(cand_tiny).dropDuplicates(["id_a", "id_b"])
    a = base.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    b = base.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    dist = F.levenshtein(F.col("sa"), F.col("sb"), k)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)  # threshold form returns -1 above k
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )
