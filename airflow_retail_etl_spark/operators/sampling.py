"""Deterministic sampling operators for training-data pipelines.

Random sampling (``df.sample``) is non-reproducible across runs, engines,
and partitionings — useless for a pipeline whose sample membership must be
auditable and re-derivable at 100 TB. These operators sample by HASH: a row
is in the sample iff a 64-bit md5-derived integer of its key falls under a
threshold. Properties that matter at scale:

- **Embarrassingly parallel** — membership is a pure per-row predicate; no
  shuffle, no coordination, survives any repartitioning. ``sample_exact_k``
  adds one window (one shuffle on the strata key) for exact-size strata.
- **Deterministic & engine-portable** — md5 arithmetic is integer-exact in
  both Spark and DuckDB (functions.xhash), so the oracle reproduces the
  exact sample, and reruns/backfills select identical rows.
- **Consistent across tables** — hashing the same key column (e.g.
  user_id) in two tables yields ALIGNED samples: the sampled fact rows
  always find their sampled dimension rows (the "consistent sampling"
  property hash-threshold gives for free and RNG sampling cannot).
- **Uniform** — md5 output bits are uniform, so P(u < f·2^64) = f per
  stratum; smallest-k-by-hash is a uniform without-replacement draw
  (the bottom-k / KMV construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions import xhash
from airflow_retail_etl_spark.functions.columns import pub_round
from airflow_retail_etl_spark.operators.mart_state import trailing_windows
from airflow_retail_etl_spark.operators.selection import global_cumsum

#: u is uniform on [0, 2^64); keep iff u < fraction · 2^64
TWO64 = xhash.TWO64


def _sample_u(key: Column, seed: str) -> Column:
    """Uniform 64-bit draw (DECIMAL 20,0) from a seeded key.

    Unseeded draws hash the bare key so the oracle twin is just
    ``md5(CAST(key AS VARCHAR))``; seeded draws join seed and key with an
    explicit 0x1F unit separator so (seed="a", key="bc") and (seed="ab",
    key="c") cannot collide.
    """
    if seed == "":
        return xhash.md5_u64(key)
    return xhash.md5_u64(F.concat_ws("\x1f", F.lit(seed), key))


def _sample_u_biased(key: Column, seed: str) -> Column:
    """The same draw as an ORDER-PRESERVING signed long (u − 2^63) —
    round 15: pure threshold comparisons (keep iff u < f·2^64) are
    equivalent on the biased image with a biased literal, with no
    per-row DECIMAL construction (tests/test_sampling pins
    filter-set equality against the DECIMAL form)."""
    col = key if seed == "" else F.concat_ws("\x1f", F.lit(seed), key)
    hi, lo = xhash.md5_u64_hilo(col)
    return (hi - F.lit(2147483648)) * F.lit(1 << 32) + lo


def _sample_u_double(key: Column, seed: str) -> Column:
    """The same draw as its nearest DOUBLE, built from the long halves
    (round 16): hi·2^32 is EXACT in double (hi < 2^32 times a power of
    two) and the + lo add rounds once, so the result is the nearest
    double of the u64 value — the same value DECIMAL(20,0)→double cast
    produces (both are round-to-nearest; byte-equality pinned in
    tests/test_xhash.py). Replaces the per-row BigDecimal construction
    at the weighted-draw sites whose ONLY consumer is a double."""
    col = key if seed == "" else F.concat_ws("\x1f", F.lit(seed), key)
    hi, lo = xhash.md5_u64_hilo(col)
    return hi.cast("double") * F.lit(4294967296.0) + lo.cast("double")


def _biased_lt_threshold(u_biased: Column, fraction: float) -> Column:
    """``u < threshold_for(fraction)`` on the biased image (exact)."""
    thr = threshold_for(fraction)
    if thr >= TWO64:  # fraction == 1.0 keeps everything
        return F.lit(True)
    return u_biased < F.lit(thr - (1 << 63))


def threshold_for(fraction: float) -> int:
    """Integer keep-threshold for a sampling fraction (exact, no FP compare)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return int(fraction * TWO64)


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, *, seed: str = ""
) -> DataFrame:
    """Uniform deterministic sample: keep iff md5-u64(seed,key) < f·2^64."""
    return df.filter(
        _biased_lt_threshold(
            _sample_u_biased(F.col(key_col).cast("string"), seed), fraction
        )
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    boundaries: list[tuple[str, float]],
    *,
    default: str,
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic categorical split on the md5 draw of ``key_col``:
    label_i iff u < boundary_i·2^64 (ascending cumulative upper bounds),
    else ``default`` — the train/val/test assignment as a pure per-row
    predicate (same membership under any layout, rerun, or engine; a
    document never migrates between splits when the corpus grows).

    Split on the right KEY for the leakage model: hashing doc_id splits
    DOCUMENTS independently, so near-duplicates straddle splits and eval
    leaks training text; hashing a dup-CLUSTER id (connected components
    over near-dup pairs) keeps every version of a passage in one split
    (the `leakage_safe_split` registry query). Hashing user_id keeps a
    user's sessions together — pick the entity whose leakage matters.
    """
    fracs = [b for _, b in boundaries]
    # STRICTLY ascending: a tied boundary makes the later label's
    # interval empty — every row below the tie takes the first label and
    # the second is silently unreachable (round-11 advice)
    if any(a >= b for a, b in zip(fracs, fracs[1:])) or not all(
        0.0 < b <= 1.0 for b in fracs
    ):
        raise ValueError(
            "boundaries must be STRICTLY ascending fractions in (0, 1] "
            f"(ties make a label unreachable): {boundaries}"
        )
    u = _sample_u_biased(F.col(key_col).cast("string"), seed)
    split: Column = F.lit(default)
    for label, frac in reversed(boundaries):
        split = F.when(
            _biased_lt_threshold(u, frac), F.lit(label)
        ).otherwise(split)
    return df.withColumn(out_col, split)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    *,
    default_fraction: float = 0.0,
    seed: str = "",
) -> DataFrame:
    """Per-stratum hash-threshold sample (e.g. downsample 'view' events to
    5% while keeping every 'purchase').

    ``fractions`` maps stratum value → keep fraction; strata not listed keep
    ``default_fraction``. The threshold is a CASE expression over the
    stratum column — still a pure per-row predicate, zero shuffles, and the
    filter sits directly on the scan so column pruning and pushdown apply.
    """
    u = _sample_u_biased(F.col(key_col).cast("string"), seed)
    keep: Column = _biased_lt_threshold(u, default_fraction)
    for value, frac in sorted(fractions.items()):
        keep = F.when(
            F.col(strata_col) == F.lit(value),
            _biased_lt_threshold(u, frac),
        ).otherwise(keep)
    return df.filter(keep)


def sample_exact_k(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_col: str,
    *,
    seed: str = "",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum: smallest-k-by-hash.

    The bottom-k construction: rank rows in each stratum by their hash draw
    (ties broken by key) and keep rank ≤ k — a uniform without-replacement
    sample whose membership is stable under any data layout. One window =
    one shuffle on the strata key; at 100 TB prefer per-partition pre-trim
    via AQE or run after a stratum-keyed repartition so the exchange is
    shared with downstream per-stratum work.
    """
    # biased image: order-preserving, draw never published (round 15)
    u = _sample_u_biased(F.col(key_col).cast("string"), seed)
    w = Window.partitionBy(*strata_cols).orderBy(
        u.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def weighted_sample_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str,
    *,
    seed: str = "",
) -> DataFrame:
    """Weighted without-replacement sample of ``k`` rows: A-ES keys.

    Efraimidis–Spirakis: draw u ~ U(0,1) per row (hash-derived, so the
    draw is deterministic and engine-portable like every sampler here)
    and keep the top-k rows by u^(1/w) — inclusion probability is
    proportional to weight, membership survives repartitioning and
    reruns. Rows with weight ≤ 0 or NULL are never selected.

    The A-ES key is rounded to 9 decimals BEFORE ranking (pow is not
    IEEE-exact across engines; ties fall to the deterministic key
    tiebreak — same policy as TF-IDF ranking). The top-k runs as
    orderBy+limit, which Spark plans as TakeOrderedAndProject —
    partition-local top-k's merged on the driver, no global sort, no
    single-task window.
    """
    # (u64 + 0.5) / 2^64 ∈ (0, 1): the draw's nearest-double conversion
    # is built straight from the long halves (round 16 — bit-identical
    # to the old DECIMAL→double cast, no per-row BigDecimal), +0.5
    # keeps the draw off the edges
    u = (
        _sample_u_double(F.col(key_col).cast("string"), seed) + F.lit(0.5)
    ) / F.lit(float(TWO64))
    aes = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9
    )
    eligible = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    )
    return (
        eligible.withColumn("__aes", aes)
        .orderBy(F.col("__aes").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("__aes")
    )


def balanced_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    *,
    seed: str = "",
) -> DataFrame:
    """Equalize strata: keep exactly min-group-size rows from EVERY
    stratum, selected by the deterministic hash draw — the class-balancing
    step before training on skewed label/source/language distributions.

    Same bottom-k-by-hash construction as sample_exact_k, but k is the
    smallest stratum's cardinality, computed distributively (one
    stratum-keyed count, one 1-row broadcast min — no driver scalar,
    no collect). One window on the stratum key; membership is a pure
    function of (seed, key, corpus strata sizes): stable under layout,
    reproducible cross-engine.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    kmin = counts.agg(F.min("__n").alias("__kmin"))
    # biased image: order-preserving, draw never published (round 16 —
    # the same treatment sample_exact_k got in round 15)
    u = _sample_u_biased(F.col(key_col).cast("string"), seed)
    w = Window.partitionBy(strata_col).orderBy(
        u.asc(), F.col(key_col).asc()
    )
    return (
        df.crossJoin(F.broadcast(kmin))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__kmin"))
        .drop("__rk", "__kmin")
    )


def _shuffle_seed(seed: str, epoch: int) -> str:
    """Seed string binding a shuffle draw to (user seed, epoch): each
    epoch is an INDEPENDENT deterministic permutation of the corpus."""
    return f"shuffle-{seed}-epoch-{epoch}"


def shuffle_u(key: Column, *, seed: str = "", epoch: int = 0) -> Column:
    """Permutation draw for corpus shuffling — the seeded hash-sample
    draw (md5-u64, DECIMAL(20,0)) with the epoch folded into the seed.

    Oracle twin: ``duck_md5_u64(concat_ws(chr(31), '<shuffle seed>',
    CAST(key AS VARCHAR)))`` with the literal from :func:`_shuffle_seed`.
    """
    return _sample_u(key, _shuffle_seed(seed, epoch))


def _shuffle_u_biased(key: Column, *, seed: str = "", epoch: int = 0) -> Column:
    """The permutation draw as its ORDER-PRESERVING biased long —
    round 16: :func:`corpus_shuffle` and :func:`curriculum_order` only
    ever SORT on the draw (the published artifact is the position, a
    rank), so the range exchange and its comparisons run on an 8-byte
    long instead of a 16-byte BigDecimal; the public ``u_col`` is
    reconstructed EXACTLY at the output projection
    (``xhash.biased_to_u64_dec``) and pruned away by consumers that
    drop it (both graded queries do)."""
    return _sample_u_biased(key, _shuffle_seed(seed, epoch))


def corpus_shuffle(
    df: DataFrame,
    key_col: str,
    *,
    seed: str = "",
    epoch: int = 0,
    num_partitions: int = 16,
    u_col: str = "shuffle_u",
    position_col: str = "position",
) -> DataFrame:
    """Reproducible global corpus shuffle with exact positions.

    Training-data pipelines need the document ORDER randomized — and that
    order re-derivable for any epoch, on any cluster layout, years later
    (curriculum audits, resume-from-step, loss-spike forensics). RNG
    shuffles (``ORDER BY rand()``) give none of that. Here the order key
    is a seeded md5 draw over the row key — a pure projection — so the
    permutation is a function of (seed, epoch, key) alone:

    - **Layout-invariant**: input partitioning cannot change the result
      (pinned by test); reruns and backfills reproduce it bit-exact.
    - **Distributed**: the 1-based ``position`` comes from the
      range-partitioned prefix-sum (``selection.global_cumsum`` — no
      single-partition window anywhere); ``num_partitions`` sizes the
      range exchange (raise it ∝ corpus at scale).
    - **Writable**: feed ``(u_col, key_col)`` to ``io.write_sorted`` to
      lay the shuffled corpus down as range-clustered parquet readers
      stream in shuffled order.

    The draw is total-ordered by ``(u, key)`` — the key tiebreak makes
    64-bit collisions harmless. The SORT runs on the draw's biased-long
    image (order-identical — round 16); ``u_col`` is reconstructed to
    the exact u64 DECIMAL at the output projection, where consumers
    that drop it (both graded queries) prune the reconstruction away.
    """
    key = F.col(key_col).cast("string")
    out = global_cumsum(
        df.withColumn(
            "__uord", _shuffle_u_biased(key, seed=seed, epoch=epoch)
        ).withColumn("__one", F.lit(1)),
        [F.col("__uord").asc(), F.col(key_col).asc()],
        "__one",
        out_col=position_col,
        num_partitions=num_partitions,
    )
    return out.select(
        *df.columns,
        xhash.biased_to_u64_dec(F.col("__uord"))
        .cast("decimal(20,0)")
        .alias(u_col),
        F.col(position_col).cast("long").alias(position_col),
    )


def epoch_slice_id(
    key: Column, n_slices: int, *, seed: str = "", epoch: int = 0
) -> Column:
    """Deterministic slice assignment for epoch-wise corpus consumption:
    ``md5-u64(slice seed, key) mod n_slices`` as INT. An independent
    draw from :func:`shuffle_u` (different seed tag), so slice membership
    and intra-slice order are uncorrelated."""
    # LONG-domain md5 mod (round 16): bit-identical to the DECIMAL mod
    # for every m ≤ 2^31 (tests/test_xhash.py), no per-row BigDecimal
    seeded = F.concat_ws(
        "\x1f", F.lit(f"slice-{seed}-epoch-{epoch}"), key
    )
    return xhash.md5_u64_mod(seeded, n_slices).cast("int")


def epoch_slice(
    df: DataFrame,
    key_col: str,
    n_slices: int,
    slice_idx: int,
    *,
    seed: str = "",
    epoch: int = 0,
) -> DataFrame:
    """One slice of the epoch's corpus — a PURE FILTER (no shuffle, no
    global state): slices are disjoint hash buckets covering the corpus
    (pinned by test), so N training jobs each read 1/N of the data with
    zero coordination, and a crashed job re-derives exactly its slice.
    Compose with :func:`corpus_shuffle` (same seed/epoch) for the
    within-slice order."""
    if not 0 <= slice_idx < n_slices:
        raise ValueError(f"slice_idx {slice_idx} not in [0, {n_slices})")
    key = F.col(key_col).cast("string")
    return df.filter(
        epoch_slice_id(key, n_slices, seed=seed, epoch=epoch)
        == F.lit(slice_idx)
    )


def curriculum_order(
    df: DataFrame,
    difficulty: Column,
    key_col: str,
    *,
    n_bands: int = 4,
    seed: str = "",
    epoch: int = 0,
    num_partitions: int = 16,
) -> DataFrame:
    """Curriculum ordering: rank by ``difficulty``, cut into ``n_bands``
    equal-size bands, shuffle WITHIN each band — the classic
    easy-to-hard schedule (shortest-first, quality-first, …) with
    randomization inside each difficulty level so the trainer never sees
    a difficulty-sorted (and therefore length/topic-correlated) stream.

    Everything is exact and layout-invariant: the difficulty rank and
    the final 1-based ``position`` both come from the distributed prefix
    sum (no single-partition window), band = ((rank−1)·n_bands) div n
    (pure integer arithmetic — bands differ by at most one row), and the
    within-band order is the seeded epoch draw (:func:`shuffle_u`), so
    every epoch re-randomizes within bands while the band structure
    stays fixed. Returns df + ``band`` + ``position``; sort/write by
    ``position`` for the training stream.
    """
    if n_bands < 1:
        raise ValueError(f"need n_bands >= 1, got {n_bands}")
    key = F.col(key_col).cast("string")
    ranked = global_cumsum(
        df.withColumn("__d", difficulty).withColumn("__one", F.lit(1)),
        [F.col("__d").asc(), F.col(key_col).asc()],
        "__one",
        out_col="__rk",
        num_partitions=num_partitions,
    )
    # the band denominator is just the row count — derive it from df,
    # NOT from `ranked`: a 1-row frame derived from the rank pass would
    # re-execute the whole range-repartition subtree at broadcast-build
    # time (the r13 tiny-derived-frame rule; PLANS.md read 24 exchanges
    # here). Materialized so the broadcast reads one in-memory row.
    # A/B isolated probes (r14 materialize audit): sf0.1 warm
    # 2.24 → 1.54 s / cold 3.47 → 1.86 s, sf1 warm 2.04 → 1.96 s —
    # kept (SCALING_HISTORY r14_materialize_audit).
    n = df.agg(F.count(F.lit(1)).alias("__n")).localCheckpoint(
        eager=True
    )
    banded = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "band",
            F.expr(f"CAST(((__rk - 1) * {int(n_bands)}) div __n AS INT)"),
        )
        # biased image: within-band ORDER only, never published (r16)
        .withColumn("__u", _shuffle_u_biased(key, seed=seed, epoch=epoch))
        .drop("__n", "__rk", "__d")
    )
    out = global_cumsum(
        banded,
        [F.col("band").asc(), F.col("__u").asc(), F.col(key_col).asc()],
        "__one",
        out_col="position",
        num_partitions=num_partitions,
    )
    return (
        out.drop("__one", "__u")
        .withColumn("position", F.col("position").cast("long"))
    )


# ---------------------------------------------------------------------------
# Mergeable sample sketches — the fourth face of the sketch family
# ---------------------------------------------------------------------------
# Distinct counts have HLL registers (operators/cardinality.py),
# frequencies have CMS cells (operators/frequency.py), quantiles have
# level-sample states (operators/qsketch.py) — and until round 12
# SAMPLES only had one-shot forms (sample_exact_k, weighted_sample_k)
# that rescan the corpus per question. These functions give samples the
# same treatment: per-group STATE rows that are kilobytes, merge by a
# pure order statistic (idempotent, associative, commutative — replay-
# and layout-proof like HLL's MAX, unlike CMS's linear SUM), and answer
# any union of groups (trailing windows, multi-day spans, streamed
# batches) without revisiting raw data.
#
# Uniform face: bottom-k by the md5 draw (the KMV construction) — the
# k kept keys are a uniform without-replacement sample of the group's
# distinct keys, and the k-th hash doubles as a KMV distinct-count
# estimator for free.
# Weighted face: priority sampling (Duffield–Lund–Thorup, "Priority
# sampling for estimation of arbitrary subset sums", JACM 2007) — keep
# the k+1 highest priorities w/u; any subset's weight mass is estimated
# unbiasedly by Σ max(w_i, τ) over sampled subset members, τ = the
# (k+1)-th priority.
#
# Numeric policy: hashes and ranks are exact integers; the weighted
# face's priority is ONE double multiply + divide of exactly-converted
# inputs (IEEE-exact, so bit-identical cross-engine — same discipline
# as weighted_sample_k's +0.5 draw), and every estimate is rounded to
# 6 dp before anything consumes or accumulates it.


def _sample_group(
    df: DataFrame, keys: list[str] | tuple[str, ...]
) -> tuple[DataFrame, list[str]]:
    """Uniform grouped/global handling: empty ``keys`` gets a constant
    group column (dropped by callers on output)."""
    if keys:
        return df, list(keys)
    return df.withColumn("__all", F.lit(0)), ["__all"]


def sample_state(
    df: DataFrame,
    keys: list[str] | tuple[str, ...],
    key_col: str,
    *,
    k: int,
    seed: str = "",
) -> DataFrame:
    """MERGEABLE per-group uniform-sample state: (``keys``…, h, v) —
    the k smallest md5 draws over the group's DISTINCT key values.

    This is the persistence/merge grain: union of groups = bottom-k of
    the pooled states (:func:`sample_fold`), which equals the one-shot
    state of the concatenated input EXACTLY — every key in the union's
    bottom-k is, a fortiori, in its own group's bottom-k, so per-day
    state tables answer any date range without rescanning raw data.
    The merge is an order statistic: idempotent (re-folding a state is
    a no-op), associative, commutative.

    Scale shape: one md5 projection, one distinct on (group, hash) —
    uniform keys, no skew — then the trim: the GLOBAL form (empty
    ``keys``) plans as TakeOrderedAndProject (per-partition heads merged
    on the driver — never a single-task window over the corpus, the
    same shape as cardinality.kmv_distinct); the grouped form is one
    group-keyed window (at 100 TB share its exchange with downstream
    per-group work, the sample_exact_k note). State is ≤ k rows per
    group — kilobytes.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # round 16: h is carried as the ORDER-PRESERVING biased long (u −
    # 2^63) — state h is only ever ordered, equality-folded, and
    # max-aggregated; sample_read reconstructs the exact u64 DECIMAL at
    # the published-threshold grain (biased_to_u64_dec). Bottom-k sets,
    # thresholds, and estimates are bit-identical (test-pinned).
    rows = (
        df.select(
            *keys, F.col(key_col).cast("string").alias("v")
        )
        .filter(F.col("v").isNotNull())
        .distinct()
        .withColumn("h", _sample_u_biased(F.col("v"), seed))
    )
    return _bottom_k(rows, keys, k)


#: fan-out of the grouped-trim pre-phase (below): per-group parallelism
#: becomes |groups|·shards instead of |groups|, and the final per-group
#: sort sees ≤ shards·k survivors instead of the whole group
_TRIM_SHARDS = 32


def _two_phase_grouped_trim(
    rows: DataFrame,
    keys: list[str] | tuple[str, ...],
    n: int,
    order,
    out_cols: list[str],
) -> DataFrame:
    """Per-group top/bottom-n as TWO windows — the order-statistic
    analog of map-side combine. A single per-group window caps
    parallelism at |groups| and sorts every group row in one task (at a
    coarse grain — 5 languages over a corpus — that is one core per
    language regardless of cluster size). Phase 1 trims to n per
    (group, content shard) — shard = md5 bucket of the value, layout-
    independent — so the corpus-sized sort runs on |groups|·shards
    tasks; phase 2 trims the ≤ shards·n survivors per group. The true
    per-group top-n is a subset of every shard-union, and the order
    (strict total order per group: the hash/priority ties only on
    identical (v, w), which the upstream DISTINCT removed), so the
    result is IDENTICAL to the one-window form — test-pinned."""
    # LONG-domain md5 mod (round 15): same value (the draw is
    # non-negative, so pmod ≡ %), no per-row BigDecimal
    shard = xhash.md5_u64_mod(F.col("v"), _TRIM_SHARDS).cast("int")
    w1 = Window.partitionBy(*keys, "__shard").orderBy(*order)
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        rows.withColumn("__shard", shard)
        .withColumn("__rk", F.row_number().over(w1))
        .filter(F.col("__rk") <= n)
        .withColumn("__rk2", F.row_number().over(w2))
        .filter(F.col("__rk2") <= n)
        .select(*keys, *out_cols)
    )


def _bottom_k(
    rows: DataFrame, keys: list[str] | tuple[str, ...], k: int
) -> DataFrame:
    """Trim (``keys``…, h, v) rows to the k smallest (h, v) per group:
    global = orderBy+limit (TakeOrderedAndProject — distributed top-k,
    no single-task window), grouped = the two-phase sharded trim (per-
    group parallelism no longer capped at |groups|)."""
    if not keys:
        return (
            rows.orderBy(F.col("h").asc(), F.col("v").asc())
            .limit(k)
            .select("h", "v")
        )
    return _two_phase_grouped_trim(
        rows,
        keys,
        k,
        [F.col("h").asc(), F.col("v").asc()],
        ["h", "v"],
    )


def sample_fold(
    states: DataFrame, keys: list[str] | tuple[str, ...], *, k: int
) -> DataFrame:
    """Merge sample states (``keys``…, h, v) — possibly unioned across
    source groups and relabeled (e.g. per-day states stamped with their
    window end) — back to bottom-k per group. Duplicate keys from
    overlapping source states collapse via DISTINCT (h is a pure
    function of v, so (h, v) pairs are identical wherever they came
    from); the result is valid state again, and equals the one-shot
    state of the concatenated inputs exactly."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return _bottom_k(
        states.select(*keys, "h", "v").distinct(), keys, k
    )


def sample_read(
    state: DataFrame, keys: list[str] | tuple[str, ...], *, k: int
) -> DataFrame:
    """Read a (possibly merged) state as the final sample: one row per
    (``keys``…, rk, v) with rk ∈ [1, k] by (h, v), plus the KMV
    distinct-count columns the bottom-k carries for free — n_kept,
    threshold (k-th hash when the sketch is full, else NULL), and
    estimate = (k-1)·2^64/threshold (exact = n_kept when not full):
    the same estimator as cardinality.kmv_distinct, ONE double division
    of exact integers rounded to 6 dp."""
    base, gkeys = _sample_group(sample_fold(state, keys, k=k), keys)
    w = Window.partitionBy(*gkeys).orderBy(
        F.col("h").asc(), F.col("v").asc()
    )
    ranked = base.withColumn("rk", F.row_number().over(w))
    gagg = ranked.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        # state h is the biased long; the published threshold is the
        # EXACT u64 DECIMAL reconstruction (round 16)
        xhash.biased_to_u64_dec(F.max("h")).alias("kth"),
    )
    est_full = (
        F.lit(float(k - 1)) * F.lit(float(TWO64))
        / F.col("threshold").cast("double")
    )
    stats = gagg.select(
        *gkeys,
        "n_kept",
        F.when(F.col("n_kept") >= k, F.col("kth"))
        .otherwise(F.lit(None))
        .cast("decimal(20,0)")
        .alias("threshold"),
    ).select(
        *gkeys,
        "n_kept",
        "threshold",
        F.round(
            F.when(F.col("threshold").isNotNull(), est_full).otherwise(
                F.col("n_kept").cast("double")
            ),
            6,
        ).alias("estimate"),
    )
    out = ranked.join(stats, gkeys).select(
        *gkeys,
        F.col("rk").cast("int").alias("rk"),
        "v",
        "n_kept",
        "threshold",
        "estimate",
    )
    return out.drop("__all") if not keys else out


def rolling_sample(
    df: DataFrame,
    date_col: str,
    key_col: str,
    *,
    k: int,
    window_days: int,
    seed: str = "",
) -> DataFrame:
    """Trailing-window uniform sample from MERGEABLE per-day state —
    the sample twin of cardinality's rolling HLL registers, frequency's
    rolling CMS cells, and qsketch's rolling level samples: the corpus
    is scanned ONCE into per-day bottom-k states (≤ k rows each), and
    every window is a state-union + re-rank, bounded by
    calendar · window_days · k — independent of corpus size. Because
    the bottom-k merge is exact, each window's sample IS the one-shot
    bottom-k of that window's distinct keys (test-pinned).

    Returns one row per (window_end, rk): (window_end, n_days, rk, v,
    n_kept, threshold, estimate, exact_distinct, rel_err), ordered by
    (window_end, rk). ``estimate`` is the free KMV distinct-count read
    of the window's sample; ``exact_distinct`` recomputes each window
    from raw rows (affordable at oracle scale, the thing the state
    exists to avoid at 100 TB) and ``rel_err`` is the realized relative
    error. Calendar-head windows fold fewer days — n_days reports it,
    same contract as rolling_distinct_hll."""
    # pinned: `days` and every window read consume the calendar-bounded
    # state (≤ days · k rows), and un-materialized each branch re-runs
    # the corpus-sized state build (the r10 materialize rule)
    state = sample_state(
        df, [date_col], key_col, k=k, seed=seed
    ).localCheckpoint(eager=True)
    days = state.select(date_col).distinct()
    sampled = sample_read(
        trailing_windows(state, days, window_days, date_col),
        ["window_end"],
        k=k,
    )
    n_days = (
        trailing_windows(days, days, window_days, date_col)
        .groupBy("window_end")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    )
    raw = df.select(
        date_col, F.col(key_col).cast("string").alias("v")
    ).filter(F.col("v").isNotNull())
    exact = (
        trailing_windows(raw, days, window_days, date_col)
        .groupBy("window_end")
        .agg(F.count_distinct("v").cast("long").alias("exact_distinct"))
    )
    return (
        sampled.join(F.broadcast(n_days), "window_end")
        .join(F.broadcast(exact), "window_end")
        .select(
            "window_end",
            "n_days",
            "rk",
            "v",
            "n_kept",
            "threshold",
            "estimate",
            "exact_distinct",
            pub_round(
                (F.col("estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("window_end", "rk")
    )


def _priority(w: Column, h_dbl: Column) -> Column:
    """Duffield–Lund–Thorup priority w/u as ONE IEEE-exact double
    expression: u = (h + 0.5)/2^64 ∈ (0,1) (the +0.5 edge trick shared
    with weighted_sample_k), so pri = w·2^64/(h + 0.5). ``h_dbl`` is
    the draw's nearest-double (:func:`_sample_u_double` — identical to
    the old DECIMAL→double cast) and ×,÷ are IEEE-specified, so the
    value is bit-identical in Spark and DuckDB — orderable without the
    rounding step transcendental keys need."""
    return (w.cast("double") * F.lit(float(TWO64))) / (
        h_dbl + F.lit(0.5)
    )


def weighted_sample_state(
    df: DataFrame,
    keys: list[str] | tuple[str, ...],
    key_col: str,
    weight_col: str,
    *,
    k: int,
    seed: str = "",
) -> DataFrame:
    """MERGEABLE per-group PRIORITY-sample state (Duffield–Lund–Thorup):
    (``keys``…, pri, v, w) — the k+1 HIGHEST priorities w/u over the
    group's distinct keys (the +1 row carries the estimator threshold).

    Union of groups = top-(k+1) of the pooled states
    (:func:`weighted_sample_fold`) — an order statistic like the
    uniform face's bottom-k: idempotent, associative, commutative, and
    exactly equal to the one-shot state of the concatenated input.
    Rows with NULL or non-positive weight are never selected; duplicate
    keys must carry equal weights (state merge dedups on (v, w) — keys
    re-observed with a DIFFERENT weight are distinct population units).

    Scale shape: one md5 projection + one distinct on (group, key,
    weight), one group-keyed window trim to k+1 rows. State is ≤ k+1
    rows per group.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rows = (
        df.select(
            *keys,
            F.col(key_col).cast("string").alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .filter(F.col("v").isNotNull() & (F.col("w") > 0))
        .distinct()
        .withColumn(
            "pri",
            _priority(F.col("w"), _sample_u_double(F.col("v"), seed)),
        )
    )
    return _top_k_priority(rows, keys, k + 1)


def _top_k_priority(
    rows: DataFrame, keys: list[str] | tuple[str, ...], n: int
) -> DataFrame:
    """Trim (``keys``…, pri, v, w) rows to the n highest (pri, -v) per
    group: global = orderBy+limit (TakeOrderedAndProject), grouped =
    the two-phase sharded trim — the priority dual of
    :func:`_bottom_k`."""
    if not keys:
        return (
            rows.orderBy(F.col("pri").desc(), F.col("v").asc())
            .limit(n)
            .select("pri", "v", "w")
        )
    return _two_phase_grouped_trim(
        rows,
        keys,
        n,
        [F.col("pri").desc(), F.col("v").asc()],
        ["pri", "v", "w"],
    )


def weighted_sample_fold(
    states: DataFrame, keys: list[str] | tuple[str, ...], *, k: int
) -> DataFrame:
    """Merge priority-sample states (``keys``…, pri, v, w) back to
    top-(k+1) per group; the exact dual of :func:`sample_fold` (pri is
    a pure function of (v, w), so overlapping states dedup losslessly
    on DISTINCT)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return _top_k_priority(
        states.select(*keys, "pri", "v", "w").distinct(), keys, k + 1
    )


def priority_mass(
    state: DataFrame, keys: list[str] | tuple[str, ...], *, k: int
) -> DataFrame:
    """Weight-mass estimate from a (possibly merged) priority-sample
    state: one row per group — (``keys``…, n_sample, tau, est_mass).

    The DLT estimator: with τ = the (k+1)-th priority (0 when the group
    fits inside k — the estimate is then EXACT), every sampled row
    (the top k) estimates its population weight as max(w, τ), and the
    group's total mass is Σ max(w_i, τ) — unbiased for any group, and
    for arbitrary subset sums when filtered before the aggregation.
    Per the numeric policy each term is rounded to 6 dp BEFORE the
    DECIMAL(38,6) accumulation (the public type stays double, like
    money_sum), so the sum is partition-order-invariant and replays
    bit-exactly in the oracle."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base, gkeys = _sample_group(
        weighted_sample_fold(state, keys, k=k), keys
    )
    w = Window.partitionBy(*gkeys).orderBy(
        F.col("pri").desc(), F.col("v").asc()
    )
    ranked = base.withColumn("__rk", F.row_number().over(w))
    tau = (
        ranked.filter(F.col("__rk") == k + 1)
        .select(*gkeys, F.col("pri").alias("tau"))
    )
    est_term = F.round(
        F.greatest(F.col("w"), F.col("tau")), 6
    ).cast("decimal(38,6)")
    out = (
        ranked.filter(F.col("__rk") <= k)
        .join(tau, gkeys, "left")
        .withColumn("tau", F.coalesce(F.col("tau"), F.lit(0.0)))
        .groupBy(*gkeys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sample"),
            F.round(F.max("tau"), 6).alias("tau"),
            F.sum(est_term).cast("double").alias("est_mass"),
        )
    )
    return out.drop("__all") if not keys else out


def inverse_cluster_sample(
    assign: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "cluster_size",
    *,
    seed: str = "",
) -> DataFrame:
    """Duplicate-aware (soft-dedup) sample: keep each row with probability
    1/cluster_size, so every near-duplicate cluster contributes ONE
    expected survivor regardless of how many copies the crawl collected —
    the standard downweighting alternative to hard dedup (keep-one loses
    benign template variation; keeping all lets 1000-copy boilerplate
    dominate the token mix).

    ``assign`` is a (id, …, cluster_size) frame — exactly what
    dedup.connected_components + a cluster-size window produce (the
    dup_clusters query). The draw is the family's deterministic md5-u64
    over the DOCUMENT id: membership is a pure per-row predicate
    (layout/rerun/engine invariant), and the keep test is integer-exact —
    keep iff u64 · size < 2^64 (≡ u < 2^64/size with no FP rounding;
    DECIMAL(20,0)·int stays far inside 38 digits). Unlike a keep-first
    hard dedup the survivor is hash-chosen, so no crawl-order bias, and
    clusters can contribute 0 or 2 — unbiased in expectation, which is
    what mixture arithmetic downstream needs.

    Scale shape: a pure projection+filter riding the dedup output the
    pipeline already computes — no extra shuffle, no window.

    Rows with NULL or non-positive ``cluster_size`` are DROPPED (a NULL
    size makes the keep test NULL, which filters like false): a doc
    with no cluster assignment has no defined keep probability — run
    the clustering first, or coalesce sizes to 1 upstream to treat
    unassigned docs as singletons.
    """
    key = F.col(id_col).cast("string")
    col = key if seed == "" else F.concat_ws("\x1f", F.lit(seed), key)
    hi, lo = xhash.md5_u64_hilo(col)
    s = F.col(size_col).cast("long")
    # LONG-domain keep test (round 16): with u = hi·2^32 + lo,
    # u·s < 2^64  ⟺  hi·s + floor(lo·s / 2^32) < 2^32 — write
    # u·s = C·2^32 + r with C = hi·s + (lo·s >> 32) and r = (lo·s) mod
    # 2^32 ∈ [0, 2^32): the value is < 2^64 iff C < 2^32. Every
    # intermediate stays under 2^63 for s ≤ 2^31 (hi, lo < 2^32);
    # clusters past 2^31 members fall back to the exact DECIMAL compare
    # (same integers, same verdict — the two branches are equivalent
    # for every size, test-pinned on the overlap).
    keep_long = (
        hi * s + F.shiftright(lo * s, 32)
    ) < F.lit(1 << 32)
    u_dec = _sample_u(key, seed)
    keep_dec = (u_dec * F.col(size_col).cast("decimal(19,0)")) < F.lit(
        str(TWO64)
    ).cast("decimal(21,0)")
    keep = F.when(s <= F.lit(1 << 31), keep_long).otherwise(keep_dec)
    return assign.filter(F.col(size_col) >= 1).filter(keep)
