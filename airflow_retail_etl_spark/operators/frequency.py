"""Cross-engine-replicable count-min sketch + sketch-pruned heavy hitters.

Extension surface beyond the reference (which counts frequencies exactly
in Postgres GROUP BYs — `/root/reference/dags/retail_pipeline.py:36-45`
is the same count-per-key shape): at 100 TB the frequent-item question
("which tokens / n-grams / URLs appear ≥ T times?") cannot start with a
full key-grain shuffle — token grain is orders of magnitude larger than
the heavy tail it is asked about. The classic answer is the count-min
sketch (Cormode & Muthukrishnan 2005): a depth×width counter matrix
updated at d hashed positions per occurrence, estimating any key's count
as the MIN of its d counters — always an OVERestimate (collisions only
add), never an underestimate, so a sketch-side threshold prunes with
ZERO false negatives and the exact verification runs only on survivors.

Like the rest of this sketch family (`operators/cardinality.py` KMV/HLL,
`functions/bloom.py`), the sketch is deterministic and engine-portable:
positions come from Kirsch–Mitzenmacher double hashing over the two md5
halves (`functions/xhash`), counters are exact integers from one
map-side-combined aggregation, so the SAME sketch — every counter,
every estimate — is reproducible bit-for-bit in Spark and DuckDB,
across partitionings and reruns. The estimates carry the standard CMS
guarantee: true ≤ est ≤ true + εN with prob 1-δ at width=⌈e/ε⌉,
depth=⌈ln 1/δ⌉.

Scale shape:
- build: one linear projection (d positions per occurrence — no
  distinct, no key shuffle), one aggregation whose key space is bounded
  by depth·width (map-side combine ⇒ the shuffle carries ≤ depth·width
  rows per map partition regardless of input size), one dense-array
  fold identical to the Bloom word fold.
- probe: the one-row counter array broadcasts as DATA (32 KB at the
  defaults — never plan literals, the round-9 trap); each partition
  probes locally with a pure projection. The probed side never shuffles.
- heavy hitters: occurrences → map-side probe → filter est ≥ T →
  exact count. The only key-grain shuffle carries occurrences of
  candidate keys (Σ counts of keys whose est ≥ T) instead of the whole
  corpus — the sketch-prune-then-exact-verify pattern.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions import xhash
from airflow_retail_etl_spark.functions.columns import dense_array
from airflow_retail_etl_spark.functions.partitioning import spread
from airflow_retail_etl_spark.operators.mart_state import trailing_windows


def cms_build(
    values: DataFrame,
    col: str,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """One-row DataFrame (counters: array<long>, width, depth) holding
    the count-min sketch of ``values[col]`` occurrences (nulls ignored).

    ``counters`` is row-major: row j's counter for position p sits at
    index j·width + p (1-based ``element_at`` offset applied at probe
    time). Dense by construction: :func:`cms_from_cells` collects the
    sparse cells as an idx → count map and reads it at every index,
    absent cells as 0 (depth·width values, driver-safe at any input
    size).

    The sketch is LINEAR: cms(A ⊎ B) = cms(A) + cms(B) element-wise, so
    shards build independently and merge with one ``zip_with(+)``
    (test-pinned). NULL never increments — the estimate of a NULL key is
    undefined, matching the Bloom probe's null verdict.
    """
    cells = cms_cells(values, col, width=width, depth=depth)
    return cms_from_cells(cells, width=width, depth=depth)


def cms_cells(
    values: DataFrame,
    col: str,
    *,
    group_cols: Sequence[str] = (),
    weight_col: str | None = None,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Sparse CMS cells of ``values[col]`` occurrences: (*group_cols,
    idx, c) with row-major idx = j·width + pos, one sketch per
    ``group_cols`` value — the sketch's MERGE/PERSISTENCE grain (absent
    cells are zero by omission; a probed key's own occurrences
    guarantee its d cells exist, so inner probe joins never miss).
    Because the sketch is linear, cell frames from any sharding of the
    data (days, batches, shards) combine by summing c per idx — never
    revisiting the data; :func:`cms_from_cells` densifies any such
    union of ungrouped cells into the probe form.

    ``weight_col``: each row counts as that many occurrences, so cells
    off a pre-aggregated (group, value, n) grain are IDENTICAL to cells
    off the raw occurrence stream (test-pinned) — the weighted-grain
    contraction the grouped heavy hitters run on."""
    keep = [*group_cols, *([weight_col] if weight_col else [])]
    v = values.select(
        *keep, F.col(col).cast("string").alias("v")
    ).filter(F.col("v").isNotNull())
    # halves bound BELOW the generate: explode evaluates each array
    # element's tree independently, so inlined positions would hash
    # every row depth times (round 15; explode_outer ≡ explode — the
    # array is a non-empty literal construction — and dodges the
    # InferFiltersFromGenerate re-inlining trap)
    hv = xhash.with_km_halves(v, F.col("v"))
    pos = hv.select(
        *keep,
        F.explode_outer(
            F.array(
                *[
                    (F.lit(j * width) + p).cast("long")
                    for j, p in enumerate(xhash.bound_positions(depth, width))
                ]
            )
        ).alias("idx"),
    )
    # coalesce pins the non-nullable schema count(1) has (a group is
    # never empty, so the 0 branch is unreachable)
    c = (
        F.coalesce(F.sum(weight_col), F.lit(0).cast("long"))
        if weight_col
        else F.count(F.lit(1))
    ).alias("c")
    return pos.groupBy(*group_cols, "idx").agg(c)


def cms_from_cells(
    cells: DataFrame,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Densify sparse (idx, c) cells — possibly a UNION of several
    shards'/batches' cell frames, overlapping in idx — into the one-row
    (counters, width, depth) probe form: sum per idx (the linear
    merge), collect the sums as one idx → count map, and read it at
    every index in [0, depth·width) with absent cells at 0
    (``functions.columns.dense_array``; driver-safe)."""
    summed = cells.groupBy("idx").agg(F.sum("c").cast("long").alias("c"))
    m = summed.agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "c"))).alias("m")
    )
    return m.select(
        dense_array(
            F.col("m"), F.lit(0), F.lit(depth * width - 1), 0
        ).alias("counters"),
        F.lit(width).cast("int").alias("width"),
        F.lit(depth).cast("int").alias("depth"),
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two CMS sketches of IDENTICAL (width, depth): element-wise
    counter sum (the sketch is linear — cms(A ⊎ B) = cms(A) + cms(B)),
    so shards/partitions/days build independently and combine without
    revisiting data. One zip_with over two one-row frames."""
    return (
        a.select(
            F.col("counters").alias("__a"), "width", "depth"
        )
        .join(
            b.select(
                F.col("counters").alias("__b"),
                F.col("width").alias("__wb"),
                F.col("depth").alias("__db"),
            ),
            (F.col("width") == F.col("__wb"))
            & (F.col("depth") == F.col("__db")),
        )
        .select(
            F.zip_with(
                "__a", "__b", lambda x, y: x + y
            ).alias("counters"),
            "width",
            "depth",
        )
    )


def cms_probe(
    df: DataFrame,
    col: str,
    cms: DataFrame,
    *,
    width: int = 1024,
    depth: int = 4,
    est_col: str = "cms_est",
) -> DataFrame:
    """``df`` plus a long ``est_col``: the CMS count estimate of the
    row's ``col`` value (min over the d row counters; NULL for NULL
    keys). ``width``/``depth`` must match the build (they ride the
    sketch row too; literals here keep the probe a pure projection).
    The one-row sketch cross-joins broadcast — each partition probes
    locally, the probed side never shuffles."""
    # positions bound as COLUMNS below the cross join (round 15): a
    # caller's filter on est is substituted by PushDownPredicates and
    # sunk into the broadcast cross join's condition — with inline
    # positions that re-evaluated the whole d-position md5 tree per row
    # there; off bound columns the duplicated predicate is just
    # element_at/least, which is nearly free. (A nondeterministic
    # "seal" of est was measured WORSE — it pins one evaluation but
    # knocks the projection out of codegen subexpression elimination:
    # probe stage 40-61 s vs 21 s CPU at sf0.1.)
    pcols = [f"__cmspos{j}" for j in range(depth)]
    hv = xhash.with_km_halves(df, F.col(col).cast("string")).select(
        "*",
        *[
            p.alias(n)
            for n, p in zip(pcols, xhash.bound_positions(depth, width))
        ],
    ).drop(*xhash.KM_COLS)
    probed = hv.crossJoin(
        F.broadcast(cms.select(F.col("counters").alias("__cms_counters")))
    )
    est = F.least(
        *[
            F.element_at(
                F.col("__cms_counters"),
                (F.lit(j * width + 1) + F.col(pcols[j])).cast("int"),
            )
            for j in range(depth)
        ]
    )
    return probed.withColumn(
        est_col,
        F.when(F.col(col).isNotNull(), est).cast("long"),
    ).drop("__cms_counters", *pcols)


def heavy_hitters(
    occurrences: DataFrame,
    col: str,
    *,
    threshold: int | None = None,
    threshold_frac: float | None = None,
    width: int = 1024,
    depth: int = 4,
    cms: DataFrame | None = None,
) -> DataFrame:
    """Exact heavy hitters via sketch pruning: every value of ``col``
    whose EXACT occurrence count ≥ ``threshold``, as
    (value, n_exact, cms_est), ordered by (n_exact DESC, value).

    Two passes over the occurrence stream, neither key-grain:
    1. build the CMS (bounded-key aggregation);
    2. probe each occurrence map-side and keep rows with
       est ≥ threshold — LOSSLESS, because est ≥ true for every key, so
       every occurrence of a truly-heavy key survives (and all-or-none
       per key: the estimate is a function of the value alone).
    The exact count then shuffles only surviving occurrences; a final
    ``n_exact ≥ threshold`` filter drops the sketch's false positives.
    Output is therefore EXACT (sketch-independent), with ``cms_est``
    reported per value as the sketch's audit column (est ≥ n_exact
    always; equality iff the key's d counters are collision-free).

    Pass EXACTLY ONE of ``threshold`` (absolute count) or
    ``threshold_frac`` (fraction of total occurrences — the scale-safe
    definition: an absolute cut saturates as the corpus grows, passing
    ~every key and degrading the prune to a full key-grain shuffle; a
    fractional cut stays selective at any size, measured at sf10 in
    SCALING_HISTORY round 10). The fraction resolves to
    ``max(1, ceil(frac · N))`` via one count — a driver-side SCALAR of
    the same control-flow class as pagerank's node count, not a data
    collect.
    """
    _check_threshold(threshold, threshold_frac)
    if threshold_frac is not None:
        n = occurrences.filter(F.col(col).isNotNull()).count()
        threshold = max(1, math.ceil(threshold_frac * n))
    if cms is None:
        cms = cms_build(occurrences, col, width=width, depth=depth)
    else:
        # a prebuilt sketch of the SAME occurrence multiset (e.g. the
        # streaming fold_cells store of cms_cells summed across batches —
        # bit-identical to the one-shot build because counter sums are
        # exact integers under any grouping). Its geometry MUST match the
        # probe's: mismatched width/depth reads the wrong counter cells,
        # silently voiding the lossless-prune guarantee (est ≥ true) —
        # check the sketch row's own width/depth columns (round-11
        # advice). Materialize the one-row sketch first so the check and
        # the probe's broadcast share one execution of its build subtree
        # (the round-10 materialize-before-broadcast rule).
        cms = cms.localCheckpoint(eager=True)
        geom = cms.select("width", "depth").first()
        if (geom["width"], geom["depth"]) != (width, depth):
            raise ValueError(
                f"prebuilt cms geometry {geom['width']}x{geom['depth']} "
                f"does not match probe width={width} depth={depth}"
            )
    survivors = cms_probe(
        occurrences.select(F.col(col).cast("string").alias("value")),
        "value",
        cms,
        width=width,
        depth=depth,
    ).filter(F.col("cms_est") >= threshold)
    return (
        survivors.groupBy("value")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.min("cms_est").alias("cms_est"),
        )
        .filter(F.col("n_exact") >= threshold)
        .orderBy(F.col("n_exact").desc(), F.col("value"))
    )


def _check_threshold(
    threshold: int | None, threshold_frac: float | None
) -> None:
    """Reject a heavy-hitter cut before any Spark job runs: exactly one
    of an absolute ``threshold`` ≥ 1 or a ``threshold_frac`` in
    (0, 1]."""
    if (threshold is None) == (threshold_frac is None):
        raise ValueError(
            "pass exactly one of threshold / threshold_frac"
        )
    if threshold_frac is not None and not 0.0 < threshold_frac <= 1.0:
        raise ValueError(
            f"threshold_frac must be in (0, 1], got {threshold_frac}"
        )
    if threshold is not None and threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")


def heavy_hitters_by(
    occurrences: DataFrame,
    col: str,
    group_col: str,
    *,
    threshold: int | None = None,
    threshold_frac: float | None = None,
    width: int = 1024,
    depth: int = 4,
    broadcast_cells: bool = True,
) -> DataFrame:
    """Per-group exact heavy hitters via grouped-CMS pruning: every
    (group, value) whose exact in-group count ≥ the group's threshold,
    as (group_col, value, n_exact, cms_est, threshold), ordered by
    (group, n_exact DESC, value). The per-domain boilerplate detector:
    "which n-grams dominate WITHIN each language/source" — a global cut
    either drowns small groups or floods large ones.

    ``threshold_frac`` resolves PER GROUP to
    ``greatest(1, ceil(frac · N_g))`` from one bounded group-total
    aggregation (the scale-safe cut — see :func:`heavy_hitters`);
    ``threshold`` applies one absolute count to every group. Exactly
    one of the two; both are checked before any Spark job runs.

    Scale shape: the sparse cell table (|groups| · depth · width rows,
    map-side combined) broadcasts into d map-side probe joins — the
    occurrence stream shuffles ONCE, contracted to the
    (group, value, n) grain with a map-side combine (round 16); the
    prune and the exact count run on that weighted grain, and the same
    overestimate guarantee makes the prune lossless per group.

    ``broadcast_cells`` sizes that design: the cell table is ~16 B ×
    |groups|·depth·width (≈ 1 GB at 10k groups × the defaults) — fine
    for language/source/tier grains, past executor broadcast budgets
    for very fine grains (per-URL-host). Set False there: the probes
    run as shuffle joins on (group, idx) — the occurrence stream
    shuffles d times pre-prune, which only pays when the group grain is
    too fine to broadcast AND the prune is selective; at that grain
    also consider a coarser grouping or the global sketch per shard."""
    grain = (
        occurrences.select(
            group_col, F.col(col).cast("string").alias("value")
        )
        .filter(F.col("value").isNotNull())
        .groupBy(group_col, "value")
        .agg(F.count(F.lit(1)).cast("long").alias("__w"))
    )
    return _weighted_heavy_hitters(
        grain,
        group_col,
        threshold=threshold,
        threshold_frac=threshold_frac,
        width=width,
        depth=depth,
        broadcast_cells=broadcast_cells,
    )


def rolling_heavy_hitters(
    occurrences: DataFrame,
    col: str,
    day_col: str,
    *,
    window_days: int = 7,
    threshold_frac: float,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Per-trailing-window exact heavy hitters — the rolling face of the
    sketch family (the CMS twin of ``cardinality.hll_registers``'
    rolling distinct): every value whose exact count inside
    [day − window_days + 1, day] is ≥
    greatest(1, ceil(frac · window occurrences)), one row per
    (window_end, value).

    A trailing window is just a group: the occurrences contract to the
    (day, value, n) grain, ``mart_state.trailing_windows`` tags each
    grain row with the ≤ ``window_days`` windows containing its day,
    and the tagged rows sum to the (window_end, value, n) grain that
    the grouped engine of :func:`heavy_hitters_by` runs on with
    ``window_end`` as the group. The CMS is linear and every aggregate
    is a sum, so each window's cells, threshold, estimates and exact
    counts equal those of the window's own occurrences, and the
    overestimate guarantee keeps the prune lossless per window.

    Cost: the sketch hashes the (window_end, value) grain — between the
    distinct (day, value) pairs and ``window_days`` times that (every
    value seen on one day only). The corpus itself is scanned once and
    shuffles once, already contracted.

    Returns (window_end, value, n_exact, cms_est, threshold) ordered by
    (window_end, n_exact DESC, value); windows exist for every day
    PRESENT in the data (leading windows are partial, like any
    trailing-window metric).
    """
    grain = (
        occurrences.select(
            F.col(day_col).alias("day"),
            F.col(col).cast("string").alias("value"),
        )
        .filter(F.col("value").isNotNull() & F.col("day").isNotNull())
        .groupBy("day", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("__w"))
    )
    windows = (
        trailing_windows(
            grain, grain.select("day").distinct(), window_days, "day"
        )
        .groupBy("window_end", "value")
        .agg(F.sum("__w").alias("__w"))
    )
    return _weighted_heavy_hitters(
        windows,
        "window_end",
        threshold=None,
        threshold_frac=threshold_frac,
        width=width,
        depth=depth,
        broadcast_cells=True,
    )


def _weighted_heavy_hitters(
    grain: DataFrame,
    group_col: str,
    *,
    threshold: int | None,
    threshold_frac: float | None,
    width: int,
    depth: int,
    broadcast_cells: bool,
) -> DataFrame:
    """The grouped heavy-hitter engine over a weighted
    (group_col, value, __w) grain, each row standing for __w
    occurrences of value in its group: per-group cells, per-group
    threshold, d probe joins on (group, idx), exact weight-sum verify.
    Output and arguments as :func:`heavy_hitters_by`."""
    _check_threshold(threshold, threshold_frac)
    # spread() pins the post-agg parallelism (AQE would coalesce the
    # small grain to one partition — AQE sizes by bytes, not rows);
    # the eager pin materializes the grain ONCE for the three passes it
    # feeds (cells, thresholds, probe), each of which re-executed the
    # whole single-task scan + aggregate subtree unpinned (round 16,
    # A/B measured; MEMORY_AND_DISK, so an at-scale grain spills)
    occ = spread(grain, "value").localCheckpoint(eager=True)
    # bounded rows off a corpus-sized subtree, materialized before the
    # broadcasts they feed (the round-10 rule)
    cells = cms_cells(
        occ, "value", group_cols=(group_col,), weight_col="__w",
        width=width, depth=depth,
    ).localCheckpoint(eager=True)
    if threshold_frac is not None:
        thr = occ.groupBy(group_col).agg(
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(
                    F.lit(threshold_frac)
                    * F.coalesce(F.sum("__w"), F.lit(0))
                ),
            ).alias("__thr")
        )
    else:
        thr = occ.select(group_col).distinct().select(
            group_col, F.lit(threshold).cast("long").alias("__thr")
        )
    thr = thr.localCheckpoint(eager=True)
    # positions bound ONCE before the join chain: a join-key expression
    # is evaluated per join, so inlined positions would hash every probe
    # row depth times across the d joins (round 15; the single
    # projection dedups the md5 via subexpression elimination)
    probed = xhash.with_km_halves(
        occ.join(F.broadcast(thr), group_col), F.col("value")
    ).select(
        "*",
        *[
            (F.lit(j * width) + p).cast("long").alias(f"__pos{j}")
            for j, p in enumerate(xhash.bound_positions(depth, width))
        ],
    )
    for j in range(depth):
        cj = cells.select(
            F.col(group_col).alias(f"__g{j}"),
            F.col("idx").alias(f"__i{j}"),
            F.col("c").alias(f"__c{j}"),
        )
        probed = probed.join(
            F.broadcast(cj) if broadcast_cells else cj,
            (F.col(group_col) == F.col(f"__g{j}"))
            & (F.col(f"__pos{j}") == F.col(f"__i{j}")),
        )
    survivors = probed.withColumn(
        "cms_est", F.least(*[F.col(f"__c{j}") for j in range(depth)])
    ).filter(F.col("cms_est") >= F.col("__thr"))
    return (
        survivors.groupBy(group_col, "value")
        .agg(
            # weight sum ≡ count(1) on the raw grain; coalesce pins
            # count's non-nullable schema
            F.coalesce(F.sum("__w"), F.lit(0))
            .cast("long")
            .alias("n_exact"),
            F.min("cms_est").alias("cms_est"),
            F.min("__thr").alias("threshold"),
        )
        .filter(F.col("n_exact") >= F.col("threshold"))
        .orderBy(group_col, F.col("n_exact").desc(), "value")
    )
