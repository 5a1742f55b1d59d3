"""End-to-end retail pipeline composition (SURVEY §3, §7.2).

The reference's two Airflow DAGs re-expressed as pure ``(spark, date) →``
function composition — each stage one lazy DataFrame plan, materialized only
at its sink. An orchestrator (Airflow kept as-is per BASELINE) calls
``run_day`` per execution date; unlike the reference's hard-coded
CURRENT_DATE (retail_pipeline_assets.py:14), the date is a parameter, which
makes backfills (``run_backfill``) trivial.

Stage map (reference → here):

- load_raw_data_from_s3 (retail_pipeline_assets.py:34-53)  → ingest_day
- load_fact_table (:56-76)                                 → build_fact
- load_dim_user (:78-92) / load_dim_product (:94-123)      → build_dims
- load_dim_date (:125-142)                                 → build_dim_date
- agg_daily_metrics_to_s3 (retail_pipeline.py:28-105)      → build_marts
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_retail_etl_spark.functions.columns import split_hierarchy
from airflow_retail_etl_spark.io import (
    mart_path,
    promote_staging,
    write_mart,
    write_partitioned,
)
from airflow_retail_etl_spark.operators import marts, star
from airflow_retail_etl_spark.schemas import (
    DIM_PRODUCT_JOIN_SCHEMA,
    STAGING_TABLE_SCHEMA,
)
from airflow_retail_etl_spark.sources.csv_events import read_day_csv


@dataclass
class PipelineConfig:
    raw_root: str          # …/Day_Wise/YYYY-MM-DD/event.csv lives here
    warehouse_root: str    # bronze/silver tables (partitioned parquet)
    mart_root: str         # aggregates/<name>/dt=… marts
    calendar: tuple[str, str] = ("2019-10-01", "2020-03-31")
    funnel_types: tuple[str, str, str] = ("view", "cart", "purchase")
    dims_not_null: dict = field(
        default_factory=lambda: {"user": "user_id", "product": "product_id"}
    )


def ingest_day(spark: SparkSession, cfg: PipelineConfig, date: str) -> DataFrame:
    """Raw CSV → cleaned staging frame → bronze partition (idempotent)."""
    staging = read_day_csv(spark, cfg.raw_root, date)
    write_partitioned(
        staging.withColumn("dt", F.lit(date)),
        f"{cfg.warehouse_root}/staging_events",
    )
    return staging


def staging_table(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """The bronze table, read with its declared schema (no inference job)."""
    return spark.read.schema(STAGING_TABLE_SCHEMA).parquet(
        f"{cfg.warehouse_root}/staging_events"
    )


def build_fact(spark: SparkSession, cfg: PipelineConfig, date: str) -> DataFrame:
    """A1 rollup for one date partition → silver fact table partition."""
    view, cart, purchase = cfg.funnel_types
    day = staging_table(spark, cfg).filter(F.col("dt") == date)
    fact = star.fact_rollup(day, purchase_value=purchase)
    write_partitioned(
        fact.withColumn("dt", F.lit(date)), f"{cfg.warehouse_root}/fact_events"
    )
    return fact


def product_updates(day: DataFrame) -> DataFrame:
    """One row per non-null ``product_id`` of a staging slice (D2+D3):
    the smallest (category_code, brand, price, category_id), nulls first.

    One map-side-combined aggregation (``star.keep_first_agg``): the
    events feed repeats each product many times a day, and the combine
    shrinks that to one row per product and task before the only
    exchange. ``category_id`` as the last key decides between rows that
    agree on the other three.
    """
    return star.keep_first_agg(
        day.select(
            "product_id", "category_id", "category_code", "brand", "price"
        ).filter(F.col("product_id").isNotNull()),
        ["product_id"],
        ["category_code", "brand", "price", "category_id"],
    )


def build_dims(spark: SparkSession, cfg: PipelineConfig, date: str) -> dict[str, DataFrame]:
    """dim_user (D1) + dim_product (D2/D3/P6) from the date's staging slice."""
    day = staging_table(spark, cfg).filter(F.col("dt") == date)
    dim_user = star.build_dim(
        day, ["user_id", "user_session"], not_null=["user_id"]
    ).withColumn("updated_at", F.current_timestamp())

    cat, sub1, sub2 = split_hierarchy(F.col("category_code"))
    dim_product = product_updates(day).select(
        "*",
        cat.alias("category"),
        sub1.alias("sub_category1"),
        sub2.alias("sub_category2"),
    )
    out = {"dim_user": dim_user, "dim_product": dim_product}
    for name, df in out.items():
        write_partitioned(
            df.withColumn("dt", F.lit(date)), f"{cfg.warehouse_root}/{name}"
        )
    return out


#: O(1) previous-snapshot discovery for build_dims_incremental (round-13
#: verdict item 5 / SCALE.md known-limits): a tiny JSON file beside the
#: snapshot partitions holding every snapshot date. The leading
#: underscore keeps Spark's data-file discovery from reading it. Without
#: it, finding the previous snapshot costs a parquet scan whose
#: schema/footer work grows with history length.
_SNAPSHOT_POINTER = "_snapshot_dts.json"


def _snapshot_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def read_snapshot_dts(spark: SparkSession, path: str) -> list[str] | None:
    """Read the snapshot-date pointer — sorted ISO date strings — or
    None when the file is absent or unreadable (callers fall back to a
    physical listing and rewrite it; the pointer is a cache of the
    partition directory, never the source of truth)."""
    import json as _json

    jvm, fs = _snapshot_fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/{_SNAPSHOT_POINTER}")
    try:
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            raw = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return sorted(str(d) for d in _json.loads(raw)["dts"])
    except Exception:  # noqa: BLE001 — corrupt pointer ⇒ fallback scan
        return None


def write_snapshot_dts(
    spark: SparkSession, path: str, dts: list[str]
) -> None:
    """Atomically (temp + rename) write the snapshot-date pointer."""
    import json as _json

    jvm, fs = _snapshot_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}/.{_SNAPSHOT_POINTER}.tmp"
    )
    final = jvm.org.apache.hadoop.fs.Path(f"{path}/{_SNAPSHOT_POINTER}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(
            _json.dumps({"dts": sorted(set(dts))}).encode("utf-8")
        ))
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    fs.rename(tmp, final)


def _list_snapshot_dts(spark: SparkSession, path: str) -> list[str]:
    """Physical fallback: the dt= partition directory names (metadata
    listing only — no parquet footers; still O(#partitions), which is
    why the pointer exists)."""
    jvm, fs = _snapshot_fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return []
    return sorted(
        s.getPath().getName().split("=", 1)[1]
        for s in fs.listStatus(p)
        if s.getPath().getName().startswith("dt=")
    )


def build_dims_incremental(
    spark: SparkSession, cfg: PipelineConfig, date: str
) -> dict[str, DataFrame]:
    """Incremental (MERGE-style) dim maintenance: each run writes a new
    snapshot partition ``dt=date`` holding the FULL merged dim state =
    upsert_dim(previous snapshot, today's updates).

    Versus build_dims (per-day slices, reference semantics): a reader gets
    the complete dimension from the single latest snapshot, attribute
    changes update survivors in place (SCD-1), and re-running a date is
    idempotent (dynamic partition overwrite of that snapshot). Old
    snapshots double as time travel and can be vacuumed. At 100 TB the
    snapshot write is the only full-dim materialization, and it's
    shuffle-partitioned by the dim key.
    """
    day = staging_table(spark, cfg).filter(F.col("dt") == date)
    updates_user = star.build_dim(
        day, ["user_id", "user_session"], not_null=["user_id"]
    )
    updates_product = product_updates(day)
    spec = {
        "dim_user_scd": (updates_user, ["user_id", "user_session"], []),
        "dim_product_scd": (
            updates_product,
            ["product_id"],
            ["category_code", "brand", "price"],
        ),
    }
    out: dict[str, DataFrame] = {}
    for name, (updates, keys, order) in spec.items():
        path = f"{cfg.warehouse_root}/{name}"
        # O(1) previous-snapshot lookup via the pointer file; fall back
        # to a physical partition listing (first run, pre-pointer
        # warehouse, or corrupt pointer) and let the write below rebuild
        # it. Lexicographic compare is date order for ISO dt strings.
        dts = read_snapshot_dts(spark, path)
        if dts is None:
            dts = _list_snapshot_dts(spark, path)
        prev_dt = max((d for d in dts if d < date), default=None)
        # the pointer is a CACHE of the partition directory: a snapshot
        # removed externally (manual vacuum, retention job elsewhere)
        # leaves a stale entry that would route the merge at a
        # nonexistent dt= partition. Validate the pick against the
        # filesystem and self-heal — relist and rewrite the pointer —
        # exactly like the old physical-scan path did.
        if prev_dt is not None:
            jvm, fs = _snapshot_fs(spark, path)
            part = jvm.org.apache.hadoop.fs.Path(f"{path}/dt={prev_dt}")
            if not fs.exists(part):
                dts = _list_snapshot_dts(spark, path)
                write_snapshot_dts(spark, path, dts)
                prev_dt = max((d for d in dts if d < date), default=None)
        if prev_dt is None:
            merged = updates
        else:
            prev = spark.read.parquet(path).filter(
                F.col("dt") == prev_dt
            ).drop("dt")
            merged = star.upsert_dim(prev, updates, keys, order)
        write_partitioned(merged.withColumn("dt", F.lit(date)), path)
        write_snapshot_dts(spark, path, [*dts, date])
        out[name] = merged
    return out


def compact_dim_snapshots(
    spark: SparkSession,
    cfg: PipelineConfig,
    name: str,
    keys: list[str],
    *,
    attrs: list[str] | None = None,
    keep_last: int = 2,
    history_suffix: str = "_history",
) -> dict:
    """Retention for build_dims_incremental's full-state snapshots.

    Snapshot-per-date is the Spark-native MERGE substitute (no
    Delta/Iceberg in this stack), but storage grows linearly with days.
    Compaction bounds it: fold snapshot dates into a durable SCD-2
    history table (``{name}{history_suffix}``), then physically drop
    every snapshot partition except the newest ``keep_last``.

    Invariants (pinned by tests/test_pipeline.py):

    - merge continuity: build_dims_incremental merges against the
      LATEST snapshot, which is always retained, so post-compaction
      merges equal the uncompacted warehouse's byte-for-byte;
    - time travel survives: for a dropped date d,
      ``scd2_current(scd2_asof(history, d))`` reproduces snapshot d's
      rows exactly (``attrs`` defaults to every non-key column, so
      nothing is lost in the fold);
    - incremental + idempotent: only snapshot dates newer than the
      history's last effective_from are folded (scd2_upsert per date,
      ascending); re-running compaction is a no-op.

    At scale: the history table is change-grain (rows only when an
    attribute actually changed) — the durable record stays far smaller
    than the snapshots it replaces; the fold is one key-shuffle per new
    date over dim-sized data.
    """
    from airflow_retail_etl_spark.operators import scd

    if keep_last < 1:
        raise ValueError(
            "keep_last must be >= 1: the latest snapshot is the merge "
            "base for build_dims_incremental"
        )
    path = f"{cfg.warehouse_root}/{name}"
    hist_path = f"{path}{history_suffix}"
    jvm = spark._jvm
    hadoop_conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hadoop_conf)

    dts = sorted(
        s.getPath().getName().split("=", 1)[1]
        for s in fs.listStatus(root)
        if s.getPath().getName().startswith("dt=")
    )
    if not dts:
        return {"kept": [], "dropped": [], "history_path": hist_path}

    snaps = spark.read.parquet(path)
    if attrs is None:
        attrs = [c for c in snaps.columns if c not in {*keys, "dt"}]

    hist = None
    folded_through = None
    if fs.exists(jvm.org.apache.hadoop.fs.Path(hist_path)):
        hist = spark.read.parquet(hist_path)
        last = hist.agg(F.max("effective_from")).first()[0]
        folded_through = str(last) if last is not None else None
    new_dts = [d for d in dts if folded_through is None or d > folded_through]

    if new_dts:
        if hist is None:
            hist = scd.scd2_from_snapshots(
                snaps.select(*keys, *attrs, "dt"), keys, attrs, "dt"
            )
        else:
            eff_t = hist.schema["effective_from"].dataType
            for d in new_dts:
                batch = snaps.filter(F.col("dt") == d).select(*keys, *attrs)
                hist = scd.scd2_upsert(
                    hist, batch, keys, attrs, F.lit(d).cast(eff_t)
                )
        # the new history reads from the old history files: stage to a
        # temp dir, then swap with io.promote_staging — never overwrite
        # an input in place, and never delete-before-rename (a crash
        # between the two would leave NO live history; the promote moves
        # the old table aside first, so every crash point leaves a full
        # copy under a deterministic name)
        hist.write.mode("overwrite").parquet(f"{hist_path}__staging")
        promote_staging(spark, f"{hist_path}__staging", hist_path)

    dropped = dts[:-keep_last]
    kept = dts[len(dropped):]
    for d in dropped:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/dt={d}"), True)
    # keep the O(1)-lookup pointer consistent with the physical drops
    # (a stale pointer would route the next merge at a dropped date's
    # predecessor to a partition that no longer exists)
    write_snapshot_dts(spark, path, kept)
    return {"kept": kept, "dropped": dropped, "history_path": hist_path}


def build_dim_date(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Run-once calendar dimension (@once asset)."""
    cal = star.dim_date(spark, *cfg.calendar)
    cal.write.mode("overwrite").parquet(f"{cfg.warehouse_root}/dim_date")
    return cal


class Marts(dict):
    """``build_marts``' frames by mart name, plus ``rows``: the number of
    rows each mart's write put in its ``dt=`` partition (0 = none)."""

    def __init__(self, frames: dict[str, DataFrame], rows: dict[str, int]):
        super().__init__(frames)
        self.rows = rows


def build_marts(spark: SparkSession, cfg: PipelineConfig, date: str) -> Marts:
    """Three KPI marts for one date → partitioned mart parquet (K2).

    Each mart's plan runs once, in its write; the writes count their own
    rows (``io.write_mart``), and a mart with no rows leaves its ``dt=``
    partition as it was (the reference's skip-when-empty,
    retail_pipeline.py:79). ``top_brands_by_revenue`` is taken from the
    funnel partition just written rather than by re-running the funnel's
    scan, join and aggregation; when the funnel wrote nothing, neither
    mart is written.
    """
    view, cart, purchase = cfg.funnel_types
    day = staging_table(spark, cfg).filter(F.col("dt") == date)
    dim_product = spark.read.schema(DIM_PRODUCT_JOIN_SCHEMA).parquet(
        f"{cfg.warehouse_root}/dim_product"
    ).filter(F.col("dt") == date).drop("dt")

    revenue = marts.daily_revenue_summary(
        day, view_value=view, cart_value=cart, purchase_value=purchase
    )
    # project the event side to the join key + measures only: avoids column
    # ambiguity with the dim's brand/category_code and keeps the broadcast
    # join input narrow
    funnel = marts.funnel_by_dim(
        day.select("event_date", "event_type", "price", "product_id"),
        dim_product,
        view_value=view,
        cart_value=cart,
        purchase_value=purchase,
    )
    rows = {
        "daily_revenue_summary": write_mart(
            revenue, cfg.mart_root, "daily_revenue_summary", date
        ),
        "daily_funnel_by_brand": write_mart(
            funnel, cfg.mart_root, "daily_funnel_by_brand", date
        ),
    }
    if rows["daily_funnel_by_brand"]:
        # funnel.schema is analysis only; the declared schema spares the
        # read a footer-inference job
        funnel = spark.read.schema(funnel.schema).parquet(
            f"{mart_path(cfg.mart_root, 'daily_funnel_by_brand')}/dt={date}"
        )
    # reference grain: head(10) of the (date, brand, category_code) funnel
    # frame itself (retail_pipeline.py:73), not a brand-level re-aggregation;
    # tiebreak pins the survivor set where pandas' head() order was accidental
    top_brands = marts.top_k(
        funnel, "revenue", 10, tiebreak=["brand", "category_code"]
    )
    rows["top_brands_by_revenue"] = (
        write_mart(top_brands, cfg.mart_root, "top_brands_by_revenue", date)
        if rows["daily_funnel_by_brand"]
        else 0
    )
    return Marts(
        {
            "daily_revenue_summary": revenue,
            "daily_funnel_by_brand": funnel,
            "top_brands_by_revenue": top_brands,
        },
        rows,
    )


def run_day(spark: SparkSession, cfg: PipelineConfig, date: str) -> Marts:
    """One execution date end-to-end: ingest → fact+dims → marts."""
    ingest_day(spark, cfg, date)
    build_fact(spark, cfg, date)
    build_dims(spark, cfg, date)
    return build_marts(spark, cfg, date)


def run_backfill(
    spark: SparkSession, cfg: PipelineConfig, dates: list[str]
) -> None:
    """Multi-day backfill — per-date idempotent partition overwrites, so
    re-running any date is safe (the semantics the reference's whole-table
    replace was approximating)."""
    for date in dates:
        run_day(spark, cfg, date)
