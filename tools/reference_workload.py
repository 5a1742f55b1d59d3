"""Replay the reference's own workload shape end-to-end, timed.

Synthesizes the reference's 31-day event feed (500k rows total, same
schema/null-rates/skew as data/raw/Day_Wise, see FIXTURES.md §A1), then runs
the full pipeline — ingest → fact/dims → three marts — for every day, the
exact work the reference's Airflow deployment did at ~3.2 s/day ingest +
~1.6 s fact + ~0.4-0.5 s/dim + mart queries (BASELINE.md).

Usage: python tools/reference_workload.py [n_days] [rows_per_day]
Prints one JSON line with per-stage totals: seconds and Spark jobs. Each
stage runs under its own job group, and the jobs are counted from the
groups after the run, so counting adds no action (exact while a run stays
under ``spark.ui.retainedJobs``, 1000 by default; 31 days run ~465 jobs).
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from airflow_retail_etl_spark import pipeline
from airflow_retail_etl_spark.session import get_spark

HEADER = (
    "event_time,event_type,product_id,category_id,category_code,"
    "brand,price,user_id,user_session\n"
)

CATS = ["electronics.smartphone", "electronics.audio.headphone",
        "appliances.kitchen", "apparel", ""]
BRANDS = ["samsung", "apple", "xiaomi", "huawei", ""]

#: what ``pipeline.run_day`` calls, in order
STAGES = ("ingest_day", "build_fact", "build_dims", "build_marts")


def synth_day(path: Path, date: str, rows: int, seed: int) -> None:
    # deterministic LCG — no RNG state; ~96/2.2/1.7% view/cart/purchase skew
    x = seed * 2654435761 % (2**32)
    lines = [HEADER]
    for i in range(rows):
        x = (1103515245 * x + 12345) % (2**31)
        r = x % 1000
        etype = "view" if r < 960 else ("cart" if r < 982 else "purchase")
        pid = 1000000 + x % 12000
        cat = CATS[x % len(CATS)]
        brand = BRANDS[(x >> 3) % len(BRANDS)]
        price = round((x % 100000) / 100.0, 2)
        uid = 500000000 + x % 20000
        hh, mm, ss = i * 86400 // rows // 3600, (i * 7) % 60, (i * 13) % 60
        lines.append(
            f"{date} {hh:02d}:{mm:02d}:{ss:02d},{etype},{pid},"
            f"205301{x % 9999},{cat},{brand},{price},{uid},s-{uid}-{x % 7}\n"
        )
    path.mkdir(parents=True, exist_ok=True)
    (path / "event.csv").write_text("".join(lines))


def main() -> None:
    n_days = int(sys.argv[1]) if len(sys.argv) > 1 else 31
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 16000
    root = Path(tempfile.mkdtemp(prefix="refwl_"))
    try:
        dates = [f"2019-10-{d:02d}" for d in range(1, n_days + 1)]
        for i, date in enumerate(dates):
            synth_day(root / "raw" / "Day_Wise" / date, date, rows, i + 1)

        spark = get_spark(master="local[8]", shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        cfg = pipeline.PipelineConfig(
            raw_root=str(root / "raw"),
            warehouse_root=str(root / "wh"),
            mart_root=str(root / "mart"),
        )
        sc = spark.sparkContext
        stage_s = dict.fromkeys(STAGES, 0.0)
        t0 = time.time()
        pipeline.build_dim_date(spark, cfg)
        for date in dates:
            for stage in STAGES:
                sc.setJobGroup(f"refwl-{stage}", stage)
                t = time.time()
                getattr(pipeline, stage)(spark, cfg, date)
                stage_s[stage] += time.time() - t
        total = time.time() - t0
        sc._jsc.clearJobGroup()
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stages = {
            stage: {
                "s": round(stage_s[stage], 2),
                "jobs": len(tracker.getJobIdsForGroup(f"refwl-{stage}")),
            }
            for stage in STAGES
        }

        n_staged = spark.read.parquet(f"{cfg.warehouse_root}/staging_events").count()
        n_mart = spark.read.parquet(
            f"{cfg.mart_root}/aggregates/daily_revenue_summary"
        ).count()
        print(
            json.dumps(
                {
                    "metric": "reference_workload_total",
                    "value": round(total, 2),
                    "unit": "sec",
                    "days": n_days,
                    "rows_ingested": n_staged,
                    "sec_per_day": round(total / n_days, 2),
                    "mart_rows": n_mart,
                    "stages": stages,
                    "reference_sec_per_day": "~6 (3.2 ingest + 1.6 fact + dims/marts)",
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
