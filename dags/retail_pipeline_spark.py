"""Airflow wrappers over the Spark engine (orchestration parity).

The reference keeps Airflow as the orchestrator (BASELINE: "Spark SQL +
Airflow orchestration"); this module is the drop-in DAG pair — the engine
stays pure ``(spark, date) →`` functions in
``airflow_retail_etl_spark.pipeline`` and these tasks are thin shims:

- reference ``retail_pipeline_assets.py`` (asset DAG: ingest → fact/dims) →
  ``retail_pipeline_assets`` here, with the asset dependency chain expressed
  as task ordering and — unlike the reference's hard-coded CURRENT_DATE
  (retail_pipeline_assets.py:14) — the Airflow logical date driving every
  stage.
- reference ``retail_pipeline.py`` (mart DAG + Glue crawler) →
  ``retail_marts`` here; the crawler task disappears because
  ``saveAsTable``/partitioned writes register in the Spark catalog (K3).
- the historical branch operator (choose_branch, recovered from bytecode)
  maps to an Airflow ``BranchPythonOperator`` on the mart-write result.

Airflow is not installed in this environment; everything is import-gated so
the module is importable (and the task callables testable) without it.
"""

from __future__ import annotations

import os
from datetime import datetime

from airflow_retail_etl_spark.pipeline import (
    PipelineConfig,
    build_dim_date,
    build_dims,
    build_fact,
    build_marts,
    ingest_day,
)
from airflow_retail_etl_spark.session import get_spark

try:  # pragma: no cover - airflow not present in the test environment
    from airflow.decorators import dag, task

    HAVE_AIRFLOW = True
except ImportError:  # pragma: no cover
    HAVE_AIRFLOW = False


def default_config() -> PipelineConfig:
    root = os.environ.get("RETAIL_DATA_ROOT", "/data/retail")
    return PipelineConfig(
        raw_root=f"{root}/raw",
        warehouse_root=f"{root}/warehouse",
        mart_root=f"{root}/mart",
    )


# --- task callables (pure; test these without airflow) ---------------------


def task_ingest(date: str) -> int:
    spark = get_spark()
    return ingest_day(spark, default_config(), date).count()


def task_fact(date: str) -> None:
    build_fact(get_spark(), default_config(), date)


def task_dims(date: str) -> None:
    build_dims(get_spark(), default_config(), date)


def task_dim_date() -> None:
    build_dim_date(get_spark(), default_config())


def task_marts(date: str) -> bool:
    """True when every mart wrote rows for ``date`` (counted by the
    writes themselves; no mart plan is re-run to find out)."""
    return all(build_marts(get_spark(), default_config(), date).rows.values())


if HAVE_AIRFLOW:  # pragma: no cover - wiring only

    @dag(
        schedule="@daily",
        start_date=datetime(2019, 10, 1),
        catchup=True,
        tags=["retail", "spark"],
    )
    def retail_pipeline_assets():
        @task
        def ingest(ds: str | None = None) -> str:
            task_ingest(ds)
            return ds

        @task
        def fact(ds: str) -> str:
            task_fact(ds)
            return ds

        @task
        def dims(ds: str) -> str:
            task_dims(ds)
            return ds

        d = ingest()
        fact(d)
        dims(d)

    @dag(
        schedule="@daily",
        start_date=datetime(2019, 10, 1),
        catchup=True,
        tags=["retail", "spark"],
    )
    def retail_marts():
        @task.branch
        def choose_branch(ok: bool) -> str:
            return "task_complete_notification" if ok else "task_failed_notification"

        @task
        def marts(ds: str | None = None) -> bool:
            return task_marts(ds)

        @task
        def task_complete_notification():
            print("mart refresh complete")

        @task
        def task_failed_notification():
            print("mart refresh failed")

        br = choose_branch(marts())
        br >> [task_complete_notification(), task_failed_notification()]

    retail_pipeline_assets()
    retail_marts()
