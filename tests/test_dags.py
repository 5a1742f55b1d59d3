"""The Airflow DAG module must be importable and its task callables runnable
without Airflow installed (import-gated wiring)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo/dags")

import pytest

import retail_pipeline_spark as dagmod

HEADER = (
    "event_time,event_type,product_id,category_id,category_code,"
    "brand,price,user_id,user_session\n"
)
ROW = "2019-10-07 10:00:00,purchase,7,1,a.b,acme,12.50,42,s-42\n"


@pytest.fixture()
def data_root(tmp_path, monkeypatch):
    day = tmp_path / "raw" / "Day_Wise" / "2019-10-07"
    day.mkdir(parents=True)
    (day / "event.csv").write_text(HEADER + ROW)
    monkeypatch.setenv("RETAIL_DATA_ROOT", str(tmp_path))
    return tmp_path


def test_airflow_gate(spark):
    assert dagmod.HAVE_AIRFLOW is False  # env has no airflow — gate works


def test_task_callables_end_to_end(spark, data_root):
    assert dagmod.task_ingest("2019-10-07") == 1
    dagmod.task_fact("2019-10-07")
    dagmod.task_dims("2019-10-07")
    assert dagmod.task_marts("2019-10-07") is True
    mart = spark.read.parquet(
        str(data_root / "mart" / "aggregates" / "daily_revenue_summary")
    )
    assert mart.first()["revenue"] == 12.5


def test_task_marts_false_when_a_mart_writes_nothing(spark, data_root):
    """A day whose rows have no product_id writes no funnel rows, so the
    mart task reports failure from the writes' own row counts."""
    day = data_root / "raw" / "Day_Wise" / "2019-10-08"
    day.mkdir(parents=True)
    (day / "event.csv").write_text(
        HEADER + "2019-10-08 10:00:00,purchase,,1,a.b,acme,12.50,42,s-42\n"
    )
    dagmod.task_ingest("2019-10-08")
    dagmod.task_fact("2019-10-08")
    dagmod.task_dims("2019-10-08")
    assert dagmod.task_marts("2019-10-08") is False
