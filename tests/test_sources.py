from __future__ import annotations

import datetime as dt

import pytest

from airflow_retail_etl_spark.sources.csv_events import (
    EmptyInputError,
    read_day_csv,
    read_events_csv,
    split_corrupt,
)
from airflow_retail_etl_spark.sources.tables import date_sequence, load_table

CSV_HEADER = (
    "event_time,event_type,product_id,category_id,category_code,"
    "brand,price,user_id,user_session\n"
)
ROW = (
    "2019-10-05 10:00:00,view,1003461,2053013555631882655,"
    "electronics.smartphone,xiaomi,489.07,520088904,abc-123\n"
)
ROW_NULLS = "2019-10-05 11:00:00,cart,1003461,2053013555631882655,,,10.00,520088904,abc-124\n"


def _write_day(tmp_path, date: str, body: str) -> str:
    day_dir = tmp_path / "Day_Wise" / date
    day_dir.mkdir(parents=True)
    (day_dir / "event.csv").write_text(body)
    return str(tmp_path)


def test_read_day_csv_clean_and_audit(spark, tmp_path):
    root = _write_day(tmp_path, "2019-10-05", CSV_HEADER + ROW + ROW_NULLS)
    df = read_day_csv(spark, root, "2019-10-05")
    rows = df.orderBy("event_time").collect()
    assert len(rows) == 2
    assert rows[0]["event_date"] == dt.date(2019, 10, 5)
    assert rows[0]["brand"] == "xiaomi"
    # P4 imputation on the null row
    assert rows[1]["category_code"] == "Unknown"
    assert rows[1]["brand"] == "Generic"
    assert rows[1]["loaded_at"] is not None


def test_read_day_csv_empty_guard(spark, tmp_path):
    root = _write_day(tmp_path, "2019-10-06", CSV_HEADER)
    with pytest.raises(EmptyInputError):
        read_day_csv(spark, root, "2019-10-06")
    assert read_day_csv(spark, root, "2019-10-06", allow_empty=True).isEmpty()


def test_corrupt_records_quarantined(spark, tmp_path):
    bad = "not-a-timestamp,view,xyz\n"
    path = tmp_path / "mixed.csv"
    path.write_text(CSV_HEADER + ROW + bad)
    df = read_events_csv(spark, str(path), keep_corrupt=True)
    clean, quarantine = split_corrupt(df)
    assert clean.count() == 1
    assert quarantine.count() == 1
    assert "not-a-timestamp" in quarantine.first()["_corrupt_record"]


def test_write_partitioned_bounds_file_count(spark, tmp_path):
    from airflow_retail_etl_spark.io import write_partitioned

    df = spark.createDataFrame(
        [("2019-10-01", i) for i in range(100)], ["dt", "v"]
    ).repartition(8)  # many tasks hold rows for the same partition
    path = str(tmp_path / "t")
    write_partitioned(df, path, files_per_partition=2)
    files = list((tmp_path / "t" / "dt=2019-10-01").glob("*.parquet"))
    assert 1 <= len(files) <= 2
    assert spark.read.parquet(path).count() == 100


def test_load_table_normalizes_nanos_timestamps(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    assert ev.filter(ev.ts.isNull()).isEmpty()


def _load_jobs(spark, sf_dir, name, tag):
    """(frame, Spark jobs run while building it) for one load_table."""
    sc = spark.sparkContext
    group = f"load-table-{name}-{tag}"
    sc.setJobGroup(group, name)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_schema_once_and_rereads_rewrites(spark, tmp_path):
    """The parquet schema is inferred on a table's first read only; a
    table rewritten in place with another schema is read with the new
    one, and the remembered schema equals a fresh inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [1, 2], "r_name": ["a", "b"]}), path)
    first, first_jobs = _load_jobs(spark, str(tmp_path), "region", "first")
    again, again_jobs = _load_jobs(spark, str(tmp_path), "region", "again")
    assert first_jobs >= 1 and again_jobs == 0
    assert again.schema == first.schema == spark.read.parquet(str(path)).schema
    assert again.collect() == first.collect()

    pq.write_table(
        pa.table({"r_regionkey": [3], "r_comment": ["new"], "r_x": [1.5]}),
        path,
    )
    rewritten = load_table(spark, str(tmp_path), "region")
    assert rewritten.columns == ["r_regionkey", "r_comment", "r_x"]
    assert [tuple(r) for r in rewritten.collect()] == [(3, "new", 1.5)]


def test_date_sequence_inclusive(spark):
    out = date_sequence(spark, "2019-10-01", "2019-10-03").collect()
    assert [str(r["date"]) for r in out] == [
        "2019-10-01",
        "2019-10-02",
        "2019-10-03",
    ]


def test_jdbc_read_options_unpartitioned_uses_query():
    from airflow_retail_etl_spark.sources.jdbc import jdbc_read_options

    opts = jdbc_read_options("jdbc:postgresql://h/db", "SELECT * FROM t")
    assert opts["query"] == "SELECT * FROM t"
    assert "partitionColumn" not in opts and "dbtable" not in opts


def test_jdbc_read_options_partitioned_uses_dbtable_subquery():
    # Spark rejects 'query' + 'partitionColumn' together; the partitioned
    # path must wrap the query as a dbtable derived table instead.
    from airflow_retail_etl_spark.sources.jdbc import jdbc_read_options

    opts = jdbc_read_options(
        "jdbc:postgresql://h/db",
        "SELECT id, v FROM t",
        partition_column="id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=4,
        properties={"fetchsize": "500"},
    )
    assert "query" not in opts
    # no leading underscore: Derby rejects it (tests/test_jdbc_live.py)
    assert opts["dbtable"] == "(SELECT id, v FROM t) AS spark_jdbc_src"
    assert opts["partitionColumn"] == "id"
    assert opts["lowerBound"] == "0"
    assert opts["upperBound"] == "1000"
    assert opts["numPartitions"] == "4"
    assert opts["fetchsize"] == "500"


def test_jdbc_read_options_partitioned_requires_bounds():
    from airflow_retail_etl_spark.sources.jdbc import jdbc_read_options

    with pytest.raises(ValueError):
        jdbc_read_options(
            "jdbc:postgresql://h/db", "SELECT 1", partition_column="id"
        )


def test_partsupp_derivation_matches_duckdb_and_flag_path(spark, sf_dir, tmp_path):
    """sources.tables.partsupp (round-8 verdict item 6): the derived
    table must be BIT-IDENTICAL to the DuckDB CTE both real-TPC-H
    oracles rebuild (same md5 halves/moduli/decimal pinning), refer only
    to (part, supp) pairs lineitem actually ships (referential
    integrity by construction), and flip to the file-backed read when a
    materialized partsupp.parquet exists."""
    import duckdb

    from airflow_retail_etl_spark.sources import tables

    ps = tables.partsupp(spark, sf_dir)
    rows_s = sorted(
        (r.ps_partkey, r.ps_suppkey, r.ps_availqty, str(r.ps_supplycost))
        for r in ps.collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    rows_d = sorted(
        (a, b, c, str(d))
        for a, b, c, d in con.sql(tables.partsupp_duck_cte()).fetchall()
    )
    assert rows_s == rows_d
    assert all(1 <= q <= 9999 for _, _, q, _ in rows_s)

    # flag path: materialized file wins and round-trips identically
    import shutil

    alt = str(tmp_path / "sf")
    shutil.copytree(sf_dir, alt)
    ps.write.mode("overwrite").parquet(f"{alt}/partsupp.parquet")
    from_file = tables.partsupp(spark, alt)
    rows_f = sorted(
        (r.ps_partkey, r.ps_suppkey, r.ps_availqty, str(r.ps_supplycost))
        for r in from_file.collect()
    )
    assert rows_f == rows_s
