"""Output checks, run outside every timed window and outside set-up.

Both workloads compare with ``tools/check_oracle.py``'s rules (row
count, column names, order-insensitive values, floats bit-exact), which
are imported, not copied.

- Pipeline: the staging partition of each date holds exactly the
  generated rows, and each date's ``daily_revenue_summary`` mart equals
  a DuckDB recomputation from the generated CSV.
- Registry queries: each query's result equals its ``oracle_sql()`` twin
  run by DuckDB over the same generated tables.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_oracle():
    """Import tools/check_oracle.py without leaving its sys.path entry."""
    before = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = before
    return mod


compare = _load_check_oracle().compare

#: reference mart SQL (retail_pipeline.py:34-51) under the engine's money
#: policy: 2-dp DECIMAL accumulation, published as DOUBLE; x/0 is NULL
_REVENUE_SQL = """
SELECT CAST('{date}' AS DATE) AS event_date,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN price
                     ELSE CAST(0 AS DECIMAL(18, 2)) END) AS DOUBLE) AS revenue,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
       CAST(COUNT(*) FILTER (WHERE event_type = 'cart') AS BIGINT) AS carts,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS views,
       CAST(COUNT(*) FILTER (WHERE event_type = 'cart') AS DOUBLE)
           / NULLIF(COUNT(*) FILTER (WHERE event_type = 'view'), 0) AS cart_rate,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
           / NULLIF(COUNT(*) FILTER (WHERE event_type = 'view'), 0) AS purchase_rate
FROM read_csv('{path}', header = true, auto_detect = false, columns = {{
    'event_time': 'VARCHAR', 'event_type': 'VARCHAR', 'product_id': 'BIGINT',
    'category_id': 'BIGINT', 'category_code': 'VARCHAR', 'brand': 'VARCHAR',
    'price': 'DECIMAL(18, 2)', 'user_id': 'BIGINT', 'user_session': 'VARCHAR'}})
"""


def check_pipeline(raw_root: str, warehouse_root: str, mart_root: str,
                   rows: dict[str, int]) -> dict[str, list[str]]:
    """{date: problems} for every generated date (empty list = correct)."""
    con = duckdb.connect()
    out = {}
    for date, expected in rows.items():
        problems = []
        staged = con.sql(
            f"SELECT COUNT(*) FROM read_parquet("
            f"'{warehouse_root}/staging_events/dt={date}/*.parquet', "
            f"hive_partitioning = false)"
        ).fetchone()[0]
        if staged != expected:
            problems.append(f"staging rows {staged} != generated {expected}")
        csv = os.path.join(raw_root, "Day_Wise", date, "event.csv")
        oracle = con.sql(_REVENUE_SQL.format(date=date, path=csv)).df()
        mart = con.sql(
            f"SELECT * FROM read_parquet('{mart_root}/aggregates/"
            f"daily_revenue_summary/dt={date}/*.parquet', hive_partitioning = false)"
        ).df()
        problems += compare("daily_revenue_summary", mart, oracle)
        out[date] = problems
    con.close()
    return out


def check_queries(sf_dir: str, tables: list[str], results: dict) -> dict[str, list[str]]:
    """{query: problems}, comparing collected Spark frames with the
    DuckDB twins from ``__spark_entry__.oracle_sql()``."""
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, frame in results.items():
        if frame is None:
            out[name] = ["no Spark result to check"]
            continue
        out[name] = compare(name, frame, con.sql(oracles[name]).df())
    con.close()
    return out
