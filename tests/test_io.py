from __future__ import annotations

from airflow_retail_etl_spark.io import (
    compact_partitions,
    save_as_table,
    write_csv,
    write_mart,
    write_partitioned,
)


def test_write_mart_partition_layout(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    wrote = write_mart(df, str(tmp_path), "daily_revenue_summary", "2019-10-05")
    assert wrote
    out = spark.read.parquet(
        str(tmp_path / "aggregates" / "daily_revenue_summary")
    )
    rows = out.collect()
    # partition-column type inference reads dt back as a date
    assert str(rows[0]["dt"]) == "2019-10-05"


def test_write_mart_skips_empty(spark, tmp_path):
    df = spark.createDataFrame([], "id int, v string")
    assert not write_mart(df, str(tmp_path), "m", "2019-10-05")


def _partition_bytes(part):
    return {p.name: p.read_bytes() for p in part.iterdir()}


def test_write_mart_counts_rows_and_empty_leaves_partition(spark, tmp_path):
    """The write counts its own rows; an empty frame writes no ``dt=``
    directory and leaves an existing one byte-for-byte as it was (the
    old skip-when-empty guarantee)."""
    table = tmp_path / "aggregates" / "m"
    empty = spark.createDataFrame([], "id int, v string")
    assert write_mart(empty, str(tmp_path), "m", "2019-10-05") == 0
    assert not list(table.glob("dt=*"))

    full = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert write_mart(full, str(tmp_path), "m", "2019-10-05") == 2
    part = table / "dt=2019-10-05"
    before = _partition_bytes(part)
    assert any(name.endswith(".parquet") for name in before)

    assert write_mart(empty, str(tmp_path), "m", "2019-10-05") == 0
    assert _partition_bytes(part) == before
    assert sorted(p.name for p in table.glob("dt=*")) == ["dt=2019-10-05"]


def test_compact_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("2019-10-01", i) for i in range(64)], ["dt", "v"]
    ).repartition(8)
    write_partitioned(df, path)  # 8 writer tasks → up to 8 files
    before = len(list((tmp_path / "t" / "dt=2019-10-01").glob("*.parquet")))
    compact_partitions(spark, path)
    after = len(list((tmp_path / "t" / "dt=2019-10-01").glob("*.parquet")))
    assert after == 1 < before
    assert spark.read.parquet(path).count() == 64


def test_write_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    path = str(tmp_path / "csv_out")
    write_csv(df, path)
    back = spark.read.option("header", True).csv(path)
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        ("1", "a"),
        ("2", "b"),
    ]


def test_save_as_table_registers_catalog(spark):
    df = spark.createDataFrame([("2019-10-01", 1)], ["dt", "v"])
    save_as_table(df, "t_catalog_check", partition_by=["dt"])
    try:
        assert spark.catalog.tableExists("t_catalog_check")
        # partition registration: readable via catalog, partition pruned
        assert spark.table("t_catalog_check").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS t_catalog_check")


def test_dynamic_partition_overwrite_keeps_other_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    d1 = spark.createDataFrame([("2019-10-01", 1), ("2019-10-02", 2)], ["dt", "v"])
    write_partitioned(d1, path)
    # overwrite only dt=2019-10-02 with a new value; 10-01 must survive
    d2 = spark.createDataFrame([("2019-10-02", 99)], ["dt", "v"])
    write_partitioned(d2, path)
    out = {str(r["dt"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {"2019-10-01": 1, "2019-10-02": 99}


def test_write_sorted_files_have_disjoint_key_ranges(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from airflow_retail_etl_spark.io import write_sorted
    from airflow_retail_etl_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "sorted")
    write_sorted(ev, out, ["user_id"], num_files=4)

    ranges = []
    for f in sorted(glob.glob(out + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }["user_id"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    # range partitioner ⇒ per-file key ranges don't interleave
    for (lo_a, hi_a), (lo_b, hi_b) in zip(
        sorted(ranges), sorted(ranges)[1:]
    ):
        assert hi_a <= lo_b
    # content survives the clustering rewrite
    assert spark.read.parquet(out).count() == ev.count()


def test_write_sorted_prunes_row_groups_vs_unsorted(spark, tmp_path):
    # the payoff: a point predicate touches 1 file when sorted, all when not
    import glob

    import pyarrow.parquet as pq

    from airflow_retail_etl_spark.io import write_sorted
    from airflow_retail_etl_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    target = ev.select("user_id").first()["user_id"]

    def touched(path):
        n = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["user_id"]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st.min <= target <= st.max:
                    n += 1
        return n

    s_path, u_path = str(tmp_path / "s"), str(tmp_path / "u")
    write_sorted(ev, s_path, ["user_id"], num_files=8)
    ev.repartition(8).write.parquet(u_path)
    assert touched(s_path) == 1
    assert touched(u_path) == 8


def test_write_zordered_prunes_both_dimensions(spark, tmp_path):
    import glob
    import itertools

    import pyarrow.parquet as pq

    from airflow_retail_etl_spark.io import write_sorted, write_zordered

    # a 64×64 grid: every (x, y) pair once
    grid = spark.createDataFrame(
        [(x, y) for x, y in itertools.product(range(64), range(64))],
        "x long, y long",
    )

    def touched(path, lo, hi, col):
        n = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }[col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st.min <= hi and st.max >= lo:
                    n += 1
                    break
        return n

    z_path, x_path = str(tmp_path / "z"), str(tmp_path / "x")
    write_zordered(grid, z_path, "x", "y", bits=6, num_files=16)
    write_sorted(grid, x_path, ["x"], num_files=16)

    # narrow predicate on the SECOND key: x-sorted files all span full y
    # → zero pruning; z-ordered files cover compact rectangles → most skip
    assert touched(x_path, 8, 15, "y") == 16
    assert touched(z_path, 8, 15, "y") <= 8
    # and the leading key still prunes on the z layout too
    assert touched(z_path, 8, 15, "x") <= 8
    # clustering is a rewrite, not a transformation of content
    assert spark.read.parquet(z_path).count() == 64 * 64


def test_interleave_bits_orders_like_morton(spark):
    from pyspark.sql import functions as F

    from airflow_retail_etl_spark.io import _interleave_bits

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 2), (3, 1)], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", _interleave_bits(F.col("a"), F.col("b"), 4).alias("z")
        ).collect()
    }

    def morton(a, b):
        z = 0
        for i in range(4):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(a, b): morton(a, b) for a, b in got}


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """Format breadth: ORC sink/source work out of the box and keep the
    two scan properties the engine relies on everywhere — predicate
    pushdown and column pruning (same contract test_plans pins for
    parquet)."""
    from pyspark.sql import functions as F

    src = spark.range(1000).selectExpr(
        "id", "id % 7 AS grp", "CAST(id * 1.5 AS DOUBLE) AS v",
        "repeat('x', 10) AS pad"
    )
    path = str(tmp_path / "orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).first()[0] == 999 * 1000 // 2

    q = back.filter(F.col("grp") == 3).select("id", "v")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "grp" in plan.split(
        "PushedFilters"
    )[1][:80]
    # pruned read schema: pad must not be scanned
    assert "pad" not in plan.split("ReadSchema")[1][:200]
    assert q.count() == sum(1 for i in range(1000) if i % 7 == 3)


def test_promote_staging_swap_and_crash_residue(spark, tmp_path):
    """promote_staging: old table moved aside before promote (recoverable
    at every crash point), leftover __old cleared, staging-missing loud."""
    import pytest as _pytest

    from airflow_retail_etl_spark.io import promote_staging

    final = str(tmp_path / "tbl")
    spark.range(5).write.parquet(final)
    spark.range(10).write.parquet(final + "__staging")
    # leftover from a simulated earlier crash must not block the swap
    spark.range(3).write.parquet(final + "__old")
    promote_staging(spark, final + "__staging", final)
    assert spark.read.parquet(final).count() == 10
    import os

    assert not os.path.exists(final + "__staging")
    assert not os.path.exists(final + "__old")
    with _pytest.raises(FileNotFoundError):
        promote_staging(spark, final + "__staging", final)
    # first-ever promote (no existing final) also works
    final2 = str(tmp_path / "tbl2")
    spark.range(7).write.parquet(final2 + "__staging")
    promote_staging(spark, final2 + "__staging", final2)
    assert spark.read.parquet(final2).count() == 7


def test_promote_staging_recovers_interrupted_swap(spark, tmp_path):
    """Crash window between aside-rename and promote: final missing,
    __old holds the last full copy. A later promote must NOT delete
    __old (that would silently destroy the table); it recovers it back
    to final first, then swaps in the new staging."""
    import os

    from airflow_retail_etl_spark.io import promote_staging

    final = str(tmp_path / "tbl")
    # simulate the interrupted state: old copy moved aside, no final
    spark.range(4).write.parquet(final + "__old")
    spark.range(11).write.parquet(final + "__staging")
    assert not os.path.exists(final)
    promote_staging(spark, final + "__staging", final)
    # new data promoted; nothing lost mid-way (recovery happened first,
    # so a crash between recover and swap would still leave final intact)
    assert spark.read.parquet(final).count() == 11
    assert not os.path.exists(final + "__staging")
    assert not os.path.exists(final + "__old")
