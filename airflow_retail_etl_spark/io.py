"""Sinks (SURVEY §2.2 K1-K4).

The reference's sinks were pandas ``to_sql(if_exists="replace")`` (drop &
recreate, K1) and a hand-rolled pandas→Arrow→parquet→boto3 upload (K2) plus a
Glue crawler for catalog registration (K3). Spark-first, all three collapse
into the built-in writer:

- K1 "replace" intent → dynamic partition overwrite (only the written
  partitions are replaced; history survives — the correct semantics the
  reference approximated by nuking the table, SURVEY §4.3.5).
- K2 partitioned mart layout → ``partitionBy("dt").parquet(path)``; the same
  code writes local FS or s3a:// — the path root is the only difference.
- K3 catalog → ``saveAsTable`` registers partitions in the session catalog;
  no crawler.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] = ("dt",),
    mode: str = "overwrite",
    fmt: str = "parquet",
    files_per_partition: int | None = None,
) -> None:
    """Partitioned columnar sink K2. With
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by session
    configure()), mode="overwrite" replaces only the partitions present in
    ``df`` — the idempotent per-date refresh the reference wanted.

    ``files_per_partition`` bounds output file count: without it, every
    task holding rows for a partition writes its own file — at 1000
    executors that is a small-files problem. Repartitioning on the
    partition columns clusters each partition's rows into
    ``files_per_partition`` tasks (hash-spread so one hot date still gets
    multiple writers).
    """
    if files_per_partition is not None:
        spread = (F.crc32(F.concat_ws("\x00", *df.columns)) % files_per_partition)
        df = df.repartition(
            *[F.col(c) for c in partition_by], spread
        )
    df.write.mode(mode).partitionBy(*partition_by).format(fmt).save(path)


def mart_path(root: str, name: str) -> str:
    """Table root of mart ``name``; its dates live under ``dt=`` below."""
    return f"{root.rstrip('/')}/aggregates/{name}"


def write_mart(df: DataFrame, root: str, name: str, date: str) -> int:
    """One dated mart write: ``{root}/aggregates/{name}/dt={date}/``.
    Returns the number of rows written, so 0 (falsy) means nothing was.

    Mirrors retail_pipeline.py:78-88 including its skip-when-empty guard
    (:79), without a separate emptiness check: the write always runs, and
    under dynamic partition overwrite an empty frame replaces no ``dt=``
    partition — an existing partition for ``date`` stays as it was, the
    same on-disk result as skipping. The count is a ``DataFrame.observe``
    metric collected by the write itself, so the mart's plan runs once.
    """
    rows = Observation()
    out = df.observe(rows, F.count(F.lit(1)).alias("rows"))
    write_partitioned(out.withColumn("dt", F.lit(date)), mart_path(root, name))
    return rows.get["rows"]


def write_csv(
    df: DataFrame,
    path: str,
    *,
    header: bool = True,
    mode: str = "overwrite",
) -> None:
    """CSV sink K4 (historical surface: events summary → CSV → S3 object
    put via S3CreateObjectOperator; here one distributed write — the path
    root decides local FS vs s3a://)."""
    df.write.mode(mode).option("header", header).csv(path)


def save_as_table(
    df: DataFrame,
    name: str,
    *,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Catalog-registered table write (K1+K3)."""
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_by: Sequence[str],
    *,
    partition_by: Sequence[str] = (),
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet write: co-locate rows by ``sort_by`` so
    file/row-group min-max statistics prune selective scans.

    ``repartitionByRange`` gives files NON-OVERLAPPING key ranges (equal
    keys land in one partition) and ``sortWithinPartitions`` orders rows
    inside each file — a point or range predicate on the leading sort key
    then skips every file whose [min, max] misses it, before any row is
    read. This is the single-key core of what table formats market as
    data clustering/Z-ordering; at 100 TB it is the difference between a
    full scan and touching a handful of files for keyed lookups.
    Partition columns (coarse, low-cardinality, e.g. dt) compose with the
    in-partition sort key (fine, high-cardinality, e.g. user_id).

    The range exchange samples the sort key to pick balanced boundaries —
    one extra shuffle at write time, bought back on every pruned read.
    """
    cols = [F.col(c) for c in sort_by]
    if num_files is not None:
        out = df.repartitionByRange(num_files, *cols)
    else:
        out = df.repartitionByRange(*cols)
    out = out.sortWithinPartitions(*cols)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _interleave_bits(a: F.Column, b: F.Column, bits: int) -> F.Column:
    """Morton/Z-value of two non-negative longs: bit i of ``a`` lands at
    position 2i, bit i of ``b`` at 2i+1. Pure integer bit ops — exact,
    codegen-native, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    *,
    bits: int = 21,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Two-key Z-order clustered parquet write: range-partition and sort
    on the Morton interleave of the two keys' low ``bits`` bits.

    :func:`write_sorted` prunes on ONE leading key; a predicate on the
    second key alone touches every file. Interleaving makes each file
    cover a compact rectangle in (a, b) space, so min-max statistics on
    BOTH columns stay tight and range predicates on either key — or both
    — skip most files. This is the actual mechanism behind table-format
    Z-ordering/clustering, expressed with built-in bit ops (exact, no
    UDF). Keys must be non-negative and < 2^bits for faithful ordering
    (21+21 bits keeps the Z-value inside a signed 64-bit long with room
    to spare); rescale or rank-bucket wider domains first.
    """
    z = _interleave_bits(
        F.col(col_a).cast("long"), F.col(col_b).cast("long"), bits
    ).alias("__z")
    out = df.withColumn("__z", z)
    if num_files is not None:
        out = out.repartitionByRange(num_files, F.col("__z"))
    else:
        out = out.repartitionByRange(F.col("__z"))
    out.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(
        path
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    *,
    partition_by: Sequence[str] = ("dt",),
    files_per_partition: int = 1,
) -> None:
    """Rewrite a partitioned dataset with bounded files per partition.

    The janitor for long-lived tables: streaming appends and wide writes
    accumulate small files; this rewrites each partition into
    ``files_per_partition`` files via dynamic partition overwrite (readers
    see old-or-new, never partial). Run it per recently-written partition,
    not the whole table, in production."""
    df = spark.read.parquet(path).cache()
    df.count()  # materialize before overwriting the path being read
    try:
        write_partitioned(
            df,
            path,
            partition_by=partition_by,
            files_per_partition=files_per_partition,
        )
    finally:
        df.unpersist()


def repair_partitions(spark: SparkSession, table: str) -> None:
    """Pick up externally-added partitions (the crawler's only real job)."""
    spark.sql(f"MSCK REPAIR TABLE {table}")


def promote_staging(spark: SparkSession, staging: str, final: str) -> None:
    """Crash-safe swap of a staged table into its final path.

    Rename the OLD table aside before promoting, delete it LAST — so a
    crash at any point leaves a full copy of the data under a
    deterministic name:

    - before the aside-rename: final intact, staging complete;
    - between aside and promote: ``<final>__old`` intact, staging
      complete (recover by renaming either back);
    - after promote: final intact (``__old`` is garbage to re-delete).

    A leftover ``__old`` from a previous crash is cleared first ONLY when
    final exists (post-promote garbage). When final is MISSING and
    ``__old`` exists — exactly the between-aside-and-promote crash window
    above — ``__old`` is the last full copy of the table, so it is
    renamed BACK to final (auto-recover) before the swap proceeds;
    deleting it there would silently destroy the old table the moment any
    automated rerun (e.g. a compaction that re-staged after the read path
    vanished) called this again. This is
    the maintenance-job swap (compactions, history rebuilds) — jobs that
    READ the path they replace must stage to a temp dir anyway (a Spark
    overwrite of its own input deletes files mid-read), and the
    delete-then-rename shortcut would destroy the only copy if the
    process died between the two calls.
    """
    jvm = spark._jvm
    hadoop_conf = spark._jsc.hadoopConfiguration()
    p_final = jvm.org.apache.hadoop.fs.Path(final)
    p_staging = jvm.org.apache.hadoop.fs.Path(staging)
    p_old = jvm.org.apache.hadoop.fs.Path(f"{final}__old")
    fs = p_final.getFileSystem(hadoop_conf)
    if not fs.exists(p_staging):
        raise FileNotFoundError(f"staging path missing: {staging}")
    if fs.exists(p_old):
        if fs.exists(p_final):
            fs.delete(p_old, True)  # post-promote garbage from a crash
        elif not fs.rename(p_old, p_final):  # interrupted swap: recover
            raise OSError(
                f"could not recover {final}__old back to {final}"
            )
    if fs.exists(p_final):
        if not fs.rename(p_final, p_old):
            raise OSError(f"could not move {final} aside to {final}__old")
    if not fs.rename(p_staging, p_final):
        raise OSError(f"could not promote {staging} to {final}")
    fs.delete(p_old, True)
