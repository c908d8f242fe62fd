"""Sinks: parquet/CSV writers and catalog-managed tables.

The reference's sink surface is CTAS + DROP TABLE
(/root/reference/etl_imdb_db.sql:90-141,153-158); here that maps to
``saveAsTable`` into the session catalog (S7) and ``DROP TABLE`` (S8),
plus the file-level writers a Spark deployment actually uses:

- parquet with ``partitionBy``: the layout decision that enables
  partition pruning on the read side — the single highest-leverage
  storage choice at 100 TB.
- ``bucketBy`` on join keys: co-locates future joins/aggregations on
  the bucket key without a shuffle (catalog tables only).
- CSV with the reference's quoting dialect, for interchange.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from _imdb_etl_spark.functions import local_path


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Partitioned overwrites default to DYNAMIC partition overwrite:
    only the partitions present in ``df`` are replaced. Static overwrite
    (Spark's default) wipes every sibling partition — on an incremental
    backfill that silently deletes all history outside the batch, the
    classic partitioned-write footgun at scale."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    # reference CSV dialect: header, double-quote quoting/escaping,
    # literal NULL for missing values (etl_imdb_db.sql:59-82)
    (
        df.write.mode(mode)
        .options(header=True, quote='"', escape='"', nullValue="NULL")
        .csv(path)
    )


# default JSON timestampFormat truncates to milliseconds; keep the full
# microsecond precision parquet carries
_JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Line-delimited JSON — the interchange format for tool handoffs;
    never the analytic storage format (no pushdown, no column pruning,
    full-text parse per read)."""
    df.write.mode(mode).option("timestampFormat", _JSON_TS_FMT).json(path)


def read_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema'd JSON scan (never inferSchema: an extra full pass and
    nondeterministic typing at scale)."""
    return (
        spark.read.schema(schema)
        .option("timestampFormat", _JSON_TS_FMT)
        .json(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC writer — the columnar alternative when the warehouse standard
    is ORC (Hive estates): same pushdown/pruning properties as parquet
    through Spark's native vectorized ORC reader."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def save_as_table(
    df: DataFrame,
    name: str,
    bucket_by: tuple[int, list[str]] | None = None,
    mode: str = "overwrite",
) -> None:
    """CTAS (S7): materialize into the session catalog. ``bucket_by``
    = (n_buckets, cols) pre-shuffles once at write so every later join
    or aggregation on those columns skips its exchange.

    ``mode="overwrite"`` is the reference's CREATE OR REPLACE TABLE. A
    catalog that forgot the table (the in-memory catalog of an earlier
    process) leaves its managed directory behind, and Spark refuses to
    create the table over it (LOCATION_ALREADY_EXISTS); that orphaned
    directory is removed first, on the driver, with no Spark job."""
    if mode == "overwrite":
        _drop_orphan_location(df.sparkSession, name)
    w = df.write.mode(mode).format("parquet")
    if bucket_by:
        n, cols = bucket_by
        w = w.bucketBy(n, *cols).sortBy(*cols)
    w.saveAsTable(name)


def _drop_orphan_location(spark: SparkSession, name: str) -> None:
    """Remove the default managed location of table ``name`` in the
    current database when the catalog has no such table. Only local
    (``file:``) warehouses are handled; elsewhere Spark's own error
    stands."""
    cat = spark.catalog
    db = cat.currentDatabase()
    # qualified, so a temp view of the same name does not count
    if "." in name or cat.tableExists(f"{db}.{name}"):
        return
    root = local_path(cat.getDatabase(db).locationUri)
    if root is not None:
        # Spark lower-cases the default path unless caseSensitive is on
        if spark.conf.get("spark.sql.caseSensitive") != "true":
            name = name.lower()
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def drop_table(spark: SparkSession, name: str) -> None:
    """S8: DROP TABLE IF EXISTS (etl_imdb_db.sql:153-158)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_rows_per_file: int,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction — the standing maintenance job of any
    100 TB lake. Streaming micro-batches and per-task writers leave
    thousands of KB-scale files; each costs a task launch, a footer
    read, and a catalog entry on every scan.

    Rewrites `src_path` into `dst_path` with ceil(rows/target) files:
    a round-robin repartition (or range partition when `sort_cols` is
    given — preserving an ordering gives min/max footer stats their
    pruning power) plus `maxRecordsPerFile` as the hard per-file cap.
    Returns the partition count used. At scale, run per
    partition-directory so compaction parallelizes across partitions
    and never rewrites hot, already-compact data.
    """
    df = spark.read.parquet(src_path)
    n = df.count()
    parts = max(1, -(-n // target_rows_per_file))
    if sort_cols:
        # sortWithinPartitions matters: maxRecordsPerFile splits a
        # partition by arrival order, so unsorted rows would smear each
        # file across the whole partition range and void footer pruning
        df = df.repartitionByRange(parts, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.repartition(parts)
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(dst_path)
    )
    return parts
