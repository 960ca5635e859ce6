"""Bucketed tables — co-located joins and aggregations without shuffle.

The reference has no notion of physical layout beyond shard files
(1000 samples per tar, ``DPF/processors/writers/shards_writer.py:27``).
At 100 TB the dominant cost of repeated joins/aggs on the same key
(e.g. joining every filter result back on ``image_path``, or repeated
user-level rollups) is the shuffle. Bucketing pays that shuffle ONCE at
write time: both sides pre-hash-partitioned into the same number of
buckets on the join key mean Catalyst plans a sort-merge join with NO
Exchange on either side.

Spark-native bucketing (no Hive dependency): ``bucketBy + saveAsTable``
with the session catalog; files land under ``spark.sql.warehouse.dir``
(or the table's explicit ``path`` option).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    num_buckets: int = 32,
    sort_cols: str | list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist df hash-bucketed (and optionally sorted) on key columns.

    ``num_buckets`` should match across every table that will co-join,
    and be sized so one bucket of the LARGEST table fits an executor
    (at 100 TB: thousands of buckets, not 32). ``sort_cols`` additionally
    pre-sorts within buckets, letting the sort-merge join skip its sort.

    The input is repartitioned ON THE BUCKET COLUMNS into
    ``num_buckets`` partitions before the write: repartition and
    bucketBy share Spark's Murmur3 ``hash pmod n``, so each write task
    holds exactly one bucket and emits exactly ONE file — without
    this, bucketBy writes one file per (input task x bucket), which
    the r8 ANN probe soak measured as a 26,000-tiny-file index from a
    64-partition, 512-bucket write (the classic small-files
    anti-pattern; file scheduling then dominates every later scan).
    Write parallelism becomes num_buckets — size it in the thousands
    at real scale, which the co-join sizing rule demands anyway.

    ``mode='append'`` to an existing table takes its bucket count from
    the catalog (Spark rejects a mismatched bucket spec) and ignores
    ``path``: the table's catalog location is authoritative, because
    ``compact_bucketed_index`` relocates external tables and the
    original path would fail the location check.
    """
    spark = df.sparkSession
    if mode == "append" and spark.catalog.tableExists(table):
        desc = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        num_buckets = next(
            (int(r.data_type) for r in desc if r.col_name == "Num Buckets"),
            num_buckets,
        )
        path = None
    bucket_cols = (
        [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    )
    df = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    w = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        sort_cols = (
            [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        )
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table with bucket metadata intact (a plain
    ``spark.read.parquet`` on the files would lose the bucket spec)."""
    return spark.table(table)
