"""Shards / sharded-files writers (W1, W2) and the metadata write-back
(W4): the reference's names as thin entries over the commit-protocol
``dpf_shards`` sink (``shards_source.ShardsWriter``).

Reference: `processors/writers/shards_writer.py:17-181` streams samples
single-threaded into numbered ``N.tar`` + ``N.csv`` pairs of at most
``max_files_in_shard`` rows. Spark version: give every row a dense
index from one per-partition count, route each block of
``max_files_in_shard`` consecutive indices to one task, and let the
sink write attempt-unique temps that only ``commit()`` renames to final
``N.csv``/``N.tar`` names — so the dataset holds exactly
⌈n/max_files_in_shard⌉ shards, none over the cap, and a failed job
leaves nothing behind. The sink's own per-task roll stays the hard cap
if a recompute shifts the counts.

On a real cluster the targets are shared storage (posix, or an object
store through the ``shard_fs`` seam); nothing is ever collected to the
driver but the per-partition counts.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from dataprocessingframework_spark.sources.shards_source import (
    SPLIT_COLUMN,
    _list_shards,
    _next_shard_index_for,
    register_shards_source,
    update_shard_metadata_native,
)
from dataprocessingframework_spark.sources.shard_fs import strip_file_scheme

_SUMMARY_SCHEMA = StructType(
    [
        StructField(SPLIT_COLUMN, StringType()),
        StructField("rows", LongType()),
    ]
)

# monotonically_increasing_id(): partition index in the upper 31 bits,
# record number within the partition in the lower 33
_RECORD_BITS = 33
_ROW_ID = "__dpf_row_id"


def _write_dpf_shards(
    df: DataFrame,
    out_dir: str,
    max_files_in_shard: int,
    media_col: str | None,
    name_col: str | None,
    append: bool,
    layout: str,
) -> DataFrame:
    spark = df.sparkSession
    register_shards_source(spark)
    path = strip_file_scheme(out_dir)
    start = _next_shard_index_for(path) if append else 0
    staged = df.withColumn(_ROW_ID, F.monotonically_increasing_id())
    part = F.shiftright(_ROW_ID, _RECORD_BITS).cast("int")
    counts = dict(staged.groupBy(part).count().collect())
    if counts:
        offsets, total = [0] * (max(counts) + 1), 0
        for p in sorted(counts):
            offsets[p], total = total, total + counts[p]
        # dense index = rows in earlier partitions + record number;
        # a recompute that shifts partitions reads null (one hash
        # bucket, still capped by the sink's roll) instead of raising
        dense = F.try_element_at(F.lit(offsets), part + 1) + F.col(
            _ROW_ID
        ).bitwiseAND((1 << _RECORD_BITS) - 1)
        # every block but the last holds exactly max rows, so however
        # the hash lays blocks onto partitions, rolling each partition
        # at max rows yields exactly ⌈n/max⌉ shards
        staged = staged.repartition(
            math.ceil(total / max_files_in_shard),
            F.floor(dense / max_files_in_shard),
        )
    writer = (
        staged.drop(_ROW_ID)
        .write.format("dpf_shards")
        .option("max_files_in_shard", str(max_files_in_shard))
        .option("layout", layout)
        .mode("append" if append else "overwrite")
    )
    if media_col is None:
        writer = writer.option("content", "false")
    else:
        writer = writer.option("content_col", media_col)
    if name_col is not None:
        writer = writer.option("name_col", name_col)
    writer.save(path)
    # the summary reads back what the commit published: the shards
    # numbered from this write's first index on
    stems, _ = _list_shards(path, "tar", layout)
    new = [s for s in stems if s.isdigit() and int(s) >= start]
    if not new:
        return spark.createDataFrame([], _SUMMARY_SCHEMA)
    return (
        spark.read.format("dpf_shards")
        .schema(StructType([_SUMMARY_SCHEMA[SPLIT_COLUMN]]))
        .option("content", "false")
        .option("layout", layout)
        .load(path)
        .where(F.col(SPLIT_COLUMN).isin(new))
        .groupBy(SPLIT_COLUMN)
        .agg(F.count(F.lit(1)).alias("rows"))
    )


def write_shards(
    df: DataFrame,
    out_dir: str,
    max_files_in_shard: int = 1000,
    media_col: str | None = None,
    name_col: str | None = None,
    append: bool = False,
) -> DataFrame:
    """W1: write ``N.csv`` (+ ``N.tar`` when media present) shard pairs.

    ``media_col`` holds bytes (null bytes write no member and re-read
    as ``is_correct=false``), ``name_col`` the member basename. With
    ``media_col=None`` only metadata CSVs are written (csv-only
    shards). ``append=False`` replaces the dataset; ``append=True``
    resumes into it: new shards continue numbering after the last
    existing shard (see ``shards_source._next_shard_index_for`` for
    the deliberate divergence from the reference's in-place last-shard
    fill). Returns the per-shard summary (split_name, rows) of the
    shards this write published — the write itself has already run
    when this returns.
    """
    return _write_dpf_shards(
        df, out_dir, max_files_in_shard, media_col, name_col, append, "tar"
    )


def write_sharded_files(
    df: DataFrame,
    out_dir: str,
    max_files_in_shard: int = 1000,
    media_col: str | None = None,
    name_col: str | None = None,
    append: bool = False,
) -> DataFrame:
    """W2: same as W1 but loose files in ``N/`` dirs
    (`processors/writers/sharded_files_writer.py:15-160`); ``append``
    and the summary as in W1."""
    return _write_dpf_shards(
        df, out_dir, max_files_in_shard, media_col, name_col, append, "dir"
    )


def update_shard_metadata(
    spark,
    shard_dir: str,
    new_df: DataFrame,
    key_col: str,
) -> DataFrame:
    """W4 write-back — merge new/changed metadata columns into the
    per-shard CSVs, leaving archives untouched
    (`processors/sharded_processor.py:58-82` +
    `helpers/dataframe_helper.py:95-153`). The reference's name for
    ``shards_source.update_shard_metadata_native``: integrity prepass
    before any file is modified, crash-safe rename plan, returns the
    (split_name, rows) summary."""
    return update_shard_metadata_native(spark, shard_dir, new_df, key_col)


def atomic_publish(
    spark,
    df: DataFrame,
    out_dir: str,
    expected_rows: int | None = None,
    fmt: str = "parquet",
) -> int:
    """Write-verify-rename atomic publish: the dataset is written to a
    hidden staging dir, re-read and row-counted, and only then MOVED
    into place — readers of ``out_dir`` never observe a half-written
    or failed dataset (the classic publish pattern for corpora shared
    between teams; object stores get the same effect from a manifest
    flip).

    If ``expected_rows`` is given and the re-read count differs, the
    staging dir is removed and ValueError raises — a torn write never
    becomes visible. Returns the published row count. Uses the Hadoop
    FileSystem rename (atomic on HDFS/posix; on S3 prefer a manifest
    pointer instead — documented, not silently emulated).
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    staging = out_dir.rstrip("/") + "._staging"
    path = jvm.org.apache.hadoop.fs.Path(staging)
    fs = path.getFileSystem(hconf)
    if fs.exists(path):
        fs.delete(path, True)
    df.write.format(fmt).save(staging)
    back = spark.read.format(fmt).load(staging)
    n = back.count()
    if expected_rows is not None and n != expected_rows:
        fs.delete(path, True)
        raise ValueError(
            f"atomic_publish verification failed: wrote {n} rows, "
            f"expected {expected_rows}; staging removed, {out_dir} untouched"
        )
    dest = jvm.org.apache.hadoop.fs.Path(out_dir)
    if fs.exists(dest):
        fs.delete(dest, True)
    if not fs.rename(path, dest):
        raise IOError(f"rename {staging} -> {out_dir} failed")
    return n


def write_with_metrics(
    df: DataFrame, out_dir: str, metric_cols: list[str], fmt: str = "parquet"
) -> dict:
    """Write with in-flight data-quality metrics via ``df.observe``:
    row count plus a null count per requested column are accumulated
    DURING the write (no second scan — the observation rides the same
    job), returned as a dict. The cheap ingest-audit hook: a pipeline
    can refuse to publish when null rates jump.
    """
    from pyspark.sql import Observation

    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")]
    for c in metric_cols:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        )
    df.observe(obs, *metrics).write.format(fmt).mode("overwrite").save(
        out_dir
    )
    return dict(obs.get)
