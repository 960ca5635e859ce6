"""Incremental dataset ingestion — the streaming twin of the
reference's resume-from-last-shard append mode
(`processors/writers/shards_writer.py:92-119`).

The reference resumes by scanning the output directory for the highest
shard index. Structured Streaming subsumes that: the checkpoint
records exactly which source files each committed micro-batch read, so
re-running the ingest picks up only files that appeared since — with
exactly-once output even across crashes mid-batch. At 100 TB this is
how a corpus directory that grows by thousands of shards a day is
folded into a curated parquet dataset without ever re-reading history.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter


def _committed_batches(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    """Batch ids recorded in the checkpoint's ``commits/`` dir — the
    stream's own source of truth for what has durably completed.
    Resolved through the Hadoop FileSystem API so the checkpoint can
    live on any supported FS (local, HDFS, s3a), not just local disk."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint_dir, "commits")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return set()
    out: set[int] = set()
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.isdigit():
            out.add(int(name))
    return out


def _run_available_now(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    checkpoint_dir: str,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    src_format: str = "json",
    max_files_per_trigger: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> int:
    """Drive one availableNow pass over the source dir into the writer
    ``sink`` configures (a foreachBatch function or a file sink);
    returns micro-batches committed this run, counted from the
    checkpoint's commit log — exact even when the run spans more
    batches than ``recentProgress`` retains (its in-memory buffer
    keeps only the most recent entries)."""
    before = _committed_batches(spark, checkpoint_dir)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream: DataFrame = getattr(reader, src_format)(src_dir)
    if transform is not None:
        stream = transform(stream)
    q = (
        sink(stream.writeStream)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        while q.isActive:
            q.awaitTermination(1)
    finally:
        q.stop()
    return len(_committed_batches(spark, checkpoint_dir) - before)


def incremental_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    src_format: str = "json",
    transform=None,
    max_files_per_trigger: int | None = None,
) -> int:
    """Process all source files not yet recorded in the checkpoint,
    append them (optionally transformed) to ``out_dir`` as parquet, and
    return. Idempotent: a rerun with the same checkpoint ingests only
    new files; a rerun with no new files writes nothing.

    ``transform`` is an optional DataFrame -> DataFrame stage (filter /
    projection / column derivation), applied inside the stream so it
    runs per micro-batch. ``max_files_per_trigger`` bounds the batch
    size for backfills (bounded state + steady checkpoints instead of
    one giant batch). Returns the number of micro-batches committed in
    this run.
    """
    return _run_available_now(
        spark, src_dir, schema, checkpoint_dir,
        lambda w: w.format("parquet").option("path", out_dir).outputMode("append"),
        src_format, max_files_per_trigger, transform,
    )


def stream_to_versioned(
    stream, path: str, checkpoint: str, spark=None
):
    """Sink a stream into the versioned table: every micro-batch
    becomes one append COMMIT (sources/versioned.py), tagged with the
    batch id so a foreachBatch replay after a crash is a no-op —
    exactly-once at the commit-log level on top of the checkpoint's
    at-least-once. Downstream consumers read per-release deltas with
    ``read_changes`` instead of rescanning. Returns the started
    StreamingQuery (availableNow trigger)."""
    from dataprocessingframework_spark.sources.versioned import commit

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit(
            batch_df.sparkSession,
            batch_df,
            path,
            mode="append",
            tag=f"batch-{batch_id}",
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
