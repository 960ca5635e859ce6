"""Shards I/O A/B (r13): the DSv2 commit-protocol paths vs the legacy
mapInPandas/csv-glob paths, same data, same JVM, min-of-2.

Three comparisons:
  * WRITE metadata-only: writers.write_shards vs
    df.write.format("dpf_shards")  (200k lineitem-shaped rows);
  * WRITE with media bytes: same pair on 20k rows x 1 KiB content;
  * READ back: legacy (csv glob / read_shards+load_shard_bytes) vs
    DSv2 (dpf_shards scan), counts + a column aggregate so the scan
    actually materializes.

The DSv2 writer buys commit-protocol safety (speculation/retry/abort
atomicity) — this soak prices that safety so the docs can say it
honestly. Results recorded in PLANS.md ("r13 shards I/O A/B").

Usage: python tools/shards_io_soak.py [--rows 200000]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dataprocessingframework_spark.queries import SCRATCH  # noqa: E402
from dataprocessingframework_spark.session import get_spark  # noqa: E402
from dataprocessingframework_spark.sources.shards_source import (  # noqa: E402
    register_shards_source,
)
from dataprocessingframework_spark.sources.writers import (  # noqa: E402
    write_shards,
)


def timed(fn, n: int = 2) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--media-rows", type=int, default=20_000)
    ap.add_argument("--workdir", default=os.path.join(SCRATCH, "shards_io"))
    args = ap.parse_args()

    spark = get_spark(app_name="shards-io-soak")
    spark.sparkContext.setLogLevel("ERROR")
    register_shards_source(spark)
    w = args.workdir
    shutil.rmtree(w, ignore_errors=True)

    meta = (
        spark.range(args.rows)
        .select(
            F.concat(F.lit("row_"), F.col("id")).alias("name"),
            F.col("id").cast("long").alias("k"),
            (F.col("id") % 7).cast("double").alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        .repartition(16)
        .localCheckpoint()
    )
    media = (
        spark.range(args.media_rows)
        .select(
            F.concat(F.lit("img_"), F.col("id")).alias("name"),
            F.col("id").cast("long").alias("k"),
            F.repeat(F.sha2(F.col("id").cast("string"), 256), 16)
            .cast("binary")
            .alias("content"),
        )
        .repartition(8)
        .localCheckpoint()
    )
    results: dict[str, float] = {}

    def legacy_meta_write():
        shutil.rmtree(f"{w}/legacy_meta", ignore_errors=True)
        write_shards(
            meta, f"{w}/legacy_meta",
            max_files_in_shard=args.rows // 16 + 1,
        )

    def dsv2_meta_write():
        meta.write.format("dpf_shards").mode("overwrite").save(
            f"{w}/dsv2_meta"
        )

    def legacy_media_write():
        shutil.rmtree(f"{w}/legacy_media", ignore_errors=True)
        write_shards(
            media, f"{w}/legacy_media",
            max_files_in_shard=args.media_rows // 8 + 1,
            media_col="content", name_col="name",
        )

    def dsv2_media_write():
        media.write.format("dpf_shards").mode("overwrite").save(
            f"{w}/dsv2_media"
        )

    results["write_meta_legacy"] = timed(legacy_meta_write)
    results["write_meta_dsv2"] = timed(dsv2_meta_write)
    results["write_media_legacy"] = timed(legacy_media_write)
    results["write_media_dsv2"] = timed(dsv2_media_write)

    # --- reads (against the DSv2-written copies; identical layout)
    from dataprocessingframework_spark.configs import ShardsDatasetConfig
    from dataprocessingframework_spark.sources.media import load_shard_bytes
    from dataprocessingframework_spark.sources.reader import DatasetReader

    rd = DatasetReader(spark)

    def legacy_meta_read():
        df = spark.read.options(header=True, inferSchema=True).csv(
            f"{w}/dsv2_meta/*.csv"
        )
        df.agg(F.count(F.lit(1)), F.sum("k")).collect()

    def dsv2_meta_read():
        df = rd.read_metadata_shards(f"{w}/dsv2_meta").df
        df.agg(F.count(F.lit(1)), F.sum("k")).collect()

    def legacy_media_read():
        base = rd.read_shards(
            ShardsDatasetConfig(
                path=f"{w}/dsv2_media", name_columns=["name"]
            )
        ).df
        df = load_shard_bytes(base, "name_tar_path", "name")
        df.agg(F.count(F.lit(1)), F.sum(F.length("content"))).collect()

    def dsv2_media_read():
        df = rd.read_shards_with_bytes(
            ShardsDatasetConfig(path=f"{w}/dsv2_media")
        ).df
        df.agg(F.count(F.lit(1)), F.sum(F.length("content"))).collect()

    results["read_meta_legacy_cold_infer"] = timed(legacy_meta_read)
    results["read_meta_dsv2"] = timed(dsv2_meta_read)
    results["read_media_legacy"] = timed(legacy_media_read)
    results["read_media_dsv2"] = timed(dsv2_media_read)

    import json

    print(json.dumps({"rows": args.rows, "media_rows": args.media_rows,
                      **results}))
    shutil.rmtree(w, ignore_errors=True)


if __name__ == "__main__":
    main()
