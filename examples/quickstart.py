"""Quickstart: read shards -> probe images -> phash dedup -> write shards.

The end-to-end walk a user of the reference framework runs first
(reference: `examples/process_dataset_example.ipynb` over
`examples/example_dataset/` — N.csv + N.tar shard pairs; the dedup is
the canonical `image_phash_8` drop_duplicates of
`DPF/pipelines/pipeline_stages.py:50-60`). Everything here is the real
distributed path: metadata and tar bytes come from one scan with one
shard pair per task (each tar opened once), filters run as
Arrow-batched mapInPandas, the dedup is a single hash-partitioned
keep-first, and the write goes through the commit protocol.

Run it directly (writes under a temp dir by default):

    python examples/quickstart.py [workdir]

The bundled media are synthetic `FAKEIMG` bytes so the example runs in
a bare container; with PIL installed the exact same pipeline processes
real image formats (see filters/kernels.py decode_image).
"""

from __future__ import annotations

import io
import os
import sys
import tarfile
import tempfile

import numpy as np

# runnable from a source checkout without installation
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_example_dataset(path: str, shards: int = 2, per_shard: int = 3) -> str:
    """Write a tiny shards dataset: N.csv + N.tar pairs. The LAST image
    of shard 1 duplicates the FIRST image of shard 0, so the phash
    dedup below has one row to remove across shards."""
    from dataprocessingframework_spark.filters.kernels import encode_fake_image

    os.makedirs(path, exist_ok=True)

    def img_bytes(seed: int) -> bytes:
        rng = np.random.RandomState(seed)
        return encode_fake_image(
            rng.randint(0, 255, size=(16, 16, 3), dtype=np.uint8)
        )

    for shard in range(shards):
        rows = []
        with tarfile.open(os.path.join(path, f"{shard}.tar"), "w") as tar:
            for i in range(per_shard):
                name = f"{shard}_{i}.img"
                dup_of_first = shard == shards - 1 and i == per_shard - 1
                data = img_bytes(0 if dup_of_first else shard * 100 + i)
                info = tarfile.TarInfo(name)
                info.size = len(data)
                tar.addfile(info, io.BytesIO(data))
                rows.append((name, f"caption {shard}-{i}"))
        with open(os.path.join(path, f"{shard}.csv"), "w") as f:
            f.write("image_name,caption\n")
            for name, cap in rows:
                f.write(f"{name},{cap}\n")
    return path


def run_pipeline(spark, dataset_dir: str, out_dir: str) -> dict:
    """The quickstart pipeline; returns a summary dict (used by the
    smoke test)."""
    from dataprocessingframework_spark.configs import ShardsDatasetConfig
    from dataprocessingframework_spark.filters.kernels import (
        ImageInfoFilter,
        PHashFilter,
    )
    from dataprocessingframework_spark.sources.reader import DatasetReader
    from dataprocessingframework_spark.sources.writers import write_shards

    # 1-2. Read the shard pairs with their media bytes: one scan, one
    #      shard pair per task (each tar opened once), csv<->tar
    #      pairing validated, split_name derived; unreadable members
    #      land in is_correct/error instead of failing the job.
    ds = DatasetReader(spark).read_shards_with_bytes(
        ShardsDatasetConfig(
            path=dataset_dir,
            required_columns=["image_name", "caption"],
        ),
        name_col="image_name",
    )
    n_input = ds.count()

    # 3. Probe images (K1) and fingerprint them (K2) — Arrow-batched
    #    mapInPandas; failed decodes get is_correct=false, never dropped
    #    silently.
    probed = ds.apply_data_filter(ImageInfoFilter())
    hashed = probed.apply_data_filter(PHashFilter())

    # 4. Keep correct images, dedup on the perceptual hash (keep-first
    #    by image_name for determinism — the reference's canonical
    #    image_phash_8 drop_duplicates).
    clean = hashed.filter("img_is_correct = true").drop_duplicates_keep_first(
        ["image_phash_8"], order_col="image_name"
    )
    n_kept = clean.count()

    # 5. Write the curated dataset back as shard pairs (commit
    #    protocol: temps renamed to N.csv/N.tar only once every task
    #    succeeded).
    summary = write_shards(
        clean.select(
            "image_name", "caption", "image_phash_8", "content"
        ).df,
        out_dir,
        media_col="content",
        name_col="image_name",
    )
    shards_written = summary.count()
    return {
        "rows_in": n_input,
        "rows_kept": n_kept,
        "rows_deduped": n_input - n_kept,
        "shards_written": shards_written,
        "out_dir": out_dir,
    }


def main(workdir: str | None = None) -> dict:
    from dataprocessingframework_spark.session import get_spark

    workdir = workdir or tempfile.mkdtemp(prefix="dpf_quickstart_")
    dataset_dir = build_example_dataset(os.path.join(workdir, "example_dataset"))
    spark = get_spark(app_name="dpf-spark-quickstart")
    spark.sparkContext.setLogLevel("ERROR")
    result = run_pipeline(spark, dataset_dir, os.path.join(workdir, "curated"))
    print(
        f"read {result['rows_in']} rows, removed "
        f"{result['rows_deduped']} phash duplicate(s), wrote "
        f"{result['rows_kept']} rows into {result['shards_written']} "
        f"shard(s) at {result['out_dir']}"
    )
    return result


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
