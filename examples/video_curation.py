"""Video dataset curation: probe -> gate -> frame-phash dedup -> write.

The video counterpart of ``quickstart.py`` (reference:
`examples/example_video_dataset/` + `video_filters_example.ipynb`):
shard pairs of videos + captions are probed (`VideoInfoFilter`, K3),
gated on duration, fingerprinted by a middle-frame perceptual hash
(`FrameFilterAdapter` wrapping `PHashFilter` — the K9 composition),
deduplicated on that hash, and written back as curated shards.

Synthetic `FAKEVID`/`FAKEIMG` bytes keep it dependency-free; with pyav
installed the same pipeline probes real containers
(see filters/media_kernels.py decode_video_info).

Run:  python examples/video_curation.py [workdir]
"""

from __future__ import annotations

import io
import os
import sys
import tarfile
import tempfile

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_example_dataset(path: str) -> str:
    """One shard of 6 videos: two share the SAME middle frame (the
    dup to remove), one is shorter than the duration gate."""
    from dataprocessingframework_spark.filters.kernels import encode_fake_image
    from dataprocessingframework_spark.filters.media_kernels import (
        encode_fake_video,
    )

    os.makedirs(path, exist_ok=True)

    def frame(seed: int) -> bytes:
        rng = np.random.RandomState(seed)
        return encode_fake_image(
            rng.randint(0, 255, size=(16, 16, 3), dtype=np.uint8)
        )

    specs = [
        ("a.vid", 640, 360, 30.0, 5000, frame(1)),
        ("b.vid", 640, 360, 30.0, 6000, frame(2)),
        ("b_dup.vid", 1280, 720, 24.0, 7000, frame(2)),  # same frame as b
        ("c.vid", 320, 240, 30.0, 4000, frame(3)),
        ("short.vid", 640, 360, 30.0, 500, frame(4)),  # under the gate
        ("d.vid", 640, 360, 30.0, 9000, frame(5)),
    ]
    rows = []
    with tarfile.open(os.path.join(path, "0.tar"), "w") as tar:
        for name, w, h, fps, dur, fr in specs:
            data = encode_fake_video(w, h, fps, dur, fr)
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))
            rows.append((name, f"clip {name.split('.')[0]}"))
    with open(os.path.join(path, "0.csv"), "w") as f:
        f.write("video_name,caption\n")
        for name, cap in rows:
            f.write(f"{name},{cap}\n")
    return path


def run_pipeline(spark, dataset_dir: str, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.configs import ShardsDatasetConfig
    from dataprocessingframework_spark.filters.kernels import PHashFilter
    from dataprocessingframework_spark.filters.media_kernels import (
        FrameFilterAdapter,
        VideoInfoFilter,
    )
    from dataprocessingframework_spark.sources.reader import DatasetReader
    from dataprocessingframework_spark.sources.writers import write_shards

    ds = DatasetReader(spark).read_shards_with_bytes(
        ShardsDatasetConfig(path=dataset_dir), name_col="video_name"
    )
    n_input = ds.count()
    probed = ds.apply_data_filter(VideoInfoFilter())
    hashed = probed.apply_data_filter(
        FrameFilterAdapter(PHashFilter(), position=0.5)
    )
    clean = (
        hashed.filter("vid_is_correct AND duration >= 1.0")
        .drop_duplicates_keep_first(["image_phash_8"], order_col="video_name")
    )
    n_kept = clean.count()
    summary = write_shards(
        clean.select(
            "video_name", "caption", "duration", "image_phash_8", "content"
        ).df,
        out_dir,
        media_col="content",
        name_col="video_name",
    )
    return {
        "rows_in": n_input,
        "rows_kept": n_kept,
        "rows_removed": n_input - n_kept,
        "shards_written": summary.count(),
        "out_dir": out_dir,
    }


def main(workdir: str | None = None) -> dict:
    from dataprocessingframework_spark.session import get_spark

    workdir = workdir or tempfile.mkdtemp(prefix="dpf_video_")
    dataset_dir = build_example_dataset(os.path.join(workdir, "video_dataset"))
    spark = get_spark(app_name="dpf-spark-video-curation")
    spark.sparkContext.setLogLevel("ERROR")
    result = run_pipeline(spark, dataset_dir, os.path.join(workdir, "curated"))
    print(
        f"read {result['rows_in']} videos, removed "
        f"{result['rows_removed']} (1 frame-dup + 1 under-duration), "
        f"wrote {result['rows_kept']} into {result['shards_written']} "
        f"shard(s) at {result['out_dir']}"
    )
    return result


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
