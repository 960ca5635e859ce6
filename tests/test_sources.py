"""Format readers/writers/media goldens, mirroring the reference's
`tests/test_readers.py` / `tests/test_writers.py` strategy: tiny
synthetic datasets, shape goldens, broken-fixture errors, and
write -> re-read -> validate round trips."""

import os
import tarfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataprocessingframework_spark.configs import (
    FilesDatasetConfig,
    ShardedFilesDatasetConfig,
    ShardsDatasetConfig,
)
from dataprocessingframework_spark.filters.kernels import encode_fake_image
from dataprocessingframework_spark.operators import validators
from dataprocessingframework_spark.sources import (
    DatasetReader,
    write_sharded_files,
    write_shards,
)
from dataprocessingframework_spark.sources.media import (
    load_file_bytes,
    load_shard_bytes,
)


def _img(w, h, seed):
    rng = np.random.RandomState(seed)
    return encode_fake_image(rng.randint(0, 255, size=(h, w, 3), dtype=np.uint8))


@pytest.fixture()
def shards_dir(tmp_path):
    """Two shards x two samples: N.csv + N.tar (reference fixture shape,
    `tests/datasets/shards_correct`)."""
    d = tmp_path / "shards"
    d.mkdir()
    for shard in range(2):
        rows = []
        with tarfile.open(d / f"{shard}.tar", "w") as tar:
            for i in range(2):
                name = f"{shard}_{i}.img"
                data = _img(8 + i, 6, seed=shard * 10 + i)
                import io

                info = tarfile.TarInfo(name)
                info.size = len(data)
                tar.addfile(info, io.BytesIO(data))
                rows.append((name, f"caption {shard}-{i}"))
        with open(d / f"{shard}.csv", "w") as f:
            f.write("image_name,caption\n")
            for name, cap in rows:
                f.write(f"{name},{cap}\n")
    return str(d)


@pytest.fixture()
def files_dir(tmp_path):
    d = tmp_path / "files"
    (d / "imgs").mkdir(parents=True)
    rows = []
    for i in range(3):
        p = d / "imgs" / f"{i}.img"
        p.write_bytes(_img(10, 10, seed=i))
        rows.append((f"imgs/{i}.img", f"cap{i}"))
    with open(d / "data.csv", "w") as f:
        f.write("image_path,caption\n")
        for p, cap in rows:
            f.write(f"{p},{cap}\n")
    return str(d)


def test_read_shards_shape(spark, shards_dir):
    cfg = ShardsDatasetConfig(
        path=shards_dir,
        name_columns=["image_name"],
        required_columns=["image_name", "caption"],
    )
    ds = DatasetReader(spark).read(cfg)
    assert ds.count() == 4
    assert "split_name" in ds.columns
    splits = ds.distinct_values("split_name")
    assert sorted(splits) == ["0", "1"]
    # tar path column derived
    assert "image_name_tar_path" in ds.columns


def test_read_shards_missing_required_raises(spark, shards_dir):
    cfg = ShardsDatasetConfig(path=shards_dir, required_columns=["nope"])
    with pytest.raises(ValueError, match="missing required"):
        DatasetReader(spark).read(cfg)


def test_read_shards_missing_tar_raises(spark, shards_dir):
    os.remove(os.path.join(shards_dir, "1.tar"))
    cfg = ShardsDatasetConfig(path=shards_dir)
    with pytest.raises(ValueError, match="without archive"):
        DatasetReader(spark).read(cfg)


def test_read_files_prefixes_paths(spark, files_dir):
    cfg = FilesDatasetConfig(
        path=os.path.join(files_dir, "data.csv"),
        base_path=files_dir,
        path_columns=["image_path"],
        required_columns=["image_path", "caption"],
    )
    ds = DatasetReader(spark).read(cfg)
    paths = [r.image_path for r in ds.df.collect()]
    assert all(p.startswith(files_dir) for p in paths)
    assert all(os.path.exists(p) for p in paths)


def test_load_file_bytes_error_tolerant(spark, files_dir):
    cfg = FilesDatasetConfig(
        path=os.path.join(files_dir, "data.csv"),
        base_path=files_dir,
        path_columns=["image_path"],
    )
    ds = DatasetReader(spark).read(cfg)
    # break one path
    broken = ds.df.withColumn(
        "image_path",
        F.when(F.col("caption") == "cap1", F.lit("/nonexistent")).otherwise(
            F.col("image_path")
        ),
    )
    out = load_file_bytes(broken, "image_path").collect()
    ok = {r.caption: r.is_correct for r in out}
    assert ok == {"cap0": True, "cap1": False, "cap2": True}
    errs = {r.caption: r.error for r in out}
    assert errs["cap1"] is not None and errs["cap0"] is None


def test_load_shard_bytes(spark, shards_dir):
    cfg = ShardsDatasetConfig(path=shards_dir, name_columns=["image_name"])
    ds = DatasetReader(spark).read(cfg)
    out = load_shard_bytes(ds.df, "image_name_tar_path", "image_name").collect()
    assert len(out) == 4
    assert all(r.is_correct for r in out)
    assert all(bytes(r.content).startswith(b"FAKEIMG:") for r in out)


def test_write_shards_roundtrip(spark, shards_dir, tmp_path):
    """write -> re-read -> validate == 0 errors (reference
    `tests/test_writers.py:12-43`)."""
    cfg = ShardsDatasetConfig(path=shards_dir, name_columns=["image_name"])
    ds = DatasetReader(spark).read(cfg)
    with_bytes = load_shard_bytes(ds.df, "image_name_tar_path", "image_name")
    out_dir = str(tmp_path / "out_shards")
    summary = write_shards(
        with_bytes.select("image_name", "caption", "content"),
        out_dir,
        max_files_in_shard=3,
        media_col="content",
        name_col="image_name",
    )
    assert summary.agg(F.sum("rows")).collect()[0][0] == 4
    cfg2 = ShardsDatasetConfig(path=out_dir, name_columns=["image_name"])
    back = DatasetReader(spark).read(cfg2)
    assert back.count() == 4
    res = validators.validate(
        back.df,
        required_columns=["image_name", "caption"],
        key_columns=["image_name"],
    )
    assert res.total_errors == 0
    # media bytes survive byte-identically
    b = load_shard_bytes(back.df, "image_name_tar_path", "image_name")
    orig = {r.image_name: bytes(r.content) for r in with_bytes.collect()}
    new = {r.image_name: bytes(r.content) for r in b.collect()}
    assert orig == new


def test_write_sharded_files_roundtrip(spark, shards_dir, tmp_path):
    cfg = ShardsDatasetConfig(path=shards_dir, name_columns=["image_name"])
    ds = DatasetReader(spark).read(cfg)
    with_bytes = load_shard_bytes(ds.df, "image_name_tar_path", "image_name")
    out_dir = str(tmp_path / "out_sf")
    write_sharded_files(
        with_bytes.select("image_name", "caption", "content"),
        out_dir,
        max_files_in_shard=2,
        media_col="content",
        name_col="image_name",
    )
    cfg2 = ShardedFilesDatasetConfig(path=out_dir, name_columns=["image_name"])
    back = DatasetReader(spark).read(cfg2)
    assert back.count() == 4
    paths = [r["image_name_path"] for r in back.df.collect()]
    assert all(os.path.exists(p) for p in paths)


def test_write_shards_append_resumes_numbering(spark, tmp_path):
    """W1 resume (`processors/writers/shards_writer.py:92-119`):
    append=True continues shard numbering after the existing max;
    existing shards are immutable (deliberate divergence from the
    reference's in-place last-shard fill — see _next_shard_index_for)."""
    import os

    from dataprocessingframework_spark.sources.writers import write_shards

    out = str(tmp_path / "resume")
    df1 = spark.range(10).selectExpr("id", "concat('a', id) AS v")
    write_shards(df1, out, max_files_in_shard=5)
    first = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    mtimes = {f: os.path.getmtime(os.path.join(out, f)) for f in first}

    df2 = spark.range(10, 16).selectExpr("id", "concat('b', id) AS v")
    write_shards(df2, out, max_files_in_shard=5, append=True)
    after = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    assert set(first) < set(after)
    # old shards untouched, new ones numbered after the old max
    for f in first:
        assert os.path.getmtime(os.path.join(out, f)) == mtimes[f]
    new = set(after) - set(first)
    assert all(int(f.split(".")[0]) >= len(first) for f in new)
    total = spark.read.csv(f"{out}/*.csv", header=True).count()
    assert total == 16


def test_write_shards_overwrite_purges_stale_higher_shards(
    spark, tmp_path
):
    """Non-append writes are OVERWRITES (ADVICE r15): a smaller
    re-write into a populated dir must not leave higher-numbered
    shards from the previous larger run alive under the new
    force-published authoritative ``_schema.json`` — readers would
    parse them with pinned wrong types instead of the inference
    fallback."""
    import json
    import os

    from dataprocessingframework_spark.sources.writers import (
        write_shards,
        write_sharded_files,
    )

    out = str(tmp_path / "ovw")
    big = spark.range(20).selectExpr("id", "concat('a', id) AS v")
    write_shards(big, out, max_files_in_shard=5)
    assert len([f for f in os.listdir(out) if f.endswith(".csv")]) == 4

    # smaller second run, DIFFERENT schema, append=False
    small = spark.range(5).selectExpr(
        "id", "cast(id as double) AS score"
    )
    write_shards(small, out, max_files_in_shard=5)
    csvs = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    assert csvs == ["0.csv"], csvs  # stale 1..3.csv purged
    with open(os.path.join(out, "_schema.json")) as f:
        published = json.load(f)
    names = [c["name"] for c in published["fields"]]
    assert "score" in names and "v" not in names
    # every surviving shard is described by the published schema
    back = spark.read.csv(f"{out}/*.csv", header=True)
    assert back.columns == ["id", "score"] and back.count() == 5

    # sharded-files twin: member dirs purged too
    out2 = str(tmp_path / "ovw2")
    media = spark.range(12).selectExpr(
        "id",
        "cast(concat('payload', id) as binary) AS data",
        "concat(id, '.bin') AS name",
    )
    write_sharded_files(
        media, out2, max_files_in_shard=4, media_col="data", name_col="name"
    )
    assert os.path.isdir(os.path.join(out2, "2"))
    small2 = spark.range(3).selectExpr(
        "id",
        "cast('x' as binary) AS data",
        "concat(id, '.bin') AS name",
    )
    write_sharded_files(
        small2, out2, max_files_in_shard=4, media_col="data", name_col="name"
    )
    left = sorted(
        f for f in os.listdir(out2) if f.split(".")[0].isdigit()
    )
    assert left == ["0", "0.csv"], left

    # r16 review finding: a leftover done-state compaction manifest is
    # healed-and-cleared BEFORE the purge, like the native overwrite —
    # otherwise it would hide the fresh shards that reuse retired
    # numbers from every reader
    out3 = str(tmp_path / "ovw3")
    write_shards(big, out3, max_files_in_shard=5)
    with open(os.path.join(out3, "_compaction.json"), "w") as f:
        json.dump({"state": "done", "retired": ["0", "1"], "pending": []}, f)
    write_shards(small, out3, max_files_in_shard=5)
    assert "_compaction.json" not in os.listdir(out3)
    from dataprocessingframework_spark.sources.reader import DatasetReader

    back3 = DatasetReader(spark).read_metadata_shards(out3).df
    assert back3.count() == 5  # fresh shard 0 visible, old gen gone


def test_jsonl_roundtrip(spark, tmp_path, sf_dir):
    """JSONL sink/source: schema-stable round trip, maxRecordsPerFile
    rolls files without a shuffle."""
    import glob

    from dataprocessingframework_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, max_records_per_file=10)
    parts = glob.glob(f"{out}/part-*")
    assert parts and all(sum(1 for _ in open(p)) <= 10 for p in parts)

    back = read_jsonl(spark, out, schema=docs.schema)
    assert back.schema == docs.schema
    assert back.count() == docs.count()
    a = {r["doc_id"]: r["text"] for r in docs.collect()}
    b = {r["doc_id"]: r["text"] for r in back.collect()}
    assert a == b


def test_jsonl_corrupt_record_tolerant(spark, tmp_path):
    """With an explicit schema the read is PERMISSIVE: a corrupt line
    becomes a null row, not a scan failure (the reference's
    return_none_on_error, `dataloaders/files_dataset.py:84-107`)."""
    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\n{not json at all\n')
    from dataprocessingframework_spark.sources.jsonl import read_jsonl

    back = read_jsonl(spark, str(p), schema="doc_id long, text string")
    rows = back.collect()
    assert len(rows) == 2
    assert {r["doc_id"] for r in rows} == {1, None}


def test_compact_parquet_reduces_file_count(spark, tmp_path, sf_dir):
    """Compaction: many small files -> few target-sized files, same
    rows."""
    from dataprocessingframework_spark.sources.compact import (
        compact_parquet,
        dataset_file_stats,
    )

    frag = str(tmp_path / "fragmented")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.repartition(40).write.parquet(frag)
    n_in, bytes_in = dataset_file_stats(spark, frag)
    assert n_in == 40

    out = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, frag, out, target_file_mb=64)
    assert n_out == 1  # sf0.001 lineitem is far below 64MB
    assert spark.read.parquet(out).count() == li.count()


def test_tokenize_char_ngrams():
    """Shingle generation golden: exact n-gram set, short docs yield
    nothing."""
    from dataprocessingframework_spark.operators.dedup import (
        tokenize_char_ngrams,
    )
    from dataprocessingframework_spark.session import get_spark

    spark = get_spark(app_name="dpf-spark-tests", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={"spark.ui.enabled": "false"})
    df = spark.createDataFrame(
        [(1, "abcde"), (2, "abab"), (3, "xy")], ["doc_id", "text"]
    )
    out = tokenize_char_ngrams(df, "text", "doc_id", n=3)
    got = {(r["doc_id"], r["word"]) for r in out.collect()}
    assert got == {
        (1, "abc"), (1, "bcd"), (1, "cde"),
        (2, "aba"), (2, "bab"),
    }


def test_range_partitioned_layout_prunes(spark, tmp_path, sf_dir):
    """Clustered layout: per-file key ranges are disjoint (so a range
    predicate touches ~1/n of files); unclustered layout spans the
    whole domain in every file."""
    from dataprocessingframework_spark.sources.layout import (
        file_key_ranges,
        write_range_partitioned,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    clustered = str(tmp_path / "clustered")
    write_range_partitioned(li, clustered, "l_orderkey", num_files=8)

    ranges = [r for r in file_key_ranges(clustered, "l_orderkey") if r[1] is not None]
    assert len(ranges) == 8
    ranges.sort(key=lambda r: r[1])
    for (_, _, hi_prev), (_, lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint key ranges across files

    # a predicate on one range hits exactly one file's span
    lo, hi = ranges[0][1], ranges[0][2]
    overlapping = [r for r in ranges if not (r[2] < lo or r[1] > hi)]
    assert len(overlapping) == 1

    # contrast: round-robin layout -> every file spans ~the full domain
    scattered = str(tmp_path / "scattered")
    li.repartition(8).write.parquet(scattered)
    sc = [r for r in file_key_ranges(scattered, "l_orderkey") if r[1] is not None]
    full_lo = min(r[1] for r in sc)
    full_hi = max(r[2] for r in sc)
    overlapping_all = [r for r in sc if not (r[2] < lo or r[1] > hi)]
    assert len(overlapping_all) == len(sc)  # no pruning possible
    assert full_lo <= lo and full_hi >= hi


def test_format_roundtrip_orc_and_csv_adversarial_text(spark, tmp_path):
    """ORC and CSV round-trips preserve rows exactly, including text
    containing the CSV delimiter, quotes, and embedded newlines."""
    from dataprocessingframework_spark.sources.formats import (
        read_table,
        write_table,
    )

    rows = [
        (0, 'plain text', 'web'),
        (1, 'comma, separated, text', 'web'),
        (2, 'she said "quoted"', 'books'),
        (3, 'line one\nline two', 'books'),
        (4, '', 'web'),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string, source string")
    for fmt in ("orc", "csv"):
        path = str(tmp_path / f"rt_{fmt}")
        write_table(df, path, fmt)
        back = read_table(spark, path, fmt, schema=df.schema)
        got = {(r.doc_id, r.text, r.source) for r in back.collect()}
        want = {(i, t if t != "" else None, s) if fmt == "csv" else (i, t, s)
                for i, t, s in rows}
        assert got == want, (fmt, got)


def test_convert_format_rejects_unknown(spark, tmp_path):
    import pytest as _pytest

    from dataprocessingframework_spark.sources.formats import write_table

    df = spark.range(1)
    with _pytest.raises(ValueError):
        write_table(df, str(tmp_path / "x"), "avroish")


def test_hive_partitioned_write_prunes_and_bounds_files(spark, tmp_path):
    """Partition pruning shows up as PartitionFilters in the scan (the
    pruned directories are never listed), and the repartition guard
    keeps files-per-partition bounded instead of tasks x partitions."""
    import glob

    from dataprocessingframework_spark.sources.layout import (
        write_hive_partitioned,
    )

    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("grp"),
    ).repartition(8)  # simulate many write tasks
    path = str(tmp_path / "hive")
    write_hive_partitioned(df, path, ["grp"], max_records_per_file=100000)

    # small-files guard: each of the 4 partition dirs holds few files,
    # not one per original task
    for g in range(4):
        files = glob.glob(f"{path}/grp={g}/*.parquet")
        assert 1 <= len(files) <= 2, (g, files)

    back = spark.read.parquet(path).filter(F.col("grp") == "2")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "grp" in pf[0], plan
    assert back.count() == 1000


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path, sf_dir):
    """Z-order: every file covers a compact rectangle of the
    (l_orderkey, l_partkey) domain, so footer min/max prune predicates
    on EITHER column; a single-key range layout only prunes its own
    sort key and spans the full secondary domain in every file."""
    from dataprocessingframework_spark.sources.layout import (
        file_key_ranges,
        write_range_partitioned,
        write_zorder_layout,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    zpath = str(tmp_path / "zorder")
    write_zorder_layout(li, zpath, ["l_orderkey", "l_partkey"], num_files=16)
    rpath = str(tmp_path / "bykey")
    write_range_partitioned(li, rpath, "l_orderkey", num_files=16)

    def overlap_fraction(path, col, frac=0.125):
        ranges = [r for r in file_key_ranges(path, col) if r[1] is not None]
        dom_lo = min(r[1] for r in ranges)
        dom_hi = max(r[2] for r in ranges)
        hi = dom_lo + (dom_hi - dom_lo) * frac
        hit = [r for r in ranges if not (r[2] < dom_lo or r[1] > hi)]
        return len(hit) / len(ranges)

    # secondary column: z-order must prune where single-key cannot
    z_partkey = overlap_fraction(zpath, "l_partkey")
    r_partkey = overlap_fraction(rpath, "l_partkey")
    assert z_partkey < r_partkey, (z_partkey, r_partkey)
    assert r_partkey == 1.0  # every by-key file spans the partkey domain
    # primary column still prunes under z-order (coarser than pure
    # range layout but far from full-scan)
    assert overlap_fraction(zpath, "l_orderkey") < 1.0
    # layout preserves the data
    assert spark.read.parquet(zpath).count() == li.count()


def test_atomic_publish_rename_and_verification(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.sources.writers import atomic_publish

    out = str(tmp_path / "published")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    n = atomic_publish(spark, df, out, expected_rows=100)
    assert n == 100
    assert spark.read.parquet(out).count() == 100
    import os

    assert not os.path.exists(out + "._staging")  # staging moved away

    # verification failure leaves the published dataset untouched
    import pytest as _pytest

    with _pytest.raises(ValueError, match="verification failed"):
        atomic_publish(spark, spark.range(5), out, expected_rows=99)
    assert spark.read.parquet(out).count() == 100  # old data still there
    assert not os.path.exists(out + "._staging")


def test_write_with_metrics_observes_nulls_in_flight(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.sources.writers import (
        write_with_metrics,
    )

    df = spark.range(50).select(
        "id",
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    out = str(tmp_path / "observed")
    m = write_with_metrics(df, out, metric_cols=["v"])
    assert m["rows"] == 50 and m["nulls_v"] == 10
    assert spark.read.parquet(out).count() == 50


def test_versioned_table_commit_time_travel_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.sources.versioned import (
        commit,
        history,
        latest_version,
        read_version,
    )

    path = str(tmp_path / "vtable")
    assert latest_version(spark, path) is None

    v0 = commit(spark, spark.range(10).withColumn("v", F.lit("a")), path)
    v1 = commit(spark, spark.range(5).withColumn("v", F.lit("b")), path,
                mode="append")
    v2 = commit(spark, spark.range(3).withColumn("v", F.lit("c")), path,
                mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    # time travel: every version still readable with its exact content
    assert read_version(spark, path, 0).count() == 10
    r1 = read_version(spark, path, 1)
    assert r1.count() == 15
    assert {x.v for x in r1.select("v").distinct().collect()} == {"a", "b"}
    assert read_version(spark, path, 2).count() == 3
    assert read_version(spark, path).count() == 3  # latest = overwrite

    h = history(spark, path)
    assert [(e["version"], e["mode"], e["rows"]) for e in h] == [
        (0, "append", 10), (1, "append", 15), (2, "overwrite", 3),
    ]

    # readers trust the manifest, not the directory listing: a stray
    # uncommitted file is invisible
    stray = tmp_path / "vtable" / "data" / "stray"
    spark.range(99).withColumn("v", F.lit("x")).write.parquet(str(stray))
    assert read_version(spark, path).count() == 3


def test_versioned_read_changes_and_vacuum(spark, tmp_path):
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.sources.versioned import (
        commit,
        read_changes,
        read_version,
        vacuum,
    )

    path = str(tmp_path / "vt2")
    commit(spark, spark.range(10).withColumn("v", F.lit("a")), path)
    commit(spark, spark.range(100, 104).withColumn("v", F.lit("b")), path,
           mode="append")
    delta = read_changes(spark, path, 0, 1)
    assert sorted(r.id for r in delta.collect()) == [100, 101, 102, 103]

    # vacuum keeping only the latest: v0-only files die, v1 readable
    n = vacuum(spark, path, keep_versions=1)
    assert n == 0  # append reuses v0's files in v1's manifest -> all kept
    commit(spark, spark.range(3).withColumn("v", F.lit("c")), path,
           mode="overwrite")
    n = vacuum(spark, path, keep_versions=1)
    assert n > 0  # the pre-overwrite files are unreferenced now
    assert read_version(spark, path).count() == 3
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_version(spark, path, 0)  # vacuumed manifest is gone


def test_versioned_commit_history_after_vacuum(spark, tmp_path):
    """ADVICE r4: vacuum() deletes old manifests, so commit()'s tag
    idempotence and history() must never iterate version 0..latest —
    a tagged commit and a history listing must both work AFTER a
    vacuum, and a tag recorded in a since-vacuumed manifest must
    still deduplicate (the tag index is carried forward)."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.sources.versioned import (
        commit,
        history,
        vacuum,
    )

    path = str(tmp_path / "vt3")
    v0 = commit(
        spark, spark.range(4).withColumn("v", F.lit("a")), path, tag="batch-0"
    )
    commit(
        spark,
        spark.range(2).withColumn("v", F.lit("b")),
        path,
        mode="overwrite",
        tag="batch-1",
    )
    vacuum(spark, path, keep_versions=1)  # v0 manifest is gone

    # history over retained manifests only — no crash, no v0 row
    assert [e["version"] for e in history(spark, path)] == [1]

    # a NEW tagged commit after vacuum must succeed (this crashed with
    # FileNotFoundError when the tag scan read from version 0)
    v2 = commit(
        spark,
        spark.range(3).withColumn("v", F.lit("c")),
        path,
        mode="append",
        tag="batch-2",
    )
    assert v2 == 2

    # replaying a tag whose recording manifest was VACUUMED is still a
    # no-op returning the original version
    assert (
        commit(
            spark,
            spark.range(9).withColumn("v", F.lit("dup")),
            path,
            tag="batch-0",
        )
        == v0
    )

    # a second vacuum with a WIDER window than the first must tolerate
    # the hole the first one left in the version sequence
    vacuum(spark, path, keep_versions=5)
    assert [e["version"] for e in history(spark, path)] == [1, 2]


def test_get_random_sample_returns_media_and_metadata(spark, shards_dir):
    """Reference-parity processor.get_random_sample(): one row's tar
    member bytes plus its metadata dict (docs/processor.md)."""
    from dataprocessingframework_spark.sources.reader import DatasetReader

    ds = DatasetReader(spark).read(
        ShardsDatasetConfig(path=shards_dir, name_columns=["image_name"])
    )
    media, meta = ds.get_random_sample(seed=7)
    assert set(media) == {"image_name"}
    assert media["image_name"].startswith(b"FAKEIMG:")
    assert meta["image_name"].endswith(".img")
    assert "caption" in meta


def test_get_random_sample_files_config(spark, files_dir):
    """Files-config branch: media resolved through the path columns."""
    from dataprocessingframework_spark.sources.reader import DatasetReader

    ds = DatasetReader(spark).read(
        FilesDatasetConfig(
            path=f"{files_dir}/data.csv", path_columns=["image_path"]
        )
    )
    media, meta = ds.get_random_sample(seed=3)
    assert set(media) == {"image_path"}
    assert media["image_path"].startswith(b"FAKEIMG:")
    assert meta["caption"].startswith("cap")


def test_get_random_sample_empty_dataset_raises(spark):
    """ADVICE r5: an empty dataset must raise a clear ValueError, not
    a bare IndexError from row[0]; and the sizing count() is gone —
    the fixed fraction + limit(1) fallback covers tiny datasets."""
    from dataprocessingframework_spark.dataset import Dataset

    empty = Dataset(
        spark.createDataFrame([], schema="doc_id long, text string")
    )
    with pytest.raises(ValueError, match="empty"):
        empty.get_random_sample()
    one = Dataset(
        spark.createDataFrame([(1, "x")], schema="doc_id long, text string")
    )
    _, meta = one.get_random_sample()
    assert meta["doc_id"] == 1
