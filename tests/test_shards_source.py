"""DSv2 shards source (r13 — VERDICT r12 item 5): one-tar-per-
partition planning, split_name partition pruning, value parity with
the mapInPandas path, and the error-tolerant member contract."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, In

from dataprocessingframework_spark.configs import ShardsDatasetConfig
from dataprocessingframework_spark.queries import SCRATCH
from dataprocessingframework_spark.sources.media import load_shard_bytes
from dataprocessingframework_spark.sources.reader import DatasetReader
from dataprocessingframework_spark.sources.shards_source import (
    ShardsReader,
    register_shards_source,
)
from dataprocessingframework_spark.sources.writers import write_shards

_TOOLS = os.path.join(os.path.dirname(SCRATCH), "tools")




def _ls(path):
    """Dataset listing minus bookkeeping entries (_schema.json,
    _shards_commits, ...) — shard-shape assertions care about the
    csv/tar/folder entries."""
    return sorted(f for f in os.listdir(path) if not f.startswith("_"))


@pytest.fixture()
def shard_dir(spark, tmp_path):
    out = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [
            (f"img_{i:02d}.jpg", f'cap "q,\n{i}', i, bytes([i]) * 3)
            for i in range(24)
        ],
        schema="name string, caption string, k int, content binary",
    )
    write_shards(
        df, out, max_files_in_shard=6, media_col="content", name_col="name"
    )
    return out


def test_one_shard_pair_per_partition(spark, shard_dir):
    """The planning contract: partitions() returns exactly one
    InputPartition per csv/tar pair, each carrying its own tar — the
    reference's worker-slicing locality (shards_dataset.py:86-131)
    expressed at the planner level. Observable end-to-end: the scan
    RDD has #shards partitions, no repartition needed."""
    n_shards = len([f for f in os.listdir(shard_dir) if f.endswith(".csv")])
    assert n_shards == 4
    ds = DatasetReader(spark).read_shards_with_bytes(
        ShardsDatasetConfig(path=shard_dir)
    )
    reader = ShardsReader(ds.df.schema, {"path": shard_dir})
    parts = reader.partitions()
    assert len(parts) == n_shards
    assert sorted(p.split_name for p in parts) == ["0", "1", "2", "3"]
    assert all(p.tar_path and p.tar_path.endswith(".tar") for p in parts)
    assert ds.df.rdd.getNumPartitions() == n_shards


def test_pushdown_prunes_shard_pairs(spark, shard_dir):
    """Plan test: an EqualTo/In predicate on split_name removes whole
    shard pairs at planning (pruned shards' csv AND tar are never
    opened); every filter is still returned to Spark for re-apply, so
    the reader never becomes the predicate evaluator of record.
    End-to-end the pruned scan runs with fewer RDD partitions."""
    ds = DatasetReader(spark).read_shards_with_bytes(
        ShardsDatasetConfig(path=shard_dir)
    )
    schema = ds.df.schema
    r = ShardsReader(schema, {"path": shard_dir})
    flt = [EqualTo(("split_name",), "2"), EqualTo(("k",), 7)]
    returned = list(r.pushFilters(flt))
    assert returned == flt  # conservative: Spark re-applies everything
    assert [p.split_name for p in r.partitions()] == ["2"]

    r2 = ShardsReader(schema, {"path": shard_dir})
    r2.pushFilters([In(("split_name",), ("1", "3", "nope"))])
    assert [p.split_name for p in r2.partitions()] == ["1", "3"]

    # non-split_name filters never prune
    r3 = ShardsReader(schema, {"path": shard_dir})
    r3.pushFilters([EqualTo(("name",), "img_00.jpg")])
    assert len(r3.partitions()) == 4

    # end-to-end: the filtered scan plans 1 partition, values correct
    one = ds.df.filter(F.col("split_name") == "2")
    assert one.rdd.getNumPartitions() == 1
    byo = {r.name for r in one.collect()}
    full = {
        r.name for r in ds.df.collect() if r.split_name == "2"
    }
    assert byo == full and byo
    # fully-pruned scan yields zero rows (Spark's [None] sentinel)
    assert ds.df.filter(F.col("split_name") == "nope").count() == 0


def test_dsv2_matches_mapinpandas_path(spark, shard_dir):
    """Value parity: read_shards_with_bytes (DSv2, one scan) returns
    exactly what the legacy read_shards + load_shard_bytes composition
    returns — metadata types included (the DSv2 path reuses the
    Spark-csv-inferred schema), bytes included, adversarial captions
    (embedded quote/comma/newline) included."""
    rd = DatasetReader(spark)
    v2 = rd.read_shards_with_bytes(ShardsDatasetConfig(path=shard_dir)).df
    legacy_meta = rd.read_shards(
        ShardsDatasetConfig(path=shard_dir, name_columns=["name"])
    ).df
    legacy = load_shard_bytes(legacy_meta, "name_tar_path", "name")
    cols = ["name", "caption", "k", "split_name", "is_correct"]
    a = {
        tuple(r[c] for c in cols) + (bytes(r.content),)
        for r in v2.collect()
    }
    b = {
        tuple(r[c] for c in cols) + (bytes(r.content),)
        for r in legacy.collect()
    }
    assert a == b and len(a) == 24
    # metadata types match the legacy inference exactly
    v2_meta_types = [
        (f.name, f.dataType)
        for f in v2.schema.fields
        if f.name in ("name", "caption", "k")
    ]
    leg_types = [
        (f.name, f.dataType)
        for f in legacy_meta.schema.fields
        if f.name in ("name", "caption", "k")
    ]
    assert v2_meta_types == leg_types


def test_meta_jvm_route_matches_dsv2(spark, tmp_path):
    """VERDICT r15 item 6: read_metadata_shards(engine='jvm') — the
    native JVM csv scan with the published schema pinned — returns
    byte-identical rows AND types to the DSv2 route, including
    adversarial captions (embedded quote/comma/newline). 'auto'
    prefers it exactly when local + published; remote or unpublished
    datasets fall back to DSv2, and engine='jvm' is loud there."""
    out = str(tmp_path / "native")
    df = _mk_media_df(spark).repartition(1)
    register_shards_source(spark)
    (
        df.write.format("dpf_shards")
        .option("max_files_in_shard", "6")
        .mode("append")
        .save(out)
    )
    rd = DatasetReader(spark)
    jvm = rd.read_metadata_shards(out, engine="jvm").df
    v2 = rd.read_metadata_shards(out, engine="dsv2").df
    assert jvm.schema == v2.schema
    cols = jvm.columns
    assert set(map(tuple, jvm.collect())) == set(map(tuple, v2.collect()))
    assert "split_name" in cols and jvm.count() == 24
    # zero Python DataSource in the jvm plan; BatchScan in the dsv2 one
    assert "dpf_shards" not in jvm._jdf.queryExecution().executedPlan().toString()
    # auto picks jvm here (published + local): same plan shape
    auto = rd.read_metadata_shards(out).df
    assert (
        "dpf_shards"
        not in auto._jdf.queryExecution().executedPlan().toString()
    )

    # unpublished dataset: auto falls back to DSv2, jvm is loud
    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    with open(f"{bare}/0.csv", "w") as f:
        f.write("name,k\na.bin,1\n")
    assert rd.read_metadata_shards(bare).df.count() == 1
    with pytest.raises(ValueError, match="publish_shard_schema"):
        rd.read_metadata_shards(bare, engine="jvm")

    # r16 review finding: the jvm route shares _list_shards semantics
    # — a done compaction manifest's retired stems are excluded even
    # before their files are garbage-collected...
    import json

    with open(os.path.join(out, "_compaction.json"), "w") as f:
        json.dump({"state": "done", "retired": ["0"], "pending": []}, f)
    n_jvm = rd.read_metadata_shards(out, engine="jvm").df.count()
    n_v2 = rd.read_metadata_shards(out, engine="dsv2").df.count()
    assert n_jvm == n_v2 == 18  # 24 minus retired shard 0's 6 rows
    os.remove(os.path.join(out, "_compaction.json"))
    # ...and a live update marker raises the same loud heal error
    # instead of silently returning mixed old/new metadata
    with open(os.path.join(out, "_metadata_update.json"), "w") as f:
        json.dump({"state": "renaming", "map": {}}, f)
    with pytest.raises(RuntimeError, match="heal_metadata_update"):
        rd.read_metadata_shards(out, engine="jvm")
    os.remove(os.path.join(out, "_metadata_update.json"))


def test_error_tolerant_member_contract(spark, tmp_path):
    """A csv row whose member is absent from the tar yields
    content=None / is_correct=False / error set — the reference's
    return_none_on_error (shards_dataset.py:101-115) — instead of
    failing the task."""
    import tarfile

    out = str(tmp_path / "bad")
    os.makedirs(out)
    with open(f"{out}/0.csv", "w") as f:
        f.write("name,k\na.bin,1\nmissing.bin,2\n")
    with tarfile.open(f"{out}/0.tar", "w") as tf:
        import io

        info = tarfile.TarInfo("a.bin")
        info.size = 2
        tf.addfile(info, io.BytesIO(b"ok"))
    ds = DatasetReader(spark).read_shards_with_bytes(
        ShardsDatasetConfig(path=out)
    )
    rows = {r.name: r for r in ds.df.collect()}
    assert rows["a.bin"].is_correct and bytes(rows["a.bin"].content) == b"ok"
    bad = rows["missing.bin"]
    assert not bad.is_correct and bad.content is None
    assert "missing.bin" in bad.error


def test_pairing_validation_and_registration_idempotent(spark, tmp_path):
    """csv without a tar mate fails loudly in the content-reading
    mode (dataset_reader.py:183-192 contract); re-registering the
    source on a session that already has it is a no-op."""
    out = str(tmp_path / "unpaired")
    os.makedirs(out)
    with open(f"{out}/0.csv", "w") as f:
        f.write("name,k\na.bin,1\n")
    register_shards_source(spark)
    register_shards_source(spark)  # idempotent
    with pytest.raises(Exception, match="without archive"):
        DatasetReader(spark).read_shards_with_bytes(
            ShardsDatasetConfig(path=out)
        ).df.collect()
    # metadata-only read of the same dir is fine (no pairing demand)
    meta = DatasetReader(spark).read_metadata_shards(out)
    assert meta.df.count() == 1


# --------------------------------------------------------------------------
# write path (commit protocol)
# --------------------------------------------------------------------------


def _mk_media_df(spark, n=24):
    return spark.createDataFrame(
        [
            (f"img_{i:02d}.jpg", f'cap "q,\n{i}', i, bytes([i]) * 3)
            for i in range(n)
        ],
        schema="name string, caption string, k int, content binary",
    )


def test_dsv2_writer_roundtrip_with_rolling(spark, tmp_path):
    """write.format('dpf_shards') -> numbered csv+tar pairs; a single
    input partition rolls a new pair every max_files_in_shard rows;
    re-reading through the SAME source returns the exact rows and
    leaves no temp files behind."""
    register_shards_source(spark)
    out = str(tmp_path / "native")
    df = _mk_media_df(spark).repartition(1)
    (
        df.write.format("dpf_shards")
        .option("max_files_in_shard", "6")
        .mode("append")
        .save(out)
    )
    files = _ls(out)
    assert files == sorted(
        [f"{i}.csv" for i in range(4)] + [f"{i}.tar" for i in range(4)]
    )
    back = spark.read.format("dpf_shards").load(out)
    assert back.rdd.getNumPartitions() == 4
    got = {
        r.name: (r.caption, r.k, bytes(r.content), r.is_correct)
        for r in back.collect()
    }
    want = {
        r.name: (r.caption, r.k, bytes(r.content), True)
        for r in df.collect()
    }
    assert got == want


def test_dsv2_writer_append_and_overwrite(spark, tmp_path):
    """mode('append') numbers new shards after the existing maximum
    (immutable existing shards); mode('overwrite') replaces the whole
    dataset at commit time."""
    register_shards_source(spark)
    out = str(tmp_path / "modes")
    base = _mk_media_df(spark, 12).repartition(1)
    base.write.format("dpf_shards").option(
        "max_files_in_shard", "6"
    ).mode("append").save(out)
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "0.csv", "1.csv",
    ]
    base.limit(6).repartition(1).write.format("dpf_shards").mode(
        "append"
    ).save(out)
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "0.csv", "1.csv", "2.csv",
    ]
    assert spark.read.format("dpf_shards").load(out).count() == 18
    small = _mk_media_df(spark, 5).repartition(1)
    small.write.format("dpf_shards").mode("overwrite").save(out)
    assert _ls(out) == ["0.csv", "0.tar"]
    assert spark.read.format("dpf_shards").load(out).count() == 5


def test_dsv2_writer_csv_only_and_null_content(spark, tmp_path):
    """No content column -> metadata-only csv shards, no archives;
    a NULL content row writes no tar member and re-reads as
    is_correct=false (the tolerant contract, symmetric with the
    reader)."""
    register_shards_source(spark)
    meta_out = str(tmp_path / "metaonly")
    meta = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], schema="id int, text string"
    ).repartition(2)
    meta.write.format("dpf_shards").mode("append").save(meta_out)
    assert all(f.endswith(".csv") for f in _ls(meta_out))
    assert (
        spark.read.format("dpf_shards").load(meta_out).count() == 8
    )

    null_out = str(tmp_path / "nullcontent")
    df = spark.createDataFrame(
        [("a.bin", bytes([1])), ("b.bin", None)],
        schema="name string, content binary",
    ).repartition(1)
    df.write.format("dpf_shards").mode("append").save(null_out)
    rows = {
        r.name: r
        for r in spark.read.format("dpf_shards").load(null_out).collect()
    }
    assert rows["a.bin"].is_correct
    assert not rows["b.bin"].is_correct and rows["b.bin"].content is None


def test_dsv2_writer_failed_job_leaves_dataset_untouched(spark, tmp_path):
    """The commit protocol's whole point: a job with a failing task
    must leave NO final shard files and NO temps — and an existing
    dataset untouched — because temps only become shards inside
    commit(), which never runs."""
    register_shards_source(spark)
    out = str(tmp_path / "atomic")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).mode("append").save(out)
    before = _ls(out)

    from pyspark.sql.types import StringType

    @F.udf(StringType())
    def boom(name):
        raise RuntimeError("planted failure")

    bad = _mk_media_df(spark, 12).withColumn("name", boom("name"))
    with pytest.raises(Exception, match="planted failure"):
        bad.write.format("dpf_shards").mode("append").save(out)
    assert _ls(out) == before  # no temps, no new shards


def test_dsv2_stream_sink_end_to_end(spark, tmp_path):
    """writeStream.format('dpf_shards'): each micro-batch lands as new
    numbered shard pairs, a restart with no new data appends nothing,
    and new data after a restart keeps numbering contiguous."""
    register_shards_source(spark)
    src = tmp_path / "src"
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    base = _mk_media_df(spark, 12)
    base.filter("k < 6").repartition(1).write.parquet(f"{src}/a.parquet")
    base.filter("k >= 6").repartition(1).write.parquet(f"{src}/b.parquet")

    def run():
        q = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
            .writeStream.format("dpf_shards")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    shards = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    assert len(shards) >= 2  # one per micro-batch at least
    # markers are namespaced by checkpoint (one ns dir for this query)
    (ns,) = os.listdir(os.path.join(out, "_shards_commits"))
    markers = os.listdir(os.path.join(out, "_shards_commits", ns))
    assert len(markers) == len(shards)
    back = spark.read.format("dpf_shards").load(out)
    got = {r.name: (r.k, bytes(r.content)) for r in back.collect()}
    assert got == {r.name: (r.k, bytes(r.content)) for r in base.collect()}
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]

    run()  # no new source files: a no-op restart
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == shards

    base.limit(3).repartition(1).write.parquet(f"{src}/c.parquet")
    run()
    after = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    assert len(after) == len(shards) + 1
    assert spark.read.format("dpf_shards").load(out).count() == 15


def test_dsv2_stream_sink_replayed_batch_is_noop(spark, tmp_path):
    """The commit-marker contract directly: committing the same
    batchId twice renames once — the replay's temps are swept, never
    renamed, so failure-restart replays cannot duplicate shards."""
    import pandas as pd

    from dataprocessingframework_spark.sources.shards_source import (
        ShardsCommitMessage,
        ShardsStreamWriter,
    )
    from pyspark.sql.types import StructType

    out = str(tmp_path / "replay")
    schema = StructType.fromDDL("id int, text string")
    w = ShardsStreamWriter(schema, {"path": out}, overwrite=False)

    def fake_task_output(tag):
        tmp = os.path.join(out, f".{w._token}-p000000-a{tag}-s0.csv.tmp")
        pd.DataFrame({"id": [1], "text": [tag]}).to_csv(tmp, index=False)
        return ShardsCommitMessage(shards=[(0, 0, tmp, None, 1)])

    w.commit([fake_task_output("first")], batchId=0)
    assert _ls(out) == ["0.csv"]
    w.commit([fake_task_output("replay")], batchId=0)  # replayed batch
    assert _ls(out) == ["0.csv"]
    with open(os.path.join(out, "0.csv")) as f:
        assert "first" in f.read()  # the original commit won
    w.commit([fake_task_output("next")], batchId=1)
    assert _ls(out) == ["0.csv", "1.csv"]

    # crash MID-COMMIT: the write-ahead marker recorded the rename
    # plan but the renames never ran; the replay must COMPLETE the
    # recorded plan (the crashed attempt's temps take their planned
    # names) and sweep its own duplicate temps
    import json

    crashed = fake_task_output("crashed-attempt")
    (_pid, _seq, tmp_csv, _tmp_tar, _rows) = crashed.shards[0]
    w._write_marker(
        w._marker(2),
        {"state": "renaming", "map": {tmp_csv: os.path.join(out, "2.csv")}},
    )
    w.commit([fake_task_output("replay-of-2")], batchId=2)
    assert _ls(out) == ["0.csv", "1.csv", "2.csv"]
    with open(os.path.join(out, "2.csv")) as f:
        assert "crashed-attempt" in f.read()  # the planned temps won
    with open(w._marker(2)) as f:
        assert json.load(f)["state"] == "done"

    # a DIFFERENT query (new checkpoint) restarting batchIds at 0 must
    # not be swallowed by the first query's batch-0 marker
    w2 = ShardsStreamWriter(
        schema, {"path": out, "checkpointlocation": "/ckpt/other"},
        overwrite=False,
    )
    tmp2 = os.path.join(out, f".{w2._token}-p000000-aX-s0.csv.tmp")
    pd.DataFrame({"id": [9], "text": ["other-query"]}).to_csv(
        tmp2, index=False
    )
    w2.commit(
        [ShardsCommitMessage(shards=[(0, 0, tmp2, None, 1)])], batchId=0
    )
    assert os.path.exists(os.path.join(out, "3.csv"))
    with open(os.path.join(out, "3.csv")) as f:
        assert "other-query" in f.read()

    with pytest.raises(ValueError, match="append-only"):
        ShardsStreamWriter(schema, {"path": out}, overwrite=True)


# --------------------------------------------------------------------------
# compaction (the streaming sink's small-files janitor)
# --------------------------------------------------------------------------


def test_compact_shards_merges_small_tail(spark, tmp_path):
    """Six tiny shard pairs (a low-rate stream's accumulation) merge
    into ceil(24/12)=2 right-sized pairs: same rows and content, the
    retired files and the manifest are gone."""
    from dataprocessingframework_spark.sources.shards_source import (
        compact_shards,
    )

    register_shards_source(spark)
    out = str(tmp_path / "tail")
    df = _mk_media_df(spark, 24)
    for lo in range(0, 24, 4):  # six 4-row appends, like micro-batches
        df.filter(f"k >= {lo} and k < {lo + 4}").repartition(1).write.format(
            "dpf_shards"
        ).mode("append").save(out)
    assert len([f for f in os.listdir(out) if f.endswith(".csv")]) == 6

    res = compact_shards(spark, out, max_files_in_shard=12)
    assert res["retired"] == [str(i) for i in range(6)]
    assert res["new"] == ["6", "7"] and res["rows"] == 24
    assert _ls(out) == ["6.csv", "6.tar", "7.csv", "7.tar"]
    back = spark.read.format("dpf_shards").load(out)
    got = {r.name: (r.k, bytes(r.content)) for r in back.collect()}
    assert got == {r.name: (r.k, bytes(r.content)) for r in df.collect()}

    # already compact: a second run is a no-op
    assert compact_shards(spark, out, max_files_in_shard=12) == {
        "retired": [], "new": [], "rows": 0,
    }


def test_compact_shards_leaves_right_sized_shards_alone(spark, tmp_path):
    """Only the undersized tail is rewritten — the big shard's files
    are untouched (same stem), which is what bounds compaction cost by
    the tail, not the dataset."""
    from dataprocessingframework_spark.sources.shards_source import (
        compact_shards,
    )

    register_shards_source(spark)
    out = str(tmp_path / "mixed")
    df = _mk_media_df(spark, 30)
    df.filter("k < 20").repartition(1).write.format("dpf_shards").mode(
        "append"
    ).save(out)  # shard 0: 20 rows (right-sized)
    for lo in (20, 25):
        df.filter(f"k >= {lo} and k < {lo + 5}").repartition(1).write.format(
            "dpf_shards"
        ).mode("append").save(out)  # shards 1, 2: 5 rows each
    mtime0 = os.path.getmtime(f"{out}/0.csv")
    res = compact_shards(spark, out, max_files_in_shard=20, min_rows=10)
    assert res["retired"] == ["1", "2"] and res["new"] == ["3"]
    assert os.path.getmtime(f"{out}/0.csv") == mtime0
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "0.csv", "3.csv",
    ]
    assert spark.read.format("dpf_shards").load(out).count() == 30


def test_compaction_heal_rollback_and_complete(spark, tmp_path):
    """Crash healing on both sides of the manifest flip: a
    'compacting' manifest rolls back orphaned new shards (old shards
    were always live — no loss, no dupes); a 'done' manifest already
    hides the retired stems from readers, and heal finishes the
    deletes."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        _COMPACTION_MANIFEST,
        heal_compaction,
    )

    register_shards_source(spark)
    out = str(tmp_path / "heal")
    df = _mk_media_df(spark, 8)
    for lo in (0, 4):
        df.filter(f"k >= {lo} and k < {lo + 4}").repartition(1).write.format(
            "dpf_shards"
        ).mode("append").save(out)

    # crash before the flip: an orphan new shard (2) exists alongside
    # the still-live originals
    import shutil

    shutil.copy(f"{out}/0.csv", f"{out}/2.csv")
    shutil.copy(f"{out}/0.tar", f"{out}/2.tar")
    with open(os.path.join(out, _COMPACTION_MANIFEST), "w") as f:
        json.dump(
            {"state": "compacting", "retired": ["0", "1"], "pending": ["2"]},
            f,
        )
    # readers see the PRE-compaction dataset plus the orphan is the
    # only anomaly a compacting manifest allows; heal removes it
    assert heal_compaction(out) == "compacting"
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "0.csv", "1.csv",
    ]
    assert spark.read.format("dpf_shards").load(out).count() == 8

    # crash after the flip: retired files still on disk must already
    # be invisible to readers; heal garbage-collects them
    shutil.copy(f"{out}/0.csv", f"{out}/9.csv")  # stand-in "new" shard
    shutil.copy(f"{out}/0.tar", f"{out}/9.tar")
    with open(os.path.join(out, _COMPACTION_MANIFEST), "w") as f:
        json.dump({"state": "done", "retired": ["0", "1"]}, f)
    assert spark.read.format("dpf_shards").load(out).count() == 4  # 9 only
    assert heal_compaction(out) == "done"
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "9.csv",
    ]
    assert heal_compaction(out) is None


def test_metadata_only_csv_may_use_reserved_column_names(spark, tmp_path):
    """A metadata-only csv with columns literally named 'content' /
    'is_correct' / 'error' reads as plain metadata (the legacy csv
    path did; the DSv2 route must not flip into tar mode or drop
    them)."""
    out = str(tmp_path / "reserved")
    os.makedirs(out)
    with open(f"{out}/0.csv", "w") as f:
        f.write("name,content,error,k\na.bin,meta-payload,none,1\n")
    ds = DatasetReader(spark).read_metadata_shards(out)
    row = ds.df.collect()[0]
    assert row.content == "meta-payload" and row.error == "none"
    assert row.k == 1 and row.split_name == "0"


def test_read_shards_with_bytes_custom_archive_ext(spark, tmp_path):
    """archive_ext from the config must reach the DSv2 source — a
    .tgz-paired dataset is valid end-to-end."""
    import io
    import tarfile

    out = str(tmp_path / "tgz")
    os.makedirs(out)
    with open(f"{out}/0.csv", "w") as f:
        f.write("name,k\na.bin,1\n")
    with tarfile.open(f"{out}/0.tgz", "w") as tf:
        info = tarfile.TarInfo("a.bin")
        info.size = 2
        tf.addfile(info, io.BytesIO(b"ok"))
    ds = DatasetReader(spark).read_shards_with_bytes(
        ShardsDatasetConfig(path=out, archive_ext="tgz")
    )
    row = ds.df.collect()[0]
    assert row.is_correct and bytes(row.content) == b"ok"


def test_overwrite_heals_leftover_compaction_manifest(spark, tmp_path):
    """mode('overwrite') onto a dataset with a leftover done-state
    compaction manifest must delete the retired FILES too and clear
    the manifest — otherwise fresh shards reusing a retired number
    stay invisible to every read."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        _COMPACTION_MANIFEST,
    )

    register_shards_source(spark)
    out = str(tmp_path / "owheal")
    _mk_media_df(spark, 8).repartition(1).write.format("dpf_shards").option(
        "max_files_in_shard", "2"
    ).mode("append").save(out)  # shards 0..3
    with open(os.path.join(out, _COMPACTION_MANIFEST), "w") as f:
        json.dump({"state": "done", "retired": ["2", "3"]}, f)
    # overwrite with 6 rows in 3 shards: stems 0,1,2 — '2' reuses a
    # retired number and must be readable afterwards
    _mk_media_df(spark, 6).repartition(1).write.format("dpf_shards").option(
        "max_files_in_shard", "2"
    ).mode("overwrite").save(out)
    assert not os.path.exists(os.path.join(out, _COMPACTION_MANIFEST))
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "0.csv", "1.csv", "2.csv",
    ]
    assert spark.read.format("dpf_shards").load(out).count() == 6


def test_dataset_write_shards(spark, tmp_path):
    """The Dataset-level entry routes through the commit-protocol
    writer with the same layout contract as write_shards."""
    from dataprocessingframework_spark.dataset import Dataset

    out = str(tmp_path / "native_ds")
    ds = Dataset(_mk_media_df(spark, 12).repartition(1))
    ds.write_shards(
        out, max_files_in_shard=6, media_col="content", name_col="name"
    )
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == [
        "0.csv", "1.csv",
    ]
    assert spark.read.format("dpf_shards").load(out).count() == 12


def _write_via(entry, df, out, **kwargs):
    from dataprocessingframework_spark.dataset import Dataset
    from dataprocessingframework_spark.sources import writers

    owner, name = entry.split(".")
    if owner == "Dataset":
        getattr(Dataset(df), name)(out, **kwargs)
    else:
        getattr(writers, name)(df, out, **kwargs)


@pytest.mark.parametrize(
    "entry",
    [
        "writers.write_shards",
        "writers.write_sharded_files",
        "Dataset.write_shards",
        "Dataset.write_sharded_files",
    ],
)
def test_public_write_names_cap_shards_and_survive_null_media(
    spark, tmp_path, entry
):
    """Every public write name keeps DPF's layout — exactly
    ⌈n/max_files_in_shard⌉ shards, none over the cap, even when the
    input partitions do not divide evenly — and the crash contract: a
    null media value writes no member (re-read as is_correct=false)
    instead of failing a task that already wrote final names, so no
    archive is left without its csv."""
    import csv

    from dataprocessingframework_spark.configs import (
        ShardedFilesDatasetConfig,
    )

    dir_layout = entry.endswith("sharded_files")
    kw = {"media_col": "data", "name_col": "name"}

    def shard_rows(out):
        rows = {}
        for f in os.listdir(out):
            if f.endswith(".csv"):
                with open(os.path.join(out, f), newline="") as fh:
                    rows[f[:-4]] = sum(1 for _ in csv.reader(fh)) - 1
        return rows

    big = spark.range(0, 1000, 1, 3).selectExpr(
        "concat('f', id, '.bin') AS name",
        "id",
        "cast(concat('x', id) AS binary) AS data",
    )
    out = str(tmp_path / "cap")
    _write_via(entry, big, out, max_files_in_shard=50, **kw)
    rows = shard_rows(out)
    assert len(rows) == 20 and sum(rows.values()) == 1000
    assert max(rows.values()) <= 50, sorted(rows.values())

    nulls = spark.range(0, 40, 1, 2).selectExpr(
        "concat('f', id, '.bin') AS name",
        "id",
        "CASE WHEN id = 7 THEN NULL"
        " ELSE cast(concat('x', id) AS binary) END AS data",
    )
    out = str(tmp_path / "nulls")
    _write_via(entry, nulls, out, max_files_in_shard=6, **kw)
    rows = shard_rows(out)
    assert len(rows) == 7 and max(rows.values()) <= 6
    archives = {
        f.split(".")[0]
        for f in os.listdir(out)
        if f.split(".")[0].isdigit() and not f.endswith(".csv")
    }
    assert archives <= set(rows), "archive without its csv"
    assert not [f for f in os.listdir(out) if f.startswith(".")]
    rd = DatasetReader(spark)
    back = (
        rd.read_sharded_files_with_bytes(ShardedFilesDatasetConfig(path=out))
        if dir_layout
        else rd.read_shards_with_bytes(ShardsDatasetConfig(path=out))
    ).df
    assert back.count() == 40
    bad = back.where("NOT is_correct").collect()
    assert [r.id for r in bad] == [7]
    good = back.where("is_correct").collect()
    assert all(bytes(r.content) == f"x{r.id}".encode() for r in good)


def test_dsv2_writer_randomized_roundtrip_invariants(spark, tmp_path):
    """Seeded randomized trials over (rows, partitions, max rows,
    content yes/no): every shard respects the rolling cap, csv+tar
    pairing is consistent, and the roundtrip is the identity — the
    property-test analog of the balance_centroids invariant loop."""
    import random

    from pyspark.sql import functions as F

    register_shards_source(spark)
    rng = random.Random(13)
    for trial in range(5):
        n = rng.randint(1, 60)
        parts = rng.randint(1, 4)
        maxr = rng.choice([None, rng.randint(1, 25)])
        with_content = rng.random() < 0.5
        out = str(tmp_path / f"rand{trial}")
        df = spark.range(n).select(
            F.concat(F.lit("m_"), F.col("id")).alias("name"),
            F.col("id").cast("int").alias("k"),
            *(
                [F.sha2(F.col("id").cast("string"), 256)
                 .cast("binary").alias("content")]
                if with_content
                else []
            ),
        ).repartition(parts)
        w = df.write.format("dpf_shards").mode("append")
        if maxr is not None:
            w = w.option("max_files_in_shard", str(maxr))
        w.save(out)

        back = spark.read.format("dpf_shards").load(out)
        sizes = {
            r["split_name"]: r["n"]
            for r in back.groupBy("split_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert sum(sizes.values()) == n, (trial, n, parts, maxr)
        if maxr is not None:
            assert all(v <= maxr for v in sizes.values()), (trial, sizes)
        # contiguous numbering from 0
        assert sorted(int(s) for s in sizes) == list(range(len(sizes)))
        csvs = {f for f in os.listdir(out) if f.endswith(".csv")}
        tars = {f for f in os.listdir(out) if f.endswith(".tar")}
        assert len(csvs) == len(sizes)
        assert len(tars) == (len(sizes) if with_content else 0)
        got = {
            (r.name, r.k) for r in back.select("name", "k").collect()
        }
        assert got == {(f"m_{i}", i) for i in range(n)}
        if with_content:
            assert back.filter("NOT is_correct").count() == 0


def test_nested_metadata_columns_fail_at_plan_time(spark, tmp_path):
    """csv is flat: a nested metadata column fails loudly at writer
    construction (with the column name), not deep inside every task
    with ArrowInvalid."""
    register_shards_source(spark)
    df = spark.createDataFrame(
        [(1, ["a", "b"])], schema="id int, tags array<string>"
    )
    with pytest.raises(Exception, match="tags.*cast them to string"):
        df.write.format("dpf_shards").mode("append").save(
            str(tmp_path / "nested")
        )


def test_append_after_crashed_compaction_skips_pending_numbers(
    spark, tmp_path
):
    """ADVICE r13 (medium): an append landing between a mid-rewrite
    compaction crash and its heal must NOT reuse the manifest's
    pending shard numbers — the heal's rollback _delete_stems those
    stems, which would silently delete the committed batch (its
    marker/commit already settled, so it is never re-written)."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        _COMPACTION_MANIFEST,
        _next_shard_index_for,
        heal_compaction,
    )

    register_shards_source(spark)
    out = str(tmp_path / "pending")
    _mk_media_df(spark, 8).repartition(2).write.format("dpf_shards").mode(
        "append"
    ).save(out)
    # crashed compaction: manifest reserves 2,3 but the rewrite never
    # produced the files (worst case for a disk-only max scan)
    with open(os.path.join(out, _COMPACTION_MANIFEST), "w") as f:
        json.dump(
            {"state": "compacting", "retired": ["0", "1"],
             "pending": ["2", "3"]},
            f,
        )
    assert _next_shard_index_for(out) == 4  # not 2
    _mk_media_df(spark, 4).repartition(1).write.format("dpf_shards").mode(
        "append"
    ).save(out)
    csvs = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    assert "4.csv" in csvs and "2.csv" not in csvs
    # the heal's rollback deletes only the (absent) pending stems —
    # the appended shard survives with all its rows
    assert heal_compaction(out) == "compacting"
    assert spark.read.format("dpf_shards").load(out).count() == 12


def test_native_roundtrip_preserves_empty_vs_null_strings(spark, tmp_path):
    """ADVICE r13 (low): the arrow csv writer encodes '' as a quoted
    empty field and null as a bare one; the reader must keep the
    distinction (quoted_strings_can_be_null=False)."""
    register_shards_source(spark)
    out = str(tmp_path / "emptynull")
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x")], schema="id int, s string"
    ).repartition(1)
    df.write.format("dpf_shards").mode("append").save(out)
    back = {
        r.id: r.s
        for r in spark.read.format("dpf_shards")
        .schema("id int, s string, split_name string")
        .load(out)
        .collect()
    }
    assert back == {1: "", 2: None, 3: "x"}


def test_writer_content_false_and_nonbinary_content_plan_error(
    spark, tmp_path
):
    """ADVICE r13 (low): the writer mirrors the reader's
    content='false' escape hatch (a metadata column literally named
    'content' stays csv metadata), and a non-binary content column
    fails at PLAN time with a cast hint instead of TypeError-per-task
    or silent zero-byte tar members."""
    register_shards_source(spark)
    out = str(tmp_path / "contentfalse")
    df = spark.createDataFrame(
        [(1, "body-a"), (2, "")], schema="id int, content string"
    ).repartition(1)
    with pytest.raises(Exception, match="content.*must be binary"):
        df.write.format("dpf_shards").mode("append").save(out)
    df.write.format("dpf_shards").option("content", "false").mode(
        "append"
    ).save(out)
    assert all(f.endswith(".csv") for f in _ls(out))
    back = {
        r.id: r.content
        for r in spark.read.format("dpf_shards")
        .schema("id int, content string, split_name string")
        .option("content", "false")
        .load(out)
        .collect()
    }
    assert back == {1: "body-a", 2: ""}


# --------------------------------------------------------------------------
# sharded-files layout (N.csv + loose-file folder N/) through the same
# DSv2 lifecycle (r14 — VERDICT r13 item 3)
# --------------------------------------------------------------------------


def test_dir_layout_writer_roundtrip_with_rolling(spark, tmp_path):
    """layout='dir' writes the reference's sharded-files format
    (`dataset_reader.py:205-254`): numbered N.csv + folder N/ of loose
    members, through the SAME commit protocol (temp dirs published at
    commit, csv last), re-read by the same source with identical rows."""
    register_shards_source(spark)
    out = str(tmp_path / "dirshards")
    df = _mk_media_df(spark).repartition(1)
    (
        df.write.format("dpf_shards")
        .option("max_files_in_shard", "6")
        .option("layout", "dir")
        .mode("append")
        .save(out)
    )
    entries = _ls(out)
    assert entries == sorted([f"{i}.csv" for i in range(4)] + [str(i) for i in range(4)])
    assert sorted(os.listdir(os.path.join(out, "0"))) == [
        f"img_{i:02d}.jpg" for i in range(6)
    ]
    back = (
        spark.read.format("dpf_shards").option("layout", "dir").load(out)
    )
    assert back.rdd.getNumPartitions() == 4
    got = {
        r.name: (r.caption, r.k, bytes(r.content), r.is_correct)
        for r in back.collect()
    }
    want = {
        r.name: (r.caption, r.k, bytes(r.content), True)
        for r in df.collect()
    }
    assert got == want
    # pruning works on folders too
    assert back.where("split_name = '2'").count() == 6


def test_dir_layout_tolerant_and_pairing(spark, tmp_path):
    """A deleted loose member re-reads as is_correct=false WITHOUT
    poisoning its shard siblings (per-member tolerance); a csv whose
    folder mate is missing reads back as error rows, NOT a pairing
    failure — dir layout legally has folderless shards (all-null
    members write no folder, and object stores don't persist empty
    prefixes), unlike the tar layout's pairing assert."""
    register_shards_source(spark)
    out = str(tmp_path / "tolerant")
    df = _mk_media_df(spark, 12).repartition(1)
    df.write.format("dpf_shards").option("layout", "dir").option(
        "max_files_in_shard", "6"
    ).mode("append").save(out)
    os.remove(os.path.join(out, "0", "img_02.jpg"))
    rows = {
        r.name: r
        for r in spark.read.format("dpf_shards")
        .option("layout", "dir")
        .load(out)
        .collect()
    }
    assert not rows["img_02.jpg"].is_correct
    assert rows["img_02.jpg"].content is None
    assert rows["img_03.jpg"].is_correct  # sibling unaffected
    import shutil

    shutil.rmtree(os.path.join(out, "0"))
    rows = {
        r.name: r
        for r in spark.read.format("dpf_shards")
        .option("layout", "dir")
        .load(out)
        .collect()
    }
    assert len(rows) == 12  # every csv row still surfaces
    assert not rows["img_01.jpg"].is_correct  # shard 0: folder gone
    assert rows["img_01.jpg"].content is None
    assert rows["img_07.jpg"].is_correct  # shard 1 untouched


def test_dir_layout_all_null_members_skip_folder(spark, tmp_path):
    """ADVICE r14: a dir-layout shard whose members are ALL null
    creates no temp folder (object stores don't persist empty
    prefixes, so commit's rename of an eagerly-made empty dir would
    raise mid-loop) — the shard commits csv-only and reads back with
    content=null rows, same as a null tar member."""
    register_shards_source(spark)
    out = str(tmp_path / "allnull")
    df = spark.createDataFrame(
        [(f"m_{i}.bin", i, None) for i in range(6)]
        + [(f"n_{i}.bin", i, bytes([i])) for i in range(6)],
        schema="name string, k int, content binary",
    ).repartition(1).sortWithinPartitions("name")
    df.write.format("dpf_shards").option("layout", "dir").option(
        "max_files_in_shard", "6"
    ).mode("append").save(out)
    entries = sorted(os.listdir(out))
    # shard 0 = the all-null m_* rows -> csv only, NO folder 0/
    assert "0.csv" in entries and "1.csv" in entries
    assert "0" not in entries and "1" in entries
    rows = {
        r.name: r
        for r in spark.read.format("dpf_shards")
        .option("layout", "dir")
        .load(out)
        .collect()
    }
    assert len(rows) == 12
    assert rows["m_0.bin"].content is None
    assert not rows["m_0.bin"].is_correct
    assert bytes(rows["n_3.bin"].content) == bytes([3])
    assert rows["n_3.bin"].is_correct


def test_dir_layout_member_name_traversal_rejected(spark, tmp_path):
    """ADVICE r14 (medium): dir layout joins member names into
    filesystem paths — a name carrying '/' or '..' must be rejected
    on WRITE (loud ValueError, nothing published) and neutralized on
    READ (error row, never a filesystem read outside the shard
    folder)."""
    register_shards_source(spark)
    out = str(tmp_path / "traversal")
    evil = spark.createDataFrame(
        [("../escape.bin", 1, b"x"), ("ok.bin", 2, b"y")],
        schema="name string, k int, content binary",
    ).repartition(1)
    with pytest.raises(Exception, match="path separator|not a valid"):
        evil.write.format("dpf_shards").option("layout", "dir").mode(
            "append"
        ).save(out)
    if os.path.isdir(out):  # failed job published nothing
        assert not [
            f for f in os.listdir(out) if not f.startswith((".", "_"))
        ]
    assert not (tmp_path / "escape.bin").exists()

    # READ side: hand-craft a dataset whose csv names a traversal
    # member; the secret outside the dataset must never surface
    victim = tmp_path / "secret.bin"
    victim.write_bytes(b"SECRET")
    ds = tmp_path / "untrusted"
    (ds / "0").mkdir(parents=True)
    (ds / "0" / "good.bin").write_bytes(b"fine")
    (ds / "0.csv").write_text(
        'name,k\n"../../secret.bin",1\n"good.bin",2\n'
    )
    rows = {
        r.name: r
        for r in spark.read.format("dpf_shards")
        .option("layout", "dir")
        .load(str(ds))
        .collect()
    }
    assert rows["../../secret.bin"].content is None
    assert not rows["../../secret.bin"].is_correct
    assert "path separator" in rows["../../secret.bin"].error
    assert bytes(rows["good.bin"].content) == b"fine"


def test_dir_layout_overwrite_compaction_and_legacy_read(spark, tmp_path):
    """mode('overwrite') clears loose folders too; compact_shards
    merges the small-file tail in dir layout; and the legacy
    read_sharded_files / new read_sharded_files_with_bytes routes
    agree with the native write."""
    from dataprocessingframework_spark.configs import (
        ShardedFilesDatasetConfig,
    )
    from dataprocessingframework_spark.sources.reader import DatasetReader
    from dataprocessingframework_spark.sources.shards_source import (
        compact_shards,
    )

    register_shards_source(spark)
    out = str(tmp_path / "dircompact")
    df = _mk_media_df(spark, 24)
    for lo in range(0, 24, 4):
        df.filter(f"k >= {lo} and k < {lo + 4}").repartition(1).write.format(
            "dpf_shards"
        ).option("layout", "dir").mode("append").save(out)
    res = compact_shards(spark, out, max_files_in_shard=12, layout="dir")
    assert res["retired"] == [str(i) for i in range(6)]
    assert res["new"] == ["6", "7"] and res["rows"] == 24
    assert _ls(out) == ["6", "6.csv", "7", "7.csv"]

    # the new bytes route reads it; the legacy metadata route agrees
    ds = DatasetReader(spark).read_sharded_files_with_bytes(
        ShardedFilesDatasetConfig(path=out)
    )
    got = {r.name: (r.k, bytes(r.content)) for r in ds.df.collect()}
    assert got == {r.name: (r.k, bytes(r.content)) for r in df.collect()}
    legacy = DatasetReader(spark).read_sharded_files(
        ShardedFilesDatasetConfig(path=out, name_columns=["name"])
    )
    assert legacy.df.count() == 24

    # overwrite replaces csvs AND folders wholesale
    small = _mk_media_df(spark, 5).repartition(1)
    small.write.format("dpf_shards").option("layout", "dir").mode(
        "overwrite"
    ).save(out)
    assert _ls(out) == ["0", "0.csv"]
    assert (
        spark.read.format("dpf_shards")
        .option("layout", "dir")
        .load(out)
        .count()
        == 5
    )


def test_dir_layout_on_object_store(spark, tmp_path):
    """The sharded-files lifecycle over fakeobj:// — folder 'rename'
    is per-member copy+delete, so the csv-last publish order is what
    keeps a half-copied folder invisible."""
    register_shards_source(spark)
    backing = str(tmp_path / "objdir")
    out = f"fakeobj://{backing}"
    df = _mk_media_df(spark, 12).repartition(1)
    (
        df.write.format("dpf_shards")
        .option("max_files_in_shard", "6")
        .option("layout", "dir")
        .mode("append")
        .save(out)
    )
    assert _ls(backing) == ["0", "0.csv", "1", "1.csv"]
    back = (
        spark.read.format("dpf_shards").option("layout", "dir").load(out)
    )
    got = {r.name: (r.k, bytes(r.content)) for r in back.collect()}
    assert got == {r.name: (r.k, bytes(r.content)) for r in df.collect()}


def test_sink_chaos_soak_smoke():
    """CI-sized run of the chaos soak (r14): 30 batches with
    randomized kill points on both backends must converge to the
    no-crash twin bit-for-bit (the full 400-batch envelope is
    recorded in PLANS.md)."""
    import json
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable, os.path.join(_TOOLS, "sink_chaos_soak.py"),
            "--batches", "30", "--seed", "7",
            "--root", os.path.join(SCRATCH, "sink_chaos_ci"),
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    for backend in ("posix", "fakeobj"):
        assert res[backend]["identical_to_clean"]
        assert res[backend]["crashes"] > 0  # chaos actually happened


def test_dir_layout_stream_sink(spark, tmp_path):
    """The streaming sink in sharded-files layout: micro-batches land
    as csv + loose-file folders through the same exactly-once markers;
    a no-op restart appends nothing."""
    register_shards_source(spark)
    src = tmp_path / "src"
    out = str(tmp_path / "dirsink")
    ckpt = str(tmp_path / "ckpt")
    base = _mk_media_df(spark, 12)
    base.filter("k < 6").repartition(1).write.parquet(f"{src}/a.parquet")
    base.filter("k >= 6").repartition(1).write.parquet(f"{src}/b.parquet")

    def run():
        q = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
            .writeStream.format("dpf_shards")
            .option("path", out)
            .option("layout", "dir")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    csvs = sorted(f for f in os.listdir(out) if f.endswith(".csv"))
    folders = sorted(
        f for f in os.listdir(out)
        if os.path.isdir(os.path.join(out, f)) and not f.startswith("_")
    )
    assert [c[:-4] for c in csvs] == folders  # paired
    back = (
        spark.read.format("dpf_shards").option("layout", "dir").load(out)
    )
    got = {r.name: (r.k, bytes(r.content)) for r in back.collect()}
    assert got == {r.name: (r.k, bytes(r.content)) for r in base.collect()}
    run()  # no new data: nothing appended
    assert sorted(f for f in os.listdir(out) if f.endswith(".csv")) == csvs


def test_compaction_chaos_soak_smoke():
    """CI-sized run of the compaction chaos soak (r14): randomized
    kills across the whole two-phase compaction must preserve the
    row multiset, keep crash-window appends alive, and converge
    (full envelope recorded in PLANS.md)."""
    import json
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable,
            os.path.join(_TOOLS, "shard_compaction_chaos_soak.py"),
            "--rounds", "4", "--seed", "3",
            "--root", os.path.join(SCRATCH, "compact_chaos_ci"),
        ],
        capture_output=True, text=True, timeout=570,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["rounds"] == 4


def test_update_shard_metadata_native_roundtrip_and_integrity(
    spark, tmp_path
):
    """r14: the commit-protocol W4 write-back — csvs rewritten via
    attempt-unique temps + a write-ahead rename plan, archives
    byte-untouched; the validate-all-then-modify prepass rejects bad
    updates before any write."""
    from dataprocessingframework_spark.sources.shards_source import (
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "upd")
    _mk_media_df(spark, 12).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "6").mode("append").save(out)
    tar_bytes = {
        f: open(os.path.join(out, f), "rb").read()
        for f in os.listdir(out)
        if f.endswith(".tar")
    }
    upd = spark.createDataFrame(
        [(f"img_{i:02d}.jpg", i * 10) for i in range(12)],
        schema="name string, k int",
    )
    summary = update_shard_metadata_native(spark, out, upd, "name")
    assert sorted(
        (r.split_name, r.rows) for r in summary.collect()
    ) == [("0", 6), ("1", 6)]
    back = spark.read.format("dpf_shards").load(out)
    got = {r.name: (r.k, bytes(r.content)) for r in back.collect()}
    assert got == {
        f"img_{i:02d}.jpg": (i * 10, bytes([i]) * 3) for i in range(12)
    }
    # archives byte-identical, no temps/markers left
    for f, data in tar_bytes.items():
        assert open(os.path.join(out, f), "rb").read() == data
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]
    assert "_metadata_update.json" not in os.listdir(out)

    # integrity prepass: unknown keys rejected before any write
    before = _ls(out)
    bad = spark.createDataFrame(
        [("nope.jpg", 1)], schema="name string, k int"
    )
    with pytest.raises(ValueError, match="not present"):
        update_shard_metadata_native(spark, out, bad, "name")
    assert _ls(out) == before
    dup = spark.createDataFrame(
        [("img_00.jpg", 1), ("img_00.jpg", 2)],
        schema="name string, k int",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        update_shard_metadata_native(spark, out, dup, "name")

    # ADVICE r15: on an archive-backed dataset, update columns named
    # after the reader's DERIVED columns are rejected at plan time
    # (they would collide on the next content-mode read); metadata-only
    # datasets stay exempt
    for bad_col in ("content", "is_correct", "error"):
        clash = spark.createDataFrame(
            [("img_00.jpg", "x")],
            schema=f"name string, {bad_col} string",
        )
        with pytest.raises(ValueError, match="collide"):
            update_shard_metadata_native(spark, out, clash, "name")
    meta_only = str(tmp_path / "metaonly")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], schema="name string, k int"
    ).write.format("dpf_shards").mode("append").save(meta_only)
    ok = spark.createDataFrame(
        [("a", "kept")], schema="name string, content string"
    )
    update_shard_metadata_native(spark, meta_only, ok, "name")
    back = (
        spark.read.format("dpf_shards")
        .option("content", "false")
        .load(meta_only)
    )
    got = {r.name: r.content for r in back.collect()}
    assert got == {"a": "kept", "b": None}


def test_update_shard_metadata_native_above_broadcast_threshold(
    spark, tmp_path
):
    """ADVICE r15: a dataset-sized update frame must not be force-
    broadcast (8 GB hard limit / driver OOM at scale) — above the
    rows threshold the join runs unhinted and the results are
    identical."""
    from dataprocessingframework_spark.sources.shards_source import (
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "bigupd")
    _mk_media_df(spark, 12).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "6").mode("append").save(out)
    upd = spark.createDataFrame(
        [(f"img_{i:02d}.jpg", i * 7) for i in range(12)],
        schema="name string, k int",
    )
    summary = update_shard_metadata_native(
        spark, out, upd, "name", broadcast_threshold_rows=0
    )
    assert sorted(
        (r.split_name, r.rows) for r in summary.collect()
    ) == [("0", 6), ("1", 6)]
    back = spark.read.format("dpf_shards").load(out)
    got = {r.name: r.k for r in back.collect()}
    assert got == {f"img_{i:02d}.jpg": i * 7 for i in range(12)}


def test_published_schema_skips_inference_jobs(spark, tmp_path):
    """VERDICT r14 item 4: the commit protocol publishes _schema.json,
    and a cold read of a native dataset plans with ZERO Spark jobs
    (previously: a full inferSchema csv pass — a second metadata scan
    with one task per file at millions of shards). Deleting the file
    falls back to inference, which runs jobs and yields the SAME
    schema and rows."""
    from dataprocessingframework_spark.configs import ShardsDatasetConfig
    from dataprocessingframework_spark.sources.reader import DatasetReader

    register_shards_source(spark)
    out = str(tmp_path / "schemapub")
    _mk_media_df(spark, 12).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "6").mode("append").save(out)
    assert "_schema.json" in os.listdir(out)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    ds = DatasetReader(spark).read_shards(ShardsDatasetConfig(path=out))
    assert set(tracker.getJobIdsForGroup(None)) == before, (
        "plan-time jobs ran despite a published schema"
    )
    # fallback: no schema file -> inference jobs run, same result
    os.remove(os.path.join(out, "_schema.json"))
    before = set(tracker.getJobIdsForGroup(None))
    ds_inf = DatasetReader(spark).read_shards(
        ShardsDatasetConfig(path=out)
    )
    assert set(tracker.getJobIdsForGroup(None)) - before, (
        "expected the inference fallback to run jobs"
    )
    assert ds.df.schema == ds_inf.df.schema
    assert sorted(ds.df.collect()) == sorted(ds_inf.df.collect())

    # caller-supplied schema wins over both (and needs no file)
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    user = StructType(
        [
            StructField("name", StringType()),
            StructField("caption", StringType()),
            StructField("k", IntegerType()),
        ]
    )
    ds_user = DatasetReader(spark).read_shards(
        ShardsDatasetConfig(path=out), schema=user
    )
    assert [f.name for f in ds_user.df.schema.fields][:3] == [
        "name", "caption", "k",
    ]
    assert ds_user.df.count() == 12


def test_schema_file_lifecycle_append_overwrite_and_legacy(
    spark, tmp_path
):
    """_schema.json stays truthful across the write paths: same-schema
    append keeps it, a MIXED-schema append deletes it (inference is
    then the only honest source), overwrite republishes, and the
    reference-named ``writers.write_shards`` entry maintains it too."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        read_published_schema,
    )
    from dataprocessingframework_spark.sources.writers import write_shards

    register_shards_source(spark)
    out = str(tmp_path / "lifecycle")
    df = _mk_media_df(spark, 6).repartition(1)
    df.write.format("dpf_shards").mode("append").save(out)
    pub = read_published_schema(out)
    assert pub is not None
    assert [f.name for f in pub.fields] == ["name", "caption", "k"]

    # same-schema append: file intact
    df.write.format("dpf_shards").mode("append").save(out)
    assert read_published_schema(out) == pub

    # mixed-schema append (extra column): file removed
    mixed = spark.createDataFrame(
        [("x.jpg", "cap", 1, 9, b"z")],
        schema="name string, caption string, k int, extra int,"
        " content binary",
    ).repartition(1)
    mixed.write.format("dpf_shards").mode("append").save(out)
    assert read_published_schema(out) is None
    assert "_schema.json" not in os.listdir(out)

    # overwrite: republished for the fresh dataset
    mixed.write.format("dpf_shards").mode("overwrite").save(out)
    pub2 = read_published_schema(out)
    assert [f.name for f in pub2.fields] == [
        "name", "caption", "k", "extra",
    ]

    # corrupt file -> reader falls back to inference, not a crash
    with open(os.path.join(out, "_schema.json"), "w") as fh:
        fh.write("{not json")
    assert read_published_schema(out) is None

    # the reference-named entry publishes too
    legacy = str(tmp_path / "legacy")
    write_shards(
        _mk_media_df(spark, 6),
        legacy,
        media_col="content",
        name_col="name",
    )
    pub3 = read_published_schema(legacy)
    assert pub3 is not None
    assert json.loads(
        open(os.path.join(legacy, "_schema.json")).read()
    )["type"] == "struct"


def test_update_metadata_type_change_forces_full_rewrite(
    spark, tmp_path
):
    """An update whose coalesce WIDENS an overlap column's type (long
    over int) can't stay touched-only: touched shards would carry the
    new type while untouched shards keep the old — no single schema
    describes the dataset. The updater now forces the full rewrite
    and republishes the merged schema."""
    from dataprocessingframework_spark.sources.shards_source import (
        read_published_schema,
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "typechange")
    _mk_media_df(spark, 12).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "6").mode("append").save(out)
    # update only shard 0's keys, but with a LONG k (current is int)
    upd = spark.createDataFrame(
        [(f"img_{i:02d}.jpg", int(i) * 10_000_000_000) for i in range(6)],
        schema="name string, k long",
    )
    update_shard_metadata_native(spark, out, upd, "name")
    pub = read_published_schema(out)
    assert pub is not None and pub["k"].dataType.typeName() == "long"
    back = spark.read.format("dpf_shards").load(out)
    assert back.schema["k"].dataType.typeName() == "long"
    got = {r.name: r.k for r in back.collect()}
    assert got["img_03.jpg"] == 30_000_000_000
    assert got["img_07.jpg"] == 7  # untouched row, rewritten shard


def test_writer_lease_blocks_concurrent_writers(spark, tmp_path):
    """VERDICT r14 item 5: the one-active-writer assumption is now
    ENFORCED. A second writer overlapping a held lease fails loudly
    at plan/commit time with the holder named; takeover is explicit;
    a restarted stream query re-acquires its own lease (checkpoint
    namespace); healers clear a crashed holder's lock."""
    from dataprocessingframework_spark.sources.shards_source import (
        ShardsStreamWriter,
        acquire_writer_lease,
        compact_shards,
        release_writer_lease,
        update_shard_metadata_native,
    )
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    register_shards_source(spark)
    out = str(tmp_path / "leased")
    df = _mk_media_df(spark, 12).repartition(1)
    df.write.format("dpf_shards").mode("append").save(out)
    assert "_writer.lock" not in os.listdir(out)  # released post-commit

    # simulate a live holder; a batch write must fail AT PLAN TIME
    token = acquire_writer_lease(out, "someone-else")
    with pytest.raises(Exception, match="someone-else"):
        df.write.format("dpf_shards").mode("append").save(out)
    # ...and so must compaction and the metadata updater
    with pytest.raises(RuntimeError, match="someone-else"):
        compact_shards(spark, out, max_files_in_shard=4)
    upd = spark.createDataFrame(
        [("img_00.jpg", 99)], schema="name string, k int"
    )
    with pytest.raises(RuntimeError, match="someone-else"):
        update_shard_metadata_native(spark, out, upd, "name")
    # explicit takeover proceeds (and the dataset stays healthy)
    df.write.format("dpf_shards").option(
        "lease_takeover", "true"
    ).mode("append").save(out)
    assert (
        spark.read.format("dpf_shards").load(out).count() == 24
    )
    release_writer_lease(out, token)  # no-op: takeover replaced it

    # stream sink: per-commit lease, and a crashed commit's lease is
    # re-acquired by the same checkpoint namespace (restart identity)
    schema = StructType(
        [StructField("name", StringType()), StructField("k", IntegerType())]
    )
    sink = str(tmp_path / "sink")
    w = ShardsStreamWriter(
        schema,
        {"path": sink, "checkpointlocation": f"{sink}-ckpt",
         "content": "false"},
        overwrite=False,
    )
    acquire_writer_lease(sink, "crashed-self", self_id=w._commits)
    w.commit([], batchId=0)  # same self_id -> silent re-acquire
    assert "_writer.lock" not in os.listdir(sink)
    # a foreign holder still blocks the sink's commit
    acquire_writer_lease(sink, "foreign-writer")
    with pytest.raises(RuntimeError, match="foreign-writer"):
        w.commit([], batchId=1)

    # lease disabled on request
    os.remove(os.path.join(sink, "_writer.lock"))
    plain = str(tmp_path / "plain")
    acquire_writer_lease(plain, "ignored-holder")
    df.write.format("dpf_shards").option("lease", "false").mode(
        "append"
    ).save(plain)
    assert spark.read.format("dpf_shards").load(plain).count() == 12


def test_lifecycle_ops_work_from_user_threads(spark, tmp_path):
    """r16 (found by the lease-contention soak): a Python thread maps
    to a fresh py4j JVM thread with no active-session thread-local,
    and Spark resolves Python DataSource names via the active
    session — so threaded lifecycle ops (maintenance pools,
    concurrent writers losing the lease LOUDLY rather than with
    DATA_SOURCE_NOT_FOUND) need register_shards_source to pin the
    calling thread's active session. Also pins that re-registration
    is a true no-op (no replacement window for concurrent planners)."""
    import threading

    register_shards_source(spark)
    out = str(tmp_path / "threaded")
    df = _mk_media_df(spark, 6).repartition(1)
    df.write.format("dpf_shards").mode("append").save(out)

    errs: list = []

    def op():
        try:
            from dataprocessingframework_spark.sources.shards_source import (
                compact_shards,
            )

            compact_shards(spark, out, max_files_in_shard=100)
        except Exception as e:  # noqa: BLE001 — asserted below
            errs.append(e)

    t = threading.Thread(target=op)
    t.start()
    t.join()
    assert not errs, errs
    assert spark.read.format("dpf_shards").load(out).count() == 6


@pytest.mark.parametrize("scheme", ["posix", "fakeobj"])
def test_lease_cas_takeover_never_overwritten_back(tmp_path, scheme):
    """VERDICT r15 item 2: on CAS backends the lease is a real mutex.
    A raced takeover can NEVER be overwritten back by the old
    holder's heartbeat — the orphan tick's compare-and-set fails on
    the takeover's content and the thread exits for good."""
    import json
    import time

    from dataprocessingframework_spark.sources.shards_source import (
        _LeaseHeartbeat,
        _read_lease,
        acquire_writer_lease,
        release_writer_lease,
    )

    out = (
        str(tmp_path / "ds")
        if scheme == "posix"
        else f"fakeobj://{tmp_path}/ds"
    )
    token_a = acquire_writer_lease(out, "holder-a")
    # aggressive orphan heartbeat: ~100 ticks over the assert window
    hb = _LeaseHeartbeat(out, token_a, interval=0.005)
    try:
        time.sleep(0.05)  # let it refresh a few times
        token_b = acquire_writer_lease(out, "holder-b", takeover=True)
        deadline = time.time() + 1.0
        while time.time() < deadline:
            held = _read_lease(out)
            assert held is not None and held.get("token") == token_b, (
                "takeover was overwritten back by the old heartbeat: "
                f"{held}"
            )
            time.sleep(0.01)
        # and the orphan thread has exited (CAS failure ends it)
        assert not hb._thread.is_alive()
    finally:
        hb.stop()
    release_writer_lease(out, token_b)
    assert _read_lease(out) is None  # cas-delete removed it

    # acquire-vs-acquire: two same-instant creates can't both win
    t1 = acquire_writer_lease(out, "w1")
    with pytest.raises(RuntimeError, match="w1"):
        acquire_writer_lease(out, "w2")
    release_writer_lease(out, t1)

    # corrupt lock = stale: CAS acquire reclaims it
    from dataprocessingframework_spark.sources.shard_fs import get_fs
    from dataprocessingframework_spark.sources.shard_fs import (
        join as fs_join,
    )

    get_fs(out).put_atomic(fs_join(out, "_writer.lock"), b"{garbage")
    t2 = acquire_writer_lease(out, "w3")
    assert json.loads(
        get_fs(out).read_bytes(fs_join(out, "_writer.lock"))
    )["token"] == t2
    release_writer_lease(out, t2)


@pytest.mark.parametrize("scheme", ["posix", "fakeobj"])
def test_cas_is_linearizable_under_thread_hammer(tmp_path, scheme):
    """The flock-enforced compare-and-set is the writer-lease's
    foundation: hammer one object with 8 threads x 25 CAS-increment
    loops and assert no update is ever lost — the final value equals
    the number of successful put_cas calls exactly (a torn or
    clobbered write would under-count)."""
    import json
    import threading

    from dataprocessingframework_spark.sources.shard_fs import (
        get_fs,
        join as fs_join,
    )

    root = (
        str(tmp_path / "cas")
        if scheme == "posix"
        else f"fakeobj://{tmp_path}/cas"
    )
    fs = get_fs(root)
    fs.makedirs(root)
    obj = fs_join(root, "counter.json")
    assert fs.put_cas(obj, json.dumps({"n": 0}).encode(), None)
    assert not fs.put_cas(obj, b"{}", None)  # create-exclusive holds

    wins = [0] * 8

    def worker(i):
        done = 0
        while done < 25:
            cur = fs.get_cas(obj)
            assert cur is not None
            val = json.loads(cur[0])
            val["n"] += 1
            if fs.put_cas(obj, json.dumps(val).encode(), cur[1]):
                done += 1
        wins[i] = done

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    final = json.loads(fs.get_cas(obj)[0])["n"]
    assert final == sum(wins) == 200
    # compare-and-delete: only the exact tag wins
    cur = fs.get_cas(obj)
    assert not fs.remove_cas(obj, "stale-tag")
    assert fs.remove_cas(obj, cur[1])
    assert fs.get_cas(obj) is None


def test_lease_release_robust_to_orphan_heartbeat_noncas(tmp_path):
    """ADVICE r15: commit()/abort() may run in a Python worker where
    _HEARTBEATS is empty, so release can't stop the planner-process
    heartbeat thread — on a NON-CAS backend the tombstone ordering
    (PUT _writer.lock.released BEFORE removing the lock) plus the
    tick's post-re-PUT double-check guarantee a released lease never
    BLOCKS: the thread exits within a tick or two (never refreshing
    again), and even if its final re-PUT resurrected the lock,
    acquire treats a tombstone-named token as released — a new
    writer gets in immediately instead of waiting out the stale
    window."""
    import time

    from dataprocessingframework_spark.sources import shards_source as ss

    out = str(tmp_path / "ds")

    class _NoCasFS:
        """LocalShardFS minus the CAS capability — the degraded
        fsspec-driver path."""

        def __init__(self, inner):
            self._inner = inner

        supports_cas = False
        supports_cas_delete = False

        def __getattr__(self, name):
            if name in ("get_cas", "put_cas", "remove_cas"):
                raise AttributeError(name)
            return getattr(self._inner, name)

    from dataprocessingframework_spark.sources.shard_fs import (
        LocalShardFS,
    )

    real_get_fs = ss.get_fs
    ss_get_fs_patch = lambda p: _NoCasFS(LocalShardFS())  # noqa: E731
    ss.get_fs = ss_get_fs_patch
    try:
        token = ss.acquire_writer_lease(out, "planner")
        hb = ss._LeaseHeartbeat(out, token, interval=0.005)
        try:
            time.sleep(0.03)
            # release from "another process": the thread keeps running
            ss.release_writer_lease(out, token)
            # the thread must exit for good within a few ticks (the
            # tombstone check ends it; it never refreshes again)
            deadline = time.time() + 2.0
            while time.time() < deadline and hb._thread.is_alive():
                time.sleep(0.01)
            assert not hb._thread.is_alive(), "orphan tick kept running"
            # a resurrected lock may survive (young ts, no repair PUT
            # — repairing could clobber a new acquirer), but it can't
            # BLOCK: its token is tombstone-named, so a new writer
            # acquires immediately instead of waiting out the stale
            # window
            t2 = ss.acquire_writer_lease(out, "next-writer")
            held = ss._read_lease(out)
            assert held is not None and held.get("token") == t2
            ss.release_writer_lease(out, t2)
        finally:
            hb.stop()
    finally:
        ss.get_fs = real_get_fs


def test_update_shard_metadata_native_heals_forward(spark, tmp_path):
    """A crash between the write-ahead plan and the renames heals
    FORWARD: the temps carry the new metadata and take their planned
    names on the next update/heal."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        heal_metadata_update,
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "updheal")
    spark.createDataFrame(
        [(i, f"t{i}") for i in range(4)], schema="id int, text string"
    ).repartition(1).write.format("dpf_shards").mode("append").save(out)

    # simulate the crashed attempt: temp with NEW content + marker,
    # renames never ran
    tmp = os.path.join(out, ".deadbeef-u0.csv.tmp")
    with open(tmp, "w") as f:
        f.write('"id","text"\n0,"NEW"\n1,"NEW"\n2,"NEW"\n3,"NEW"\n')
    with open(os.path.join(out, "_metadata_update.json"), "w") as f:
        json.dump(
            {"state": "renaming",
             "map": {tmp: os.path.join(out, "0.csv")}},
            f,
        )
    assert heal_metadata_update(out) is True
    texts = {
        r.id: r.text
        for r in spark.read.format("dpf_shards")
        .schema("id int, text string, split_name string")
        .load(out)
        .collect()
    }
    assert texts == {i: "NEW" for i in range(4)}
    assert heal_metadata_update(out) is False  # idempotent

    # and the next update call heals leftover pre-marker temps
    with open(os.path.join(out, ".cafecafe-u0.csv.tmp"), "w") as f:
        f.write("garbage")
    upd = spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)], schema="id int, text string"
    )
    update_shard_metadata_native(spark, out, upd, "id")
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_update_shard_metadata_native_on_object_store(spark, tmp_path):
    """The W4 write-back over object semantics: temps are whole-object
    PUTs, the plan is one PUT, renames are copy+delete."""
    from dataprocessingframework_spark.sources.shards_source import (
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    backing = str(tmp_path / "objupd")
    out = f"fakeobj://{backing}"
    _mk_media_df(spark, 12).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "6").mode("append").save(out)
    upd = spark.createDataFrame(
        [(f"img_{i:02d}.jpg", i + 100) for i in range(12)],
        schema="name string, k int",
    )
    update_shard_metadata_native(spark, out, upd, "name")
    back = spark.read.format("dpf_shards").load(out)
    assert {r.name: r.k for r in back.collect()} == {
        f"img_{i:02d}.jpg": i + 100 for i in range(12)
    }
    assert not [f for f in os.listdir(backing) if f.endswith(".tmp")]


# --------------------------------------------------------------------------
# parquet metadata shards (the reference's configurable datafiles_ext)
# --------------------------------------------------------------------------


def test_parquet_meta_roundtrip_with_media_and_pruning(spark, tmp_path):
    """meta_format='parquet' (r14): shard tables as N.parquet + N.tar
    through the same commit protocol/reader — exact types round-trip
    without csv inference, adversarial text included, pruning works,
    temps gone."""
    register_shards_source(spark)
    out = str(tmp_path / "pqshards")
    df = _mk_media_df(spark).repartition(1)
    (
        df.write.format("dpf_shards")
        .option("max_files_in_shard", "6")
        .option("meta_format", "parquet")
        .mode("append")
        .save(out)
    )
    files = _ls(out)
    assert files == sorted(
        [f"{i}.parquet" for i in range(4)] + [f"{i}.tar" for i in range(4)]
    )
    back = (
        spark.read.format("dpf_shards")
        .option("meta_format", "parquet")
        .load(out)
    )
    assert back.rdd.getNumPartitions() == 4
    assert dict(back.dtypes)["k"] == "int"  # parquet: exact, no infer
    got = {
        r.name: (r.caption, r.k, bytes(r.content), r.is_correct)
        for r in back.collect()
    }
    want = {
        r.name: (r.caption, r.k, bytes(r.content), True)
        for r in df.collect()
    }
    assert got == want
    assert back.where("split_name = '2'").count() == 6
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_parquet_meta_nested_columns_and_compaction(spark, tmp_path):
    """Parquet metadata carries NESTED columns natively (the csv
    writer's plan-time rejection points here); compaction works on
    parquet-meta datasets end to end."""
    from dataprocessingframework_spark.sources.shards_source import (
        compact_shards,
    )

    register_shards_source(spark)
    out = str(tmp_path / "pqnested")
    df = spark.createDataFrame(
        [(i, [f"t{i}", f"u{i}"]) for i in range(24)],
        schema="id int, tags array<string>",
    )
    for lo in range(0, 24, 4):
        df.filter(f"id >= {lo} and id < {lo + 4}").repartition(
            1
        ).write.format("dpf_shards").option(
            "meta_format", "parquet"
        ).mode("append").save(out)
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 6
    res = compact_shards(
        spark, out, max_files_in_shard=12, meta_format="parquet"
    )
    assert res["retired"] == [str(i) for i in range(6)]
    assert res["new"] == ["6", "7"] and res["rows"] == 24
    back = (
        spark.read.format("dpf_shards")
        .option("meta_format", "parquet")
        .load(out)
    )
    got = {r.id: list(r.tags) for r in back.collect()}
    assert got == {i: [f"t{i}", f"u{i}"] for i in range(24)}

    # csv still rejects nested, and now names the parquet escape hatch
    with pytest.raises(Exception, match="meta_format.*parquet"):
        df.write.format("dpf_shards").mode("append").save(
            str(tmp_path / "csvnested")
        )


def test_parquet_meta_stream_sink_and_objectstore(spark, tmp_path):
    """Parquet-meta shards through the exactly-once streaming sink
    AND over object-store semantics."""
    register_shards_source(spark)
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    backing = str(tmp_path / "pqsink")
    out = f"fakeobj://{backing}"
    base = _mk_media_df(spark, 12)
    base.filter("k < 6").repartition(1).write.parquet(f"{src}/a.parquet")
    base.filter("k >= 6").repartition(1).write.parquet(f"{src}/b.parquet")

    def run():
        q = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
            .writeStream.format("dpf_shards")
            .option("path", out)
            .option("meta_format", "parquet")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    pqs = sorted(f for f in os.listdir(backing) if f.endswith(".parquet"))
    assert len(pqs) >= 2
    back = (
        spark.read.format("dpf_shards")
        .option("meta_format", "parquet")
        .load(out)
    )
    got = {r.name: (r.k, bytes(r.content)) for r in back.collect()}
    assert got == {r.name: (r.k, bytes(r.content)) for r in base.collect()}
    run()  # exactly-once
    assert (
        sorted(f for f in os.listdir(backing) if f.endswith(".parquet"))
        == pqs
    )


def test_update_shard_metadata_native_parquet_meta(spark, tmp_path):
    """The commit-protocol write-back on a parquet-meta dataset:
    nested columns survive the rewrite, updates land, tars
    untouched."""
    from dataprocessingframework_spark.sources.shards_source import (
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "pqupd")
    df = spark.createDataFrame(
        [
            (f"m{i}.bin", i, [f"t{i}"], bytes([i]))
            for i in range(8)
        ],
        schema="name string, k int, tags array<string>, content binary",
    )
    df.repartition(1).write.format("dpf_shards").option(
        "meta_format", "parquet"
    ).option("max_files_in_shard", "4").mode("append").save(out)
    upd = spark.createDataFrame(
        [(f"m{i}.bin", i * 7) for i in range(8)],
        schema="name string, k int",
    )
    update_shard_metadata_native(
        spark, out, upd, "name", meta_format="parquet"
    )
    back = (
        spark.read.format("dpf_shards")
        .option("meta_format", "parquet")
        .load(out)
    )
    got = {
        r.name: (r.k, list(r.tags), bytes(r.content))
        for r in back.collect()
    }
    assert got == {
        f"m{i}.bin": (i * 7, [f"t{i}"], bytes([i])) for i in range(8)
    }
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_update_shard_metadata_native_partial_update(spark, tmp_path):
    """Review r14: a PARTIAL update (subset of keys) must leave
    untouched rows' overlap values intact (coalesce, not drop+null),
    keep int columns int (arrow schema pinned against pandas'
    float64-with-NaN widening), and leave new columns NULL only for
    non-updated rows."""
    from dataprocessingframework_spark.sources.shards_source import (
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "partial")
    spark.createDataFrame(
        [(i, i, f"t{i}") for i in range(12)],
        schema="id int, k int, text string",
    ).repartition(1).write.format("dpf_shards").option(
        "max_files_in_shard", "6"
    ).mode("append").save(out)
    upd = spark.createDataFrame(
        [(i, i * 100, i + 7) for i in range(3)],
        schema="id int, k int, extra int",
    )
    update_shard_metadata_native(spark, out, upd, "id")
    back = (
        spark.read.format("dpf_shards")
        .schema(
            "id int, k int, text string, extra int, split_name string"
        )
        .load(out)
    )
    rows = {r.id: (r.k, r.text, r.extra) for r in back.collect()}
    for i in range(3):
        assert rows[i] == (i * 100, f"t{i}", i + 7)
    for i in range(3, 12):
        # untouched rows keep k AND text; the new column is null
        assert rows[i] == (i, f"t{i}", None)


def test_reader_refuses_unfinished_metadata_update(spark, tmp_path):
    """Review r14: a crashed update's marker makes reads fail LOUDLY
    (pointing at heal_metadata_update) instead of returning a silently
    mixed dataset forever."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        heal_metadata_update,
    )

    register_shards_source(spark)
    out = str(tmp_path / "mixed")
    spark.createDataFrame(
        [(1, "a")], schema="id int, text string"
    ).repartition(1).write.format("dpf_shards").mode("append").save(out)
    with open(os.path.join(out, "_metadata_update.json"), "w") as f:
        json.dump({"state": "renaming", "map": {}}, f)
    with pytest.raises(Exception, match="heal_metadata_update"):
        spark.read.format("dpf_shards").load(out).collect()
    heal_metadata_update(out)
    assert spark.read.format("dpf_shards").load(out).count() == 1


def test_put_on_close_never_publishes_on_error_or_gc(tmp_path):
    """Review r14: a remote write handle must DISCARD, not publish,
    when its with-block exits on an exception or when it is garbage
    collected mid-write — a torn object must never land."""
    from dataprocessingframework_spark.sources.shard_fs import (
        FakeObjectStoreFS,
        join,
    )

    fs = FakeObjectStoreFS()
    root = f"fakeobj://{tmp_path}/store"
    fs.makedirs(root)
    with pytest.raises(RuntimeError):
        with fs.open_write(join(root, "torn")) as h:
            h.write(b"partial")
            raise RuntimeError("serializer died")
    assert not fs.exists(join(root, "torn"))
    h2 = fs.open_write(join(root, "gcd"))
    h2.write(b"partial")
    del h2  # finalizer must not publish
    assert not fs.exists(join(root, "gcd"))
    with fs.open_write(join(root, "ok")) as h3:
        h3.write(b"whole")
    assert fs.read_bytes(join(root, "ok")) == b"whole"


def test_meta_format_fork_and_update_guards(spark, tmp_path):
    """Review r14 pass 2: (a) appending the OTHER metadata format to
    an existing dataset fails at plan time instead of silently
    forking it; (b) new_df carrying split_name is rejected (rows
    never move in a metadata update); (c) a partial update rewrites
    ONLY the touched shards when no new columns are added; (d) an
    overwrite clears a stale update marker instead of letting its
    heal rename pre-overwrite temps onto the fresh dataset."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "guards")
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(12)], schema="id int, text string"
    )
    df.repartition(1).write.format("dpf_shards").option(
        "max_files_in_shard", "6"
    ).mode("append").save(out)

    # (a) mixed-format append refused
    with pytest.raises(Exception, match="would\\s+fork"):
        df.limit(2).repartition(1).write.format("dpf_shards").option(
            "meta_format", "parquet"
        ).mode("append").save(out)

    # (b) split_name rejected as an update column
    carried = (
        spark.read.format("dpf_shards")
        .schema("id int, text string, split_name string")
        .load(out)
        .limit(2)
    )
    with pytest.raises(ValueError, match="split_name"):
        update_shard_metadata_native(spark, out, carried, "id")

    # (c) touched-shards-only rewrite: update one key in shard 0 and
    # check shard 1's csv bytes are untouched
    shard1_before = open(os.path.join(out, "1.csv"), "rb").read()
    upd = spark.createDataFrame(
        [(0, "UPDATED")], schema="id int, text string"
    )
    summary = update_shard_metadata_native(spark, out, upd, "id")
    assert [r.split_name for r in summary.collect()] == ["0"]
    assert open(os.path.join(out, "1.csv"), "rb").read() == shard1_before
    back = {
        r.id: r.text
        for r in spark.read.format("dpf_shards")
        .schema("id int, text string, split_name string")
        .load(out)
        .collect()
    }
    assert back[0] == "UPDATED" and back[7] == "t7"

    # (d) overwrite clears a stale update marker + its temps
    tmp = os.path.join(out, ".feedface-u0-a1.csv.tmp")
    with open(tmp, "w") as f:
        f.write('"id","text"\n0,"STALE"\n')
    with open(os.path.join(out, "_metadata_update.json"), "w") as f:
        json.dump(
            {"state": "renaming",
             "map": {tmp: os.path.join(out, "0.csv")}},
            f,
        )
    df.limit(3).repartition(1).write.format("dpf_shards").mode(
        "overwrite"
    ).save(out)
    names = os.listdir(out)
    assert "_metadata_update.json" not in names
    assert not [f for f in names if f.endswith(".tmp")]
    assert (
        spark.read.format("dpf_shards")
        .schema("id int, text string, split_name string")
        .load(out)
        .count()
        == 3
    )


def test_writers_refuse_unhealed_update_then_proceed(spark, tmp_path):
    """Review r14 pass 2 pinned 'the sink janitor spares heal temps';
    r15 supersedes it with the stronger contract: writers REFUSE to
    land anything while a crashed update's rename plan is outstanding
    (new shards would be misdescribed by the heal's recorded-schema
    publish) — the crashed state survives the refusal untouched, and
    after the heal the same commit succeeds."""
    import json

    import pandas as pd

    from dataprocessingframework_spark.sources.shards_source import (
        ShardsCommitMessage,
        ShardsStreamWriter,
        heal_metadata_update,
    )
    from pyspark.sql.types import StructType

    register_shards_source(spark)
    out = str(tmp_path / "sinkupd")
    spark.createDataFrame(
        [(1, "old")], schema="id int, text string"
    ).repartition(1).write.format("dpf_shards").mode("append").save(out)

    # crashed update: heal-forward temp + marker
    utmp = os.path.join(out, ".abc123-u0-a9.csv.tmp")
    with open(utmp, "w") as f:
        f.write('"id","text"\n1,"new"\n')
    with open(os.path.join(out, "_metadata_update.json"), "w") as f:
        json.dump(
            {"state": "renaming",
             "map": {utmp: os.path.join(out, "0.csv")}},
            f,
        )

    # a batch append refuses at commit (plan time already wrote
    # nothing visible), naming the remedy
    with pytest.raises(Exception, match="heal_metadata_update"):
        spark.createDataFrame(
            [(9, "nope")], schema="id int, text string"
        ).repartition(1).write.format("dpf_shards").mode(
            "append"
        ).save(out)

    schema = StructType.fromDDL("id int, text string")
    w = ShardsStreamWriter(schema, {"path": out}, overwrite=False)
    btmp = os.path.join(out, f".{w._token}-p000000-a1-s0.csv.tmp")
    pd.DataFrame({"id": [2], "text": ["batch"]}).to_csv(btmp, index=False)
    msgs = [ShardsCommitMessage(shards=[(0, 0, btmp, None, 1)])]
    with pytest.raises(RuntimeError, match="heal_metadata_update"):
        w.commit(msgs, batchId=0)
    # the crashed update's state survived both refusals untouched
    assert os.path.exists(utmp)
    assert os.path.exists(os.path.join(out, "_metadata_update.json"))

    assert heal_metadata_update(out) is True
    # the stream batch's temp survived the refusal too (the janitor
    # never ran) — the healed dataset accepts the retried commit
    pd.DataFrame({"id": [2], "text": ["batch"]}).to_csv(btmp, index=False)
    w.commit(msgs, batchId=0)
    texts = {
        r.id: r.text
        for r in spark.read.format("dpf_shards")
        .schema("id int, text string, split_name string")
        .load(out)
        .collect()
    }
    assert texts == {1: "new", 2: "batch"}


def test_shard_stats_census(spark, tmp_path):
    """r14: the public per-shard census — rows from one pruned scan,
    bytes from an O(#shards) driver listing; dir-layout archives sum
    their loose members."""
    from dataprocessingframework_spark.sources.shards_source import (
        shard_stats,
    )

    register_shards_source(spark)
    out = str(tmp_path / "census")
    _mk_media_df(spark, 12).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "6").mode("append").save(out)
    got = {
        r.split_name: (r.rows, r.table_bytes > 0, r.archive_bytes > 0)
        for r in shard_stats(spark, out).collect()
    }
    assert got == {"0": (6, True, True), "1": (6, True, True)}

    ddir = str(tmp_path / "censusdir")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).option("layout", "dir").mode("append").save(ddir)
    (row,) = shard_stats(spark, ddir, layout="dir").collect()
    assert row.rows == 6
    # dir archive bytes = sum of loose member sizes (3 bytes each)
    assert row.archive_bytes == 18


def test_lease_first_heal_ordering_protects_live_writers(
    spark, tmp_path
):
    """r15 review finding 1: healers are DESTRUCTIVE (they delete a
    compacting manifest's pending shards and sweep update temps), so
    compact_shards / update_shard_metadata_native must be refused by
    a LIVE foreign lease BEFORE any healing runs — a second compaction
    must not dismantle a live one's in-flight state."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        acquire_writer_lease,
        compact_shards,
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "liveheal")
    _mk_media_df(spark, 12).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "4").mode("append").save(out)

    # simulate a LIVE compaction: lease held + state=compacting
    # manifest whose pending shard already has files on disk
    acquire_writer_lease(out, "live-compactor")
    with open(os.path.join(out, "_compaction.json"), "w") as fh:
        json.dump({"state": "compacting", "pending": ["7"],
                   "retired": ["0", "1"]}, fh)
    with open(os.path.join(out, "7.csv"), "w") as fh:
        fh.write("name,caption,k\n")
    with open(os.path.join(out, "7.tar"), "wb") as fh:
        fh.write(b"pending-tar-bytes")

    with pytest.raises(RuntimeError, match="live-compactor"):
        compact_shards(spark, out, max_files_in_shard=24)
    # the live run's state survived the refusal UNTOUCHED
    assert os.path.exists(os.path.join(out, "_compaction.json"))
    assert os.path.exists(os.path.join(out, "7.csv"))
    assert os.path.exists(os.path.join(out, "7.tar"))

    # same for the metadata updater: a live updater's write-ahead
    # marker and in-flight temp must survive a refused second run
    with open(os.path.join(out, "_metadata_update.json"), "w") as fh:
        json.dump({"state": "renaming", "map": {}}, fh)
    tmp = os.path.join(out, ".abc-u0-a1.csv.tmp")
    with open(tmp, "w") as fh:
        fh.write("in-flight")
    upd = spark.createDataFrame(
        [("img_00.jpg", 99)], schema="name string, k int"
    )
    with pytest.raises(RuntimeError, match="live-compactor"):
        update_shard_metadata_native(spark, out, upd, "name")
    assert os.path.exists(os.path.join(out, "_metadata_update.json"))
    assert os.path.exists(tmp)


def test_batch_commit_refuses_lost_lease(spark, tmp_path):
    """r15 review finding 3: the lease has no heartbeat, so a job
    outliving the stale window can be taken over — commit() must
    re-verify it still holds the lease and fail LOUDLY instead of
    interleaving with the usurper's renames."""
    from pyspark.sql.types import StringType, StructField, StructType

    from dataprocessingframework_spark.sources.shards_source import (
        ShardsWriter,
        acquire_writer_lease,
    )

    out = str(tmp_path / "lostlease")
    os.makedirs(out)
    schema = StructType([StructField("name", StringType())])
    w = ShardsWriter(schema, {"path": out, "content": "false"},
                     overwrite=False)
    assert w._lease_token is not None
    # a second writer takes over (as it may after stale_after_sec)
    acquire_writer_lease(out, "usurper", takeover=True)
    with pytest.raises(RuntimeError, match="lost its writer lease"):
        w.commit([])
    # nothing was published by the refused commit
    assert [f for f in os.listdir(out) if f.endswith(".csv")] == []


def test_legacy_reader_tolerates_folderless_dir_shards(
    spark, tmp_path
):
    """r15 review finding 2: the r15 writer legally produces dir-
    layout shards with NO folder (all-null members; object stores
    don't persist empty prefixes) — the documented S3 API
    (DatasetReader.read_sharded_files) must read them like the raw
    DSv2 path does, not die on pairing."""
    from dataprocessingframework_spark.configs import (
        ShardedFilesDatasetConfig,
    )

    register_shards_source(spark)
    out = str(tmp_path / "folderless")
    df = spark.createDataFrame(
        [(f"m_{i}.bin", i, None) for i in range(6)],
        schema="name string, k int, content binary",
    ).repartition(1)
    df.write.format("dpf_shards").option("layout", "dir").mode(
        "append"
    ).save(out)
    assert sorted(os.listdir(out))[0] == "0.csv"  # no folder 0/
    cfg = ShardedFilesDatasetConfig(path=out, name_columns=["name"])
    got = DatasetReader(spark).read_sharded_files(cfg).df
    assert got.count() == 6
    assert "name_path" in got.columns


def test_schema_key_ignores_order_and_nullability(spark, tmp_path):
    """r15 review finding 5: the publish/drop decision compares by
    name->type, not exact StructType — a column-order or nullability
    drift (join reordering the key first; reader schemas all-nullable)
    must NOT silently delete _schema.json and reintroduce the
    inference scan."""
    from dataprocessingframework_spark.sources.shards_source import (
        read_published_schema,
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "orderdrift")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).mode("append").save(out)
    assert read_published_schema(out) is not None

    # same columns, different order: the file survives the append
    # (fresh names — the updater below requires unique keys)
    reordered = spark.createDataFrame(
        [(i, f"new_{i}.jpg", "c", bytes([i])) for i in range(3)],
        schema="k int, name string, caption string, content binary",
    ).repartition(1)
    reordered.write.format("dpf_shards").mode("append").save(out)
    assert read_published_schema(out) is not None

    # a touched-only metadata update (join puts the key first in the
    # merged frame) keeps the file too
    upd = spark.createDataFrame(
        [("img_00.jpg", 99)], schema="name string, k int"
    )
    update_shard_metadata_native(spark, out, upd, "name")
    assert read_published_schema(out) is not None
    back = spark.read.format("dpf_shards").load(out)
    assert back.count() == 9
    assert back.where("name = 'img_00.jpg'").first().k == 99


def test_touched_update_never_bootstraps_schema_on_mixed(
    spark, tmp_path
):
    """r15 review follow-on to finding 4: on a MIXED-schema dataset
    (schema file absent), a touched-only update must not publish the
    inference-unified SUPERSET schema — it would misdescribe every
    untouched narrow shard and break their reads."""
    from dataprocessingframework_spark.sources.shards_source import (
        read_published_schema,
        update_shard_metadata_native,
    )

    register_shards_source(spark)
    out = str(tmp_path / "mixedupd")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).mode("append").save(out)
    wide = spark.createDataFrame(
        [("x.jpg", "cap", 1, 7, b"z")],
        schema="name string, caption string, k int, extra int,"
        " content binary",
    ).repartition(1)
    wide.write.format("dpf_shards").mode("append").save(out)
    assert read_published_schema(out) is None  # mixed -> dropped

    upd = spark.createDataFrame(
        [("img_00.jpg", 42)], schema="name string, k int"
    )
    update_shard_metadata_native(spark, out, upd, "name")
    assert read_published_schema(out) is None  # still honest
    back = spark.read.format("dpf_shards").load(out)
    assert back.count() == 7
    assert back.where("name = 'img_00.jpg'").first().k == 42


def test_dir_layout_symlink_member_rejected(spark, tmp_path):
    """r15 review finding 7: a basename-clean member that is a
    SYMLINK escaping the shard folder must surface as an error row,
    never as the target file's bytes (untrusted-dataset containment
    on the local backend)."""
    register_shards_source(spark)
    out = str(tmp_path / "symlinked")
    df = spark.createDataFrame(
        [("good.bin", 1, b"ok"), ("evil.bin", 2, b"tmp")],
        schema="name string, k int, content binary",
    ).repartition(1).sortWithinPartitions("name")
    df.write.format("dpf_shards").option("layout", "dir").mode(
        "append"
    ).save(out)
    secret = tmp_path / "secret.txt"
    secret.write_text("outside-the-dataset")
    evil = os.path.join(out, "0", "evil.bin")
    os.remove(evil)
    os.symlink(str(secret), evil)
    rows = {
        r.name: r
        for r in spark.read.format("dpf_shards")
        .option("layout", "dir")
        .load(out)
        .collect()
    }
    assert bytes(rows["good.bin"].content) == b"ok"
    assert not rows["evil.bin"].is_correct
    assert rows["evil.bin"].content is None
    assert "symlink escape" in rows["evil.bin"].error


def test_parquet_metadata_read_honors_pinned_schema(spark, tmp_path):
    """r15 review finding 9: read_shards(schema=...) must reach the
    parquet route too — a caller pinning a wider type gets it, not
    whatever the footers carry."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    register_shards_source(spark)
    out = str(tmp_path / "pqpinned")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).option("meta_format", "parquet").mode("append").save(out)
    cfg = ShardsDatasetConfig(path=out, metadata_format="parquet")
    pinned = StructType(
        [
            StructField("name", StringType()),
            StructField("caption", StringType()),
            StructField("k", LongType()),  # file carries int32
        ]
    )
    got = DatasetReader(spark).read_shards(cfg, schema=pinned).df
    assert dict(got.dtypes)["k"] == "bigint"
    assert got.count() == 6


def test_lease_heartbeat_keeps_long_jobs_alive(spark, tmp_path):
    """r15 (finding 3 root cause): a legitimate writer outliving
    stale_after_sec must NOT be silently taken over — the heartbeat
    keeps the lease young for the job's whole span, stops refreshing
    on release, and never resurrects a forcibly taken-over lease."""
    import time

    from dataprocessingframework_spark.sources.shards_source import (
        _LeaseHeartbeat,
        _read_lease,
        acquire_writer_lease,
        release_writer_lease,
    )

    out = str(tmp_path / "hb")
    os.makedirs(out)
    token = acquire_writer_lease(out, "long-job")
    hb = _LeaseHeartbeat(out, token, interval=0.05)
    try:
        time.sleep(0.5)
        # lease far older than this stale window in wall-time, but the
        # heartbeat kept its timestamp young: second writer still blocked
        with pytest.raises(RuntimeError, match="long-job"):
            acquire_writer_lease(out, "impatient", stale_after_sec=0.3)
        # a FORCED takeover replaces the lease; the heartbeat must see
        # the foreign token and stop, never resurrecting ours
        usurper = acquire_writer_lease(out, "usurper", takeover=True)
        time.sleep(0.3)
        assert _read_lease(out)["token"] == usurper
    finally:
        hb.stop()
    release_writer_lease(out, usurper)

    # stopped heartbeat: the lease ages out normally
    token2 = acquire_writer_lease(out, "short-job")
    hb2 = _LeaseHeartbeat(out, token2, interval=0.05)
    hb2.stop()
    time.sleep(0.4)
    acquire_writer_lease(out, "next-writer", stale_after_sec=0.2)


def test_batch_writer_starts_and_stops_heartbeat(spark, tmp_path):
    """The DSv2 batch write registers a driver-side heartbeat at plan
    time and clears it on commit — no thread or registry entry leaks
    (the writer instance itself is pickled to executors, so the
    heartbeat must live off-instance)."""
    from dataprocessingframework_spark.sources import shards_source as ss

    register_shards_source(spark)
    out = str(tmp_path / "hbwriter")
    before = set(ss._HEARTBEATS)
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).option("lease_heartbeat_sec", "0.05").mode("append").save(out)
    assert set(ss._HEARTBEATS) == before  # stopped and deregistered
    assert "_writer.lock" not in os.listdir(out)
    assert spark.read.format("dpf_shards").load(out).count() == 6


def test_bad_heartbeat_option_fails_without_leaking_lease(
    spark, tmp_path
):
    """r15 review: an unparseable lease_heartbeat_sec must fail at
    plan time BEFORE the lease PUT — a raise after it would leave an
    orphan lock blocking the dataset for the whole stale window."""
    register_shards_source(spark)
    out = str(tmp_path / "badopt")
    df = _mk_media_df(spark, 3).repartition(1)
    with pytest.raises(Exception, match="1m|could not convert"):
        df.write.format("dpf_shards").option(
            "lease_heartbeat_sec", "1m"
        ).mode("append").save(out)
    assert not os.path.exists(os.path.join(out, "_writer.lock"))
    # the dataset is not locked: a normal write proceeds immediately
    df.write.format("dpf_shards").mode("append").save(out)
    assert spark.read.format("dpf_shards").load(out).count() == 3


def test_schema_publish_gating_empty_append_and_ambiguous_absence(
    spark, tmp_path
):
    """r15 review: (a) a ZERO-shard append must not predrop a
    truthful _schema.json nor publish its own; (b) publish-if-absent
    runs only into a shardless dir — absence on a populated dataset
    is ambiguous (dropped-because-mixed by a crashed predecessor) and
    republishing would misdescribe the older shards."""
    from dataprocessingframework_spark.sources.shards_source import (
        read_published_schema,
    )

    register_shards_source(spark)
    out = str(tmp_path / "gating")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).mode("append").save(out)
    pub = read_published_schema(out)
    assert pub is not None

    # (a) empty append with a DIFFERENT schema: nothing on disk
    # changed, so the truthful published file must survive
    empty_other = spark.createDataFrame(
        [], schema="name string, other int, content binary"
    ).repartition(1)
    empty_other.write.format("dpf_shards").mode("append").save(out)
    assert read_published_schema(out) is not None

    # (b) simulate a crashed predecessor's predrop: file absent on a
    # populated dataset -> a same-schema append must NOT bootstrap it
    os.remove(os.path.join(out, "_schema.json"))
    _mk_media_df(spark, 3).select(
        F.col("name"), F.lit("z").alias("caption"),
        F.lit(1).alias("k"), F.col("content"),
    ).withColumn("name", F.concat(F.lit("b_"), F.col("name"))
    ).repartition(1).write.format("dpf_shards").mode("append").save(out)
    assert read_published_schema(out) is None  # stays honest

    # ...but a fresh shardless dir still gets its bootstrap publish
    fresh = str(tmp_path / "fresh")
    _mk_media_df(spark, 3).repartition(1).write.format(
        "dpf_shards"
    ).mode("append").save(fresh)
    assert read_published_schema(fresh) is not None


def test_publish_shard_schema_repairs_ambiguous_absence(
    spark, tmp_path
):
    """r15 review: writes refuse to publish into ambiguous absence
    (the file may have been dropped because the dataset is mixed);
    publish_shard_schema is the explicit repair that LOOKS — it
    verifies per-shard column uniformity driver-side, publishes on a
    uniform dataset, and refuses a mixed one."""
    from dataprocessingframework_spark.sources.shards_source import (
        publish_shard_schema,
        read_published_schema,
    )

    register_shards_source(spark)
    out = str(tmp_path / "repairme")
    _mk_media_df(spark, 12).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "6").mode("append").save(out)
    os.remove(os.path.join(out, "_schema.json"))  # ambiguous absence

    pub = publish_shard_schema(spark, out)
    assert {f.name for f in pub.fields} == {"name", "caption", "k"}
    assert read_published_schema(out) is not None
    # the repaired file drives reads (values intact)
    assert spark.read.format("dpf_shards").load(out).count() == 12

    # a genuinely mixed dataset is refused
    wide = spark.createDataFrame(
        [("x.jpg", "cap", 1, 7, b"z")],
        schema="name string, caption string, k int, extra int,"
        " content binary",
    ).repartition(1)
    wide.write.format("dpf_shards").mode("append").save(out)
    assert read_published_schema(out) is None
    with pytest.raises(ValueError, match="mixed-schema"):
        publish_shard_schema(spark, out)
    assert read_published_schema(out) is None


def test_corrupt_schema_file_removed_by_next_append(spark, tmp_path):
    """r15 review: a corrupt _schema.json was dead weight every cold
    read re-fetched and re-parse-failed; the next write's predrop now
    removes it (and honestly does NOT republish — absence is
    ambiguous; publish_shard_schema is the explicit repair)."""
    from dataprocessingframework_spark.sources.shards_source import (
        read_published_schema,
    )

    register_shards_source(spark)
    out = str(tmp_path / "corrupt")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).mode("append").save(out)
    with open(os.path.join(out, "_schema.json"), "w") as fh:
        fh.write("{not json")
    assert read_published_schema(out) is None  # corrupt -> fallback
    _mk_media_df(spark, 3).select(
        F.concat(F.lit("c_"), F.col("name")).alias("name"),
        "caption", "k", "content",
    ).repartition(1).write.format("dpf_shards").mode("append").save(out)
    assert "_schema.json" not in os.listdir(out)  # dead file removed
    assert spark.read.format("dpf_shards").load(out).count() == 9


def test_stream_batch0_crash_replay_republishes_schema(
    spark, tmp_path
):
    """r15 review: a fresh sink dir whose batch 0 crashed mid-commit
    must not lose the published-schema optimization forever — the
    write-ahead marker records the batch's authority + schema, and
    the replay finishes the publish."""
    import json

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from dataprocessingframework_spark.sources.shards_source import (
        ShardsStreamWriter,
        read_published_schema,
    )

    register_shards_source(spark)
    sink = str(tmp_path / "b0sink")
    os.makedirs(sink)
    schema = StructType(
        [StructField("name", StringType()), StructField("k", IntegerType())]
    )
    w = ShardsStreamWriter(
        schema,
        {"path": sink, "checkpointlocation": f"{sink}-ckpt",
         "content": "false"},
        overwrite=False,
    )
    # simulate the crashed batch 0: temp written, marker recorded
    # with authority + schema (as commit now does), renames pending
    tmp = os.path.join(sink, ".crashed-p0-a0-s0.csv.tmp")
    with open(tmp, "w") as fh:
        fh.write("name,k\na,1\n")
    marker_dir = os.path.join(sink, "_shards_commits")
    os.makedirs(marker_dir, exist_ok=True)
    marker = w._marker(0)
    with open(marker, "w") as fh:
        json.dump(
            {
                "state": "renaming",
                "map": {tmp: os.path.join(sink, "0.csv")},
                "authoritative": True,
                "schema": schema.jsonValue(),
            },
            fh,
        )
    assert read_published_schema(sink) is None
    w.commit([], batchId=0)  # replay completes renames AND publish
    assert os.path.exists(os.path.join(sink, "0.csv"))
    pub = read_published_schema(sink)
    assert pub is not None
    assert {f.name for f in pub.fields} == {"name", "k"}


def test_explicit_start_index_append_never_authoritative(
    spark, tmp_path
):
    """r15 review: start == 0 confers publish authority only when
    COMPUTED from a shardless dir — an explicit start_index=0 option
    can land on a populated dataset and speaks for nothing beyond its
    own shards."""
    from dataprocessingframework_spark.sources.shards_source import (
        read_published_schema,
    )

    register_shards_source(spark)
    out = str(tmp_path / "startidx")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).option("max_files_in_shard", "3").mode("append").save(out)
    # differing schema, explicit start_index=0: replaces shard 0's
    # files but shard 1 keeps the old schema -> must NOT publish
    spark.createDataFrame(
        [("x.jpg", 1, b"z")], schema="name string, other int, content binary"
    ).repartition(1).write.format("dpf_shards").option(
        "start_index", "0"
    ).mode("append").save(out)
    assert read_published_schema(out) is None


def test_heal_metadata_update_finishes_authoritative_publish(
    spark, tmp_path
):
    """r15 review: a full-rewrite update records its authority +
    merged schema in the write-ahead marker, so a crash anywhere
    after the renames still ends with a truthful _schema.json — heal
    replays the renames AND the publish."""
    import json

    from dataprocessingframework_spark.sources.shards_source import (
        heal_metadata_update,
        read_published_schema,
    )

    register_shards_source(spark)
    out = str(tmp_path / "healpub")
    _mk_media_df(spark, 6).repartition(1).write.format(
        "dpf_shards"
    ).mode("append").save(out)
    os.remove(os.path.join(out, "_schema.json"))  # predrop happened
    new_schema = {
        "type": "struct",
        "fields": [
            {"name": "name", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "caption", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    }
    # realistic full-rewrite plan: covers the dataset's only shard,
    # temps already renamed pre-crash (tmp gone, final in place)
    with open(os.path.join(out, "_metadata_update.json"), "w") as fh:
        json.dump(
            {"state": "renaming",
             "map": {os.path.join(out, ".x-u0-a1.csv.tmp"):
                     os.path.join(out, "0.csv")},
             "authoritative": True,
             "schema": new_schema, "meta_format": "csv"},
            fh,
        )
    assert heal_metadata_update(out)
    pub = read_published_schema(out)
    assert pub is not None
    assert dict((f.name, f.dataType.simpleString()) for f in pub.fields)[
        "k"
    ] == "bigint"


def test_stream_replay_guard_refuses_foreign_targets(spark, tmp_path):
    """r15 review: a crash-replay must NOT force-publish its recorded
    schema when the plan's target files were placed by a successor
    query (its temps were swept; the files on disk carry different
    columns)."""
    import json

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from dataprocessingframework_spark.sources.shards_source import (
        ShardsStreamWriter,
        read_published_schema,
    )

    register_shards_source(spark)
    sink = str(tmp_path / "foreign")
    os.makedirs(sink)
    schema = StructType(
        [StructField("name", StringType()), StructField("k", IntegerType())]
    )
    w = ShardsStreamWriter(
        schema,
        {"path": sink, "checkpointlocation": f"{sink}-ckpt",
         "content": "false"},
        overwrite=False,
    )
    # the successor's file occupies the plan's target with OTHER cols
    with open(os.path.join(sink, "0.csv"), "w") as fh:
        fh.write("other,cols\n1,2\n")
    os.makedirs(os.path.join(sink, "_shards_commits"), exist_ok=True)
    with open(w._marker(0), "w") as fh:
        json.dump(
            {
                "state": "renaming",
                "map": {os.path.join(sink, ".gone.csv.tmp"):
                        os.path.join(sink, "0.csv")},
                "authoritative": True,
                "schema": schema.jsonValue(),
            },
            fh,
        )
    w.commit([], batchId=0)
    assert read_published_schema(sink) is None  # guard refused


def test_replay_janitor_spares_orphan_update_temps(spark, tmp_path):
    """The stream janitor's '-u' sparing (review r14 pass 2) stays
    directly covered on its reachable path: a crash-replay commit
    (no update marker outstanding — writers refuse that case) runs
    _sweep_all_temps and must leave a crashed updater's heal-forward
    temps alone."""
    import json

    import pandas as pd

    from pyspark.sql.types import StructType

    from dataprocessingframework_spark.sources.shards_source import (
        ShardsStreamWriter,
    )

    register_shards_source(spark)
    out = str(tmp_path / "sparereplay")
    spark.createDataFrame(
        [(1, "old")], schema="id int, text string"
    ).repartition(1).write.format("dpf_shards").mode("append").save(out)

    # an updater crashed BEFORE its marker PUT: orphan '-u' temp only
    utmp = os.path.join(out, ".zzz9-u0-a3.csv.tmp")
    with open(utmp, "w") as f:
        f.write('"id","text"\n1,"new"\n')

    schema = StructType.fromDDL("id int, text string")
    w = ShardsStreamWriter(schema, {"path": out}, overwrite=False)
    # crashed batch 1: its temp + renaming marker; replay completes it
    btmp = os.path.join(out, f".{w._token}-p000000-a1-s0.csv.tmp")
    pd.DataFrame({"id": [2], "text": ["batch"]}).to_csv(btmp, index=False)
    os.makedirs(os.path.join(out, "_shards_commits"), exist_ok=True)
    with open(w._marker(1), "w") as fh:
        json.dump(
            {"state": "renaming",
             "map": {btmp: os.path.join(out, "1.csv")}},
            fh,
        )
    w.commit([], batchId=1)
    assert os.path.exists(os.path.join(out, "1.csv"))  # replay landed
    assert not os.path.exists(btmp)  # its own temp renamed
    assert os.path.exists(utmp)  # the '-u' heal input was spared
