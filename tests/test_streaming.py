"""Streaming surface: batch-mode semantics + one real micro-batch run
(file source -> tumbling window agg -> memory sink)."""

import json

import pytest
from pyspark.sql import functions as F

from dataprocessingframework_spark.streaming import (
    session_window_agg,
    stream_dedup,
    tumbling_window_agg,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


@pytest.fixture()
def events(spark):
    rows = [
        (1, "2024-01-01 00:01:00", 1, "click", 1.0),
        (2, "2024-01-01 00:05:00", 1, "click", 2.0),
        (3, "2024-01-01 00:20:00", 2, "view", 3.0),
        (4, "2024-01-01 00:20:00", 2, "view", 3.0),  # dup of 3 (same key)
        (5, "2024-01-01 01:00:00", 1, "click", 4.0),
    ]
    return spark.createDataFrame(rows, schema=SCHEMA.replace("timestamp", "string")) \
        .withColumn("ts", F.to_timestamp("ts"))


def test_tumbling_window_batch(events):
    out = {
        (str(r.win_start), r.event_type): (r.cnt, r.sum_value)
        for r in tumbling_window_agg(events, group_cols=["event_type"]).collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 00:15:00", "view")] == (2, 6.0)
    assert out[("2024-01-01 01:00:00", "click")] == (1, 4.0)


def test_session_window_batch(events):
    out = session_window_agg(events, gap="10 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r.n_events)
    # user 1: events at 00:01 and 00:05 merge into one session; 01:00 separate
    assert sorted(by_user[1]) == [1, 2]
    assert by_user[2] == [2]


def test_stream_dedup_batch(events):
    out = stream_dedup(events, ["user_id", "ts"])
    assert out.count() == 4


def test_structured_streaming_micro_batch(spark, tmp_path):
    """Real readStream over a json directory, windowed agg, memory sink."""
    src = tmp_path / "stream_src"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:01:00", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:02:00", "user_id": 2,
         "event_type": "click", "value": 2.0},
    ]
    with open(src / "batch0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema(SCHEMA).json(str(src))
    )
    agg = tumbling_window_agg(stream, window="15 minutes", group_cols=["event_type"])
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        res = spark.sql("SELECT * FROM win_agg").collect()
        assert len(res) == 1
        assert res[0].cnt == 2 and res[0].sum_value == 3.0
    finally:
        q.stop()


def test_incremental_ingest_resumes_from_checkpoint(spark, tmp_path):
    """The resume-from-last-shard twin: first run ingests existing
    files; appending a file and re-running ingests ONLY the new file
    (checkpoint-tracked); a no-new-files rerun is a no-op."""
    from dataprocessingframework_spark.streaming import incremental_ingest

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                f.write(json.dumps(
                    {"event_id": i, "ts": "2024-01-01T00:00:00",
                     "user_id": i, "event_type": "click", "value": 1.0}) + "\n")

    write_file("a.json", [1, 2, 3])
    write_file("b.json", [4, 5])
    n1 = incremental_ingest(spark, str(src), SCHEMA, out, ckpt)
    assert n1 >= 1
    assert spark.read.parquet(out).count() == 5

    write_file("c.json", [6, 7])
    n2 = incremental_ingest(spark, str(src), SCHEMA, out, ckpt)
    assert n2 >= 1
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7]  # no re-ingest of a/b

    n3 = incremental_ingest(spark, str(src), SCHEMA, out, ckpt)
    assert n3 == 0
    assert spark.read.parquet(out).count() == 7


def test_incremental_ingest_exact_batch_count(spark, tmp_path):
    """Batch count comes from the checkpoint commit log, so with
    maxFilesPerTrigger=1 it equals the file count EXACTLY — not the
    recentProgress approximation, whose buffer is bounded."""
    from dataprocessingframework_spark.streaming import incremental_ingest

    src = tmp_path / "esrc"
    src.mkdir()
    for name, ids in [("a.json", [1]), ("b.json", [2]), ("c.json", [3])]:
        with open(src / name, "w") as f:
            for i in ids:
                f.write(json.dumps(
                    {"event_id": i, "ts": "2024-01-01T00:00:00",
                     "user_id": i, "event_type": "click", "value": 1.0}) + "\n")
    n = incremental_ingest(
        spark, str(src), SCHEMA, str(tmp_path / "eout"),
        str(tmp_path / "eckpt"), max_files_per_trigger=1,
    )
    assert n == 3


def test_incremental_ingest_with_transform(spark, tmp_path):
    """The transform stage runs inside the stream (per micro-batch)."""
    from dataprocessingframework_spark.streaming import incremental_ingest

    src = tmp_path / "tsrc"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i in range(10):
            f.write(json.dumps(
                {"event_id": i, "ts": "2024-01-01T00:00:00",
                 "user_id": i, "event_type": "click" if i % 2 else "view",
                 "value": float(i)}) + "\n")
    incremental_ingest(
        spark, str(src), SCHEMA, str(tmp_path / "tout"), str(tmp_path / "tckpt"),
        transform=lambda df: df.filter(F.col("event_type") == "click")
        .select("event_id", "value"),
    )
    back = spark.read.parquet(str(tmp_path / "tout"))
    assert back.columns == ["event_id", "value"]
    assert back.count() == 5


def test_stream_static_enrich_broadcasts_dim(spark, sf_dir):
    """The static dim side must plan as a broadcast (stateless per
    micro-batch); batch-mode semantics = plain inner join."""
    from dataprocessingframework_spark import queries as q
    from dataprocessingframework_spark.streaming import stream_static_enrich

    events = q.T(spark, sf_dir, "events").limit(1000)
    cust = q.T(spark, sf_dir, "customer").select(
        q.F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = stream_static_enrich(events, cust, ["user_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    joined = out.count()
    plain = events.join(cust, "user_id").count()
    assert joined == plain


def test_stream_stream_interval_join_real_stream(spark, tmp_path):
    """Real two-sided readStream through the interval join: matches the
    batch-mode result exactly, and only pairs inside the horizon
    survive."""
    import uuid

    from dataprocessingframework_spark.streaming import (
        stream_stream_interval_join,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, "purchase", 10.0),
        (2, "2024-01-01 00:10:00", 1, "click", 0.0),   # inside 30m
        (3, "2024-01-01 00:40:00", 1, "click", 0.0),   # outside 30m
        (4, "2024-01-01 00:05:00", 2, "click", 0.0),   # other user
        (5, "2024-01-01 00:20:00", 2, "purchase", 5.0),
        (6, "2024-01-01 00:20:00", 2, "click", 0.0),   # boundary: == p_ts
    ]
    batch = spark.createDataFrame(
        rows, schema=SCHEMA.replace("timestamp", "string")
    ).withColumn("ts", F.to_timestamp("ts"))
    src = tmp_path / "ssj_src"
    batch.write.parquet(str(src))

    def sides(df_source):
        def side(etype, prefix):
            return df_source.filter(F.col("event_type") == etype).select(
                "user_id",
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )

        return side("purchase", "p"), side("click", "c")

    expected = {(1, 2), (5, 6)}

    p, c = sides(batch)
    batch_out = stream_stream_interval_join(
        p, c, left_ts="p_ts", right_ts="c_ts", horizon="30 minutes"
    )
    assert {(r.p_id, r.c_id) for r in batch_out.collect()} == expected

    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    sp, sc = sides(stream)
    joined = stream_stream_interval_join(
        sp, sc, left_ts="p_ts", right_ts="c_ts", horizon="30 minutes"
    )
    qname = f"ssj_test_{uuid.uuid4().hex[:8]}"
    sq = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    assert {
        (r.p_id, r.c_id) for r in spark.table(qname).collect()
    } == expected


def test_incremental_curation_end_to_end(spark, tmp_path):
    """Continuous curation: batch 1 curates + dedups, batch 2 drops
    docs already in the corpus, a rerun with no new files is a no-op,
    and the quality filter applies per batch."""
    import json as _json

    from dataprocessingframework_spark.streaming import (
        incremental_curation,
        read_corpus,
    )

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def put(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    def curate(df):
        return df.filter(F.length("text") >= 5)

    def run():
        return incremental_curation(
            spark, str(src), schema, corpus, ckpt,
            dedup_cols=["text"], order_col="doc_id", curate=curate,
        )

    put("a.jsonl", [
        {"doc_id": 0, "text": "alpha document"},
        {"doc_id": 1, "text": "beta document"},
        {"doc_id": 2, "text": "x"},                   # fails curation
        {"doc_id": 3, "text": "alpha document"},      # in-batch dup of 0
    ])
    assert run() >= 1
    got = {(r.doc_id, r.text) for r in read_corpus(spark, corpus).collect()}
    assert got == {(0, "alpha document"), (1, "beta document")}

    put("b.jsonl", [
        {"doc_id": 4, "text": "beta document"},       # already in corpus
        {"doc_id": 5, "text": "gamma document"},      # new
    ])
    assert run() >= 1
    got = {(r.doc_id, r.text) for r in read_corpus(spark, corpus).collect()}
    assert got == {
        (0, "alpha document"), (1, "beta document"), (5, "gamma document"),
    }

    assert run() == 0  # no new files -> no new batches, corpus unchanged
    assert read_corpus(spark, corpus).count() == 3


def test_windowed_psi_streaming_matches_batch(spark, tmp_path):
    """Real readStream through the drift monitor: per-window PSI from
    the availableNow run equals the batch twin, and a window drawn
    from a shifted distribution scores higher drift than one drawn
    from the baseline itself."""
    import uuid

    from dataprocessingframework_spark.streaming import windowed_psi

    rows = []
    # hour 0: values match the baseline shape (0..90)
    for i in range(60):
        rows.append((i, f"2024-01-01 00:{i:02d}:00", 1, "m", float(i % 10) * 10))
    # hour 1: values shifted high (400..490)
    for i in range(60):
        rows.append((100 + i, f"2024-01-01 01:{i:02d}:00", 1, "m",
                     400.0 + float(i % 10) * 10))
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    baseline = batch.filter("event_id < 100")  # hour-0 distribution

    batch_out = {
        str(r.win_start): (r.n_events, r.psi)
        for r in windowed_psi(
            batch, baseline, window="1 hour", lo=0.0, hi=500.0, bins=10
        ).collect()
    }
    assert batch_out["2024-01-01 00:00:00"][0] == 60
    assert batch_out["2024-01-01 01:00:00"][1] > batch_out["2024-01-01 00:00:00"][1]
    assert batch_out["2024-01-01 01:00:00"][1] > 0.25  # major drift

    src = tmp_path / "psi_src"
    batch.write.parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    mon = windowed_psi(
        stream, baseline, window="1 hour", lo=0.0, hi=500.0, bins=10
    )
    qname = f"psi_test_{uuid.uuid4().hex[:8]}"
    # complete mode: append would hold every window open until the
    # watermark passes it, which a single availableNow batch never does
    sq = (
        mon.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    stream_out = {
        str(r.win_start): (r.n_events, r.psi)
        for r in spark.table(qname).collect()
    }
    assert stream_out == batch_out


def test_stream_to_versioned_commits_batches_idempotently(spark, tmp_path):
    """Two ingest waves -> two versions; re-running the stream over the
    same checkpoint commits nothing new; a manual replay of a seen tag
    is a no-op (exactly-once at the commit log)."""
    from dataprocessingframework_spark.sources.versioned import (
        commit,
        history,
        read_version,
    )
    from dataprocessingframework_spark.streaming.ingest import (
        stream_to_versioned,
    )

    src = tmp_path / "vsrc"
    src.mkdir()
    table = str(tmp_path / "vtab")
    ckpt = str(tmp_path / "vckpt")
    spark.range(10).toDF("id").write.json(str(src / "w1"))

    def run():
        stream = spark.readStream.schema("id long").json(str(src / "*"))
        q = stream_to_versioned(stream, table, ckpt)
        q.awaitTermination()

    run()
    assert read_version(spark, table).count() == 10
    n_versions = len(history(spark, table))

    spark.range(100, 105).toDF("id").write.json(str(src / "w2"))
    run()
    assert read_version(spark, table).count() == 15
    assert len(history(spark, table)) == n_versions + 1

    # idle rerun: checkpoint says nothing new -> no commits
    run()
    assert len(history(spark, table)) == n_versions + 1

    # manual replay of an already-seen tag is a no-op
    seen_tag_version = commit(
        spark, spark.range(999).toDF("id"), table, tag="batch-0"
    )
    assert seen_tag_version == 0  # returned the original commit
    assert read_version(spark, table).count() == 15


def test_incremental_near_dup_ingest_two_waves(spark, tmp_path):
    """Wave 2 docs near-duplicating wave 1 are dropped; replay with no
    new files commits nothing and leaves the corpus unchanged."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.streaming import (
        incremental_near_dup_ingest,
        read_corpus,
    )

    base = str(tmp_path / "nd")
    src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.select("doc_id", "text")
    cut = (docs.agg(F.max("doc_id")).collect()[0][0] + 1) // 2

    def run():
        return incremental_near_dup_ingest(
            spark, src, "doc_id long, text string", corpus, ckpt,
            threshold=0.5, num_hashes=8, bands=4,
        )

    docs.filter(F.col("doc_id") < cut).write.mode("append").json(src)
    assert run() >= 1
    n_wave1 = read_corpus(spark, corpus).count()
    assert n_wave1 == docs.filter(F.col("doc_id") < cut).count()

    docs.filter(F.col("doc_id") >= cut).write.mode("append").json(src)
    assert run() >= 1
    total = read_corpus(spark, corpus).count()
    assert n_wave1 < total < docs.count()  # some wave-2 docs dropped

    assert run() == 0  # nothing new -> no batch committed
    assert read_corpus(spark, corpus).count() == total


def test_incremental_semantic_ingest_two_waves(spark, tmp_path):
    """r8: wave-2 vectors semantically duplicating wave 1 (cosine >=
    threshold within probed IVF cells) are dropped; replay with no
    new files commits nothing and leaves the corpus unchanged."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    base = str(tmp_path / "sem")
    src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.select("vec_id", "embedding")
    cut = (emb.agg(F.max("vec_id")).collect()[0][0] + 1) // 2
    cents = _ivf_centroids(emb, "vec_id", "embedding", 16, iters=0)

    def run():
        return incremental_semantic_ingest(
            spark, src, "vec_id long, embedding array<float>",
            corpus, ckpt, cents,
            threshold=0.4, n_probe=2, src_format="parquet",
        )

    emb.filter(F.col("vec_id") < cut).write.mode("append").parquet(src)
    assert run() >= 1
    n_wave1 = read_corpus(spark, corpus).count()
    assert n_wave1 == emb.filter(F.col("vec_id") < cut).count()

    emb.filter(F.col("vec_id") >= cut).write.mode("append").parquet(src)
    assert run() >= 1
    total = read_corpus(spark, corpus).count()
    assert n_wave1 < total < emb.count()  # some wave-2 vectors dropped

    assert run() == 0  # nothing new -> no batch committed
    assert read_corpus(spark, corpus).count() == total


def test_incremental_semantic_ingest_index_backed(spark, tmp_path):
    """r8: with index_table set, the stream gates each batch against
    a MAINTAINED materialized IVF index (corpus cells computed once
    at accept time) and appends survivors to it. Must equal the
    dir-backed mode exactly, keep the index in lockstep with the
    corpus, and stay replay-safe (same-id matches ignored)."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.select("vec_id", "embedding")
    cut = (emb.agg(F.max("vec_id")).collect()[0][0] + 1) // 2
    cents = _ivf_centroids(emb, "vec_id", "embedding", 16, iters=0)
    kept = {}
    try:
        for mode in ("dirs", "index"):
            base = str(tmp_path / mode)
            src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
            kw = (
                dict(index_table="t_sem_ing_idx", index_path=f"{base}/idx")
                if mode == "index"
                else {}
            )

            def run():
                return incremental_semantic_ingest(
                    spark, src, "vec_id long, embedding array<float>",
                    corpus, ckpt, cents,
                    threshold=0.4, n_probe=2, src_format="parquet", **kw,
                )

            emb.filter(F.col("vec_id") < cut).write.mode("append").parquet(src)
            run()
            emb.filter(F.col("vec_id") >= cut).write.mode("append").parquet(
                src
            )
            run()
            kept[mode] = sorted(
                r.vec_id for r in read_corpus(spark, corpus).collect()
            )
            assert run() == 0  # replay: nothing new
        assert kept["dirs"] == kept["index"]
        idx = spark.table("t_sem_ing_idx")
        assert sorted(r.vec_id for r in idx.collect()) == kept["index"]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sem_ing_idx")
        spark.sql("DROP TABLE IF EXISTS t_sem_ing_idx_centroids")


def test_incremental_semantic_ingest_sq8_index(spark, tmp_path):
    """r11: rung='sq8' maintains the gate index SQ8-COMPRESSED
    (codes packed 7-per-bigint) and gates via the two-stage
    compressed path — the accepted set must equal the dir-backed
    float mode EXACTLY (the derived margin is sound for the
    bootstrap build; wave-2 appends on this data stay inside the
    wave-1 bounds closely enough that the planted dups still clear
    stage 1), the index must hold codes (no float column), stay in
    lockstep with the corpus, and stay replay-safe."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.select("vec_id", "embedding")
    cut = (emb.agg(F.max("vec_id")).collect()[0][0] + 1) // 2
    cents = _ivf_centroids(emb, "vec_id", "embedding", 16, iters=0)
    kept = {}
    try:
        for mode in ("dirs", "sq8", "pq", "prefix"):
            base = str(tmp_path / mode)
            src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
            if mode == "sq8":
                clamp_log: list = []
                stats: dict = {}
                kw = dict(
                    index_table="t_sem_sq8_idx",
                    index_path=f"{base}/idx",
                    rung="sq8",
                    clamp_log=clamp_log,
                    recommend_stats=stats,
                )
            elif mode == "pq":
                kw = dict(
                    index_table="t_sem_pq_idx",
                    index_path=f"{base}/idx",
                    rung="pq",
                )
            elif mode == "prefix":
                kw = dict(
                    index_table="t_sem_pfx_idx",
                    index_path=f"{base}/idx",
                    rung="prefix",
                    prefix_dims=16,
                )
            else:
                kw = {}

            def run():
                return incremental_semantic_ingest(
                    spark, src, "vec_id long, embedding array<float>",
                    corpus, ckpt, cents,
                    threshold=0.4, n_probe=2, src_format="parquet",
                    impl="jvm", **kw,
                )

            emb.filter(F.col("vec_id") < cut).write.mode("append").parquet(src)
            run()
            emb.filter(F.col("vec_id") >= cut).write.mode("append").parquet(
                src
            )
            run()
            kept[mode] = sorted(
                r.vec_id for r in read_corpus(spark, corpus).collect()
            )
            assert run() == 0  # replay: nothing new
        assert (
            kept["dirs"] == kept["sq8"] == kept["pq"] == kept["prefix"]
        )
        idx = spark.table("t_sem_sq8_idx")
        assert "codes" in idx.columns and "embedding" not in idx.columns
        assert sorted(r.vec_id for r in idx.collect()) == kept["sq8"]
        # bounds table persisted alongside
        assert spark.table("t_sem_sq8_idx_sq8").count() == 1
        # r12 clamp telemetry: one entry per index write (bootstrap
        # overwrite + wave-2 append), and this in-distribution data
        # stays inside the bootstrap bounds on the bootstrap at least
        assert [e["batch_id"] for e in clamp_log] == [0, 1]
        assert all(e["n_rows"] > 0 for e in clamp_log)
        assert clamp_log[0]["rows_clamped"] == 0  # bounds ARE the corpus
        # an explicit rung still reports the bootstrap recommendation
        assert stats["active_rung"] == "sq8"
        assert stats["rung"] == stats["decision"]["rung"]
        assert stats["signals"]["n_rows"] > 0
        pidx = spark.table("t_sem_pq_idx")
        assert "resid" in pidx.columns and "embedding" not in pidx.columns
        assert sorted(r.vec_id for r in pidx.collect()) == kept["pq"]
        # r13 prefix rung: index stores prefix + rest_norm, no floats
        xidx = spark.table("t_sem_pfx_idx")
        assert "rest_norm" in xidx.columns
        assert "embedding" not in xidx.columns
        assert sorted(r.vec_id for r in xidx.collect()) == kept["prefix"]
        # geometry companion persisted (validates wave-2 appends)
        geo = spark.table("t_sem_pfx_idx_prefix").collect()[0]
        assert (geo.dims, geo.full_dim) == (16, 64)
    finally:
        for t in ("t_sem_sq8_idx", "t_sem_sq8_idx_centroids",
                  "t_sem_sq8_idx_sq8", "t_sem_pq_idx",
                  "t_sem_pq_idx_centroids", "t_sem_pq_idx_pq",
                  "t_sem_pfx_idx", "t_sem_pfx_idx_centroids",
                  "t_sem_pfx_idx_prefix"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_semantic_ingest_auto_rebalance(spark, tmp_path):
    """r13 (VERDICT r12 item 4): the opt-in auto-rebalance policy
    closes the skew-repair loop. A planted drift wave (a tight
    off-distribution cluster) piles into one quantizer cell; after
    its append the trigger fires (imbalance over threshold AND a
    cell over the cap), the quantizer is split mid-stream via
    balance_centroids, and the index is rebuilt with the split list.
    The NEXT wave must still be gated exactly: its accepted set must
    equal the brute-force exact cosine gate's (scaled copies share
    their source's argmax cell under ANY quantizer — direction-only
    — so IVF probing provably sees them)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    rng = np.random.RandomState(7)
    dim = 16
    w1 = rng.randn(120, dim)  # spread wave
    b = rng.randn(dim)
    w2 = 3.0 * b[None, :] + 0.1 * rng.randn(100, dim)  # drift cluster
    w3_fresh = rng.randn(30, dim)

    def df_of(mat, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(x) for x in mat[i]]) for i in range(len(mat))],
            schema="vec_id long, embedding array<double>",
        )

    base = str(tmp_path / "reb")
    src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
    cents0 = _ivf_centroids(df_of(w1, 0), "vec_id", "embedding", 8, iters=0)
    log: list = []

    def run():
        return incremental_semantic_ingest(
            spark, src, "vec_id long, embedding array<double>",
            corpus, ckpt, cents0,
            threshold=0.95, n_probe=2, src_format="parquet",
            impl="jvm",
            index_table="t_sem_reb_idx", index_path=f"{base}/idx",
            rebalance_on_imbalance=2.0, rebalance_cell_rows=40,
            rebalance_rounds=4, rebalance_log=log,
        )

    try:
        df_of(w1, 0).write.mode("append").parquet(src)
        run()
        assert log and not log[-1]["triggered"]  # wave 1 is balanced
        assert log[-1]["n_cells_after"] == 8

        df_of(w2, 1000).write.mode("append").parquet(src)
        run()
        drift = log[-1]
        assert drift["triggered"] and drift["rebalanced"]
        assert drift["max_cell"] >= 100  # the planted mega-cell
        assert drift["n_cells_after"] > drift["n_cells_before"]
        # the split quantizer is PERSISTED with the rebuilt index
        n_cents = spark.table("t_sem_reb_idx_centroids").count()
        assert n_cents == drift["n_cells_after"]
        accepted_12 = read_corpus(spark, corpus)
        assert accepted_12.count() == 220  # drift wave fully accepted

        # wave 3 after the mid-stream rebalance: scaled copies of
        # accepted rows (cos exactly 1 -> must drop) + fresh rows
        copies = np.vstack([2.0 * w1[:15], 2.0 * w2[:15]])
        w3 = np.vstack([copies, w3_fresh])
        df_of(w3, 2000).write.mode("append").parquet(src)
        run()
        kept3 = {
            r.vec_id
            for r in read_corpus(spark, corpus).collect()
            if r.vec_id >= 2000
        }
        # exact brute-force gate over the pre-wave-3 corpus
        cmat = np.vstack([w1, w2])
        cn = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
        w3n = w3 / np.linalg.norm(w3, axis=1, keepdims=True)
        exact_kept = {
            2000 + i
            for i in range(len(w3))
            if float((w3n[i] @ cn.T).max()) < 0.95
        }
        assert kept3 == exact_kept
        assert not (kept3 & set(range(2000, 2030)))  # all copies dropped

        assert run() == 0  # replay-safe
    finally:
        for t in ("t_sem_reb_idx", "t_sem_reb_idx_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_auto_rebalance_cooldown_after_failed_split(spark, tmp_path):
    """When a triggered rebalance changes nothing (unsplittable hot
    cell — forced here via rebalance_rounds=0), the policy must NOT
    re-run the whole-corpus balance job every micro-batch: the next
    batch skips under cooldown until the corpus grows >=10%."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
    )

    rng = np.random.RandomState(11)
    dim = 16
    w1 = rng.randn(120, dim)
    b = rng.randn(dim)
    w2 = 3.0 * b[None, :] + 0.1 * rng.randn(100, dim)  # drift pile
    w3 = rng.randn(5, dim)  # tiny: growth stays under 10%

    def df_of(mat, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(x) for x in mat[i]]) for i in range(len(mat))],
            schema="vec_id long, embedding array<double>",
        )

    base = str(tmp_path / "cool")
    src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
    cents0 = _ivf_centroids(df_of(w1, 0), "vec_id", "embedding", 8, iters=0)
    log: list = []
    # three source files BEFORE the run + maxFilesPerTrigger=1 ->
    # three micro-batches sharing one stream state
    df_of(w1, 0).repartition(1).write.mode("append").parquet(src)
    df_of(w2, 1000).repartition(1).write.mode("append").parquet(src)
    df_of(w3, 2000).repartition(1).write.mode("append").parquet(src)
    try:
        incremental_semantic_ingest(
            spark, src, "vec_id long, embedding array<double>",
            corpus, ckpt, cents0,
            threshold=0.95, n_probe=2, src_format="parquet",
            impl="jvm", max_files_per_trigger=1,
            index_table="t_sem_cool_idx", index_path=f"{base}/idx",
            rebalance_on_imbalance=2.0, rebalance_cell_rows=40,
            rebalance_rounds=0,  # split can never succeed
            rebalance_log=log,
        )
        by_batch = {e["batch_id"]: e for e in log}
        assert not by_batch[0]["triggered"]
        hot = by_batch[1]
        assert hot["triggered"] and not hot["rebalanced"]
        assert not hot["skipped_cooldown"]  # the one real attempt
        cooled = by_batch[2]
        assert cooled["triggered"]  # imbalance is still there...
        assert cooled["skipped_cooldown"]  # ...but no repeat attempt
        assert not cooled["rebalanced"]
        assert cooled["n_cells_after"] == 8  # quantizer untouched
    finally:
        for t in ("t_sem_cool_idx", "t_sem_cool_idx_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sq8_gate_pushdown_candidate_ids_equivalent(spark):
    """r11: pushdown_candidate_ids=True must return exactly the
    default path's kept set (it only narrows the recheck scan), and
    the all-candidates-empty early return must keep the whole
    batch."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        load_sq8_bounds,
        materialize_ivf_index,
        semantic_dedup_gate,
    )

    rng = np.random.RandomState(5)
    vecs = rng.randn(80, 16)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        schema="vec_id long, embedding array<double>",
    )
    brows = []
    for j in range(20):
        if j % 2 == 0:  # planted near-dups
            brows.append((1000 + j, [float(x) for x in vecs[j * 3] * 1.2]))
        else:
            brows.append((1000 + j, [float(x) for x in rng.randn(16)]))
    batch = spark.createDataFrame(
        brows, schema="vec_id long, embedding array<double>"
    )
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 8, iters=0)
    try:
        idx, _ = materialize_ivf_index(
            corpus, "t_pd_sq8", n_cells=8, iters=0, impl="jvm",
            centroids=cents, num_buckets=8, sq8=True,
        )
        bounds = load_sq8_bounds(spark, "t_pd_sq8")
        plain = sorted(
            r.vec_id
            for r in semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="sq8", sq8_bounds=bounds,
                threshold=0.9, n_probe=2,
            ).collect()
        )
        pushed = sorted(
            r.vec_id
            for r in semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="sq8", sq8_bounds=bounds,
                threshold=0.9, n_probe=2,
                pushdown_candidate_ids=True,
            ).collect()
        )
        assert pushed == plain
        assert 0 < len(plain) < 20  # drops some, keeps some
        # blas stage-1 (one index scan, decode+matmul per cell) must
        # return the same kept set — stage 2 decides exactly on both
        # paths
        blas = sorted(
            r.vec_id
            for r in semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="sq8", sq8_bounds=bounds,
                threshold=0.9, n_probe=2, impl="blas",
            ).collect()
        )
        assert blas == plain
        # threshold nothing can reach -> empty candidate set ->
        # early return keeps everything
        all_kept = semantic_dedup_gate(
            batch, corpus, cents, idx, gate_kind="sq8", sq8_bounds=bounds,
            threshold=1.5, margin=0.0, n_probe=2,
            pushdown_candidate_ids=True,
        )
        assert all_kept.count() == 20
    finally:
        for t in ("t_pd_sq8", "t_pd_sq8_centroids", "t_pd_sq8_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_near_dup_ingest_index_backed(spark, tmp_path):
    """r8: with index_table set, the near-dup stream probes a
    MAINTAINED (band, bucket)-bucketed LSH index (the corpus is never
    re-hashed per batch) and appends survivors' index rows. Must
    equal the recompute-per-batch mode exactly, keep the index in
    lockstep with the corpus, and stay replay-safe."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.streaming import (
        incremental_near_dup_ingest,
        read_corpus,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.select("doc_id", "text")
    cut = (docs.agg(F.max("doc_id")).collect()[0][0] + 1) // 2
    kept = {}
    try:
        for mode in ("recompute", "index"):
            base = str(tmp_path / mode)
            src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
            kw = (
                dict(index_table="t_nd_ing_idx", index_path=f"{base}/idx")
                if mode == "index"
                else {}
            )

            def run():
                return incremental_near_dup_ingest(
                    spark, src, "doc_id long, text string", corpus, ckpt,
                    threshold=0.5, num_hashes=8, bands=4, **kw,
                )

            docs.filter(F.col("doc_id") < cut).write.mode("append").json(src)
            run()
            docs.filter(F.col("doc_id") >= cut).write.mode("append").json(src)
            run()
            kept[mode] = sorted(
                r.doc_id for r in read_corpus(spark, corpus).collect()
            )
            assert run() == 0
        assert kept["recompute"] == kept["index"]
        idx_ids = sorted(
            r.doc_id
            for r in spark.table("t_nd_ing_idx").select("doc_id")
            .distinct().collect()
        )
        # every kept doc with a non-empty signature is indexed (docs
        # whose text yields no tokens produce no index rows)
        assert set(idx_ids) <= set(kept["index"])
        assert len(idx_ids) >= len(kept["index"]) - 5
    finally:
        spark.sql("DROP TABLE IF EXISTS t_nd_ing_idx")


def test_semantic_ingest_index_bootstrap_covers_prior_batches(
    spark, tmp_path
):
    """r9 (ADVICE r8, medium): adopting index_table MID-STREAM — after
    batches were already accepted dir-backed — must bootstrap the
    index from the WHOLE corpus, not just the adopting batch.
    Otherwise every later batch probes an index missing the old rows
    and semantic dups of them are silently accepted. Wave 3 plants
    rescaled copies of wave-1 vectors: all must be gated."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    base = str(tmp_path / "boot")
    src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    cut = (emb.agg(F.max("vec_id")).collect()[0][0] + 1) // 2
    wave1 = emb.filter(F.col("vec_id") < cut)
    cents = _ivf_centroids(emb, "vec_id", "embedding", 16, iters=0)

    def run(**kw):
        return incremental_semantic_ingest(
            spark, src, "vec_id long, embedding array<float>",
            corpus, ckpt, cents,
            threshold=0.99, n_probe=1, src_format="parquet", **kw,
        )

    try:
        # wave 1: dir-backed, no index yet
        wave1.write.mode("append").parquet(src)
        assert run() >= 1
        n1 = read_corpus(spark, corpus).count()

        # wave 2: index adopted NOW; fresh orthogonal-ish rows so the
        # batch is non-empty and (bug scenario) the index would hold
        # only these
        fresh = emb.filter(F.col("vec_id") >= cut).limit(20).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        fresh.write.mode("append").parquet(src)
        assert run(index_table="t_boot_idx", index_path=f"{base}/idx") >= 1
        n2 = read_corpus(spark, corpus).count()
        # the bootstrap build must cover waves 1 AND 2
        assert spark.table("t_boot_idx").count() == n2

        # wave 3: rescaled copies of wave-1 rows (cos ~ 1) — the
        # maintained index must gate EVERY one of them
        dups = wave1.limit(30).select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(2.0)
            ).cast("array<float>").alias("embedding"),
        )
        dups.write.mode("append").parquet(src)
        assert run(index_table="t_boot_idx", index_path=f"{base}/idx") >= 1
        assert read_corpus(spark, corpus).count() == n2, (
            "wave-3 dups of PRE-INDEX rows were accepted — the index "
            "bootstrap missed prior batches"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_boot_idx")
        spark.sql("DROP TABLE IF EXISTS t_boot_idx_centroids")


def test_near_dup_ingest_index_bootstrap_covers_prior_batches(
    spark, tmp_path
):
    """r9 (ADVICE r8, medium): LSH twin of the semantic bootstrap test
    — wave-3 exact copies of wave-1 texts must be gated by an index
    adopted at wave 2."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.streaming import (
        incremental_near_dup_ingest,
        read_corpus,
    )

    base = str(tmp_path / "ndboot")
    src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    cut = (docs.agg(F.max("doc_id")).collect()[0][0] + 1) // 2
    wave1 = docs.filter(F.col("doc_id") < cut)

    def run(**kw):
        return incremental_near_dup_ingest(
            spark, src, "doc_id long, text string", corpus, ckpt,
            threshold=0.5, num_hashes=8, bands=4, **kw,
        )

    try:
        wave1.write.mode("append").json(src)
        assert run() >= 1

        fresh = docs.filter(F.col("doc_id") >= cut).limit(15).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        fresh.write.mode("append").json(src)
        assert run(index_table="t_ndboot_idx", index_path=f"{base}/idx") >= 1
        n2 = read_corpus(spark, corpus).count()

        dups = wave1.limit(25).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
        dups.write.mode("append").json(src)
        assert run(index_table="t_ndboot_idx", index_path=f"{base}/idx") >= 1
        assert read_corpus(spark, corpus).count() == n2, (
            "wave-3 copies of PRE-INDEX docs were accepted — the "
            "index bootstrap missed prior batches"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ndboot_idx")


def test_semantic_ingest_compact_every_keeps_gate_and_layout(
    spark, tmp_path
):
    """r9: compact_every=1 rewrites the maintained IVF index to one
    file per bucket after every committed batch. The gate verdicts
    must be identical to the uncompacted run, the index must stay in
    lockstep with the corpus, and the file count after three waves
    must be bucket-bounded (uncompacted: ~3x)."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
    )
    from dataprocessingframework_spark.sources.compact import (
        _table_location,
        dataset_file_stats,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    hi = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    waves = [
        emb.filter((F.col("vec_id") * 3 / hi).cast("int") == i)
        for i in range(3)
    ]
    cents = _ivf_centroids(emb, "vec_id", "embedding", 16, iters=0)
    kept, files = {}, {}
    try:
        for mode, every in (("plain", None), ("compact", 1)):
            base = str(tmp_path / mode)
            src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
            tbl = f"t_ce_{mode}"
            for w in waves:
                w.write.mode("append").parquet(src)
                assert incremental_semantic_ingest(
                    spark, src, "vec_id long, embedding array<float>",
                    corpus, ckpt, cents,
                    threshold=0.4, n_probe=2, src_format="parquet",
                    index_table=tbl, index_path=f"{base}/idx",
                    index_num_buckets=8, compact_every=every,
                ) >= 1
            kept[mode] = sorted(
                r.vec_id for r in read_corpus(spark, corpus).collect()
            )
            assert sorted(
                r.vec_id for r in spark.table(tbl).collect()
            ) == kept[mode]
            files[mode], _ = dataset_file_stats(
                spark, _table_location(spark, tbl)
            )
        assert kept["plain"] == kept["compact"]
        assert files["compact"] <= 8 < files["plain"], files
    finally:
        for t in ("t_ce_plain", "t_ce_plain_centroids", "t_ce_compact",
                  "t_ce_compact_centroids", "t_ce_compact__compact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_semantic_ingest_sq8_rebuild_on_clamp_drift(
    spark, tmp_path
):
    """r12: rebuild_on_clamp_frac closes the SQ8 drift loop — a
    drifted wave (x3-scaled vectors, outside the bootstrap bounds on
    every row) must trip the clamp threshold and trigger an in-batch
    rebuild from the whole accepted corpus, after which the stored
    bounds re-cover the drifted distribution (gate margins sound
    again). The bootstrap write must not count as a rebuild."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        load_sq8_bounds,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    cut = (emb.agg(F.max("vec_id")).collect()[0][0] + 1) // 2
    wave1 = emb.filter(F.col("vec_id") < cut)
    wave2 = emb.filter(F.col("vec_id") >= cut).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0))
        .cast("array<float>")
        .alias("embedding"),
    )
    cents = _ivf_centroids(emb, "vec_id", "embedding", 8, iters=0)
    base = str(tmp_path / "drift")
    src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
    clamp_log: list = []

    def run():
        return incremental_semantic_ingest(
            spark, src, "vec_id long, embedding array<float>",
            corpus, ckpt, cents,
            threshold=0.9999, n_probe=2, src_format="parquet",
            impl="jvm", index_table="t_sq8_rebuild",
            index_path=f"{base}/idx", rung="sq8",
            clamp_log=clamp_log, rebuild_on_clamp_frac=0.05,
        )

    try:
        wave1.write.mode("append").parquet(src)
        run()
        bounds_w1 = load_sq8_bounds(spark, "t_sq8_rebuild")
        wave2.write.mode("append").parquet(src)
        run()
        assert [e["rebuilt"] for e in clamp_log] == [False, True]
        assert clamp_log[0]["rows_clamped"] == 0
        # the x3 wave drifts every row outside the bootstrap bounds
        assert (
            clamp_log[1]["rows_clamped"] == clamp_log[1]["n_rows"] > 0
        )
        # rebuild re-derived the bounds over the WHOLE corpus: the
        # envelope now covers the x3 wave (strictly wider), and the
        # index covers every accepted row
        mins1, maxs1 = bounds_w1
        mins2, maxs2 = load_sq8_bounds(spark, "t_sq8_rebuild")
        assert max(maxs2) > 2.5 * max(maxs1)
        assert min(mins2) < 2.5 * min(mins1)  # mins are negative
        n_corpus = read_corpus(spark, corpus).count()
        assert spark.table("t_sq8_rebuild").count() == n_corpus
        assert run() == 0  # replay-safe after a rebuild
    finally:
        for t in ("t_sq8_rebuild", "t_sq8_rebuild_centroids",
                  "t_sq8_rebuild_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_semantic_ingest_auto_rung(spark, tmp_path):
    """r14 (VERDICT r13 item 5): rung='auto' picks the index rung at
    BOOTSTRAP from training-free corpus signals. Both corpora here
    are SQ8-hostile (outlier rows stretch the per-dim min/max grid,
    so the derived margin 2Δ/min‖v‖ eats the whole threshold): the
    matryoshka-shaped variant (mass concentrated in the first dims)
    selects the PREFIX rung, the uniform variant rejects prefix and
    falls back to FLOAT — and in both cases the accepted set equals
    the exact dir-backed gate (rung choice moves cost, never
    verdicts). A restart re-detects the rung from the persisted
    index instead of re-deciding."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    cut = (emb.agg(F.max("vec_id")).collect()[0][0] + 1) // 2
    # negative ids land in wave 1, so the BOOTSTRAP corpus carries the
    # grid-stretching outliers the signals must see
    outliers = spark.createDataFrame(
        [(-1, [10.0] * dim), (-2, [-10.0] * dim)],
        schema="vec_id long, embedding array<double>",
    )
    # most vectors tiny (min_vnorm small), outliers stretch the grid:
    # sq8_margin blows past the budget, so SQ8 is never the pick
    small = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(0.01)
        ).cast("array<double>").alias("embedding"),
    ).unionByName(outliers)

    def matryoshka(df):
        return df.select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x, i: x
                * F.pow(F.lit(0.125), F.floor(i / F.lit(16))),
            ).alias("embedding"),
        )

    expected = {"mat": "prefix", "uni": "float"}
    for variant in ("mat", "uni"):
        data = matryoshka(small) if variant == "mat" else small
        cents = _ivf_centroids(data, "vec_id", "embedding", 8, iters=0)
        kept = {}
        try:
            for mode in ("dirs", "auto"):
                base = str(tmp_path / f"{variant}-{mode}")
                src = f"{base}/src"
                corpus = f"{base}/corpus"
                ckpt = f"{base}/ckpt"
                stats: dict = {}
                kw = (
                    dict(
                        index_table=f"t_autorung_{variant}",
                        index_path=f"{base}/idx",
                        rung="auto",
                        prefix_dims=16,
                        recommend_stats=stats,
                    )
                    if mode == "auto"
                    else {}
                )

                def run():
                    return incremental_semantic_ingest(
                        spark, src,
                        "vec_id long, embedding array<double>",
                        corpus, ckpt, cents,
                        threshold=0.4, n_probe=2, src_format="parquet",
                        **kw,
                    )

                data.filter(F.col("vec_id") < cut).write.mode(
                    "append"
                ).parquet(src)
                run()
                if mode == "auto":
                    assert stats["rung"] == expected[variant], (
                        variant, stats.get("decision"),
                    )
                    assert stats["active_rung"] == expected[variant]
                    assert not stats["decision"]["viable_sq8"]
                    idx_cols = spark.table(
                        f"t_autorung_{variant}"
                    ).columns
                    if expected[variant] == "prefix":
                        assert "rest_norm" in idx_cols
                    else:
                        assert "rest_norm" not in idx_cols
                        assert "codes" not in idx_cols
                data.filter(F.col("vec_id") >= cut).write.mode(
                    "append"
                ).parquet(src)
                # restart with a FRESH stats dict: the persisted
                # index's columns are the rung of record
                fresh_stats: dict = {}
                if mode == "auto":
                    kw = dict(kw, recommend_stats=fresh_stats)

                def run2():
                    return incremental_semantic_ingest(
                        spark, src,
                        "vec_id long, embedding array<double>",
                        corpus, ckpt, cents,
                        threshold=0.4, n_probe=2, src_format="parquet",
                        **kw,
                    )

                run2()
                if mode == "auto":
                    assert fresh_stats["rung"] == expected[variant]
                    assert "decision" not in fresh_stats  # re-detected
                kept[mode] = sorted(
                    r.vec_id
                    for r in read_corpus(spark, corpus).collect()
                )
            assert kept["dirs"] == kept["auto"], variant
        finally:
            for sfx in ("", "_centroids", "_prefix", "_sq8"):
                spark.sql(
                    f"DROP TABLE IF EXISTS t_autorung_{variant}{sfx}"
                )


def test_auto_rung_validation(spark):
    """rung='auto' needs index_table + prefix_dims, and an unknown rung
    is refused."""
    import pytest as _pytest

    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
    )

    common = dict(
        spark=spark, src_dir="/nonexistent", schema="vec_id long",
        corpus_dir="/nonexistent", checkpoint_dir="/nonexistent",
        centroids=[[1.0]],
    )
    with _pytest.raises(ValueError, match="'auto'.*require index_table"):
        incremental_semantic_ingest(**common, rung="auto", prefix_dims=8)
    with _pytest.raises(ValueError, match="prefix_dims"):
        incremental_semantic_ingest(**common, index_table="t_x", rung="auto")
    with _pytest.raises(ValueError, match="unknown rung"):
        incremental_semantic_ingest(**common, index_table="t_x", rung="sq4")


def test_auto_rung_survives_mid_stream_rebalance(spark, tmp_path):
    """r14 interaction: with rung='auto' having picked the PREFIX rung
    at bootstrap, a mid-stream auto-rebalance (quantizer split +
    bootstrap-shaped index rebuild) must REBUILD AT THE SAME RUNG —
    the rebuilt index keeps its rest_norm column and persisted
    prefix geometry — and gating stays exactly equal to the
    brute-force gate afterwards."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        load_prefix_dims,
    )
    from dataprocessingframework_spark.streaming import (
        incremental_semantic_ingest,
        read_corpus,
    )

    rng = np.random.RandomState(11)
    dim, d_p = 16, 4
    shape = np.array([1.0] * d_p + [0.02] * (dim - d_p))

    def mk(mat):  # matryoshka-shaped, small scale (SQ8-hostile grid)
        return 0.01 * mat * shape[None, :]

    w1 = np.vstack([mk(rng.randn(120, dim)), np.full((2, dim), 10.0)])
    b = rng.randn(dim)
    w2 = mk(3.0 * b[None, :] + 0.1 * rng.randn(100, dim))

    def df_of(mat, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(x) for x in mat[i]]) for i in range(len(mat))],
            schema="vec_id long, embedding array<double>",
        )

    base = str(tmp_path / "autoreb")
    src, corpus, ckpt = f"{base}/src", f"{base}/corpus", f"{base}/ckpt"
    cents0 = _ivf_centroids(df_of(w1, 0), "vec_id", "embedding", 8, iters=0)
    log: list = []
    stats: dict = {}

    def run():
        return incremental_semantic_ingest(
            spark, src, "vec_id long, embedding array<double>",
            corpus, ckpt, cents0,
            threshold=0.95, n_probe=2, src_format="parquet",
            impl="jvm",
            index_table="t_autoreb_idx", index_path=f"{base}/idx",
            rung="auto", prefix_dims=d_p, recommend_stats=stats,
            rebalance_on_imbalance=2.0, rebalance_cell_rows=40,
            rebalance_rounds=4, rebalance_log=log,
        )

    try:
        df_of(w1, 0).write.mode("append").parquet(src)
        run()
        assert stats["rung"] == "prefix", stats.get("decision")
        assert "rest_norm" in spark.table("t_autoreb_idx").columns

        df_of(w2, 1000).write.mode("append").parquet(src)
        run()
        drift = log[-1]
        assert drift["triggered"] and drift["rebalanced"]
        # the rebalance rebuild kept the picked rung: rest_norm
        # column present, persisted geometry intact, split quantizer
        # persisted
        idx_cols = spark.table("t_autoreb_idx").columns
        assert "rest_norm" in idx_cols and "prefix" in idx_cols
        assert load_prefix_dims(spark, "t_autoreb_idx")[0] == d_p
        assert (
            spark.table("t_autoreb_idx_centroids").count()
            == drift["n_cells_after"]
        )

        # post-rebalance gating is still exact: scaled copies drop,
        # fresh rows keep
        accepted = np.vstack([w1, w2])
        copies = 2.0 * accepted[::10][:20]
        fresh = mk(rng.randn(20, dim))
        w3 = np.vstack([copies, fresh])
        df_of(w3, 2000).write.mode("append").parquet(src)
        run()
        kept3 = {
            r.vec_id
            for r in read_corpus(spark, corpus).collect()
            if r.vec_id >= 2000
        }
        cn = accepted / np.linalg.norm(accepted, axis=1, keepdims=True)
        w3n = w3 / np.linalg.norm(w3, axis=1, keepdims=True)
        exact_kept = {
            2000 + i
            for i in range(len(w3))
            if float((w3n[i] @ cn.T).max()) < 0.95
        }
        assert kept3 == exact_kept
        assert not (kept3 & set(range(2000, 2020)))  # copies dropped
    finally:
        for sfx in ("", "_centroids", "_prefix", "_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS t_autoreb_idx{sfx}")
