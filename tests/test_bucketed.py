"""Bucketed co-located joins (sources/bucketed.py): the shuffle is paid
once at write time; subsequent equi-joins on the bucket key plan with
NO Exchange on either side."""

import pytest
from pyspark.sql import functions as F

from dataprocessingframework_spark.sources.bucketed import (
    read_bucketed,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucketed_pair(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(
        orders,
        "t_orders_b",
        "o_custkey",
        num_buckets=4,
        sort_cols="o_custkey",
        path=str(base / "orders"),
    )
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "t_cust_b",
        "o_custkey",
        num_buckets=4,
        sort_cols="o_custkey",
        path=str(base / "cust"),
    )
    yield "t_orders_b", "t_cust_b"
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    t1, t2 = bucketed_pair
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the shuffle question is real
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, t1).join(
            read_bucketed(spark, t2), on="o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_correct(spark, sf_dir, bucketed_pair):
    t1, t2 = bucketed_pair
    got = (
        read_bucketed(spark, t1)
        .join(read_bucketed(spark, t2), on="o_custkey")
        .count()
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    want = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).count()
    assert got == want > 0


def test_bucketed_groupby_has_no_exchange(spark, bucketed_pair):
    """Aggregation on the bucket key also reuses the layout."""
    t1, _ = bucketed_pair
    agg = (
        read_bucketed(spark, t1)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_bucketed_lsh_index_probe_exchange_free(spark, sf_dir, tmp_path):
    """VERDICT r4 item 8: the materialized corpus LSH index, bucketed
    on (band, bucket), must make incremental_near_dup's probe join
    exchange-free on the INDEX side — only the arriving batch
    shuffles; the corpus index is never reshuffled per batch. Results
    must match the inline (recomputed-index) path exactly."""
    from dataprocessingframework_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 400).select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") >= 400)
        .limit(60)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    cidx = dedup.materialize_lsh_index(
        corpus,
        "text",
        "doc_id",
        "t_lsh_corpus_idx",
        num_buckets=4,
        path=str(tmp_path / "lsh_idx"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the probe join shape incremental_near_dup executes
        probe = (
            dedup.lsh_index(batch, "text", "doc_id")
            .alias("b")
            .join(cidx.alias("c"), ["band", "bucket"])
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        # the join distributes on (band, bucket): exactly ONE exchange
        # carries that key — the batch side's. The index side's
        # bucketed layout satisfies the distribution, so its scan
        # feeds the join sort directly (zero index-side exchanges;
        # batch-side exchanges on other keys, e.g. the signature
        # groupBy, are fine and may vary).
        assert plan.count("Exchange hashpartitioning(band") == 1, plan

        kept_bucketed = dedup.incremental_near_dup(
            batch, corpus, "text", "doc_id", corpus_index=cidx
        )
        kept_inline = dedup.incremental_near_dup(
            batch, corpus, "text", "doc_id"
        )
        assert {r.doc_id for r in kept_bucketed.collect()} == {
            r.doc_id for r in kept_inline.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_lsh_corpus_idx")


def test_bucketed_ann_index_probe_exchange_free(spark, sf_dir, tmp_path):
    """The materialized multi-table ANN index, bucketed on (tbl,
    bucket), must make lsh_topk_from_index's probe join exchange-free
    on the INDEX side, and return exactly lsh_topk(n_tables=3)'s output on
    the same corpus."""
    from dataprocessingframework_spark.operators.similarity import (
        lsh_topk,
        lsh_topk_from_index,
        materialize_lsh_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    idx = materialize_lsh_ann_index(
        emb,
        "t_ann_idx",
        num_buckets=4,
        path=str(tmp_path / "ann_idx"),
    )
    # non-broadcast probe: the index side must still show no Exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probed = lsh_topk_from_index(
            idx, qs, k=5, broadcast_queries=False
        )
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        # the join distributes on (tbl, bucket): exactly ONE exchange
        # carries that key — the query side's probe explode. The
        # index side's bucketed layout satisfies the distribution, so
        # its scan feeds the join sort directly.
        assert plan.count("Exchange hashpartitioning(tbl") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    try:
        got = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in lsh_topk_from_index(
                idx, qs, k=5, broadcast_queries=True
            ).collect()
        )
        want = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in lsh_topk(
                emb, qs, k=5, n_tables=3, broadcast_queries=True
            ).collect()
        )
        assert got == want and got
    finally:
        # drop only after the last probe of the table-backed frame
        spark.sql("DROP TABLE IF EXISTS t_ann_idx")


def test_ann_index_probe_key_pushdown(spark, sf_dir, tmp_path, monkeypatch):
    """r8: for broadcast-sized query batches, lsh_topk_from_index
    collects the batch's distinct (tbl, bucket) probe keys and pushes
    them into the index scan, so the (tbl,bucket)-sorted parquet
    prunes row groups outside the probed buckets — probe cost scales
    with touched buckets, not corpus size. Pushdown must (a) reach
    the scan's PushedFilters, (b) change no results, and (c) disarm
    itself when the key count exceeds the cap."""
    from dataprocessingframework_spark.operators import similarity
    from dataprocessingframework_spark.operators.similarity import (
        lsh_topk_from_index,
        materialize_lsh_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    idx = materialize_lsh_ann_index(
        emb,
        "t_ann_idx_push",
        num_buckets=4,
        path=str(tmp_path / "ann_idx_push"),
    )
    try:
        on = lsh_topk_from_index(
            idx, qs, k=5, broadcast_queries=True,
            pushdown_probe_keys=True,
        )
        plan = on._jdf.queryExecution().executedPlan().toString()
        assert "In(bucket" in plan, plan
        assert "PushedFilters: [IsNotNull(vnorm), Or(" in plan, plan

        off = lsh_topk_from_index(
            idx, qs, k=5, broadcast_queries=True,
            pushdown_probe_keys=False,
        )
        assert "In(bucket" not in (
            off._jdf.queryExecution().executedPlan().toString()
        )
        # default is OFF, by measurement: the bytes the filter avoids
        # reading cost less than its fixed keys-collect job at every
        # locally testable shape (PLANS.md "r8 ANN probe soak");
        # forced-on above pins the opt-in behavior for cold-storage
        # deployments
        auto = lsh_topk_from_index(idx, qs, k=5, broadcast_queries=True)
        assert "In(bucket" not in (
            auto._jdf.queryExecution().executedPlan().toString()
        )
        # cap exceeded => pushdown silently disarms, results identical
        monkeypatch.setattr(similarity, "PUSHDOWN_KEY_CAP", 2)
        capped = lsh_topk_from_index(
            idx, qs, k=5, broadcast_queries=True,
            pushdown_probe_keys=True,
        )
        assert "In(bucket" not in (
            capped._jdf.queryExecution().executedPlan().toString()
        )
        rows = [
            sorted((r.q_id, r.nbr_id, r.cos) for r in df.collect())
            for df in (on, off, auto, capped)
        ]
        assert rows[0] and all(r == rows[0] for r in rows[1:])
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ann_idx_push")


def test_ivf_index_probe_parity_and_bucket_pruning(spark, sf_dir, tmp_path):
    """r8: the materialized IVF route (cell-bucketed inverted lists +
    persisted quantizer) must (a) return exactly ivf_topk's output for
    the same centroids, (b) round-trip the quantizer through
    {table}_centroids, and (c) BUCKET-PRUNE the probe scan when the
    probed cells are pushed down — single-column bucketing on cell
    means Spark skips whole bucket files, the ~n_probe/n_cells read
    that is the IVF bargain at scale."""
    from dataprocessingframework_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        load_ivf_centroids,
        materialize_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    try:
        idx, cents = materialize_ivf_index(
            emb,
            "t_ivf_idx_test",
            n_cells=16,
            iters=1,
            num_buckets=16,
            path=str(tmp_path / "ivf_idx"),
        )
        reloaded = load_ivf_centroids(spark, "t_ivf_idx_test")
        assert reloaded == [[float(x) for x in c] for c in cents]

        probed = ivf_topk_from_index(
            idx, reloaded, qs, k=5, n_probe=4,
            pushdown_probe_cells=True,
        )
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "In(cell" in plan, plan
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) < int(m.group(2)), m.group(0)

        got = sorted(
            (r.q_id, r.nbr_id, r.cos) for r in probed.collect()
        )
        off = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_topk_from_index(
                idx, reloaded, qs, k=5, n_probe=4,
                pushdown_probe_cells=False,
            ).collect()
        )
        want = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_topk(
                emb, qs, k=5, n_probe=4, centroids=cents
            ).collect()
        )
        assert got == off == want and got
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivf_idx_test")
        spark.sql("DROP TABLE IF EXISTS t_ivf_idx_test_centroids")


def test_write_bucketed_one_file_per_bucket(spark, sf_dir, tmp_path):
    """r8 soak finding 1: raw bucketBy writes one file per (input
    task x bucket) — a 64-partition, 512-bucket index write produced
    26k tiny files and file scheduling dominated every probe.
    write_bucketed repartitions on the bucket columns first
    (repartition and bucketBy share Murmur3 hash pmod n), so each
    bucket is exactly ONE file regardless of input partitioning."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(32)
    write_bucketed(
        orders,
        "t_one_file_per_bucket",
        "o_custkey",
        num_buckets=8,
        sort_cols="o_custkey",
        path=str(tmp_path / "ofpb"),
    )
    try:
        t = read_bucketed(spark, "t_one_file_per_bucket")
        assert len(t.inputFiles()) <= 8
        assert t.count() == orders.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_one_file_per_bucket")


def test_ivf_index_append_batch(spark, sf_dir, tmp_path):
    """r8: mode='append' extends the inverted lists under the
    EXISTING quantizer (reloaded from {table}_centroids, never
    retrained — retraining would shift cell boundaries between old
    and new rows) and leaves the centroids table untouched. Probing
    the appended index equals probing a from-scratch index over the
    union corpus with the same centroids."""
    from dataprocessingframework_spark.operators.similarity import (
        ivf_topk_from_index,
        load_ivf_centroids,
        materialize_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    qs = emb.filter(F.col("vec_id") < 5)
    try:
        idx, cents = materialize_ivf_index(
            first, "t_ivf_app", n_cells=8, iters=1,
            num_buckets=8, path=str(tmp_path / "app"),
        )
        idx2, cents2 = materialize_ivf_index(
            batch, "t_ivf_app", mode="append",
            path=str(tmp_path / "app"),
        )
        assert cents2 == [[float(x) for x in c] for c in cents]
        assert load_ivf_centroids(spark, "t_ivf_app") == cents2
        assert idx2.count() == emb.count()

        full, _ = materialize_ivf_index(
            emb, "t_ivf_full", centroids=cents2,
            num_buckets=8, path=str(tmp_path / "full"),
        )
        got = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_topk_from_index(
                idx2, cents2, qs, k=5, n_probe=3
            ).collect()
        )
        want = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_topk_from_index(
                full, cents2, qs, k=5, n_probe=3
            ).collect()
        )
        assert got == want and got
    finally:
        for t in ("t_ivf_app", "t_ivf_app_centroids",
                  "t_ivf_full", "t_ivf_full_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_bucketed_index_restores_one_file_per_bucket(
    spark, sf_dir, tmp_path
):
    """r9 (VERDICT r8 "What's missing" 1): every append adds
    num_buckets files; compact_bucketed_index must rewrite the table
    back to exactly one file per bucket UNDER THE SAME bucket spec
    (same table name, same num buckets, bucket/sort columns intact),
    with probe results and the quantizer table unchanged.
    compact_parquet would destroy the spec — this must not."""
    from dataprocessingframework_spark.operators.similarity import (
        ivf_topk_from_index,
        load_ivf_centroids,
        materialize_ivf_index,
    )
    from dataprocessingframework_spark.sources.compact import (
        compact_bucketed_index,
        dataset_file_stats,
        _table_location,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    parts = [emb.filter(F.col("vec_id") % 4 == i) for i in range(4)]
    qs = emb.filter(F.col("vec_id") < 5)
    try:
        idx, cents = materialize_ivf_index(
            parts[0], "t_ivf_cmp", n_cells=8, iters=1,
            num_buckets=8, path=str(tmp_path / "cmp"),
        )
        for p in parts[1:]:
            materialize_ivf_index(
                p, "t_ivf_cmp", mode="append", path=str(tmp_path / "cmp")
            )
        loc = _table_location(spark, "t_ivf_cmp")
        # one file per NON-EMPTY bucket per write: 4 writes stack up
        # to ~4x the compact layout (empty buckets emit no file)
        n_before, _ = dataset_file_stats(spark, loc)
        assert n_before > 8, n_before

        before = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_topk_from_index(
                spark.table("t_ivf_cmp"), cents, qs, k=5, n_probe=3
            ).collect()
        )
        cents_before = load_ivf_centroids(spark, "t_ivf_cmp")

        n_out = compact_bucketed_index(spark, "t_ivf_cmp")
        assert n_out <= 8 < n_before, (n_out, n_before)

        desc = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE FORMATTED t_ivf_cmp").collect()
        }
        assert desc["Num Buckets"] == "8"
        assert desc["Bucket Columns"] == "[`cell`]"
        assert desc["Sort Columns"] == "[`cell`]"

        after = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_topk_from_index(
                spark.table("t_ivf_cmp"), cents, qs, k=5, n_probe=3
            ).collect()
        )
        assert after == before and after
        assert load_ivf_centroids(spark, "t_ivf_cmp") == cents_before
        # the pre-compaction external dir was reclaimed
        import os
        assert not os.path.exists(loc.removeprefix("file:"))
    finally:
        for t in ("t_ivf_cmp", "t_ivf_cmp_centroids", "t_ivf_cmp__compact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("kind", ["lsh", "lsh_ann"])
def test_compacted_index_probe_still_exchange_free(spark, sf_dir, tmp_path, kind):
    """The compacted LSH index must still plan the incremental
    near-dup probe with NO Exchange on the index side — if the
    rewrite lost the bucket spec, the corpus index would reshuffle on
    every probing batch. The append repeats neither the bucket count
    nor relies on the original path: the stored spec and location
    are authoritative (``write_bucketed``)."""
    from dataprocessingframework_spark.operators.dedup import (
        materialize_lsh_index,
    )
    from dataprocessingframework_spark.operators.similarity import (
        materialize_lsh_ann_index,
    )
    from dataprocessingframework_spark.sources.compact import (
        compact_bucketed_index,
    )

    if kind == "lsh":
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        key, cols = "doc_id", ["band", "bucket"]

        def build(df, **kw):
            materialize_lsh_index(
                df, "text", "doc_id", "t_lsh_cmp", num_hashes=8, bands=4, **kw
            )
    else:
        src = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        key, cols = "vec_id", ["tbl", "bucket"]

        def build(df, **kw):
            materialize_lsh_ann_index(df, "t_lsh_cmp", **kw)

    half = src.filter(F.col(key) % 2 == 0)
    rest = src.filter(F.col(key) % 2 == 1)
    try:
        build(half, num_buckets=8, path=str(tmp_path / "lshcmp"))
        build(rest, mode="append", path=str(tmp_path / "lshcmp"))
        assert compact_bucketed_index(spark, "t_lsh_cmp") == 8

        idx = spark.table("t_lsh_cmp")
        probe = idx.groupBy(*cols).count()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        for t in ("t_lsh_cmp", "t_lsh_cmp__compact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sq8_index_pack_roundtrip_and_vnorm(spark, sf_dir, tmp_path):
    """r10: sq8=True stores codes packed 7-per-bigint; unpacking each
    word must reproduce the direct quantization formula exactly, and
    the stored vnorm must equal the dequantized midpoint vector's
    norm (the norm probes actually divide by)."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        SQ8_LEVELS,
        load_sq8_bounds,
        materialize_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    try:
        idx, _ = materialize_ivf_index(
            emb, "t_sq8_rt", n_cells=8, iters=0, impl="jvm",
            num_buckets=8, path=str(tmp_path / "rt"), sq8=True,
        )
        mins, maxs = load_sq8_bounds(spark, "t_sq8_rt")
        dim = len(mins)
        for r in idx.join(emb, "vec_id").limit(20).collect():
            v = [float(x) for x in r.embedding]
            want = []
            for i in range(dim):
                if maxs[i] > mins[i]:
                    c = int(
                        np.floor(
                            (v[i] - mins[i])
                            / (maxs[i] - mins[i])
                            * SQ8_LEVELS
                        )
                    )
                    want.append(max(0, min(SQ8_LEVELS - 1, c)))
                else:
                    want.append(0)
            got = [
                (r.codes[i // 7] >> (8 * (i % 7))) & 255
                for i in range(dim)
            ]
            assert got == want, (r.vec_id, got[:8], want[:8])
            deq = np.array(
                [
                    mins[i]
                    + (want[i] + 0.5) * (maxs[i] - mins[i]) / SQ8_LEVELS
                    for i in range(dim)
                ]
            )
            assert abs(float(np.linalg.norm(deq)) - r.vnorm) < 1e-9
    finally:
        for t in ("t_sq8_rt", "t_sq8_rt_centroids", "t_sq8_rt_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sq8_index_probe_matches_dequant_reference(spark, sf_dir, tmp_path):
    """r10: probing the SQ8 index with n_probe == n_cells (every cell
    visited -> exact over the stored approximation) must reproduce a
    numpy brute-force ranking over the dequantized vectors — ids and
    rounded cosines, (cos DESC, id ASC) ties."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        SQ8_LEVELS,
        ivf_topk_from_index,
        load_ivf_centroids,
        load_sq8_bounds,
        materialize_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    try:
        idx, _ = materialize_ivf_index(
            emb, "t_sq8_probe", n_cells=8, iters=0, impl="jvm",
            num_buckets=8, path=str(tmp_path / "probe"), sq8=True,
        )
        mins, maxs = load_sq8_bounds(spark, "t_sq8_probe")
        got = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_topk_from_index(
                idx,
                load_ivf_centroids(spark, "t_sq8_probe"),
                emb.filter(F.col("vec_id") < 4),
                k=3,
                n_probe=8,
                impl="jvm",
                sq8_bounds=(mins, maxs),
            ).collect()
        )

        rows = sorted(
            (r.vec_id, [float(x) for x in r.embedding])
            for r in emb.collect()
        )
        ids = np.array([i for i, _ in rows])
        V = np.array([v for _, v in rows], dtype=np.float64)
        mn = np.array(mins)
        mx = np.array(maxs)
        span = np.where(mx > mn, mx - mn, 1.0)
        codes = np.clip(
            np.floor((V - mn) / span * SQ8_LEVELS), 0, SQ8_LEVELS - 1
        )
        codes = np.where(mx > mn, codes, 0)
        D = mn + (codes + 0.5) * np.where(mx > mn, mx - mn, 0.0) / SQ8_LEVELS
        dn = np.linalg.norm(D, axis=1)
        want = []
        for qi in range(len(ids)):
            if ids[qi] >= 4:
                continue
            q = V[qi]
            cos = (D @ q) / (np.linalg.norm(q) * dn)
            order = sorted(
                (
                    (-cos[j], ids[j])
                    for j in range(len(ids))
                    if ids[j] != ids[qi]
                ),
            )[:3]
            want.extend(
                (int(ids[qi]), int(nid), round(-negc, 4))
                for negc, nid in order
            )
        assert got == sorted(want), (got[:6], sorted(want)[:6])
    finally:
        for t in ("t_sq8_probe", "t_sq8_probe_centroids",
                  "t_sq8_probe_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sq8_index_append_reuses_stored_bounds_and_clamps(
    spark, sf_dir, tmp_path
):
    """r10: append mode must reuse the STORED bounds (recomputing on
    the batch would shift the code grid under existing rows), and a
    batch vector outside the stored range must CLAMP to code 0/255 —
    without the lower clamp a below-min value codes negative and
    corrupts the packed word's neighboring bytes."""
    from dataprocessingframework_spark.operators.similarity import (
        load_sq8_bounds,
        materialize_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    try:
        _, cents = materialize_ivf_index(
            emb, "t_sq8_app", n_cells=8, iters=0, impl="jvm",
            num_buckets=8, path=str(tmp_path / "app"), sq8=True,
        )
        bounds_before = load_sq8_bounds(spark, "t_sq8_app")
        n0 = emb.count()
        wild = emb.filter(F.col("vec_id") < 3).select(
            (F.col("vec_id") + n0 + 10).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(100.0)
            ).alias("embedding"),
        )
        cstats: dict = {}
        idx2, _ = materialize_ivf_index(
            wild, "t_sq8_app", mode="append", sq8=True,
            clamp_stats=cstats,
        )
        # r12 drift telemetry: the x100 batch lands outside the
        # stored bounds on most dims — every row must be counted,
        # turning the documented missed-dup caveat into a signal
        assert cstats["n_rows"] == 3
        assert cstats["rows_clamped"] == 3
        assert cstats["dims_clamped"] > 3 * 32, cstats
        assert load_sq8_bounds(spark, "t_sq8_app") == bounds_before
        assert idx2.count() == n0 + 3
        import numpy as np

        mins, maxs = bounds_before
        dim = len(mins)
        wild_vecs = {
            r.vec_id: [float(x) for x in r.embedding]
            for r in wild.collect()
        }
        hit_rails = 0
        for r in idx2.filter(F.col("vec_id") >= n0).collect():
            codes = [
                (r.codes[i // 7] >> (8 * (i % 7))) & 255
                for i in range(dim)
            ]
            v = wild_vecs[r.vec_id]
            want = []
            for i in range(dim):
                if maxs[i] > mins[i]:
                    c = int(
                        np.floor(
                            (v[i] - mins[i]) / (maxs[i] - mins[i]) * 256
                        )
                    )
                    want.append(max(0, min(255, c)))
                else:
                    want.append(0)
            assert codes == want, (r.vec_id, codes[:8], want[:8])
            hit_rails += sum(1 for c in codes if c in (0, 255))
        # the x100 scaling must actually exercise BOTH clamp rails
        assert hit_rails > dim, hit_rails

        # r11: geometry guard — an append batch whose vector length
        # disagrees with the stored bounds would pack null/truncated
        # codes silently; it must raise instead
        import pytest

        with pytest.raises(ValueError, match="dim"):
            materialize_ivf_index(
                wild.withColumn(
                    "embedding", F.slice("embedding", 1, dim // 2)
                ),
                "t_sq8_app",
                mode="append",
                sq8=True,
            )
    finally:
        for t in ("t_sq8_app", "t_sq8_app_centroids", "t_sq8_app_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sq8_index_is_smaller_on_disk(spark, sf_dir, tmp_path):
    """r10: the point of SQ8 — the stored index must be materially
    smaller than the float index over the same corpus (payload is
    dim bytes packed vs 4*dim float32; parquet overhead dilutes the
    4x toward ~2.5-3x at test scale)."""
    from dataprocessingframework_spark.operators.similarity import (
        materialize_ivf_index,
    )
    from dataprocessingframework_spark.sources.compact import (
        _table_location,
        dataset_file_stats,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    try:
        materialize_ivf_index(
            emb, "t_sq8_sz", n_cells=8, iters=0, impl="jvm",
            num_buckets=8, path=str(tmp_path / "sq8"), sq8=True,
        )
        materialize_ivf_index(
            emb, "t_f32_sz", n_cells=8, iters=0, impl="jvm",
            num_buckets=8, path=str(tmp_path / "f32"),
        )
        _, b_sq8 = dataset_file_stats(
            spark, _table_location(spark, "t_sq8_sz")
        )
        _, b_f32 = dataset_file_stats(
            spark, _table_location(spark, "t_f32_sz")
        )
        assert b_sq8 * 2 < b_f32, (b_sq8, b_f32)
    finally:
        for t in ("t_sq8_sz", "t_sq8_sz_centroids", "t_sq8_sz_sq8",
                  "t_f32_sz", "t_f32_sz_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_index_codes_reconstruction_and_probe(spark, sf_dir, tmp_path):
    """r10 IVF-PQ: per-subspace codes must equal the numpy argmin
    over the seeded codebooks (ties -> lower codeword), stored vnorm
    must equal the reconstruction's norm, and probing with
    n_probe == n_cells must reproduce a numpy brute-force asymmetric
    ranking over the reconstructions. Runs the production blas
    encode; jvm-vs-blas code agreement is asserted row-by-row."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        ivf_topk_from_index,
        load_ivf_centroids,
        load_pq_codebooks,
        materialize_pq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    try:
        idx, cents, books = materialize_pq_index(
            emb, "t_pq_t1", n_cells=8, iters=0,
            num_buckets=8, path=str(tmp_path / "pq1"),
        )
        assert load_pq_codebooks(spark, "t_pq_t1") == books
        m, sd = len(books), len(books[0][0])
        bnp = [np.array(books[s]) for s in range(m)]

        rows = idx.join(emb, "vec_id").limit(15).collect()
        for r in rows:
            v = np.array([float(x) for x in r.embedding])
            codes = [
                (r.codes[s // 7] >> (8 * (s % 7))) & 255
                for s in range(m)
            ]
            recon = []
            for s in range(m):
                sub = v[s * sd : (s + 1) * sd]
                want = int(
                    np.argmin(((bnp[s] - sub) ** 2).sum(axis=1))
                )
                assert codes[s] == want, (r.vec_id, s, codes[s], want)
                recon.extend(bnp[s][want])
            assert abs(float(np.linalg.norm(recon)) - r.vnorm) < 1e-9

        got = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_topk_from_index(
                idx,
                load_ivf_centroids(spark, "t_pq_t1"),
                emb.filter(F.col("vec_id") < 4),
                k=3,
                n_probe=8,
                impl="jvm",
                codebooks=books,
            ).collect()
        )
        allr = {
            r.vec_id: np.array([float(x) for x in r.embedding])
            for r in emb.collect()
        }
        recon_all = {}
        for vid, v in allr.items():
            rec = []
            for s in range(m):
                sub = v[s * sd : (s + 1) * sd]
                rec.extend(
                    bnp[s][int(np.argmin(((bnp[s] - sub) ** 2).sum(1)))]
                )
            recon_all[vid] = np.array(rec)
        want = []
        for qid in range(4):
            qv = allr[qid]
            order = sorted(
                (
                    -(qv @ recon_all[n_]) /
                    (np.linalg.norm(qv) * np.linalg.norm(recon_all[n_])),
                    n_,
                )
                for n_ in allr
                if n_ != qid
            )[:3]
            want.extend(
                (qid, n_, round(-negc, 4)) for negc, n_ in order
            )
        assert got == sorted(want), (got[:4], sorted(want)[:4])
    finally:
        for t in ("t_pq_t1", "t_pq_t1_centroids", "t_pq_t1_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_index_jvm_blas_encode_agree_and_append(spark, sf_dir, tmp_path):
    """r10: the jvm expression encode and the blas numpy encode must
    produce identical packed codes (argmin margins on real data are
    far above float noise), and mode='append' must reuse the STORED
    codebooks and centroids — re-seeding on the batch would shift
    the code space under existing rows."""
    from dataprocessingframework_spark.operators.similarity import (
        load_pq_codebooks,
        materialize_pq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    try:
        idx_b, cents, books = materialize_pq_index(
            half, "t_pq_b", n_cells=8, iters=0, impl="blas",
            num_buckets=8, path=str(tmp_path / "pqb"),
        )
        idx_j, _, books_j = materialize_pq_index(
            half, "t_pq_j", n_cells=8, iters=0, impl="jvm",
            centroids=cents, num_buckets=8, path=str(tmp_path / "pqj"),
        )
        assert books_j == books
        a = {r.vec_id: (r.codes, round(r.vnorm, 9))
             for r in idx_b.collect()}
        b = {r.vec_id: (r.codes, round(r.vnorm, 9))
             for r in idx_j.collect()}
        assert a == b

        idx2, _, books2 = materialize_pq_index(
            rest, "t_pq_b", mode="append"
        )
        assert books2 == books
        assert load_pq_codebooks(spark, "t_pq_b") == books
        assert idx2.count() == emb.count()
    finally:
        for t in ("t_pq_b", "t_pq_b_centroids", "t_pq_b_pq",
                  "t_pq_j", "t_pq_j_centroids", "t_pq_j_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_codebook_lloyd_refinement(spark, sf_dir):
    """r11 (VERDICT r10 item 2): _pq_codebooks(refine_iters=N) — the
    production-quality Lloyd path. Pins three properties: (1)
    refine_iters=0 is byte-identical to the historical seeded books
    (the oracle contract is untouched); (2) each Lloyd round never
    increases per-subspace quantization MSE on the training sample
    (the textbook monotonicity guarantee — assignment and mean
    update each only decrease SSE), and on clustered data the
    refined books are STRICTLY better than the seeds; (3) the run is
    deterministic (same sample order, empty clusters keep their
    codeword)."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        _pq_codebooks,
    )

    rng = np.random.RandomState(7)
    # 8 tight clusters in 32-dim space: the shape real embedding
    # corpora have and the md5 seed sampling is blind to
    centers = rng.randn(8, 32) * 5.0
    rows = [
        (int(i), [float(x) for x in centers[i % 8] + rng.randn(32) * 0.3])
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<double>"
    )
    m, k = 4, 16
    seeded = _pq_codebooks(df, "vec_id", "embedding", m, k)
    seeded0 = _pq_codebooks(
        df, "vec_id", "embedding", m, k, refine_iters=0
    )
    assert seeded0 == seeded

    r1 = _pq_codebooks(df, "vec_id", "embedding", m, k, refine_iters=1)
    r5 = _pq_codebooks(df, "vec_id", "embedding", m, k, refine_iters=5)
    r5b = _pq_codebooks(df, "vec_id", "embedding", m, k, refine_iters=5)
    assert r5 == r5b  # deterministic

    X = np.array([v for _, v in sorted(rows)], dtype=np.float64)
    sd = 32 // m

    def mse(books):
        tot = 0.0
        for s in range(m):
            sub = X[:, s * sd : (s + 1) * sd]
            C = np.array(books[s])
            d = (
                (sub * sub).sum(1)[:, None]
                - 2.0 * sub @ C.T
                + (C * C).sum(1)[None, :]
            )
            tot += np.maximum(d.min(axis=1), 0.0).mean()
        return tot

    e0, e1, e5 = mse(seeded), mse(r1), mse(r5)
    assert e1 <= e0 and e5 <= e1, (e0, e1, e5)
    assert e5 < 0.9 * e0, (e0, e5)  # strictly better on clustered data


def test_nested_array_lit_rejects_non_finite(spark):
    """r11 (ADVICE r10): _nested_array_lit builds SQL text from
    repr(float) — NaN/Inf would emit 'nanD'/'infD' and die deep in
    the parser. It sits on the default assign_cells path for every
    IVF caller, so degenerate centroids must fail LOUDLY with a
    clear ValueError instead."""
    import math

    import pytest

    from dataprocessingframework_spark.operators.similarity import (
        _nested_array_lit,
    )

    ok = _nested_array_lit([[1.5, -2.25], [0.0, 3.0]])
    got = spark.range(1).select(ok.alias("m")).collect()[0].m
    assert [list(r) for r in got] == [[1.5, -2.25], [0.0, 3.0]]
    for bad in (math.nan, math.inf, -math.inf):
        with pytest.raises(ValueError, match="non-finite"):
            _nested_array_lit([[1.0, bad]])


def test_pq_append_derives_geometry_from_stored_books(spark, sf_dir, tmp_path):
    """r11 (ADVICE r10 medium): mode='append' must derive the
    subspace count from the PERSISTED codebooks, not the caller's
    m parameter — an index built with m=4 appended with the default
    m=8 would encode the batch against the wrong geometry (corrupt
    codes + wrong vnorm). Also pins the two new guards: batch dim
    mismatch raises, and k_codes > 256 (codes no longer fit their
    packed byte) raises at build time."""
    import pytest

    from dataprocessingframework_spark.operators.similarity import (
        load_pq_codebooks,
        materialize_pq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    try:
        _, _, books = materialize_pq_index(
            half, "t_pq_m4", n_cells=8, iters=0, m=4,
            num_buckets=8, path=str(tmp_path / "pqm4"),
        )
        assert len(books) == 4
        # append WITHOUT m: must pick up m=4 from the stored books
        idx2, _, books2 = materialize_pq_index(rest, "t_pq_m4", mode="append")
        assert books2 == books
        assert load_pq_codebooks(spark, "t_pq_m4") == books
        got = {r.vec_id: r.codes for r in idx2.collect()}
        # re-appending the same batch re-encodes it against the SAME
        # stored books — codes must be deterministic byte-for-byte
        # (the pre-fix code path dies with IndexError here instead,
        # iterating range(m=8) over 4 loaded books)
        materialize_pq_index(rest, "t_pq_m4", mode="append")
        for r in spark.table("t_pq_m4").filter(
            F.col("vec_id") % 2 == 1
        ).collect():
            assert got[r.vec_id] == r.codes

        with pytest.raises(ValueError, match="dim"):
            materialize_pq_index(
                rest.withColumn(
                    "embedding", F.slice("embedding", 1, 32)
                ),
                "t_pq_m4",
                mode="append",
            )
        with pytest.raises(ValueError, match="k_codes"):
            materialize_pq_index(
                half, "t_pq_kc", k_codes=300,
                num_buckets=8, path=str(tmp_path / "pqkc"),
            )
    finally:
        for t in ("t_pq_m4", "t_pq_m4_centroids", "t_pq_m4_pq",
                  "t_pq_kc", "t_pq_kc_centroids", "t_pq_kc_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_index_smaller_than_sq8_and_float(spark, sf_dir, tmp_path):
    """r10: the compression ladder must actually order on disk:
    PQ (16 B payload) < SQ8 (64 B) < float32 (256 B) per vector."""
    from dataprocessingframework_spark.operators.similarity import (
        materialize_ivf_index,
        materialize_pq_index,
    )
    from dataprocessingframework_spark.sources.compact import (
        _table_location,
        dataset_file_stats,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    try:
        materialize_pq_index(
            emb, "t_sz_pq", n_cells=8, iters=0,
            num_buckets=8, path=str(tmp_path / "szpq"),
        )
        materialize_ivf_index(
            emb, "t_sz_s8", n_cells=8, iters=0, impl="jvm",
            num_buckets=8, path=str(tmp_path / "szs8"), sq8=True,
        )
        materialize_ivf_index(
            emb, "t_sz_f", n_cells=8, iters=0, impl="jvm",
            num_buckets=8, path=str(tmp_path / "szf"),
        )
        sizes = {}
        for t in ("t_sz_pq", "t_sz_s8", "t_sz_f"):
            _, sizes[t] = dataset_file_stats(
                spark, _table_location(spark, t)
            )
        assert sizes["t_sz_pq"] < sizes["t_sz_s8"] < sizes["t_sz_f"], sizes
    finally:
        for t in ("t_sz_pq", "t_sz_pq_centroids", "t_sz_pq_pq",
                  "t_sz_s8", "t_sz_s8_centroids", "t_sz_s8_sq8",
                  "t_sz_f", "t_sz_f_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_rerank_recovers_exact_when_shortlist_covers(spark, sf_dir, tmp_path):
    """r10: two-stage PQ serving — with n_probe == n_cells and a
    shortlist covering the whole corpus, the re-rank must return
    EXACTLY cosine_topk (compression affects only shortlist
    coverage, never the final ranking); with a modest shortlist it
    must still recall most of exact top-k."""
    from dataprocessingframework_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_topk_rerank,
        materialize_pq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    qs = emb.filter(F.col("vec_id") < 5)
    try:
        idx, cents, books = materialize_pq_index(
            emb, "t_pq_rr", n_cells=8, iters=0,
            num_buckets=8, path=str(tmp_path / "pqrr"),
        )
        exact = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in cosine_topk(emb, qs, k=5).collect()
        )
        full = sorted(
            (r.q_id, r.nbr_id, r.cos)
            for r in ivf_pq_topk_rerank(
                idx, cents, books, qs, emb, k=5,
                shortlist=n, n_probe=8,
            ).collect()
        )
        assert full == exact

        got = {
            (r.q_id, r.nbr_id)
            for r in ivf_pq_topk_rerank(
                idx, cents, books, qs, emb, k=5,
                shortlist=100, n_probe=8,
            ).collect()
        }
        want = {(a, b) for a, b, _ in exact}
        recall = len(got & want) / len(want)
        # measured 0.86-0.99 at shortlist=100 across SFs; floor with
        # margin — a packing/lookup bug collapses recall far below
        assert recall >= 0.7, recall
    finally:
        for t in ("t_pq_rr", "t_pq_rr_centroids", "t_pq_rr_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sq8_compressed_gate_equals_exact_gate(spark, sf_dir, tmp_path):
    """r11: the two-stage SQ8 compressed gate with the SOUND derived
    margin must return EXACTLY the exact gate's kept set — stage 1
    over-approximates candidates (|approx - exact| cosine error is
    bounded by sq8_gate_margin), stage 2 decides on exact cosines.
    With margin=0 the compressed gate can only MISS dups (keep a
    superset) — pinned too, as the direction a mis-set margin fails."""
    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        incremental_semantic_dedup,
        load_sq8_bounds,
        materialize_ivf_index,
        semantic_dedup_gate,
    )
    from dataprocessingframework_spark.queries import (
        _perturbed_gate_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    n = corpus.count()
    batch = _perturbed_gate_batch(emb, n).cache()
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 16, iters=0)
    try:
        idx, _ = materialize_ivf_index(
            corpus, "t_gate_sq8", n_cells=16, iters=0, impl="jvm",
            centroids=cents, num_buckets=16,
            path=str(tmp_path / "gsq8"), sq8=True,
        )
        bounds = load_sq8_bounds(spark, "t_gate_sq8")
        exact = sorted(
            r.vec_id
            for r in incremental_semantic_dedup(
                batch, corpus, cents, threshold=0.95, n_probe=2
            ).collect()
        )
        comp = sorted(
            r.vec_id
            for r in semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="sq8", sq8_bounds=bounds,
                threshold=0.95, n_probe=2,
            ).collect()
        )
        assert comp == exact, (len(comp), len(exact))
        # the batch must actually exercise the gate both ways
        assert 0 < len(exact) < batch.count()
        # margin=0: stage-1 scores approximate cosines at the raw
        # threshold, so near-threshold dups can slip through — kept
        # set must be a SUPERSET of the sound-margin result
        loose = {
            r.vec_id
            for r in semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="sq8", sq8_bounds=bounds,
                threshold=0.95, margin=0.0, n_probe=2,
            ).collect()
        }
        assert set(exact) <= loose
    finally:
        batch.unpersist()
        for t in ("t_gate_sq8", "t_gate_sq8_centroids",
                  "t_gate_sq8_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_compressed_gate_equals_exact_gate(spark, sf_dir, tmp_path):
    """r11: the PQ gate's PER-ROW sound margin (2*resid/vnorm, resid
    stored at encode time) must make the two-stage compressed gate
    return EXACTLY the exact gate's kept set, on both stage-1 impls
    (jvm codebook-lookup fold and cogrouped blas with forced
    salting). PQ's corpus-wide error is unbounded, so this is the
    construction that makes the 16 B/vector rung gate-capable at
    all."""
    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        incremental_semantic_dedup,
        materialize_pq_index,
        semantic_dedup_gate,
    )
    from dataprocessingframework_spark.queries import (
        _perturbed_gate_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    n = corpus.count()
    batch = _perturbed_gate_batch(emb, n).cache()
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 16, iters=0)
    try:
        idx, _, books = materialize_pq_index(
            corpus, "t_gate_pq", n_cells=16, iters=0, impl="jvm",
            centroids=cents, num_buckets=16,
            path=str(tmp_path / "gpq"),
        )
        assert "resid" in idx.columns
        exact = sorted(
            r.vec_id
            for r in incremental_semantic_dedup(
                batch, corpus, cents, threshold=0.95, n_probe=2
            ).collect()
        )
        for kw in (
            dict(impl="jvm"),
            dict(impl="jvm", pushdown_candidate_ids=True),
            dict(impl="blas"),
        ):
            comp = sorted(
                r.vec_id
                for r in semantic_dedup_gate(
                    batch, corpus, cents, idx, gate_kind="pq", codebooks=books,
                    threshold=0.95, n_probe=2, **kw,
                ).collect()
            )
            assert comp == exact, (kw, len(comp), len(exact))
        assert 0 < len(exact) < batch.count()
    finally:
        batch.unpersist()
        for t in ("t_gate_pq", "t_gate_pq_centroids", "t_gate_pq_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_index_resid_numpy_parity(spark, sf_dir, tmp_path):
    """r11: the stored per-row residual must equal ||v - v_hat|| for
    the row's actual codes, on both encode impls (jvm fold vs numpy,
    to float tolerance) — the PQ gate's soundness rests on this
    number."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        _SQ8_PER_WORD,
        materialize_pq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).limit(120)
    vecs = {
        r.vec_id: np.array([float(x) for x in r.embedding])
        for r in emb.collect()
    }
    try:
        for impl in ("jvm", "blas"):
            idx, _, books = materialize_pq_index(
                emb, f"t_resid_{impl}", n_cells=4, iters=0, impl=impl,
                num_buckets=4, path=str(tmp_path / f"res{impl}"),
            )
            bb = [np.array(b) for b in books]
            m = len(books)
            sd = len(books[0][0])
            for r in idx.collect():
                recon = np.empty(m * sd)
                for s in range(m):
                    code = (
                        r.codes[s // _SQ8_PER_WORD]
                        >> (8 * (s % _SQ8_PER_WORD))
                    ) & 255
                    recon[s * sd : (s + 1) * sd] = bb[s][code]
                want = float(np.linalg.norm(vecs[r.vec_id] - recon))
                assert abs(r.resid - want) < 1e-9, (impl, r.vec_id)
    finally:
        for impl in ("jvm", "blas"):
            for t in (f"t_resid_{impl}", f"t_resid_{impl}_centroids",
                      f"t_resid_{impl}_pq"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_gate_margin_report_flags_bad_codebooks(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 item 2): the PQ-gate sizing report must make
    the 16 B rung's failure mode VISIBLE before a user switches a
    production gate to it. On a well-quantized corpus (k_codes covers
    every seeded sub-vector, so residuals vanish) frac_no_headroom is
    ~0; on a deliberately-bad codebook build (k_codes=2 over the same
    diverse corpus) per-row margins 2*resid/vnorm blow past the
    threshold and the report flags most rows as having no stage-1
    pruning power. Also pins the degenerate-row accounting and the
    loud error on a non-PQ index."""
    import pytest as _pytest

    from dataprocessingframework_spark.operators.similarity import (
        materialize_pq_index,
        pq_gate_margin_report,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).limit(120)
    try:
        good_idx, _, _ = materialize_pq_index(
            emb, "t_pqmr_good", n_cells=4, iters=0,
            num_buckets=4, path=str(tmp_path / "good"),
        )
        bad_idx, _, _ = materialize_pq_index(
            emb, "t_pqmr_bad", n_cells=4, iters=0, k_codes=2,
            num_buckets=4, path=str(tmp_path / "bad"),
        )
        good = pq_gate_margin_report(good_idx).collect()[0]
        bad = pq_gate_margin_report(bad_idx).collect()[0]
        assert good.n_rows == bad.n_rows == 120
        assert good.n_degenerate == 0
        # 120 rows, k_eff=120 seeded FROM corpus sub-vectors: every
        # sub-vector is its own codeword, residuals ~0, full headroom
        assert good.resid_max < 1e-6
        assert good.frac_no_headroom == 0.0
        # 2 codewords per subspace cannot reconstruct a diverse
        # corpus: margins collapse and the report says so loudly
        assert bad.resid_p50 > 0.0
        assert bad.margin_p50 > good.margin_p95
        assert bad.frac_no_headroom > 0.5
        assert bad.margin_max >= bad.margin_p95 >= bad.margin_p50
        with _pytest.raises(ValueError, match="resid"):
            pq_gate_margin_report(good_idx.drop("resid"))
    finally:
        for base in ("t_pqmr_good", "t_pqmr_bad"):
            for t in (base, f"{base}_centroids", f"{base}_pq"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_semantic_dedup_gate_dispatcher_equivalence(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 item 4): semantic_dedup_gate is ONE entry
    point across the compression ladder — auto-detected rungs must
    return byte-identical kept sets to the direct per-rung calls
    (and, on this data, to each other: all rungs provably equal the
    exact gate), and explicit gate_kind mismatches must raise rather
    than score packed codes with the wrong arithmetic."""
    import pytest as _pytest

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        incremental_semantic_dedup,
        materialize_ivf_index,
        materialize_pq_index,
        semantic_dedup_gate,
    )
    from dataprocessingframework_spark.queries import (
        _perturbed_gate_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    n = corpus.count()
    batch = _perturbed_gate_batch(emb, n).cache()
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 16, iters=0)

    def ids(df):
        return sorted(r.vec_id for r in df.select("vec_id").collect())

    try:
        fidx, _ = materialize_ivf_index(
            corpus, "t_disp_f", n_cells=16, iters=0, impl="jvm",
            centroids=cents, num_buckets=16, path=str(tmp_path / "f"),
        )
        sidx, _ = materialize_ivf_index(
            corpus, "t_disp_s", n_cells=16, iters=0, impl="jvm",
            centroids=cents, num_buckets=16, path=str(tmp_path / "s"),
            sq8=True,
        )
        pidx, _, _ = materialize_pq_index(
            corpus, "t_disp_p", n_cells=16, iters=0, impl="jvm",
            centroids=cents, num_buckets=16, path=str(tmp_path / "p"),
        )
        exact = ids(
            incremental_semantic_dedup(
                batch, corpus, cents, threshold=0.95, n_probe=2
            )
        )
        assert 0 < len(exact) < batch.count()
        # auto-detection per rung: no index -> float; float index ->
        # corpus_cells float; codes -> sq8; resid -> pq. All equal
        # the exact gate on sound margins.
        for kw in (
            dict(corpus=corpus),
            dict(corpus=None, index=fidx),
            dict(corpus=corpus, index=sidx, index_table="t_disp_s"),
            dict(corpus=corpus, index=pidx, index_table="t_disp_p"),
            dict(corpus=corpus, index_table="t_disp_s"),  # table-only
        ):
            got = ids(
                semantic_dedup_gate(
                    batch, centroids=cents, threshold=0.95,
                    n_probe=2, **kw,
                )
            )
            assert got == exact, kw.keys()
        # explicit-kind contradictions fail loudly
        with _pytest.raises(ValueError, match="pq"):
            semantic_dedup_gate(
                batch, corpus, cents, index=pidx, gate_kind="sq8"
            )
        with _pytest.raises(ValueError, match="compressed"):
            semantic_dedup_gate(
                batch, corpus, cents, index=sidx, gate_kind="float"
            )
        with _pytest.raises(ValueError, match="codes"):
            semantic_dedup_gate(
                batch, corpus, cents, index=fidx, gate_kind="sq8"
            )
        with _pytest.raises(ValueError, match="gate_kind"):
            semantic_dedup_gate(
                batch, corpus, cents, gate_kind="int4"
            )
        # compressed rung without sidecars or table name: loud error
        with _pytest.raises(ValueError, match="bounds"):
            semantic_dedup_gate(batch, corpus, cents, index=sidx)
        # compressed rung without the float corpus: loud error (the
        # exact stage-2 recheck needs it), not a NoneType crash
        with _pytest.raises(ValueError, match="corpus"):
            semantic_dedup_gate(
                batch, None, cents, index_table="t_disp_s"
            )
        # float rung with neither corpus nor index: loud error
        with _pytest.raises(ValueError, match="corpus"):
            semantic_dedup_gate(batch, None, cents)
    finally:
        batch.unpersist()
        for t in ("t_disp_f", "t_disp_f_centroids", "t_disp_s",
                  "t_disp_s_centroids", "t_disp_s_sq8", "t_disp_p",
                  "t_disp_p_centroids", "t_disp_p_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_index_build_with_balance_cell_rows(spark, sf_dir, tmp_path):
    """r12: materialize_ivf_index(balance_cell_rows=cap) persists the
    BALANCED quantizer, so later probes/gates/appends inherit even
    cells without composing two calls; probe results still match a
    plain build probed with n_probe == n_cells (exact regime). Append
    mode rejects the option loudly."""
    from dataprocessingframework_spark.operators.similarity import (
        ivf_topk_from_index,
        load_ivf_centroids,
        materialize_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    cap = (n + 7) // 8
    try:
        idx, cents = materialize_ivf_index(
            emb, "t_ivf_balb", n_cells=4, iters=0, impl="jvm",
            num_buckets=4, path=str(tmp_path / "balb"),
            balance_cell_rows=cap,
        )
        assert len(cents) > 4  # splits happened and were persisted
        assert load_ivf_centroids(spark, "t_ivf_balb") == [
            [float(x) for x in c] for c in cents
        ]
        sizes = idx.groupBy("cell").count().collect()
        assert max(r["count"] for r in sizes) <= cap
        assert sum(r["count"] for r in sizes) == n
        # exact regime (probe every cell): ranking equals brute force
        # regardless of quantizer shape — balanced index included
        qs = emb.filter(F.col("vec_id") < 3)
        got = {
            (r.q_id, r.nbr_id)
            for r in ivf_topk_from_index(
                idx, cents, qs, k=3, n_probe=len(cents)
            ).collect()
        }
        plain_idx, plain_cents = materialize_ivf_index(
            emb, "t_ivf_plainb", n_cells=4, iters=0, impl="jvm",
            num_buckets=4, path=str(tmp_path / "plainb"),
        )
        want = {
            (r.q_id, r.nbr_id)
            for r in ivf_topk_from_index(
                plain_idx, plain_cents, qs, k=3, n_probe=4
            ).collect()
        }
        assert got == want and got
        import pytest as _pytest

        with _pytest.raises(ValueError, match="fresh-build"):
            materialize_ivf_index(
                emb.limit(5), "t_ivf_balb", mode="append",
                balance_cell_rows=cap,
            )
    finally:
        for t in ("t_ivf_balb", "t_ivf_balb_centroids",
                  "t_ivf_plainb", "t_ivf_plainb_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_index_build_with_balance_cell_rows(spark, sf_dir, tmp_path):
    """r12: the PQ builder gets the same fresh-build balancing knob
    as the IVF one — the persisted quantizer is the balanced list,
    index cells respect the cap, and append rejects the option."""
    import pytest as _pytest

    from dataprocessingframework_spark.operators.similarity import (
        load_ivf_centroids,
        materialize_pq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    cap = (n + 7) // 8
    try:
        idx, cents, _ = materialize_pq_index(
            emb, "t_pq_balt", n_cells=4, iters=0, impl="jvm",
            num_buckets=4, path=str(tmp_path / "pqbal"),
            balance_cell_rows=cap,
        )
        assert len(cents) > 4
        assert load_ivf_centroids(spark, "t_pq_balt") == [
            [float(x) for x in c] for c in cents
        ]
        sizes = idx.groupBy("cell").count().collect()
        assert max(r["count"] for r in sizes) <= cap
        assert sum(r["count"] for r in sizes) == n
        with _pytest.raises(ValueError, match="fresh-build"):
            materialize_pq_index(
                emb.limit(5), "t_pq_balt", mode="append",
                balance_cell_rows=cap,
            )
    finally:
        for t in ("t_pq_balt", "t_pq_balt_centroids", "t_pq_balt_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compressed_gate_stats_expose_margin_collapse(spark, sf_dir, tmp_path):
    """r12: gate_stats is the RUNTIME flood signal the sizing reports
    predict offline — on healthy seeded codebooks the PQ gate's
    stage-1 shortlist is candidate-sized; on a deliberately-bad
    2-codeword build the per-row margins collapse and the shortlist
    explodes toward batch x cell mass. Verdicts stay identical either
    way (stage 2 is exact) — only the cost changes, and the hook
    makes it visible."""
    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        materialize_pq_index,
        semantic_dedup_gate,
    )
    from dataprocessingframework_spark.queries import (
        _perturbed_gate_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    n = corpus.count()
    batch = _perturbed_gate_batch(emb, n).cache()
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 16, iters=0)
    try:
        materialize_pq_index(
            corpus, "t_gs_good", n_cells=16, iters=0, impl="jvm",
            centroids=cents, num_buckets=16, path=str(tmp_path / "g"),
        )
        materialize_pq_index(
            corpus, "t_gs_bad", n_cells=16, iters=0, impl="jvm",
            centroids=cents, num_buckets=16, path=str(tmp_path / "b"),
            k_codes=2,
        )
        kept, stats = {}, {}
        for tag in ("good", "bad"):
            st: dict = {}
            kept[tag] = sorted(
                r.vec_id
                for r in semantic_dedup_gate(
                    batch, corpus, cents, index_table=f"t_gs_{tag}",
                    threshold=0.95, n_probe=2, gate_stats=st,
                ).select("vec_id").collect()
            )
            stats[tag] = st
        assert kept["good"] == kept["bad"]  # verdicts identical
        assert 0 < stats["good"]["stage1_candidates"]
        # margin collapse = the shortlist grows toward probed-cell
        # mass and stage 2 ends up fetching essentially the WHOLE
        # corpus (the seeded 'good' codebooks are themselves mediocre
        # on this synthetic data, so the ratio is modest — the
        # distinct-ids saturation is the unambiguous flood signal)
        assert (
            stats["bad"]["stage1_candidates"]
            > 1.5 * stats["good"]["stage1_candidates"]
        ), stats
        assert stats["bad"]["distinct_corpus_ids"] >= 0.9 * n, stats
        assert (
            stats["good"]["distinct_corpus_ids"]
            < stats["bad"]["distinct_corpus_ids"]
        )
    finally:
        batch.unpersist()
        for base in ("t_gs_good", "t_gs_bad"):
            for t in (base, f"{base}_centroids", f"{base}_pq"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_prefix_compressed_gate_equals_exact_gate(spark, sf_dir, tmp_path):
    """r13: the prefix rung's per-pair Cauchy-Schwarz bound is sound
    at margin=0 — kept set EXACTLY equals the exact gate's on both
    impls; a positive margin only widens the shortlist (same kept
    set); negative margins are rejected; append mode validates the
    stored geometry; and the random testdata is the worst case for
    bound tightness, so agreeing here is the strong form of the
    check."""
    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        incremental_semantic_dedup,
        load_prefix_dims,
        materialize_ivf_index,
        semantic_dedup_gate,
    )
    from dataprocessingframework_spark.queries import (
        _perturbed_gate_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    n = corpus.count()
    batch = _perturbed_gate_batch(emb, n).cache()
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 16, iters=0)
    try:
        idx, _ = materialize_ivf_index(
            corpus, "t_gate_pfx", n_cells=16, iters=0, impl="jvm",
            centroids=cents, num_buckets=16,
            path=str(tmp_path / "gpfx"), prefix_dims=16,
        )
        assert set(idx.columns) == {
            "cell", "vec_id", "prefix", "rest_norm", "vnorm",
        }
        assert load_prefix_dims(spark, "t_gate_pfx") == (16, 64)
        exact = sorted(
            r.vec_id
            for r in incremental_semantic_dedup(
                batch, corpus, cents, threshold=0.95, n_probe=2
            ).collect()
        )
        for impl in ("jvm", "blas"):
            comp = sorted(
                r.vec_id
                for r in semantic_dedup_gate(
                    batch, corpus, cents, idx, gate_kind="prefix", prefix_dims=16,
                    threshold=0.95, n_probe=2, impl=impl,
                ).collect()
            )
            assert comp == exact, (impl, len(comp), len(exact))
        assert 0 < len(exact) < batch.count()
        # widened margin: still the exact kept set (stage 2 decides)
        wide = sorted(
            r.vec_id
            for r in semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="prefix", prefix_dims=16,
                threshold=0.95, margin=0.1, n_probe=2,
            ).collect()
        )
        assert wide == exact
        with pytest.raises(ValueError, match="margin must be >= 0"):
            semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="prefix", prefix_dims=16,
                margin=-0.01,
            )
        # mismatched geometry fails loudly (the jvm zip_with dot
        # would otherwise NULL out and silently keep every dup)
        with pytest.raises(ValueError, match="stored prefix length"):
            semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="prefix", prefix_dims=8
            )
        # dispatcher auto-detects the rung from rest_norm and loads
        # the persisted geometry from the companion table
        auto = sorted(
            r.vec_id
            for r in semantic_dedup_gate(
                batch, corpus, cents, index=idx,
                index_table="t_gate_pfx", threshold=0.95, n_probe=2,
            ).collect()
        )
        assert auto == exact
        # append under the stored geometry: wrong prefix_dims and
        # wrong batch dim both fail loudly
        extra = corpus.limit(5).select(
            (F.col("vec_id") + 50_000).alias("vec_id"), "embedding"
        )
        materialize_ivf_index(
            extra, "t_gate_pfx", centroids=cents, mode="append",
        )
        assert spark.table("t_gate_pfx").count() == n + 5
        with pytest.raises(ValueError, match="stored prefix"):
            materialize_ivf_index(
                extra.select(
                    "vec_id", F.expr("slice(embedding, 1, 32)").alias(
                        "embedding"
                    )
                ),
                "t_gate_pfx", centroids=cents, mode="append",
            )
        with pytest.raises(ValueError, match="authoritative"):
            materialize_ivf_index(
                extra, "t_gate_pfx", centroids=cents, mode="append",
                prefix_dims=8,
            )
        with pytest.raises(ValueError, match="distinct compression"):
            materialize_ivf_index(
                corpus, "t_gate_pfx2", centroids=cents,
                sq8=True, prefix_dims=16,
            )
    finally:
        batch.unpersist()
        for t in ("t_gate_pfx", "t_gate_pfx_centroids",
                  "t_gate_pfx_prefix"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("rung", ["sq8", "prefix", "pq"])
def test_compressed_gate_routes_degenerate_index_rows(
    spark, sf_dir, tmp_path, rung
):
    """A stored index row whose vnorm is <= 0 (its reconstruction
    collapsed) cannot be scored by stage 1 on any compressed rung; the
    gate must still hand it to the exact recheck, so a batch row that
    truly duplicates it is dropped on both stage-1 impls and the kept
    set equals the float gate's."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        incremental_semantic_dedup,
        load_sq8_bounds,
        materialize_ivf_index,
        materialize_pq_index,
        semantic_dedup_gate,
    )

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    rows = corpus.orderBy("vec_id").limit(2).collect()
    deg_id = rows[0].vec_id
    rng = np.random.RandomState(7)
    batch = spark.createDataFrame(
        # exact copies of the degenerate and of a healthy stored row,
        # plus fresh vectors the gate must keep
        [(900_000, list(rows[0].embedding)), (900_001, list(rows[1].embedding))]
        + [(900_002 + j, [float(x) for x in rng.randn(64)]) for j in range(4)],
        schema="vec_id long, embedding array<double>",
    )
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 8, iters=0)
    table = f"t_deg_{rung}"
    build = dict(
        n_cells=8, iters=0, impl="jvm", centroids=cents, num_buckets=8,
        path=str(tmp_path / table),
    )
    try:
        if rung == "pq":
            idx, _, books = materialize_pq_index(corpus, table, **build)
            sidecar = dict(codebooks=books)
        elif rung == "sq8":
            idx, _ = materialize_ivf_index(corpus, table, sq8=True, **build)
            sidecar = dict(sq8_bounds=load_sq8_bounds(spark, table))
        else:
            idx, _ = materialize_ivf_index(
                corpus, table, prefix_dims=16, **build
            )
            sidecar = dict(prefix_dims=16)
        deg = idx.withColumn(
            "vnorm",
            F.when(F.col("vec_id") == deg_id, F.lit(0.0)).otherwise(
                F.col("vnorm")
            ),
        )
        assert deg.filter(~(F.col("vnorm") > 0)).count() == 1
        exact = sorted(
            r.vec_id
            for r in incremental_semantic_dedup(
                batch, corpus, cents, threshold=0.95, n_probe=2
            ).collect()
        )
        assert 900_000 not in exact and 900_001 not in exact
        assert len(exact) == 4
        for impl in ("jvm", "blas"):
            got = sorted(
                r.vec_id
                for r in semantic_dedup_gate(
                    batch, corpus, cents, index=deg, gate_kind=rung,
                    threshold=0.95, n_probe=2, impl=impl, **sidecar,
                ).collect()
            )
            assert got == exact, (rung, impl, got, exact)
    finally:
        for sfx in ("", "_centroids", "_sq8", "_pq", "_prefix"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{sfx}")



def test_index_companion_tables_written_single_partition(
    spark, sf_dir, tmp_path
):
    """r17: the companion metadata tables (centroids, sq8 bounds, PQ
    codebooks, prefix geometry) are driver-local KB-scale rows. A
    plain createDataFrame(list) parallelizes them into
    defaultParallelism Python-RDD slices, and the coalesce(1) write
    task then drains those slices SEQUENTIALLY — one Python worker
    launch per slice — which made every index build ~2x SLOWER at 32
    cores than at 8 (BENCH_r16 vs BENCH_r16_c8: sq8 12.56 s vs
    5.23 s). _driver_meta_df pins them to ONE slice: assert both the
    partition count (the fix) and the single output file, and that
    reload round-trips the written values exactly."""
    from dataprocessingframework_spark.operators.similarity import (
        _driver_meta_df,
        load_ivf_centroids,
        load_sq8_bounds,
        materialize_ivf_index,
    )

    rows = [(c, [float(c), float(c + 1)]) for c in range(5)]
    df = _driver_meta_df(spark, rows, "cell int, centroid array<double>")
    assert df.rdd.getNumPartitions() == 1
    assert [(r.cell, list(r.centroid)) for r in df.collect()] == [
        (c, list(v)) for c, v in rows
    ]

    corpus = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .limit(200)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias(
                "embedding"
            )
        )
    )
    try:
        materialize_ivf_index(
            corpus, "t_meta_1slice", n_cells=4, iters=1,
            num_buckets=4, path=str(tmp_path / "m1s"), sq8=True,
        )
        cents = load_ivf_centroids(spark, "t_meta_1slice")
        mins, maxs = load_sq8_bounds(spark, "t_meta_1slice")
        assert len(cents) == 4 and len(mins) == len(maxs) > 0
        # one slice -> exactly one parquet file per companion table
        for sfx in ("_centroids", "_sq8"):
            files = spark.table(f"t_meta_1slice{sfx}").inputFiles()
            assert len(files) == 1, (sfx, files)
    finally:
        for t in ("t_meta_1slice", "t_meta_1slice_centroids",
                  "t_meta_1slice_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.fixture(scope="module")
def edge_gate(spark, tmp_path_factory):
    """A 120-row 8-d corpus living only in IVF cells 0 and 1 of a
    4-cell quantizer (dims 2 and 3 are zero), indexed at every rung:
    float, sq8, prefix (d_p=4) and pq (4 subspaces, 16 codes)."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        materialize_ivf_index,
        materialize_pq_index,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(120, 8))
    vecs[:, :2] = np.abs(vecs[:, :2])
    vecs[:, 2:4] = 0.0
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = np.eye(4, 8).tolist()
    base = tmp_path_factory.mktemp("edge_gate")
    common = dict(centroids=cents, n_cells=4, num_buckets=4, iters=0, impl="jvm")
    idx = {
        "float": materialize_ivf_index(corpus, "t_edge_f", path=str(base / "f"), **common)[0],
        "sq8": materialize_ivf_index(corpus, "t_edge_s", path=str(base / "s"), sq8=True, **common)[0],
        "prefix": materialize_ivf_index(
            corpus, "t_edge_x", path=str(base / "x"), prefix_dims=4, **common
        )[0],
        "pq": materialize_pq_index(
            corpus, "t_edge_p", path=str(base / "p"), m=4, k_codes=16, **common
        )[0],
    }
    tables = {"float": "t_edge_f", "sq8": "t_edge_s", "prefix": "t_edge_x", "pq": "t_edge_p"}
    yield corpus, vecs, cents, idx, tables
    for t in tables.values():
        for sfx in ("", "_centroids", "_sq8", "_pq", "_prefix"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{sfx}")


@pytest.mark.parametrize(
    "case", ["empty_batch", "zero_norm_batch", "empty_corpus", "unpopulated_cells", "replay"]
)
def test_semantic_gate_blas_edge_case_parity(spark, edge_gate, case):
    """The blas gates collect the batch and assign its cells on the
    driver; on the inputs where that branch has nothing (or nothing
    scoreable) to do, and on a crash-replayed row, the blas float gate
    keeps exactly the jvm gate's rows and every compressed blas rung
    (and the float-index rung) keeps exactly the float gate's rows."""
    from dataprocessingframework_spark.operators.similarity import (
        incremental_semantic_dedup,
        semantic_dedup_gate,
    )

    corpus, vecs, cents, idx, tables = edge_gate
    schema = "vec_id long, embedding array<double>"
    near = [(1000 + i, [float(2.0 * x + 1e-4) for x in vecs[i]]) for i in range(3)]
    rows = {
        "empty_batch": [],
        "zero_norm_batch": [(900 + i, [0.0] * 8) for i in range(3)],
        "empty_corpus": near,
        # dims 2 and 3 only: both probed cells (n_probe=2) hold no rows
        "unpopulated_cells": [(950 + i, [0.0, 0.0, 1.0 + i, 2.0] + [0.0] * 4) for i in range(3)],
        # corpus row 6 (no other corpus row within 0.9 cosine)
        # replayed under its own id, beside a true dup
        "replay": [(6, [float(x) for x in vecs[6]])] + near[:1],
    }[case]
    batch = spark.createDataFrame(rows, schema)
    if case == "empty_corpus":
        corpus = corpus.limit(0)
        idx = {k: v.limit(0) for k, v in idx.items()}

    def kept(df):
        return sorted(r.vec_id for r in df.select("vec_id").collect())

    kw = dict(threshold=0.95, n_probe=2)
    jvm = kept(incremental_semantic_dedup(batch, corpus, cents, impl="jvm", **kw))
    assert kept(incremental_semantic_dedup(batch, corpus, cents, impl="blas", **kw)) == jvm
    for rung, index in idx.items():
        got = kept(
            semantic_dedup_gate(
                batch, None if rung == "float" else corpus, cents, index=index,
                index_table=tables[rung], impl="blas", **kw,
            )
        )
        assert got == jvm, rung
    want = {"replay": [6], "empty_batch": []}.get(case, sorted(r[0] for r in rows))
    assert jvm == want


def test_semantic_gate_blas_prunes_index_buckets(spark, sf_dir, tmp_path):
    """The blas gate over a cell-bucketed index filters the scan to the
    batch's probed cells, so Spark reads only their bucket files: a
    2-row batch probing 2 cells each reads fewer than all 16 buckets,
    and keeps the same rows as the unpruned jvm gate."""
    import re

    from dataprocessingframework_spark.operators.similarity import (
        materialize_ivf_index,
        semantic_dedup_gate,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    batch = emb.filter(F.col("vec_id") < 2).withColumn("vec_id", F.col("vec_id") + 10_000)
    try:
        idx, cents = materialize_ivf_index(
            emb, "t_gate_prune", n_cells=16, iters=0, num_buckets=16,
            path=str(tmp_path / "prune"),
        )
        out = semantic_dedup_gate(batch, None, cents, index=idx, n_probe=2, impl="blas")
        plan = out._jdf.queryExecution().executedPlan().toString()
        m = re.findall(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert len(m) == 1, plan
        assert int(m[0][0]) < int(m[0][1]) == 16, m
        got = sorted(r.vec_id for r in out.collect())
        assert got == sorted(
            r.vec_id
            for r in semantic_dedup_gate(batch, None, cents, index=idx, n_probe=2).collect()
        )
        assert got == []  # each row meets its own vector under another id
    finally:
        spark.sql("DROP TABLE IF EXISTS t_gate_prune")
        spark.sql("DROP TABLE IF EXISTS t_gate_prune_centroids")
