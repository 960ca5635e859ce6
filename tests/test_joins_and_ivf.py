"""As-of join, range join (operators/joins.py) and IVF ANN
(operators/similarity.ivf_topk) — beyond-reference operators; the
reference's only join is a single-key left equi-join
(DPF/processors/processor.py:197)."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dataprocessingframework_spark.operators.joins import asof_join, range_join
from dataprocessingframework_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
)


def ts(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            Row(sym="A", ts=ts(5), qty=10),
            Row(sym="A", ts=ts(20), qty=20),
            Row(sym="B", ts=ts(3), qty=30),
            Row(sym="B", ts=ts(0), qty=40),  # before any quote
        ]
    )
    quotes = spark.createDataFrame(
        [
            Row(sym="A", ts=ts(0), px=1.0),
            Row(sym="A", ts=ts(5), px=2.0),  # tie: ts == trade ts → matches
            Row(sym="A", ts=ts(15), px=3.0),
            Row(sym="B", ts=ts(2), px=9.0),
        ]
    )
    return trades, quotes


def test_asof_backward(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="sym", left_ts="ts").orderBy("sym", "ts")
    rows = [(r.sym, r.qty, r.px) for r in out.collect()]
    # B@10:00 has no quote at-or-before → dropped (inner)
    assert rows == [("A", 10, 2.0), ("A", 20, 3.0), ("B", 30, 9.0)]


def test_asof_left_keeps_unmatched(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="sym", left_ts="ts", how="left")
    assert out.count() == 4
    unmatched = out.filter(F.col("matched_ts").isNull()).collect()
    assert [(r.sym, r.qty) for r in unmatched] == [("B", 40)]


def test_asof_forward(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="sym", left_ts="ts", direction="forward")
    got = {(r.sym, r.qty): r.px for r in out.collect()}
    # A@20 and B@03 have no quote at-or-after → dropped (inner)
    assert got == {("A", 10): 2.0, ("B", 40): 9.0}


def test_asof_tolerance(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades,
        quotes,
        on="sym",
        left_ts="ts",
        tolerance=F.expr("INTERVAL 1 MINUTE"),
    )
    # only exact/1-min-close matches survive: A@05 (quote @05), B@03 (quote @02)
    got = {(r.sym, r.qty): r.px for r in out.collect()}
    assert got == {("A", 10): 2.0, ("B", 30): 9.0}


def test_asof_payload_suffix_uniquified(spark):
    """Payload rename to _right must stay collision-free even when the
    left side already holds both v and v_right."""
    left = spark.createDataFrame(
        [(1, 10, 100.0, -1.0)], schema="sym long, ts long, v double, v_right double"
    )
    right = spark.createDataFrame(
        [(1, 5, 7.0)], schema="sym long, ts long, v double"
    )
    out = asof_join(left, right, on="sym", left_ts="ts")
    assert len(out.columns) == len(set(out.columns)), out.columns
    row = out.collect()[0]
    assert (row.v, row.v_right, row.v_right_right) == (100.0, -1.0, 7.0)


def test_asof_matches_duckdb_oracle(spark, sf_dir):
    """Union-window asof == DuckDB's native ASOF JOIN on real events."""
    import duckdb

    from dataprocessingframework_spark.queries import T

    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("purchase_value"))
    )
    out = asof_join(clicks, purchases, on="user_id", left_ts="ts")
    got = sorted(
        (r.event_id, r.purchase_value) for r in out.collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = sorted(
        map(
            tuple,
            con.sql(
                """
                WITH c AS (SELECT event_id, user_id, ts FROM events
                           WHERE event_type='click'),
                     p AS (SELECT user_id, ts,
                                  ROUND(MAX(value),2) AS purchase_value
                           FROM events WHERE event_type='purchase'
                           GROUP BY user_id, ts)
                SELECT c.event_id, p.purchase_value
                FROM c ASOF JOIN p
                  ON c.user_id = p.user_id AND c.ts >= p.ts
                """
            ).fetchall(),
        )
    )
    assert got == want


def test_range_join_broadcast_and_bucketed_agree(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    bands = spark.createDataFrame(
        [Row(band_id=i + 1, lo=i * 10 + 1, hi=(i + 1) * 10) for i in range(5)]
    )
    bc = range_join(li, bands, "l_quantity", "lo", "hi")
    bk = range_join(li, bands, "l_quantity", "lo", "hi", bucket_width=10)
    agg = lambda d: sorted(  # noqa: E731
        (r.band_id, r.cnt)
        for r in d.groupBy("band_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    a, b = agg(bc), agg(bk)
    assert a == b and len(a) == 5 and sum(c for _, c in a) == li.count()


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(10)
    exact = cosine_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_cells=16, n_probe=8, iters=1)
    e = {(r.q_id, r.nbr_id) for r in exact.collect()}
    a = {(r.q_id, r.nbr_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
    # approx scores are a subset of true cosine scores (same scoring fn)
    exact_scores = {
        (r.q_id, r.nbr_id): r.cos
        for r in cosine_topk(emb, queries, k=500).collect()
    }
    for r in approx.collect():
        assert exact_scores.get((r.q_id, r.nbr_id)) == pytest.approx(r.cos)


def test_ivf_topk_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(5)
    r1 = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    r2 = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    assert r1 == r2


def test_salted_join_equals_plain_join(spark, sf_dir):
    from dataprocessingframework_spark.operators.joins import salted_join
    from dataprocessingframework_spark.queries import T

    orders = T(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    plain = orders.join(cust, on="c_custkey")
    salted = salted_join(orders, cust, on="c_custkey", salt=8)
    assert salted.count() == plain.count()
    a = sorted(
        (r.c_nationkey, r.cnt)
        for r in salted.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    b = sorted(
        (r.c_nationkey, r.cnt)
        for r in plain.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    assert a == b


def test_salted_left_join_keeps_unmatched(spark):
    from dataprocessingframework_spark.operators.joins import salted_join

    left = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    right = spark.createDataFrame([Row(k=1, w="x")])
    out = salted_join(left, right, on="k", how="left", salt=4).collect()
    assert len(out) == 2
    assert {(r.k, r.w) for r in out} == {(1, "x"), (2, None)}


def test_hash_sample_deterministic_and_portable(spark, sf_dir):
    """Same rows on every run AND the exact md5 formula DuckDB uses."""
    import duckdb

    from dataprocessingframework_spark.operators.sampling import hash_sample
    from dataprocessingframework_spark.queries import T

    orders = T(spark, sf_dir, "orders")
    s1 = sorted(
        r.o_orderkey
        for r in hash_sample(orders, "o_orderkey", 1, 20).collect()
    )
    s2 = sorted(
        r.o_orderkey
        for r in hash_sample(orders, "o_orderkey", 1, 20).collect()
    )
    assert s1 == s2 and 0 < len(s1) < orders.count()
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.sql(
            f"""SELECT o_orderkey FROM '{sf_dir}/orders.parquet'
            WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),1,15))
                       AS BIGINT) % 20 < 1"""
        ).fetchall()
    )
    assert s1 == want


def test_hash_sample_salts_are_independent_splits(spark, sf_dir):
    from dataprocessingframework_spark.operators.sampling import (
        hash_sample_pred,
    )
    from dataprocessingframework_spark.queries import T

    orders = T(spark, sf_dir, "orders")
    # complementary ranges of the SAME salt partition the table exactly
    train = orders.filter(hash_sample_pred("o_orderkey", 19, 20))
    held = orders.filter(~hash_sample_pred("o_orderkey", 19, 20))
    assert train.count() + held.count() == orders.count()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_asof_join_matches_pandas_merge_asof(spark, seed):
    """Randomized parity with pandas.merge_asof (backward,
    allow_exact_matches) — ties on ts, keys with no matches, and
    left-only keys all included."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_l, n_r = 120, 80
    base = pd.Timestamp("2024-01-01")
    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 8, n_l),
            "ts": base + pd.to_timedelta(rng.integers(0, 500, n_l), "min"),
            "lv": np.arange(n_l),
        }
    )
    rpd = (
        pd.DataFrame(
            {
                "k": rng.integers(0, 10, n_r),
                "ts": base + pd.to_timedelta(rng.integers(0, 500, n_r), "min"),
                "rv": rng.random(n_r).round(3),
            }
        )
        .drop_duplicates(["k", "ts"])  # asof precondition: unique (key, ts)
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        lpd.sort_values("ts", kind="stable"),
        rpd.sort_values("ts", kind="stable"),
        on="ts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    )
    want_map = dict(zip(want["lv"], want["rv"]))
    out = asof_join(
        spark.createDataFrame(lpd),
        spark.createDataFrame(rpd),
        on="k",
        left_ts="ts",
        how="left",
    ).collect()
    assert len(out) == n_l
    for r in out:
        w = want_map[r.lv]
        if pd.isna(w):
            assert r.rv is None, (r.lv, r.rv, w)
        else:
            assert r.rv == pytest.approx(w), (r.lv, r.rv, w)


@pytest.mark.parametrize("seed", [0, 7])
def test_range_join_matches_bruteforce(spark, seed):
    import numpy as np

    rng = np.random.default_rng(seed)
    pts = [(int(i), float(x)) for i, x in enumerate(rng.uniform(0, 100, 150))]
    ranges = []
    for i in range(25):
        lo = float(rng.uniform(0, 95))
        ranges.append((int(i), lo, lo + float(rng.uniform(0, 20))))
    facts = spark.createDataFrame(pts, "pid int, x double")
    rdf = spark.createDataFrame(ranges, "rid int, lo double, hi double")
    want = sorted(
        (p, r)
        for p, x in pts
        for r, lo, hi in ranges
        if lo <= x <= hi
    )
    for kw in ({}, {"bucket_width": 7.0}):
        got = sorted(
            (r.pid, r.rid)
            for r in range_join(facts, rdf, "x", "lo", "hi", **kw).collect()
        )
        assert got == want, kw


def test_asof_null_payload_not_backfilled(spark):
    """A NULL payload field in the MATCHED right row must stay NULL —
    not be back-filled from an older right row (pandas merge_asof /
    DuckDB ASOF semantics). Regression: per-column last(ignorenulls)
    windows skipped the NULL and mixed rows."""
    left = spark.createDataFrame(
        [Row(k="A", ts=ts(10), lv=1)]
    )
    right = spark.createDataFrame(
        [
            Row(k="A", ts=ts(0), px=111.0, sz=7),
            Row(k="A", ts=ts(5), px=None, sz=9),  # matched row, NULL px
        ]
    )
    out = asof_join(left, right, on="k", left_ts="ts").collect()
    assert len(out) == 1
    r = out[0]
    assert r.matched_ts == ts(5)
    assert r.px is None, "NULL payload must not be back-filled from ts(0)"
    assert r.sz == 9


def test_asof_payload_fields_from_same_right_row(spark):
    """All payload columns must come from the single matched right row,
    even when different columns are null in different rows."""
    left = spark.createDataFrame(
        [Row(k="A", ts=ts(20), lv=1), Row(k="A", ts=ts(7), lv=2)]
    )
    right = spark.createDataFrame(
        [
            Row(k="A", ts=ts(0), a=1, b=None),
            Row(k="A", ts=ts(5), a=None, b=2),
            Row(k="A", ts=ts(15), a=3, b=None),
        ]
    )
    out = {r.lv: (r.a, r.b, r.matched_ts) for r in
           asof_join(left, right, on="k", left_ts="ts").collect()}
    assert out[1] == (3, None, ts(15))
    assert out[2] == (None, 2, ts(5))


def test_asof_payload_name_collision_suffixed(spark):
    """Right payload colliding with a left column gets _right suffix
    (merge_asof convention) instead of an ambiguous duplicate."""
    left = spark.createDataFrame([Row(k="A", ts=ts(10), v=100)])
    right = spark.createDataFrame([Row(k="A", ts=ts(5), v=200)])
    out = asof_join(left, right, on="k", left_ts="ts")
    assert out.columns.count("v") == 1
    r = out.collect()[0]
    assert r.v == 100 and r.v_right == 200


def test_asof_null_payload_tolerance_and_forward(spark):
    """Struct-packed match interacts correctly with tolerance nulling
    and forward direction."""
    left = spark.createDataFrame([Row(k="A", ts=ts(10), lv=1)])
    right = spark.createDataFrame(
        [
            Row(k="A", ts=ts(12), px=None, sz=1),
            Row(k="A", ts=ts(30), px=5.0, sz=2),
        ]
    )
    fwd = asof_join(
        left, right, on="k", left_ts="ts", direction="forward"
    ).collect()[0]
    assert fwd.matched_ts == ts(12) and fwd.px is None and fwd.sz == 1
    tol = asof_join(
        left,
        right,
        on="k",
        left_ts="ts",
        direction="forward",
        tolerance=F.expr("INTERVAL 1 MINUTE"),
        how="left",
    ).collect()[0]
    assert tol.matched_ts is None and tol.px is None and tol.sz is None


def test_ivf_topk_reuses_supplied_centroids(spark):
    """Passing precomputed centroids must short-circuit the quantizer
    build and give identical results to the from-scratch path with the
    same parameters."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        ivf_topk,
    )

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 8).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        schema="vec_id long, embedding array<float>",
    )
    qs = df.filter("vec_id < 3")
    cents = _ivf_centroids(df, "vec_id", "embedding", 4, 1, impl="blas")
    fresh = ivf_topk(df, qs, k=3, n_cells=4, n_probe=2, iters=1)
    reused = ivf_topk(
        df, qs, k=3, n_cells=4, n_probe=2, iters=1, centroids=cents
    )
    assert sorted(map(tuple, fresh.collect())) == sorted(
        map(tuple, reused.collect())
    )


def test_ivf_topk_n_probe_above_n_cells_blas_matches_jvm(spark):
    """``n_probe > n_cells`` probes every cell once on both impls: the
    'blas' assignment clamps like the JVM path's ``slice`` instead of
    repeating each row n_probe times against n_cells cell ids."""
    import numpy as np

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        ivf_topk,
    )

    rng = np.random.RandomState(5)
    vecs = rng.randn(12, 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(12)],
        schema="vec_id long, embedding array<float>",
    )
    qs = df.filter("vec_id < 3")
    cents = _ivf_centroids(df, "vec_id", "embedding", 2, 1, impl="blas")
    def rows(n_probe, impl):
        out = ivf_topk(
            df, qs, k=2, n_cells=2, n_probe=n_probe, impl=impl,
            centroids=cents,
        )
        return sorted((r.q_id, r.nbr_id, round(r.cos, 6)) for r in out.collect())

    jvm = rows(4, "jvm")
    assert rows(4, "blas") == jvm and len(jvm) == 6
    assert rows(2, "blas") == jvm


@pytest.mark.parametrize(
    "cols, kwargs, match",
    [
        ("codes array<bigint>", {}, "sq8_bounds="),
        ("codes array<bigint>, resid double", {}, "codebooks="),
        ("embedding array<float>", {"codebooks": [[[0.0]]]},
         "codebooks given"),
        ("codes array<bigint>, resid double",
         {"sq8_bounds": ([0.0], [1.0]), "codebooks": [[[0.0]]]},
         "sq8_bounds given"),
        ("prefix array<float>, rest_norm double", {}, "prefix"),
    ],
    ids=["sq8", "pq", "float_extra", "pq_extra", "prefix"],
)
def test_ivf_topk_from_index_sidecar_must_match_index(
    spark, cols, kwargs, match
):
    """ivf_topk_from_index scores what the index stores (detected from
    its columns, as the gate does): a compressed index without its
    sidecar, a sidecar the index does not use, or a prefix index
    (nothing to rank by) raises a ValueError naming the fix before any
    job runs."""
    from dataprocessingframework_spark.operators.similarity import (
        ivf_topk_from_index,
    )

    index = spark.createDataFrame(
        [], f"cell int, vec_id long, {cols}, vnorm double"
    )
    queries = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=match):
        ivf_topk_from_index(index, [[1.0]], queries, **kwargs)


def test_semantic_dedup_gate_recommend_stats(spark):
    """r14: the dispatcher's opt-in recommendation telemetry — the
    dispatch is still decided by the index handed in, but the dict
    reports what the picker would choose from the corpus signals."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        semantic_dedup_gate,
    )

    corpus = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (F.col("id") + i + 1).cast("double"),
        ).alias("embedding"),
    )
    batch = corpus.withColumn("vec_id", F.col("vec_id") + 1000)
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 4, iters=0)
    box: dict = {}
    kept = semantic_dedup_gate(
        batch, corpus, cents, gate_kind="float",
        threshold=0.9999, n_probe=2, recommend_stats=box,
    )
    kept.count()
    assert box["active_rung"] == "float"
    assert box["rung"] in ("sq8", "prefix", "float")
    assert box["decision"]["rung"] == box["rung"]
    assert box["signals"]["n_rows"] == 40
    # telemetry only — behavior identical to the un-instrumented call
    plain = semantic_dedup_gate(
        batch, corpus, cents, gate_kind="float",
        threshold=0.9999, n_probe=2,
    )
    assert sorted(r.vec_id for r in kept.collect()) == sorted(
        r.vec_id for r in plain.collect()
    )
    with _pytest.raises(ValueError, match="recommend_stats needs"):
        semantic_dedup_gate(
            batch, None, cents, gate_kind="float",
            threshold=0.9999, recommend_stats={},
        )
