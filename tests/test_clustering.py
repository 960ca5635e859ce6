"""Connected-components clustering + profiling operator."""

import itertools

from pyspark.sql import functions as F

from dataprocessingframework_spark.operators.dedup import connected_components
from dataprocessingframework_spark.operators.profiling import profile_table


def test_connected_components_transitive(spark):
    """a-b, b-c chain + isolated pair + singleton."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], schema="id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 99]], schema="doc_id long"
    )
    out = {
        r.node: r.cluster
        for r in connected_components(pairs, all_nodes=nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_chain(spark):
    """Chain of 12 — needs multiple propagation rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], schema="id_a long, id_b long"
    )
    out = connected_components(pairs).collect()
    assert {r.cluster for r in out} == {0}
    assert len(out) == 13


def test_profile_table(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0), (3, None, 7.0)],
        schema="id long, tag string, score double",
    )
    row = profile_table(df).collect()[0]
    assert row.n_rows == 3
    assert row.tag_non_null == 2 and row.tag_distinct == 1 and row.tag_nulls == 1
    assert row.score_nulls == 1 and row.score_min == 5.0 and row.score_max == 7.0
    assert row.id_avg == 2.0


def test_profile_table_approximate(spark):
    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    row = profile_table(df, ["v"], approximate=True).collect()[0]
    assert abs(row.v_distinct - 10) <= 2  # HLL estimate


def test_kmeans_clusters_invariants(spark, sf_dir):
    """Seed-stable total assignment; every cluster is used; each point
    is closer to its own centroid than to any other (Lloyd fixed-point
    property). NB the synthetic embeddings are isotropic (labels carry
    no geometry), so label purity is NOT an invariant here."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.clustering import (
        cluster_representatives,
        kmeans_clusters,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 8
    a1 = kmeans_clusters(emb, "embedding", "vec_id", k=k)
    a2 = kmeans_clusters(emb, "embedding", "vec_id", k=k)
    assert a1.count() == emb.count()
    # seed-determinism: identical assignment across runs
    assert a1.exceptAll(a2).count() == 0
    assert a1.select("cluster").distinct().count() == k

    # the clustering is better than chance: within-cluster sum of
    # squares under k-means < WSS under a random k-way assignment
    X = np.array([r["embedding"] for r in emb.orderBy("vec_id").collect()])
    assign = {
        r["vec_id"]: r["cluster"] for r in a1.collect()
    }
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").select("vec_id").collect()]
    lab = np.array([assign[i] for i in ids])

    def wss(labels):
        tot = 0.0
        for c in np.unique(labels):
            pts = X[labels == c]
            tot += ((pts - pts.mean(axis=0)) ** 2).sum()
        return tot

    rng = np.random.RandomState(0)
    assert wss(lab) < wss(rng.randint(0, k, size=len(X)))

    reps = cluster_representatives(a1, emb, "vec_id")
    assert reps.count() == a1.select("cluster").distinct().count()
    # representative is the min vec_id of its cluster
    mins = a1.groupBy("cluster").agg(F.min("vec_id").alias("vec_id"))
    assert reps.select("cluster", "vec_id").exceptAll(mins.select("cluster", "vec_id")).count() == 0


def test_lsh_max_bucket_size_guard(spark, sf_dir):
    """Capping bucket size can only REMOVE candidate pairs (a subset),
    and removes something on the pathologically self-similar corpus."""
    from dataprocessingframework_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = minhash_lsh_candidates(docs, "text", "doc_id", num_hashes=8, bands=2)
    capped = minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=8, bands=2, max_bucket_size=10
    )
    n_full, n_capped = full.count(), capped.count()
    assert n_capped <= n_full
    assert capped.exceptAll(full).count() == 0  # strict subset


def test_lsh_star_collapse_preserves_clusters(spark):
    """An oversized bucket collapses to s-1 star pairs (min id vs each
    other member) instead of the s(s-1)/2 clique — connected components
    must be IDENTICAL to the uncapped clique's."""
    from dataprocessingframework_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    # 8 identical docs -> one bucket of 8 in every band, plus 2 unique
    rows = [(i, "common text shared by every doc") for i in range(8)]
    rows += [(100, "unique alpha beta"), (200, "different gamma delta")]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")

    full = minhash_lsh_candidates(
        docs, "text", "doc_id", 8, 4, max_bucket_size=None
    )
    capped = minhash_lsh_candidates(
        docs, "text", "doc_id", 8, 4, max_bucket_size=5
    )
    star = sorted((r.id_a, r.id_b) for r in capped.collect())
    # exactly the star: min member (0) vs each of 1..7
    assert star == [(0, j) for j in range(1, 8)]
    assert full.count() == 8 * 7 // 2
    nodes = docs.select("doc_id")
    cc_full = {
        r.node: r.cluster
        for r in connected_components(full, all_nodes=nodes).collect()
    }
    cc_capped = {
        r.node: r.cluster
        for r in connected_components(capped, all_nodes=nodes).collect()
    }
    assert cc_full == cc_capped


def test_lsh_bucket_stats_census(spark):
    """The opt-in bucket_stats hook reports the guard's trigger rate
    exactly: 8 identical docs -> one size-8 bucket per band, all 4
    past cap=5, and the uncapped pair volume is 4 bands x C(8,2)."""
    from dataprocessingframework_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    rows = [(i, "common text shared by every doc") for i in range(8)]
    rows += [(100, "unique alpha beta"), (200, "different gamma delta")]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")

    stats: dict = {}
    out = minhash_lsh_candidates(
        docs, "text", "doc_id", 8, 4, max_bucket_size=5, bucket_stats=stats
    )
    assert out.count() == 7  # the star
    assert stats["n_buckets"] == 4
    assert stats["max_bucket"] == 8
    assert stats["n_oversized"] == 4
    assert stats["oversized_members"] == 32
    assert stats["pairs_uncapped"] == 4 * (8 * 7 // 2)
    assert stats["pairs_oversized"] == 4 * (8 * 7 // 2)  # all oversized

    # cap=None: census still reported, nothing oversized
    stats2: dict = {}
    minhash_lsh_candidates(
        docs, "text", "doc_id", 8, 4, max_bucket_size=None,
        bucket_stats=stats2,
    ).count()
    assert stats2["n_oversized"] == 0
    assert stats2["pairs_uncapped"] == 4 * (8 * 7 // 2)
    assert stats2["pairs_oversized"] == 0

    # no collisions at all: every census field is 0, never None
    lone = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        schema="doc_id long, text string",
    )
    stats3: dict = {}
    minhash_lsh_candidates(
        lone, "text", "doc_id", 8, 4, max_bucket_size=5,
        bucket_stats=stats3,
    ).count()
    assert stats3 == {
        "n_buckets": 0, "max_bucket": 0, "n_oversized": 0,
        "oversized_members": 0, "pairs_uncapped": 0.0,
        "pairs_oversized": 0.0,
    }


def test_hamming_near_dup_exact_vs_bruteforce(spark):
    """Pigeonhole exactness: banded candidate generation + verify ==
    quadratic scan, on random 64-bit fingerprints with planted
    near-dups."""
    import random

    from dataprocessingframework_spark.operators.dedup import hamming_near_dup

    rng = random.Random(7)
    sigs = []
    for i in range(80):
        h = rng.getrandbits(63)
        sigs.append((i, h))
        if i % 5 == 0:  # plant a near-dup: flip <=3 bits
            h2 = h
            for _ in range(rng.randint(0, 3)):
                h2 ^= 1 << rng.randrange(63)
            sigs.append((1000 + i, h2))
    df = spark.createDataFrame(sigs, ["doc_id", "sig"])

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dup(
            df, "sig", "doc_id", max_hamming=3, bands=4, bits=64
        ).collect()
    }
    want = set()
    for (ia, ha), (ib, hb) in itertools.combinations(sigs, 2):
        d = bin(ha ^ hb).count("1")
        if d <= 3:
            a, b = sorted((ia, ib))
            want.add((a, b, d))
    assert got == want


def test_pair_driven_verification_matches_inverted_index(spark, sf_dir):
    """jaccard_pairs / containment_pairs with candidates (pair-driven
    intersection, linear in |pairs|) must produce exactly the pairs
    the inverted-index path produces restricted to those candidates —
    including when a caller passes duplicated candidate rows."""
    from dataprocessingframework_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 120)
    )
    full_j = jaccard_pairs(docs, "text", "doc_id", threshold=0.3)
    full_c = containment_pairs(docs, "text", "doc_id", threshold=0.5)
    cand = full_j.select("id_a", "id_b")
    cand_dup = cand.unionByName(cand)  # duplicated candidate rows
    for full, fn, thr in (
        (full_j, jaccard_pairs, 0.3),
        (full_c, containment_pairs, 0.5),
    ):
        got = fn(docs, "text", "doc_id", threshold=thr, candidates=cand_dup)
        expect = {
            (r.id_a, r.id_b, r[2])
            for r in full.join(cand, ["id_a", "id_b"], "left_semi").collect()
        }
        assert {(r.id_a, r.id_b, r[2]) for r in got.collect()} == expect


def test_ngram_verifiers_accept_any_text_column_name(spark):
    """The character n-gram path resolves the text column by name, as
    the word path does: a name that is not a bare SQL identifier
    ("body text") scores the same pairs as a pure-Python shingle
    Jaccard / containment, including a doc shorter than n."""
    from dataprocessingframework_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    rows = [
        (1, "the quick brown fox"),
        (2, "the quick brown fox!"),
        (3, "quick brown"),
        (4, "abc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, `body text` string")

    def grams(t):
        return {t[i : i + 4] for i in range(len(t) - 3)}

    for fn, score in (
        (jaccard_pairs, lambda a, b: len(a & b) / len(a | b)),
        (containment_pairs, lambda a, b: len(a & b) / min(len(a), len(b))),
    ):
        expect = set()
        for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
            ga, gb = grams(ta), grams(tb)
            if ga & gb and score(ga, gb) >= 0.3:
                expect.add((ia, ib, round(score(ga, gb), 4)))
        got = fn(df, "body text", "doc_id", threshold=0.3, ngram=4)
        assert {tuple(r) for r in got.collect()} == expect
        assert expect


def test_star_cc_matches_label_propagation(spark):
    """large/small-star must produce the same (node, cluster) labels
    as min-label propagation run to its fixpoint (here in pure
    Python) on a mixed graph: transitive chain, two merged families,
    isolated pair, singleton."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (3, 20)]
    node_ids = [1, 2, 3, 10, 11, 20, 21, 22, 99]
    label = {x: x for x in node_ids}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True

    pairs = spark.createDataFrame(edges, schema="id_a long, id_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in node_ids], schema="doc_id long"
    )
    got = {
        r.node: r.cluster
        for r in connected_components(pairs, all_nodes=nodes).collect()
    }
    assert got == label
    assert got[99] == 99 and got[10] == 10 and got[22] == 1


def test_star_cc_logarithmic_on_planted_chain(spark):
    """A 64-node path needs ~63 label-propagation rounds; star
    contraction must finish (and be CORRECT) within O(log n) rounds —
    8 rounds on a 64-chain pins the logarithmic behavior."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], schema="id_a long, id_b long"
    )
    out = connected_components(pairs, max_iterations=8).collect()
    assert len(out) == 64
    assert {r.cluster for r in out} == {0}


def test_star_cc_reversed_and_duplicate_edges(spark):
    """Orientation and multiplicity must not matter."""
    pairs = spark.createDataFrame(
        [(5, 4), (4, 5), (4, 3), (3, 4), (5, 3)],
        schema="id_a long, id_b long",
    )
    out = {
        r.node: r.cluster for r in connected_components(pairs).collect()
    }
    assert out == {3: 3, 4: 3, 5: 3}


def test_star_cc_random_graphs_vs_union_find(spark):
    """Star contraction vs an independent pure-Python union-find on a
    battery of deterministic pseudo-random graphs (varied density,
    multiple components, isolated nodes) — catches any systematic
    bias a single hand-built fixture would miss."""
    import random

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(5, 40)
        m = rng.randint(0, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ] or [(0, 0)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {x: find(x) for x in range(n)}

        pairs = spark.createDataFrame(
            edges, schema="id_a long, id_b long"
        )
        nodes = spark.createDataFrame(
            [(i,) for i in range(n)], schema="node long"
        )
        got = {
            r.node: r.cluster
            for r in connected_components(
                pairs, all_nodes=nodes
            ).collect()
        }
        assert got == expect, (seed, n, m)


def test_incremental_cc_equals_full_recompute(spark):
    """Two-wave clustering: wave-2 edges merged into wave-1's labels
    must equal clustering all edges at once — including min-label
    relabeling when a new edge bridges two old clusters, new nodes
    forming their own clusters, and untouched components."""
    from dataprocessingframework_spark.operators.dedup import (
        incremental_connected_components,
    )

    wave1 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)],
        schema="id_a long, id_b long",
    )
    nodes1 = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20, 21, 99]],
        schema="node long",
    )
    labels1 = connected_components(wave1, all_nodes=nodes1)
    # wave 2: bridge clusters {10,11} and {20,21}; extend {1,2,3};
    # brand-new pair (30,31); node 99 untouched
    wave2 = spark.createDataFrame(
        [(11, 20), (3, 4), (30, 31)], schema="id_a long, id_b long"
    )
    inc = {
        r.node: r.cluster
        for r in incremental_connected_components(labels1, wave2).collect()
    }
    full_edges = wave1.union(wave2)
    all_nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 30, 31, 99]],
        schema="node long",
    )
    full = {
        r.node: r.cluster
        for r in connected_components(
            full_edges, all_nodes=all_nodes
        ).collect()
    }
    assert inc == full
    assert inc[21] == 10 and inc[4] == 1 and inc[31] == 30
    assert inc[99] == 99


def test_incremental_cc_random_waves(spark):
    """Randomized two-wave equivalence across seeds."""
    import random

    from dataprocessingframework_spark.operators.dedup import (
        incremental_connected_components,
    )

    for seed in range(3):
        rng = random.Random(100 + seed)
        n = 30
        e1 = [(rng.randrange(n), rng.randrange(n)) for _ in range(20)]
        e2 = [(rng.randrange(n), rng.randrange(n)) for _ in range(15)]
        nodes = spark.createDataFrame(
            [(i,) for i in range(n)], schema="node long"
        )
        w1 = spark.createDataFrame(e1, schema="id_a long, id_b long")
        w2 = spark.createDataFrame(e2, schema="id_a long, id_b long")
        labels1 = connected_components(w1, all_nodes=nodes)
        inc = {
            r.node: r.cluster
            for r in incremental_connected_components(
                labels1, w2
            ).collect()
        }
        full = {
            r.node: r.cluster
            for r in connected_components(
                w1.union(w2), all_nodes=nodes
            ).collect()
        }
        assert inc == full, seed
