"""Dedup sketches, similarity search, validators — property checks and
python-golden equivalence."""


import numpy as np
import pytest
from pyspark.sql import functions as F

from dataprocessingframework_spark.functions.hashing import (
    MINHASH_PRIME,
    hash64_py,
    minhash_coeffs,
)
from dataprocessingframework_spark.operators import dedup, similarity, validators


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different words entirely here now"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_exact_dedup_keep_first(docs):
    out = dedup.exact_dedup(docs, ["text"], order_col="doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [0, 1, 2]


def test_minhash_signature_matches_python_golden(docs):
    sig = {r.doc_id: r for r in dedup.minhash_signatures(docs, "text", "doc_id", 4).collect()}

    def py_minhash(text):
        words = {w for w in text.split(" ") if w}
        hs = [hash64_py(w) % MINHASH_PRIME for w in words]
        return [min((a * h + b) % MINHASH_PRIME for h in hs) for a, b in minhash_coeffs(4)]

    for doc_id, text in [(0, "the quick brown fox jumps over the lazy dog"),
                         (2, "completely different words entirely here now")]:
        expect = py_minhash(text)
        got = [sig[doc_id][f"mh{i}"] for i in range(4)]
        assert got == expect
    # exact dups share the full signature
    assert [sig[0][f"mh{i}"] for i in range(4)] == [sig[3][f"mh{i}"] for i in range(4)]


def test_lsh_candidates_catch_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(docs, "text", "doc_id", 16, 8).collect()
    }
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs  # 80%-jaccard near dup with 8 bands x 2 rows
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_jaccard_pairs_exact_values(docs):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert out[(0, 3)] == 1.0
    assert out[(0, 1)] == round(7 / 9, 4)  # 7 shared of 9 distinct words
    assert (0, 2) not in out


def test_simhash_near_dup_property(docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs, "text", "doc_id", 64).collect()}
    assert sh[0] == sh[3]
    mask = (1 << 64) - 1  # values are signed 64-bit; compare as unsigned
    ham_near = bin((sh[0] ^ sh[1]) & mask).count("1")
    ham_far = bin((sh[0] ^ sh[2]) & mask).count("1")
    assert ham_near < ham_far


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(3)
    vecs = rng.randn(20, 8).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        schema="vec_id long, embedding array<float>",
    )
    out = similarity.cosine_topk(df, df.filter(F.col("vec_id") < 2), k=3)
    got = {(r.q_id, r.nbr_id) for r in out.collect()}
    vd = vecs.astype(np.float64)
    norms = np.linalg.norm(vd, axis=1)
    cos = (vd @ vd.T) / np.outer(norms, norms)
    expect = set()
    for q in range(2):
        order = [(i, cos[q, i]) for i in range(20) if i != q]
        order.sort(key=lambda t: (-t[1], t[0]))
        expect |= {(q, i) for i, _ in order[:3]}
    assert got == expect


def test_cosine_topk_blas_agrees_with_jvm(spark):
    rng = np.random.RandomState(9)
    vecs = rng.randn(30, 8).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        schema="vec_id long, embedding array<float>",
    )
    qdf = df.filter(F.col("vec_id") < 3)
    jvm = similarity.cosine_topk(df, qdf, k=4, impl="jvm").collect()
    blas = similarity.cosine_topk(df, qdf, k=4, impl="blas").collect()
    assert {(r.q_id, r.nbr_id) for r in jvm} == {(r.q_id, r.nbr_id) for r in blas}
    js = {(r.q_id, r.nbr_id): r.cos for r in jvm}
    for r in blas:
        assert abs(js[(r.q_id, r.nbr_id)] - r.cos) <= 1e-3


def test_lsh_topk_subset_of_exact_scores(spark):
    rng = np.random.RandomState(5)
    vecs = rng.randn(50, 16).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        schema="vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") < 3)
    out = similarity.lsh_topk(df, q, k=5, dim=16, n_planes=4).collect()
    assert len(out) > 0
    # LSH returns genuine neighbors (same-bucket), scores in [-1, 1]
    assert all(-1.0 <= r.cos <= 1.0 for r in out)


def test_validators(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c")], schema="k long, v string"
    )
    parent = spark.createDataFrame([(1,), (2,)], schema="p long")
    res = validators.validate(
        df,
        required_columns=["k", "v", "w"],
        key_columns=["k"],
        reference=parent,
        reference_key="p",
        key="k",
    )
    kinds = sorted(e.split(":")[0] for e in res.errors)
    assert kinds == ["DuplicatedValuesError", "MissedColumnsError"]
    ok = validators.validate(df.dropDuplicates(["k"]), key_columns=["k"])
    assert ok.total_errors == 0


def test_histogram_overflow_buckets(spark):
    """Out-of-range values land in -1 / n_buckets, boundaries are
    left-closed."""
    from dataprocessingframework_spark.operators.profiling import histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.99,), (10.0,), (19.99,), (20.0,), (25.0,)],
        ["v"],
    )
    out = {r["bucket"]: r["cnt"] for r in histogram(df, "v", 0.0, 20.0, 2).collect()}
    assert out == {-1: 1, 0: 2, 1: 2, 2: 2}


def test_histogram_rejects_degenerate_inputs(spark):
    """hi <= lo or non-positive bucket count fail fast with a clear
    error, not a divide-by-zero plan."""
    import pytest

    from dataprocessingframework_spark.operators.profiling import histogram

    df = spark.createDataFrame([(1.0,)], ["v"])
    with pytest.raises(ValueError, match="hi > lo"):
        histogram(df, "v", 5.0, 5.0, 4)
    with pytest.raises(ValueError, match="hi > lo"):
        histogram(df, "v", 9.0, 2.0, 4)
    with pytest.raises(ValueError, match="n_buckets"):
        histogram(df, "v", 0.0, 1.0, 0)


def test_exact_dedup_map_payload_falls_back_to_window(spark):
    """A MapType payload column cannot ride through min(struct); the
    window fallback must produce the same keep-first answer."""
    df = spark.createDataFrame(
        [
            (3, "a", {"k": "v3"}),
            (1, "a", {"k": "v1"}),
            (2, "b", {"k": "v2"}),
        ],
        schema="doc_id long, text string, meta map<string,string>",
    )
    out = dedup.exact_dedup(df, ["text"], order_col="doc_id")
    rows = {r.text: (r.doc_id, dict(r.meta)) for r in out.collect()}
    assert rows == {"a": (1, {"k": "v1"}), "b": (2, {"k": "v2"})}


# -------------------------------------------------------------------------
# curation signals: repetition / PII scrub / decontamination
# -------------------------------------------------------------------------


def test_repetition_metrics_goldens(spark):
    from dataprocessingframework_spark.operators import text_analysis as tx

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w v"), (3, ""), (4, "q")],
        schema="doc_id long, text string",
    )
    got = {
        r.doc_id: (
            r.n_words,
            r.distinct_word_ratio,
            r.top_word_fraction,
            r.dup_bigram_fraction,
        )
        for r in tx.repetition_metrics(df).collect()
    }
    # doc 1: 5 words {a:3,b:2}; bigrams [ab,ba,ab,ba] -> 2 distinct of 4
    assert got[1] == (5, 0.4, 0.6, 0.5)
    assert got[2] == (5, 1.0, 0.2, 0.0)
    assert got[3] == (0, 0.0, 0.0, 0.0)  # empty doc: all guards fire
    assert got[4] == (1, 1.0, 1.0, 0.0)  # 1 token -> no bigrams


def test_pii_scrub_redacts_and_counts(spark):
    from dataprocessingframework_spark.operators import text_analysis as tx

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@ex-ample.co.uk or 10.2.3.4 call +44 123-4567"),
            (2, "nothing sensitive here"),
        ],
        schema="doc_id long, text string",
    )
    rows = {r.doc_id: r for r in tx.pii_scrub(df).collect()}
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (1, 1, 1)
    assert rows[1].scrubbed == "mail <EMAIL> or <IP> call <PHONE>"
    assert (rows[2].n_email, rows[2].n_ipv4, rows[2].n_phone) == (0, 0, 0)
    assert rows[2].scrubbed == "nothing sensitive here"


def test_decontaminate_overlap_and_plan(spark):
    from dataprocessingframework_spark.operators import text_analysis as tx

    corpus = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w v"), (3, "a b c d e")],
        schema="doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "a b a b c")], schema="doc_id long, text string"
    )
    out = tx.decontaminate(corpus, bench, n=2, threshold=2)
    got = {r.doc_id: (r.n_overlap, r.contaminated) for r in out.collect()}
    # bench bigrams {ab, ba, bc}; doc1 {ab, ba} -> 2; doc3 {ab, bc, cd, de} -> 2
    assert got == {1: (2, True), 2: (0, False), 3: (2, True)}
    # scale shape: benchmark n-gram set must be BROADCAST (corpus grams
    # are filtered map-side, never shuffled by n-gram)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_bpe_token_count_splits_runs(spark):
    from dataprocessingframework_spark.operators import text_analysis as tx

    df = spark.createDataFrame(
        [(1, "don't stop, it's 42km!"), (2, ""), (3, "abc")],
        schema="doc_id long, text string",
    )
    got = {
        r.doc_id: (r.ws, r.bpe)
        for r in df.select(
            "doc_id",
            tx.token_count("text").alias("ws"),
            tx.bpe_token_count("text").alias("bpe"),
        ).collect()
    }
    # don[']t stop[,] it[']s 42|km[!] -> 11 runs vs 4 whitespace tokens
    assert got[1] == (4, 11)
    assert got[2] == (0, 0)
    assert got[3] == (1, 1)


def test_budget_mix_cuts_per_group(spark):
    from dataprocessingframework_spark.operators import text_analysis as tx

    # quality is equal within a group (same shape docs), so the rank
    # falls to the doc_id tie-break: keep low ids until budget spent
    rows = [
        (1, "g1", "the cat and the dog sat"),   # 6 tokens
        (2, "g1", "the cat and the dog ran"),   # 6 tokens
        (3, "g1", "the cat and the dog hid"),   # 6 tokens -> over 15
        (4, "g2", "a b"),                       # tiny group, all kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = tx.budget_mix(df, token_budget=15)
    got = {r.doc_id: r.cum_tokens for r in out.collect()}
    assert got == {1: 6, 2: 12, 4: 2}


def test_stratified_hash_sample_deterministic(spark):
    from dataprocessingframework_spark.functions.hashing import hash64_py
    from dataprocessingframework_spark.operators.sampling import (
        stratified_hash_sample,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(100)],
        "doc_id long, lang string",
    )
    out = stratified_hash_sample(
        df, "lang", "doc_id", rates={"en": 30, "de": 100}
    )
    got = {(r.doc_id, r.lang) for r in out.collect()}
    want = {
        (i, "en" if i % 2 == 0 else "de")
        for i in range(100)
        if hash64_py(str(i)) % 100 < (30 if i % 2 == 0 else 100)
    }
    assert got == want  # python twin agrees -> engine-portable
    # all odd (de) rows kept; en rows thinned
    assert sum(1 for _, l in got if l == "de") == 50
    assert 0 < sum(1 for _, l in got if l == "en") < 50


def test_incremental_dedup_anti_join_and_keep_first(spark):
    from dataprocessingframework_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "k1"), (2, "k2")], "doc_id long, key string"
    )
    batch = spark.createDataFrame(
        [(10, "k2"), (11, "k3"), (12, "k3"), (13, "k4")],
        "doc_id long, key string",
    )
    out = incremental_dedup(batch, corpus, ["key"], order_col="doc_id")
    got = {(r.doc_id, r.key) for r in out.collect()}
    # k2 dropped (already in corpus); k3 keeps first arrival only
    assert got == {(11, "k3"), (13, "k4")}


def test_duplicate_passage_stats_golden(spark):
    from dataprocessingframework_spark.operators import text_analysis as tx

    rows = [
        (1, "a b c d e f"),      # grams: abcde, bcdef
        (2, "a b c d e x"),      # grams: abcde, bcdex -> shares abcde with 1
        (3, "p q r s t u"),      # unique grams
        (4, "tiny"),             # < n tokens -> zero grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.dup_fraction)
        for r in tx.duplicate_passage_stats(df, n=5).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (2, 0, 0.0)
    assert got[4] == (0, 0, 0.0)


def test_pack_sequences_bins(spark):
    from dataprocessingframework_spark.functions.hashing import hash64_py
    from dataprocessingframework_spark.operators import text_analysis as tx

    rows = [(i, " ".join(["w"] * 10)) for i in range(40)]  # 10 tokens each
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.pack_sequences(df, context_len=25)
    got = {r.doc_id: (r.shard, r.n_tokens, r.bin_id) for r in out.collect()}
    # python twin: per shard, docs in id order, bin = start_cum // 25
    from collections import defaultdict

    cums = defaultdict(int)
    for i in range(40):
        shard = hash64_py(str(i)) % 64
        start = cums[shard]
        cums[shard] += 10
        assert got[i] == (shard, 10, start // 25), (i, got[i], shard, start)


def test_tfidf_top_terms_golden(spark):
    import math

    from dataprocessingframework_spark.operators import text_analysis

    rows = [
        (0, "apple apple banana"),
        (1, "banana cherry"),
        (2, "cherry cherry cherry date"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {
        (r.doc_id, r.term): (r.tfidf, r.rnk)
        for r in text_analysis.tfidf_top_terms(df, k=2).collect()
    }
    # doc 0: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    assert out[(0, "apple")] == (round(2 * math.log(3.0), 4), 1)
    assert out[(0, "banana")] == (round(math.log(1.5), 4), 2)
    # doc 2: cherry tf=3 df=2 ranks above date tf=1 df=1
    assert out[(2, "cherry")][1] == 1
    assert out[(2, "date")] == (round(math.log(3.0), 4), 2)


def test_zipf_slope_exact_power_law(spark):
    """A corpus whose rank-r term appears floor(100/r) times has
    ln(freq) ~ -1*ln(rank) (exactly at ranks dividing 100): slope
    must land near -1; and the estimator must equal the closed-form
    OLS slope on the realized (ln rank, ln freq) points."""
    import math

    import numpy as np

    from dataprocessingframework_spark.operators import text_analysis

    words = []
    for r in range(1, 26):
        words += [f"w{r:02d}"] * (100 // r)
    df = spark.createDataFrame(
        [(0, " ".join(words))], schema="doc_id long, text string"
    )
    row = text_analysis.zipf_slope(df, top_n=1000).collect()[0]
    assert row.n_terms == 25
    x = np.log(np.arange(1, 26, dtype=float))
    y = np.log(np.array([100 // r for r in range(1, 26)], dtype=float))
    expect = float(np.cov(x, y, bias=True)[0, 1] / np.var(x))
    assert abs(row.zipf_slope - round(expect, 4)) <= 1e-4
    assert -1.15 < row.zipf_slope < -0.85


def test_label_centroids_match_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, rng.normal(size=4).astype("float32").tolist(), int(i % 2))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label int"
    )
    out = similarity.label_centroids(df).collect()
    assert len(out) == 8  # 2 labels x 4 dims
    vecs = {lab: [r[1] for r in rows if r[2] == lab] for lab in (0, 1)}
    for r in out:
        expect = float(np.mean([v[r.pos] for v in vecs[r.label]]))
        assert abs(r.centroid - round(expect, 4)) <= 1e-4
        assert r.n_vecs == 10


def test_lsh_multi_probe_improves_recall_on_planted_neighbors(spark):
    """Plant an exact near-duplicate for every query vector; radius-1
    multi-probe must recover strictly more planted neighbors than
    single-bucket probing (it catches pairs split by one hyperplane)."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 16)).astype("float64")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v.astype("float32").tolist()))
        # planted neighbor: tiny perturbation, cosine ~ 1
        rows.append((1000 + i, (v + rng.normal(scale=0.05, size=16)).astype("float32").tolist()))
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") < 1000)

    def planted_hits(probe_radius):
        out = similarity.lsh_topk(
            df, qs, k=1, dim=16, n_planes=8, probe_radius=probe_radius
        )
        return sum(1 for r in out.collect() if r.nbr_id == r.q_id + 1000)

    h0, h1 = planted_hits(0), planted_hits(1)
    assert h1 > h0
    assert h1 >= 30  # multi-probe recovers most planted pairs


def test_temperature_sample_rebalances_toward_uniform(spark):
    """alpha=0 equalizes expected group sizes: the dominant group is
    down-sampled toward the smallest; small groups keep every row
    (rate caps at 1). Membership must be deterministic across calls."""
    from dataprocessingframework_spark.operators.sampling import (
        temperature_sample,
    )

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, schema="doc_id long, grp string")
    out = temperature_sample(
        df, "grp", "doc_id", alpha=0.0, target_fraction=0.2
    )
    sizes = {r.grp: r.n for r in out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    # expected 100 per group (0.2 * 1000 * 1/2); hash noise allowed,
    # but "big" must be cut hard and "small" kept whole (rate 1.0)
    assert sizes["small"] == 100
    assert 60 <= sizes["big"] <= 140
    again = temperature_sample(
        df, "grp", "doc_id", alpha=0.0, target_fraction=0.2
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_incremental_near_dup_drops_fuzzy_matches_only(spark, tmp_path):
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "completely unrelated corpus text here today"),
        ],
        schema="doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-dup of 0 (one word changed -> jaccard 0.8)
            (10, "the quick brown fox jumps over the lazy cat"),
            # novel
            (11, "entirely new subject matter nothing shared"),
        ],
        schema="doc_id long, text string",
    )
    kept = dedup.incremental_near_dup(
        batch, corpus, "text", "doc_id", threshold=0.5,
        num_hashes=8, bands=4,
    )
    assert [r.doc_id for r in kept.collect()] == [11]

    # materialized-index path gives the identical result
    idx_path = str(tmp_path / "lsh_idx")
    dedup.lsh_index(corpus, "text", "doc_id", 8, 4).write.parquet(idx_path)
    kept2 = dedup.incremental_near_dup(
        batch, corpus, "text", "doc_id", threshold=0.5,
        num_hashes=8, bands=4,
        corpus_index=spark.read.parquet(idx_path),
    )
    assert [r.doc_id for r in kept2.collect()] == [11]


def test_unigram_nll_golden(spark):
    import math

    from dataprocessingframework_spark.operators import text_analysis

    # corpus: 4 tokens total — a:2, b:1, c:1
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "c")], schema="doc_id long, text string"
    )
    out = {r.doc_id: (r.mean_nll, r.n_tokens)
           for r in text_analysis.unigram_nll(df).collect()}
    nll_a, nll_b, nll_c = (-math.log(2 / 4), -math.log(1 / 4), -math.log(1 / 4))
    assert out[0] == (round((2 * nll_a + nll_b) / 3, 4), 3)
    assert out[1] == (round(nll_c, 4), 1)
    # rare-word doc scores strictly higher than common-word doc
    assert out[1][0] > out[0][0]


def test_temperature_sample_keeps_null_stratum(spark):
    from dataprocessingframework_spark.operators.sampling import (
        temperature_sample,
    )

    rows = [(i, None if i % 2 else "src") for i in range(200)]
    df = spark.createDataFrame(rows, schema="doc_id long, grp string")
    out = temperature_sample(df, "grp", "doc_id", alpha=1.0, target_fraction=1.0)
    # alpha=1, target=1 -> every rate is 1.0: nothing may be dropped,
    # including the null-stratum rows
    assert out.count() == 200


def test_incremental_near_dup_rejects_overlapping_ids(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, "same id space")], schema="doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="disjoint"):
        dedup.incremental_near_dup(df, df, "text", "doc_id")


def test_split_assign_disjoint_covering_deterministic(spark):
    """90/5/5 named splits: every key gets exactly one split, the same
    split on re-run, and custom weights are honored."""
    from dataprocessingframework_spark.operators.sampling import split_assign

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = split_assign(df, "k")
    counts = {r.split: r.n for r in a.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000  # covering, disjoint by CASE
    assert counts["train"] > counts["val"]  # 90 >> 5 at n=2000
    b = split_assign(df, "k")
    assert a.exceptAll(b).count() == 0  # pure function of the key
    half = split_assign(df, "k", splits=(("a", 1), ("b", 1)))
    got = {r.split for r in half.select("split").distinct().collect()}
    assert got == {"a", "b"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        split_assign(df, "k", splits=())


def test_sessionize_gap_semantics(spark):
    """30-min gap closes a session; <=30-min keeps it open."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, base, "a", 0.0, ""),
        (1, 2, base + dt.timedelta(minutes=29), "b", 0.0, ""),
        (1, 3, base + dt.timedelta(minutes=29 + 31), "c", 0.0, ""),
        (2, 4, base, "a", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        schema="user_id long, event_id long, ts timestamp, "
        "event_type string, value double, props string",
    )
    import dataprocessingframework_spark.queries as q

    orig = q.T
    try:
        q.T = lambda s, d, name: df  # noqa: E731 - inject fixture table
        out = {
            (r.user_id, r.session_id): r.n_events
            for r in q.q_ev_sessionize(spark, "ignored").collect()
        }
    finally:
        q.T = orig
    assert out == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_sessionize_invariants_on_real_events(spark, sf_dir):
    """Structural invariants of gap-based sessionization on the real
    events table: sessions PARTITION each user's events; intra-session
    consecutive gaps are <= 1800s; inter-session gaps are > 1800s."""
    import dataprocessingframework_spark.queries as q

    ev = q.T(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    sess = (
        q.q_ev_sessionize(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "session_id"])
    )
    # sessions partition events: per-user event counts match
    by_user_events = pdf.groupby("user_id").size()
    by_user_sess = sess.groupby("user_id")["n_events"].sum()
    assert by_user_events.to_dict() == by_user_sess.to_dict()
    # recompute boundaries in pandas and compare session counts
    gaps = pdf.groupby("user_id")["ts"].diff().dt.total_seconds()
    starts = (gaps.isna() | (gaps > 1800)).groupby(pdf["user_id"]).sum()
    n_sessions = sess.groupby("user_id").size()
    assert starts.astype(int).to_dict() == n_sessions.to_dict()


def test_sessionize_matches_streaming_session_window(spark):
    """The batch gap-based sessionize and Spark's session_window agree
    on session membership for gaps strictly inside/outside the
    timeout (the exact-boundary event differs by design:
    session_window's window is [start, last+gap) so a gap == timeout
    opens a NEW session, while the batch lag formulation keeps it —
    crafted data avoids the boundary)."""
    import datetime as dt

    from dataprocessingframework_spark.streaming import session_window_agg
    import dataprocessingframework_spark.queries as q

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows, eid = [], 0
    # user 1: two sessions (41-min gap); user 2: one session
    for mins in [0, 10, 20, 61, 70]:
        eid += 1
        rows.append((1, eid, base + dt.timedelta(minutes=mins), "a", 0.0, ""))
    for mins in [0, 29, 58]:
        eid += 1
        rows.append((2, eid, base + dt.timedelta(minutes=mins), "b", 0.0, ""))
    df = spark.createDataFrame(
        rows,
        schema="user_id long, event_id long, ts timestamp, "
        "event_type string, value double, props string",
    )
    stream_sessions = (
        session_window_agg(df, gap="30 minutes", key_col="user_id")
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
        .to_dict()
    )
    orig = q.T
    try:
        q.T = lambda s, d, name: df  # noqa: E731
        batch_sessions = (
            q.q_ev_sessionize(spark, "ignored")
            .groupBy("user_id")
            .count()
            .toPandas()
            .set_index("user_id")["count"]
            .to_dict()
        )
    finally:
        q.T = orig
    assert stream_sessions == batch_sessions == {1: 2, 2: 1}


def test_pagerank_invariants(spark):
    """Rank mass conserves (sums to 1), dangling nodes redistribute,
    higher in-degree earns higher rank, ValueError on bad iterations."""
    from dataprocessingframework_spark.operators.graph import pagerank

    # star: a,b,c -> hub; hub dangles
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub")], schema="src string, dst string"
    )
    out = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-4
    assert out["hub"] > out["a"] == out["b"] == out["c"]
    with pytest.raises(ValueError):
        pagerank(edges, iterations=0)


def test_bloom_decontaminate_exact_under_fp_pressure(spark):
    """With a tiny bit array (2^8 bits, heavy false-positive rate) the
    Bloom path must STILL match the exact operator — the verify join
    is what guarantees exactness, not the filter's fp rate."""
    from dataprocessingframework_spark.operators import text_analysis as tx

    rows = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared alpha beta gamma")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    exact = sorted(
        tx.decontaminate(corpus, bench, n=2, threshold=2).collect()
    )
    bloom = sorted(
        tx.bloom_decontaminate(
            corpus, bench, n=2, threshold=2, bits_log2=8, num_hash=2
        ).collect()
    )
    assert bloom == exact


def test_chunk_windows_coverage_and_tail(spark):
    from dataprocessingframework_spark.operators.text_analysis import (
        chunk_windows,
    )

    toks = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(0, " ".join(toks)), (1, "a b c"), (2, "")],
        "doc_id long, text string",
    )
    out = chunk_windows(docs, window=4, stride=3)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # doc 0: starts at tokens 0,3,6,9 -> 4 chunks, tail is short
    assert [rows[(0, i)].chunk_text for i in range(4)] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9", "w9",
    ]
    assert rows[(0, 3)].n_tokens == 1
    # every token of doc 0 appears in at least one chunk
    covered = set()
    for i in range(4):
        covered.update(rows[(0, i)].chunk_text.split())
    assert covered == set(toks)
    # doc 1 fits in one window
    assert rows[(1, 0)].chunk_text == "a b c" and rows[(1, 0)].n_tokens == 3
    assert (1, 1) not in rows
    # empty doc yields exactly one empty chunk, not zero rows
    assert rows[(2, 0)].chunk_text == "" and rows[(2, 0)].n_tokens == 0


def test_chunk_windows_disjoint_tiling_reconstructs(spark):
    from dataprocessingframework_spark.operators.text_analysis import (
        chunk_windows,
    )

    text = " ".join(f"t{i}" for i in range(11))
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    out = chunk_windows(docs, window=4, stride=4).orderBy("chunk_id").collect()
    assert " ".join(r.chunk_text for r in out) == text
    assert [r.n_tokens for r in out] == [4, 4, 3]


def test_weighted_sample_deterministic_and_weight_aware(spark):
    from dataprocessingframework_spark.operators.sampling import (
        weighted_sample,
    )

    # two strata: heavy rows weight 1000, light rows weight 1
    rows = [(i, 1000 if i < 100 else 1) for i in range(1100)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = sorted(
        r.id for r in weighted_sample(df, "w", "id", k=50).collect()
    )
    again = sorted(
        r.id
        for r in weighted_sample(df.repartition(7), "w", "id", k=50).collect()
    )
    assert got == again  # partitioning-independent, rerun-stable
    heavy = sum(1 for i in got if i < 100)
    # heavy stratum carries ~99% of total weight; expect dominance
    assert heavy >= 40
    # zero/negative weights are excluded
    df2 = spark.createDataFrame([(1, 0), (2, -3), (3, 5)], "id long, w long")
    assert [r.id for r in weighted_sample(df2, "w", "id", k=10).collect()] == [3]


def test_snapshot_diff_statuses_and_null_compare(spark):
    from dataprocessingframework_spark.operators.versioning import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (5, "e")], "k long, v string"
    )
    got = {r.k: r.status for r in snapshot_diff(
        old, new, key_cols=["k"], compare_cols=["v"]
    ).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "changed",   # NULL -> value counts as a change (null-safe)
        4: "removed",
        5: "added",
    }


def test_nearest_join_picks_closer_side_and_breaks_ties_earlier(spark):
    from dataprocessingframework_spark.operators.joins import nearest_join

    left = spark.createDataFrame(
        [(1, 100), (2, 205), (3, 390)], "id long, ts long"
    ).withColumnRenamed("id", "event_id")
    right = spark.createDataFrame(
        [(90, "a"), (110, "b"), (200, "c"), (210, "d"), (400, "e")],
        "ts long, v string",
    )
    l = left.withColumn("k", F.lit(1))
    r = right.withColumn("k", F.lit(1))
    got = {
        r_.event_id: (r_.matched_ts, r_.v)
        for r_ in nearest_join(l, r, on="k", left_ts="ts").collect()
    }
    # 100: 90 and 110 both at distance 10 -> earlier (90) wins
    assert got[1] == (90, "a")
    # 205: 200 and 210 both at distance 5 -> earlier (200) wins
    assert got[2] == (200, "c")
    # 390: forward neighbor 400 (dist 10) beats backward 210 (dist 180)
    assert got[3] == (400, "e")


def test_nearest_join_tolerance_and_forward_only(spark):
    from dataprocessingframework_spark.operators.joins import nearest_join

    left = spark.createDataFrame([(1, 0), (2, 500)], "event_id long, ts long")
    right = spark.createDataFrame([(40, "x")], "ts long, v string")
    l = left.withColumn("k", F.lit(1))
    r = right.withColumn("k", F.lit(1))
    # left row at ts=0 only has a FORWARD neighbor; inner join keeps it
    got = nearest_join(l, r, on="k", left_ts="ts").collect()
    assert {(r_.event_id, r_.matched_ts) for r_ in got} == {(1, 40), (2, 40)}
    # tolerance 100 drops the ts=500 row (distance 460)
    tol = nearest_join(l, r, on="k", left_ts="ts", tolerance=F.lit(100)).collect()
    assert [(r_.event_id, r_.matched_ts) for r_ in tol] == [(1, 40)]


def test_remove_dup_passages_cuts_shared_tiles_preserves_order(spark):
    from dataprocessingframework_spark.operators.text_analysis import (
        remove_dup_passages,
    )

    boiler = "subscribe to our newsletter now"  # 5 tokens -> tile of 5
    docs = spark.createDataFrame(
        [
            (0, f"unique alpha beta gamma delta {boiler} tail one two aa"),
            (1, f"other words here entirely five {boiler} end bit xx yy"),
            (2, boiler),  # all boilerplate -> empty output
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_dup_passages(
        docs, n=5, min_docs=2
    ).collect()}
    # tiles of 5: doc0 = [unique..delta, boiler, tail..aa]; middle cut
    assert out[0].clean_text == "unique alpha beta gamma delta tail one two aa"
    assert out[0].n_removed == 1
    assert out[1].clean_text == "other words here entirely five end bit xx yy"
    assert out[2].clean_text == "" and out[2].n_removed == 1
    assert set(out) == {0, 1, 2}  # every doc present



def test_ks_statistic_golden_against_scipy_formula(spark):
    """Hand-computable golden: a = [1,2,3,4], b = [3,4,5,6].
    ECDFs diverge most at v=2 (a: 0.5, b: 0) -> D = 0.5."""
    from dataprocessingframework_spark.operators.drift import ks_statistic

    a = spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], "x long")
    b = spark.createDataFrame([(v,) for v in [3, 4, 5, 6]], "x long")
    row = ks_statistic(a, b, "x").collect()[0]
    assert (row.n_a, row.n_b) == (4, 4)
    assert row.ks_d == 0.5
    # identical samples -> D = 0
    same = ks_statistic(a, a, "x").collect()[0]
    assert same.ks_d == 0.0


def test_psi_zero_for_identical_and_positive_for_shifted(spark):
    from dataprocessingframework_spark.operators.drift import psi

    a = spark.createDataFrame([(float(i % 50),) for i in range(500)], "x double")
    b = spark.createDataFrame([(float(i % 50) + 30,) for i in range(500)], "x double")
    same = psi(a, a, "x", lo=0, hi=100, bins=10).collect()[0]
    assert same.psi == 0.0 and same.n_a == 500
    shifted = psi(a, b, "x", lo=0, hi=100, bins=10).collect()[0]
    assert shifted.psi > 0.25  # a 30-unit shift is "major drift"
    # empty bins stay finite thanks to smoothing
    import math

    assert math.isfinite(shifted.psi)


def test_bigram_nll_order_sensitive_closed_form(spark):
    """Two docs with the same unigram bag but different word order:
    the scrambled doc must score HIGHER bigram NLL (unigram_nll gives
    them identical scores by construction). Plus a closed-form check
    on a deterministic corpus."""
    from dataprocessingframework_spark.operators import text_analysis as tx

    rows = [
        (0, "a b a b a b"),      # repeated natural order
        (1, "a b a b a b"),
        (2, "a a a b b b"),      # same bag, scrambled transitions
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uni = {r.doc_id: r.mean_nll for r in tx.unigram_nll(docs).collect()}
    assert uni[0] == uni[2]  # unigram is order-blind
    bi = {r.doc_id: r.mean_nll for r in tx.bigram_nll(docs).collect()}
    assert bi[2] > bi[0]     # bigram sees the scrambling
    assert bi[0] == bi[1]    # identical docs identical scores

    # closed form: corpus = one doc "x y", alpha=0.1
    # V=2; c('x y')=1; c('x')=1; nll = -ln(1.1 / 1.2)
    import math

    one = spark.createDataFrame([(0, "x y")], "doc_id long, text string")
    row = tx.bigram_nll(one).collect()[0]
    assert row.n_bigrams == 1
    assert row.mean_nll == round(-math.log(1.1 / 1.2), 4)


def test_quantize_embeddings_error_bound_and_roundtrip(spark):
    """SQ8 error bound: with per-dim min/max scaling the midpoint
    dequantizer's per-dim error is at most half a quantization step,
    so mse <= (range/levels)^2 / 4 per dim. Also: codes within
    [0, levels-1] and degenerate dims code to 0."""
    from dataprocessingframework_spark.operators.similarity import (
        quantize_embeddings,
    )

    rows = [
        (i, [float(i), float(i) * 2.0, 7.0]) for i in range(16)
    ]  # dim 3: ranges 15, 30, 0 (degenerate)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = quantize_embeddings(df, levels=256).collect()
    worst_step = max(15.0, 30.0) / 256
    for r in out:
        assert all(0 <= c <= 255 for c in r.codes)
        assert r.codes[2] == 0            # degenerate dim
        assert r.mse <= (worst_step ** 2) / 4 + 1e-12
    # extremes hit the code range ends
    by_id = {r.vec_id: r.codes for r in out}
    assert by_id[0][0] == 0 and by_id[15][0] == 255


def test_gini_golden_extremes(spark):
    from dataprocessingframework_spark.operators.drift import gini

    equal = spark.createDataFrame([(5.0,)] * 20, "x double")
    assert gini(equal, "x").collect()[0].gini == 0.0
    # one holder of everything: G = (n-1)/n = 0.9 for n=10
    conc = spark.createDataFrame(
        [(0.0,)] * 9 + [(100.0,)], "x double"
    )
    row = gini(conc, "x").collect()[0]
    assert row.n == 10 and row.gini == 0.9
    # hand case [1,2,3,4]: G = (2*(1+4+9+16))/(4*10) - 5/4 = 0.25
    hand = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "x double")
    assert gini(hand, "x").collect()[0].gini == 0.25


def test_scd2_apply_semantics(spark):
    """Close-on-change, append new version, no-op equal change,
    brand-new key, latest-change-wins within a batch."""
    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators.versioning import scd2_apply

    current = spark.createDataFrame(
        [
            (1, "en", "2024-01-01 00:00:00", None, True),
            (2, "de", "2024-01-01 00:00:00", None, True),
            # key 3 already has history: a closed row + an open row
            (3, "fr", "2024-01-01 00:00:00", "2024-02-01 00:00:00", False),
            (3, "es", "2024-02-01 00:00:00", None, True),
        ],
        "k long, lang string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "lang",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
        "is_current",
    )
    changes = spark.createDataFrame(
        [
            (1, "zz", "2024-06-01 00:00:00"),   # real change
            (1, "yy", "2024-03-01 00:00:00"),   # superseded (earlier)
            (2, "de", "2024-06-01 00:00:00"),   # no-op
            (9, "xx", "2024-06-01 00:00:00"),   # new key
        ],
        "k long, lang string, eff_ts string",
    ).withColumn("eff_ts", F.to_timestamp("eff_ts"))
    out = scd2_apply(current, changes, ["k"], ["lang"])
    rows = sorted(
        (r.k, r.lang, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in out.collect()
    )
    assert rows == sorted([
        (1, "en", "2024-01-01 00:00:00", "2024-06-01 00:00:00", False),
        (1, "zz", "2024-06-01 00:00:00", "None", True),
        (2, "de", "2024-01-01 00:00:00", "None", True),
        (3, "fr", "2024-01-01 00:00:00", "2024-02-01 00:00:00", False),
        (3, "es", "2024-02-01 00:00:00", "None", True),
        (9, "xx", "2024-06-01 00:00:00", "None", True),
    ])
    # exactly one open row per key, always
    opens = out.filter("is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in opens)


def test_remove_dup_spans_alignment_and_merge(spark):
    """Stride-1 semantics: a shared passage is caught at ANY offset
    (tiles would miss misaligned copies); overlapping windows merge
    into ONE maximal span; non-duplicated docs pass through intact."""
    from dataprocessingframework_spark.operators.text_analysis import (
        remove_dup_spans,
    )

    shared = "one two three four five six"  # 6 tokens: two 5-windows
    docs = spark.createDataFrame(
        [
            (0, f"aa bb {shared} cc dd"),       # shared at offset 2
            (1, f"xx {shared} yy zz ww"),       # shared at offset 1
            (2, "totally different words here live nothing matches at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_dup_spans(
        docs, n=5, min_docs=2
    ).collect()}
    # both 5-windows of the shared run overlap -> one merged span of 6
    assert out[0].clean_text == "aa bb cc dd"
    assert out[0].n_removed == 6 and out[0].n_spans == 1
    assert out[1].clean_text == "xx yy zz ww"
    assert out[1].n_removed == 6 and out[1].n_spans == 1
    assert out[2].clean_text.startswith("totally different")
    assert out[2].n_removed == 0 and out[2].n_spans == 0
    # every doc present, incl. short/empty
    short = spark.createDataFrame(
        [(0, "a b"), (1, "")], "doc_id long, text string"
    )
    s_out = {r.doc_id: r for r in remove_dup_spans(short, n=5).collect()}
    assert s_out[0].clean_text == "a b" and s_out[1].clean_text == ""


def test_containment_catches_subset_jaccard_misses(spark):
    from dataprocessingframework_spark.operators import dedup

    big = " ".join(f"w{i}" for i in range(60))
    small = " ".join(f"w{i}" for i in range(6))  # subset of big
    docs = spark.createDataFrame(
        [(0, big), (1, small), (2, "entirely unrelated tokens right here")],
        "doc_id long, text string",
    )
    cont = {(r.id_a, r.id_b): r.containment for r in dedup.containment_pairs(
        docs, "text", "doc_id", threshold=0.9
    ).collect()}
    assert cont == {(0, 1): 1.0}  # small fully contained in big
    jac = dedup.jaccard_pairs(docs, "text", "doc_id", threshold=0.9).collect()
    assert jac == []  # symmetric jaccard (0.1) misses it


def test_interval_overlap_join_dedup_and_semantics(spark):
    """A pair sharing MANY bins must appear exactly once (first-
    colliding-bin dedup); non-overlapping same-bin intervals are
    filtered; touching endpoints count as overlap (closed)."""
    from dataprocessingframework_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(1, 0, 10_000), (2, 20_050, 20_060), (3, 30_200, 30_210)],
        "lid long, s_lo long, s_hi long",
    )
    right = spark.createDataFrame(
        [(10, 5_000, 20_000), (20, 20_061, 20_070), (30, 30_210, 30_220)],
        "rid long, o_lo long, o_hi long",
    )
    out = interval_overlap_join(
        left, right, "s_lo", "s_hi", "o_lo", "o_hi", bin_width=100
    ).select("lid", "rid").collect()
    pairs = sorted((r.lid, r.rid) for r in out)
    # (1,10) overlaps across ~50 shared bins -> exactly once
    # (2,20) same bin (200) but disjoint -> excluded
    # (3,30) touch at 30210 (closed) -> included
    assert pairs == [(1, 10), (3, 30)]


def test_cosine_topk_exact_under_ties_and_partitions(spark):
    """Partition-local pre-top-k must keep the global (cos desc,
    nbr_id asc) tiebreak exact even when scores tie at the k-th
    boundary across partitions: duplicate vectors produce exact float
    ties, and the winner must be the smallest nbr_id regardless of
    which partition held it."""
    base = [1.0, 0.0, 0.0, 0.0]
    other = [0.0, 1.0, 0.0, 0.0]
    rows = [(i, base) for i in range(12)] + [(100 + i, other) for i in range(4)]
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>"
    ).repartition(6)
    qdf = spark.createDataFrame(
        [(0, base)], schema="vec_id long, embedding array<float>"
    )
    for impl in ("jvm", "blas"):
        got = sorted(
            (r.nbr_id, r.cos)
            for r in similarity.cosine_topk(df, qdf, k=5, impl=impl).collect()
        )
        # ties on cos=1.0 resolve to the 5 smallest non-self ids
        assert got == [(1, 1.0), (2, 1.0), (3, 1.0), (4, 1.0), (5, 1.0)], (
            impl,
            got,
        )


def test_fan_out_widens_skinny_inputs_only(spark):
    """fan_out must repartition a single-partition input up to the
    session's parallelism and be a strict NO-OP (same plan object) on
    an input that already arrives wide — the 100 TB case."""
    from dataprocessingframework_spark.functions.partitioning import fan_out

    skinny = spark.range(1000).coalesce(1)
    widened = fan_out(skinny)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism
    )
    assert fan_out(wide) is wide


def test_fan_out_skip_below_bytes_and_budget_parser(spark):
    """r15 (minhash A/B): with skip_below_bytes set, a sub-budget
    single-partition input stays serial (the unlock shuffle costs
    more than the narrow work it parallelizes at that size), while a
    tiny threshold still fans out; partition_budget_bytes parses
    Spark's byte-string conf forms."""
    from dataprocessingframework_spark.functions.partitioning import (
        fan_out,
        partition_budget_bytes,
    )

    skinny = spark.range(1000).coalesce(1)
    small_skip = fan_out(skinny, skip_below_bytes=1 << 30)
    assert small_skip is skinny  # tiny input, big threshold: skipped
    forced = fan_out(skinny, skip_below_bytes=1)
    assert (
        forced.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert partition_budget_bytes(spark) > 0
    from unittest.mock import MagicMock

    for raw, want in [
        ("128m", 128 << 20),
        ("134217728b", 134217728),
        ("134217728", 134217728),
        ("2g", 2 << 30),
        ("512K", 512 << 10),
        ("1p", 1 << 50),  # Spark's byteStringAs accepts p/pb too
        # unparseable forms fall back to Spark's default instead of
        # raising — this feeds a skip-heuristic, never correctness
        ("1.5g", 134217728),
        ("weird", 134217728),
    ]:
        fake = MagicMock()
        fake.conf.get.return_value = raw
        assert partition_budget_bytes(fake) == want, raw


def test_hashed_linear_score_bounds_and_determinism(spark):
    """Classifier scores are sigmoid-bounded, empty docs score exactly
    0.5 (sigmoid(0)), and the same text always scores identically —
    the determinism the oracle relies on."""
    from dataprocessingframework_spark.operators.text_analysis import (
        hashed_linear_score,
    )

    df = spark.createDataFrame(
        [
            (0, "spark rows and columns"),
            (1, ""),
            (2, "spark rows and columns"),
        ],
        schema="doc_id long, text string",
    )
    rows = {r.doc_id: r for r in hashed_linear_score(df).collect()}
    assert rows[1].score == 0.5
    assert rows[0].score == rows[2].score
    for r in rows.values():
        assert 0.0 < r.score < 1.0
        assert r.keep == (r.score >= 0.5)


def test_remove_dup_spans_token_conservation(spark, sf_dir):
    """Every input token is either kept or counted removed:
    len(clean tokens) + n_removed == original token count, per doc —
    pins the span-merge arithmetic (overlap merging, off-by-one ends)
    across the whole corpus."""
    from dataprocessingframework_spark.operators.text_analysis import (
        remove_dup_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 200"
    )
    out = remove_dup_spans(docs, "text", "doc_id", n=8, min_docs=2)
    joined = (
        docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
                "n_orig"
            ),
        )
        .join(out, "doc_id")
        .select(
            "doc_id",
            "n_orig",
            (
                F.size(
                    F.filter(F.split("clean_text", " "), lambda x: x != "")
                )
                + F.col("n_removed")
            ).alias("n_accounted"),
        )
    )
    bad = joined.filter(F.col("n_orig") != F.col("n_accounted"))
    assert bad.count() == 0, bad.limit(5).collect()


def test_heavy_operators_handle_empty_input(spark):
    """Empty-corpus robustness: the dedup/text/similarity operators
    must return EMPTY results with their declared schemas — not crash
    on empty aggregations, empty candidate sets, or empty windows.
    (The continuous-ingest paths hit genuinely empty micro-batches.)"""
    docs = spark.createDataFrame([], schema="doc_id long, text string")
    emb = spark.createDataFrame(
        [], schema="vec_id long, embedding array<float>"
    )
    from dataprocessingframework_spark.operators import (
        dedup,
        similarity,
        text_analysis,
    )

    assert dedup.minhash_signatures(docs, "text", "doc_id", 8).count() == 0
    assert (
        dedup.minhash_lsh_candidates(docs, "text", "doc_id", 8, 4).count()
        == 0
    )
    assert dedup.jaccard_pairs(docs, "text", "doc_id").count() == 0
    cand = spark.createDataFrame([], schema="id_a long, id_b long")
    assert (
        dedup.jaccard_pairs(docs, "text", "doc_id", candidates=cand).count()
        == 0
    )
    assert dedup.simhash(docs, "text", "doc_id", bits=8).count() == 0
    out = text_analysis.remove_dup_spans(docs, "text", "doc_id")
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "clean_text", "n_removed", "n_spans"}
    out = text_analysis.remove_dup_passages(docs, "text", "doc_id")
    assert out.count() == 0
    assert text_analysis.hashed_linear_score(docs).count() == 0
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], schema="vec_id long, embedding array<float>"
    )
    assert similarity.cosine_topk(emb, q, k=3).count() == 0
    assert similarity.cosine_near_dup_pairs(emb).count() == 0


def test_hash64_unicode_parity(spark):
    """hash64 must agree with its Python twin on non-ASCII text (the
    md5 is over UTF-8 bytes in both engines — the portability
    guarantee every sketch builds on)."""
    from dataprocessingframework_spark.functions.hashing import (
        hash64,
        hash64_py,
    )

    samples = ["héllo wörld", "日本語のテキスト", "emoji 🙂 test", "кириллица"]
    df = spark.createDataFrame([(s,) for s in samples], schema="s string")
    got = {r.s: r.h for r in df.select("s", hash64(F.col("s")).alias("h")).collect()}
    for s in samples:
        assert got[s] == hash64_py(s), s


def test_jaccard_containment_canonicalize_candidates(spark):
    """ADVICE r5: reversed, duplicated, and self candidate pairs must
    collapse to the canonical id_a < id_b relation — same scores as a
    clean candidate list, no jaccard=1.0 self rows."""
    from dataprocessingframework_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "zeta eta theta iota"),
        ],
        schema="doc_id long, text string",
    )
    clean = spark.createDataFrame(
        [(1, 2), (1, 3)], schema="id_a long, id_b long"
    )
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 1), (2, 2)],
        schema="id_a long, id_b long",
    )
    for fn in (dedup.jaccard_pairs, dedup.containment_pairs):
        a = sorted(
            fn(docs, "text", "doc_id", threshold=0.0, candidates=clean)
            .collect()
        )
        b = sorted(
            fn(docs, "text", "doc_id", threshold=0.0, candidates=messy)
            .collect()
        )
        assert a == b, (fn.__name__, a, b)
        assert all(r.id_a < r.id_b for r in b)
        assert len(b) == 1  # (1,2) scores; (1,3) has empty intersection


def test_cosine_topk_zero_norm_parity(spark):
    """ADVICE r5: zero-norm vectors produced NaN cosines that the jvm
    impl ranked into top-k (desc sort puts NaN first) while blas
    batch-pruning dropped them. Both impls must now EXCLUDE zero-norm
    rows on both sides and agree exactly."""
    rng = np.random.RandomState(11)
    vecs = rng.randn(20, 8).astype(np.float32)
    vecs[7] = 0.0  # degenerate corpus vector
    vecs[1] = 0.0  # degenerate query vector
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        schema="vec_id long, embedding array<float>",
    )
    qdf = df.filter(F.col("vec_id") < 3)
    jvm = similarity.cosine_topk(df, qdf, k=4, impl="jvm").collect()
    blas = similarity.cosine_topk(df, qdf, k=4, impl="blas").collect()
    jset = {(r.q_id, r.nbr_id) for r in jvm}
    assert jset == {(r.q_id, r.nbr_id) for r in blas}
    # the zero vectors appear as neither query nor neighbor
    assert all(n != 7 for _, n in jset)
    assert all(q != 1 for q, _ in jset)
    assert {q for q, _ in jset} == {0, 2}
    assert all(not np.isnan(r.cos) for r in jvm + blas)


@pytest.mark.parametrize(
    "entry",
    [
        "lsh",
        "ivf_jvm",
        "ivf_blas",
        "ivf_index",
        "ivf_index_sq8",
        "ivf_index_pq",
        "ivf_pq_rerank",
    ],
)
def test_lsh_paths_zero_norm_excluded(spark, tmp_path, entry):
    """ADVICE r6: zero-norm rows yield cos = 0/0 — a NaN that sorts
    FIRST under F.desc and displaces real neighbors, or a
    DIVIDE_BY_ZERO error under ANSI mode. Every top-k entry must drop
    them on both sides: 'lsh' covers lsh_topk (one and three tables)
    and lsh_topk_from_index (via lsh_ann_index); the others cover
    ivf_topk (jvm, blas), ivf_topk_from_index on float, SQ8 and PQ
    indexes, and ivf_pq_topk_rerank."""
    rng = np.random.RandomState(23)
    vecs = rng.randn(40, 64).astype(np.float32)
    vecs[7] = 0.0  # degenerate corpus vector
    vecs[1] = 0.0  # degenerate query vector
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        schema="vec_id long, embedding array<float>",
    )
    qdf = df.filter(F.col("vec_id") < 3)
    table = f"t_zero_norm_{entry}"
    path = str(tmp_path / table)
    try:
        if entry == "lsh":
            results = {
                "lsh": similarity.lsh_topk(df, qdf, k=5, dim=64).collect(),
                "mlsh": similarity.lsh_topk(
                    df, qdf, k=5, dim=64, n_tables=3
                ).collect(),
                "idx": similarity.lsh_topk_from_index(
                    similarity.lsh_ann_index(df, dim=64, n_tables=3),
                    qdf,
                    k=5,
                    dim=64,
                    n_tables=3,
                ).collect(),
            }
        elif entry.startswith("ivf_index"):
            sq8 = entry == "ivf_index_sq8"
            if entry == "ivf_index_pq":
                idx, cents, books = similarity.materialize_pq_index(
                    df, table, n_cells=4, iters=0, num_buckets=4, path=path
                )
            else:
                idx, cents = similarity.materialize_ivf_index(
                    df, table, n_cells=4, iters=0, num_buckets=4,
                    path=path, sq8=sq8,
                )
                books = None
            results = {
                entry: similarity.ivf_topk_from_index(
                    idx, cents, qdf, k=5, n_probe=4,
                    sq8_bounds=(
                        similarity.load_sq8_bounds(spark, table)
                        if sq8 else None
                    ),
                    codebooks=books,
                ).collect()
            }
        elif entry == "ivf_pq_rerank":
            idx, cents, books = similarity.materialize_pq_index(
                df, table, n_cells=4, iters=0, num_buckets=4, path=path
            )
            results = {
                entry: similarity.ivf_pq_topk_rerank(
                    idx, cents, books, qdf, df, k=5, shortlist=10,
                    n_probe=4,
                ).collect()
            }
        else:
            results = {
                entry: similarity.ivf_topk(
                    df, qdf, k=5, n_cells=4, n_probe=4,
                    impl=entry.split("_")[1],
                ).collect()
            }
    finally:
        for sfx in ("", "_centroids", "_sq8", "_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{sfx}")
    for name, rows in results.items():
        pairs = {(r.q_id, r.nbr_id) for r in rows}
        assert pairs, name
        assert all(n != 7 for _, n in pairs), (name, pairs)
        assert all(q != 1 for q, _ in pairs), (name, pairs)
        assert all(not np.isnan(r.cos) for r in rows), name
    if entry == "lsh":
        # from_index must still equal the inline multi-table path
        assert {(r.q_id, r.nbr_id) for r in results["idx"]} == {
            (r.q_id, r.nbr_id) for r in results["mlsh"]
        }
        # zero-norm rows never enter the materializable index at all
        idx = similarity.lsh_ann_index(df, dim=64, n_tables=3)
        assert idx.filter(F.col("vec_id") == 7).count() == 0


def test_lsh_index_probe_defends_against_stale_index(spark):
    """ADVICE r7: an index table materialized BEFORE the zero-norm
    exclusion landed in lsh_ann_index still contains vnorm=0 rows;
    their NaN cosines sort first under F.desc and would displace real
    neighbors. lsh_topk_from_index must filter vnorm > 0 on the index
    side so pre-fix persisted indexes stay safe to probe."""
    rng = np.random.RandomState(31)
    vecs = rng.randn(40, 64).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        schema="vec_id long, embedding array<float>",
    )
    qdf = df.filter(F.col("vec_id") < 3)
    clean_idx = similarity.lsh_ann_index(df, dim=64, n_tables=3)
    # simulate the legacy on-disk index: one zero-norm row planted in
    # EVERY occupied (tbl, bucket) so it collides with every probe
    zero = [float(0)] * 64
    stale_rows = (
        clean_idx.select("tbl", "bucket")
        .distinct()
        .select(
            "tbl",
            "bucket",
            F.lit(999).cast("long").alias("vec_id"),
            F.array(*[F.lit(x) for x in zero])
            .cast("array<float>")
            .alias("embedding"),
            F.lit(0.0).alias("vnorm"),
        )
    )
    stale_idx = clean_idx.unionByName(stale_rows)
    rows = similarity.lsh_topk_from_index(
        stale_idx, qdf, k=5, dim=64, n_tables=3
    ).collect()
    assert rows
    assert all(r.nbr_id != 999 for r in rows)
    assert all(not np.isnan(r.cos) for r in rows)
    # and the probe over the stale index equals the clean-index probe
    clean_rows = similarity.lsh_topk_from_index(
        clean_idx, qdf, k=5, dim=64, n_tables=3
    ).collect()
    assert {(r.q_id, r.nbr_id) for r in rows} == {
        (r.q_id, r.nbr_id) for r in clean_rows
    }


def test_cc_star_raises_on_unconverged(spark):
    """ADVICE r6: label extraction assumes the edge set reached the
    disjoint-star fixed point; exhausting max_iterations without the
    digest fixed point must raise, not emit inconsistent clusters."""
    import pytest as _pytest

    # a 12-node path graph needs >0 contraction rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], schema="id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="fixed point"):
        dedup.connected_components(edges, max_iterations=0)
    # and with enough rounds the same input converges fine
    labels = dedup.connected_components(edges, max_iterations=25)
    assert labels.select("cluster").distinct().count() == 1


def test_remove_dup_spans_matches_bruteforce_random(spark):
    """Pure-Python brute force of the ExactSubstr-at-token-granularity
    semantics on small pseudo-random corpora with planted shared
    phrases — independent of the Spark implementation's gram-hash /
    window / reassembly machinery."""
    import random

    from dataprocessingframework_spark.operators.text_analysis import (
        remove_dup_spans,
    )

    n = 4
    for seed in range(4):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        shared = [rng.choice(vocab) for _ in range(6)]
        docs = []
        for d in range(6):
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 14))]
            if d % 2 == 0:  # plant the shared phrase at a random spot
                pos = rng.randint(0, len(toks))
                toks = toks[:pos] + shared + toks[pos:]
            docs.append((d, " ".join(toks)))

        # brute force: every n-gram occurrence -> doc frequency ->
        # merge overlapping/adjacent hit windows -> cut tokens
        occ = {}
        for d, text in docs:
            toks = [t for t in text.split(" ") if t]
            for i in range(len(toks) - n + 1):
                occ.setdefault(tuple(toks[i:i + n]), set()).add(d)
        dup = {g for g, ds in occ.items() if len(ds) >= 2}
        expect = {}
        for d, text in docs:
            toks = [t for t in text.split(" ") if t]
            hits = [
                (i, i + n - 1)
                for i in range(len(toks) - n + 1)
                if tuple(toks[i:i + n]) in dup
            ]
            spans = []
            for s, e in hits:
                if spans and s <= spans[-1][1] + 1:
                    spans[-1] = (spans[-1][0], max(spans[-1][1], e))
                else:
                    spans.append((s, e))
            cut = {
                i for s, e in spans for i in range(s, e + 1)
            }
            kept = [t for i, t in enumerate(toks) if i not in cut]
            expect[d] = (
                " ".join(kept),
                sum(e - s + 1 for s, e in spans),
                len(spans),
            )

        df = spark.createDataFrame(docs, schema="doc_id long, text string")
        got = {
            r.doc_id: (r.clean_text, r.n_removed, r.n_spans)
            for r in remove_dup_spans(df, n=n).collect()
        }
        assert got == expect, (seed, got, expect)


def test_lsh_multi_candidates_superset_of_single(spark):
    """Table 0 of the multi path uses the single-table planes, so the
    multi-table RESULT SET per query can only gain neighbors that the
    single-table path missed — every single-table neighbor must
    reappear unless displaced by a strictly better candidate. Pin
    the structural claim: multi with L=1 equals single-table exactly,
    and L=3's per-query neighbor sets contain at least as many hits
    at equal k when k exceeds the single-table candidate pool."""
    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        schema="vec_id long, embedding array<float>",
    )
    qs = df.filter(F.col("vec_id") < 4)
    single = similarity.lsh_topk(
        df, qs, k=40, dim=8, n_planes=4, broadcast_queries=True
    ).collect()
    multi1 = similarity.lsh_topk(
        df, qs, k=40, dim=8, n_planes=4, n_tables=1,
        broadcast_queries=True,
    ).collect()
    assert {(r.q_id, r.nbr_id, r.cos) for r in single} == {
        (r.q_id, r.nbr_id, r.cos) for r in multi1
    }
    multi3 = similarity.lsh_topk(
        df, qs, k=40, dim=8, n_planes=4, n_tables=3,
        broadcast_queries=True,
    ).collect()
    s1 = {(r.q_id, r.nbr_id) for r in single}
    s3 = {(r.q_id, r.nbr_id) for r in multi3}
    # k=40 >= corpus, so no displacement: strict candidate superset
    assert s1 <= s3
    assert len(s3) > len(s1)


def test_incremental_semantic_dedup_gate(spark):
    """r8: the embedding twin of incremental_near_dup — a batch row
    is dropped iff some corpus vector in one of its n_probe nearest
    IVF cells reaches the cosine threshold. Planted duplicate
    dropped; orthogonal newcomer kept; zero-norm newcomer kept
    (cosine undefined -> never matches); within-batch dups kept."""
    rng = np.random.RandomState(43)
    corpus_vecs = rng.randn(30, 16).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in corpus_vecs[i]]) for i in range(30)],
        schema="vec_id long, embedding array<float>",
    )
    cents = [[float(x) for x in corpus_vecs[i]] for i in range(4)]
    dup = [float(x) for x in corpus_vecs[7] * 2.0]  # cos == 1 vs row 7
    ortho = [float(x) for x in rng.randn(16)]
    zero = [0.0] * 16
    batch = spark.createDataFrame(
        [(100, dup), (101, ortho), (102, zero), (103, dup)],
        schema="vec_id long, embedding array<float>",
    )
    kept = similarity.incremental_semantic_dedup(
        batch, corpus, cents, threshold=0.99, n_probe=4
    )
    ids = {r.vec_id for r in kept.collect()}
    # both copies of the duplicate are dropped vs the CORPUS (each is
    # judged against the corpus independently — the incremental
    # contract ignores within-batch relations)
    assert ids == {101, 102}
    # with nothing similar in the corpus, everything survives
    kept_all = similarity.incremental_semantic_dedup(
        spark.createDataFrame(
            [(200, ortho)], schema="vec_id long, embedding array<float>"
        ),
        corpus,
        cents,
        threshold=0.999999,
        n_probe=4,
    )
    assert {r.vec_id for r in kept_all.collect()} == {200}


def test_kcenter_select_geometry(spark):
    """r8: greedy farthest-point must (a) pick one representative per
    well-separated cluster before any second member, (b) report a
    non-increasing coverage radius after the warm-up pick, (c) stop
    early when vectors run out, and (d) never pick a zero-norm row."""
    import numpy as np

    rng = np.random.RandomState(9)
    centers = np.eye(3, 16) * 10  # 3 orthogonal, far-apart clusters
    rows = []
    for i in range(30):
        c = i % 3
        rows.append((i, [float(x) for x in centers[c] + rng.randn(16) * 0.05]))
    rows.append((99, [0.0] * 16))  # zero-norm: must never be selected
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>"
    )
    sel = similarity.kcenter_select(df, k=3).collect()
    assert [r.sel_rank for r in sel] == [0, 1, 2]
    assert {r.vec_id % 3 for r in sel if r.vec_id != 99} == {0, 1, 2}
    assert all(r.vec_id != 99 for r in sel)
    # distances after the seed are real selection radii in (0, 2]
    dists = [r.dist for r in sel]
    assert dists[0] == 2.0 and all(0 < d <= 2.0 for d in dists[1:])
    assert dists[1] >= dists[2] > 0.5  # cross-cluster picks are far

    # k larger than the usable corpus truncates instead of failing
    tiny = spark.createDataFrame(
        rows[:2], schema="vec_id long, embedding array<float>"
    )
    assert similarity.kcenter_select(tiny, k=10).count() == 2


def test_kcenter_batched_full_pool_matches_exact(spark):
    """r10: batch_m>1 with a pool that covers the whole corpus IS
    exact greedy — the pooled driver-side selection sees every
    candidate, so the trajectory must equal the batch_m=1 path
    (ids exactly; dists to blas-vs-fold tolerance). Also exercises
    the batched checkpoint cadence (checkpoint_every=2)."""
    import numpy as np

    rng = np.random.RandomState(41)
    df = spark.createDataFrame(
        [
            (int(i * 7 + 3), [float(x) for x in rng.randn(12)])
            for i in range(40)
        ],
        schema="vec_id long, embedding array<float>",
    )
    exact = [
        (r.sel_rank, r.vec_id, r.dist)
        for r in similarity.kcenter_select(df, k=8)
        .orderBy("sel_rank")
        .collect()
    ]
    stats: list = []
    pooled = [
        (r.sel_rank, r.vec_id, r.dist)
        for r in similarity.kcenter_select(
            df, k=8, batch_m=4, pool_factor=20, checkpoint_every=2,
            round_stats=stats,
        )
        .orderBy("sel_rank")
        .collect()
    ]
    assert [(a, b) for a, b, _ in pooled] == [(a, b) for a, b, _ in exact]
    for (_, _, gd), (_, _, wd) in zip(pooled, exact):
        assert abs(gd - wd) < 2e-4, (pooled, exact)
    # r12: a corpus-covering pool must certify itself — one ledger
    # entry per round (7 picks / batch_m=4 -> 2 rounds), no misses
    assert [e["picks"] for e in stats] == [4, 3]
    assert all(not e["pool_miss"] for e in stats), stats


def test_kcenter_batched_spreads_within_round(spark):
    """r10: the within-pool distance update must stop a round from
    picking batch_m mutual near-duplicates — the failure mode of
    naive take-top-m. Three tight clusters with C0 at +e0, C1 at
    -e0 (distance 2 apart), C2 at e1 (distance 1 to both): whatever
    cluster seeds, the two picks of the single batch_m=2 round must
    land in the two OTHER clusters — naive top-2 by initial
    min-distance would take both from the single farthest cluster."""
    import numpy as np

    rng = np.random.RandomState(17)
    dirs = np.zeros((3, 16))
    dirs[0, 0], dirs[1, 0], dirs[2, 1] = 10.0, -10.0, 10.0
    rows = []
    for i in range(30):
        c = i % 3
        rows.append(
            (i, [float(x) for x in dirs[c] + rng.randn(16) * 0.01])
        )
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>"
    )
    sel = similarity.kcenter_select(
        df, k=3, batch_m=2, pool_factor=6
    ).collect()
    assert len(sel) == 3
    assert {r.vec_id % 3 for r in sel} == {0, 1, 2}, sel


def test_kcenter_batched_round_stats_witness_pool_miss(spark):
    """r12 (VERDICT r11 item 6): the round_stats hook must WITNESS a
    pool miss. Geometry: two near-duplicates opposite the seed (both
    at cosine distance ~2) and one moderately-far point (distance 1).
    With pool_factor=1 the round-1 pool holds only the two near-dups;
    after the first pick the second collapses to ~0 but gets picked
    anyway (the true farthest point sits OUTSIDE the pool) — the
    closing ledger entry must flag pool_miss with next_global_max >>
    min_selected_dist. pool_factor=4 covers the corpus: exact greedy,
    all rounds certified miss-free, and the previously-missed point
    is selected."""
    from dataprocessingframework_spark.functions.hashing import hash64

    ids = [1, 2, 3, 4]
    base = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    seed_id = (
        base.withColumn("h", hash64(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .first()
        .vec_id
    )
    a_id, b_id, c_id = [i for i in ids if i != seed_id]

    def vec(head):
        v = [0.0] * 16
        for j, x in enumerate(head):
            v[j] = x
        return v

    df = spark.createDataFrame(
        [
            (seed_id, vec([10.0])),
            (a_id, vec([-10.0, 0.01])),   # farthest from seed
            (b_id, vec([-10.0, -0.01])),  # near-dup of a_id
            (c_id, vec([0.0, 10.0])),     # true 2nd-farthest pick
        ],
        schema="vec_id long, embedding array<double>",
    )
    stats: list = []
    sel = similarity.kcenter_select(
        df, k=3, batch_m=2, pool_factor=1, round_stats=stats
    ).collect()
    assert len(sel) == 3 and len(stats) == 1
    e = stats[0]
    assert e["picks"] == 2 and e["pool_miss"] is True
    assert e["next_global_max"] > e["min_selected_dist"] + 0.5
    assert c_id not in {r.vec_id for r in sel}  # the miss, concretely

    stats2: list = []
    sel2 = similarity.kcenter_select(
        df, k=3, batch_m=2, pool_factor=4, round_stats=stats2
    ).collect()
    assert stats2 and all(not e["pool_miss"] for e in stats2)
    assert c_id in {r.vec_id for r in sel2}


def test_ivf_cell_stats_planted_skew_and_empty_cells(spark):
    """r11: ivf_cell_stats must report the exact planted shape — a
    hot cell, empty cells counted against the DECLARED n_cells (the
    sizing mistake the report exists to catch: a quantizer trained
    with n_cells=8 where 3 cells went unused probes 5 fat cells, not
    8 thin ones), top_share over rows, imbalance over the used-cell
    average."""
    rows = (
        [(i, 0) for i in range(60)]        # hot cell: 60 rows
        + [(100 + i, 1) for i in range(20)]
        + [(200 + i, 3) for i in range(20)]
    )
    df = spark.createDataFrame(rows, schema="vec_id long, cell int")
    got = similarity.ivf_cell_stats(df, n_cells=8).collect()[0]
    assert got.n_rows == 100
    assert got.n_used == 3
    assert got.n_empty == 5
    assert got.min_cell == 20 and got.max_cell == 60
    assert abs(got.avg_cell - 100 / 3) < 1e-3
    assert got.top_share == 0.6
    assert got.imbalance == 1.8  # 60 / (100/3)


def test_cosine_near_dup_pairs_blas_parity_and_zero_norm(spark):
    """r8: the bucketed near-dup pair listing gains a blas impl (one
    cogrouped matmul per LSH bucket — the incremental_semantic_dedup
    scoring shape). Must equal the JVM fold exactly away from last-ulp
    boundaries, and zero-norm rows must pair with NOTHING on either
    impl (NaN cosine sorts above every number in Spark comparisons —
    without the filter an all-zero embedding 'near-duplicates' its
    whole bucket)."""
    rng = np.random.RandomState(77)
    vecs = rng.randn(300, 64).astype(np.float32)
    for j in range(0, 300, 7):
        vecs[j] = vecs[(j * 3) % 300] * 1.3
    vecs[5] = 0.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        schema="vec_id long, embedding array<float>",
    )
    jvm = sorted(
        (r.id_a, r.id_b, r.cos)
        for r in similarity.cosine_near_dup_pairs(
            df, threshold=0.95
        ).collect()
    )
    blas = sorted(
        (r.id_a, r.id_b, r.cos)
        for r in similarity.cosine_near_dup_pairs(
            df, threshold=0.95, impl="blas"
        ).collect()
    )
    assert jvm == blas and jvm
    assert all(5 not in (a, b) for a, b, _ in jvm)


def test_semantic_dedup_ignores_same_id_matches(spark):
    """r8: a batch row whose OWN id already sits in the corpus (the
    half-applied-append replay artifact) must not be dropped by its
    own copy — same-id matches never count, on either impl."""
    rng = np.random.RandomState(51)
    vecs = rng.randn(20, 16).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        schema="vec_id long, embedding array<float>",
    )
    cents = [[float(x) for x in vecs[i]] for i in range(4)]
    # batch = rows 3 and 7 VERBATIM (same ids, same vectors)
    batch = corpus.filter(F.col("vec_id").isin([3, 7]))
    for impl in ("jvm", "blas"):
        kept = similarity.incremental_semantic_dedup(
            batch, corpus, cents, threshold=0.999, n_probe=4, impl=impl
        )
        assert {r.vec_id for r in kept.collect()} == {3, 7}, impl


def test_balance_centroids_splits_hot_cells_and_stalls_loudly(spark, sf_dir):
    """r12: on the real embeddings table a deliberately coarse
    quantizer (n_cells=4, cap N/8) leaves multiple hot catch-all
    cells; balance_centroids must drive max_cell under the cap
    within the round budget with a monotone ledger, and the final
    assignment over the returned list must respect the cap. A cell
    of IDENTICAL vectors is unsplittable under argmax-dot (both
    seeds coincide; any linear separator through the origin leaves a
    tight same-direction cluster on one side) and must stall VISIBLY
    via the ledger rather than loop."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = df.count()
    cap = (n + 7) // 8
    cents = similarity._ivf_centroids(df, "vec_id", "embedding", 4, iters=0)
    stats: list = []
    bal = similarity.balance_centroids(
        df, cents, max_cell_rows=cap, rounds=6, round_stats=stats
    )
    assert len(bal) > 4  # splits happened
    sizes = (
        similarity.assign_cells(
            df.selectExpr("vec_id as bid", "embedding as bv"),
            bal, "bid", "bv",
        )
        .groupBy("cell")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in sizes) == n
    assert max(r["count"] for r in sizes) <= cap
    assert stats[0]["max_cell"] > cap  # started hot
    assert stats[-1]["hot_cells"] == 0  # converged, early-exited
    # ledger is monotone in the hot mass it tracks
    maxes = [s["max_cell"] for s in stats]
    assert all(a >= b for a, b in zip(maxes, maxes[1:]))

    # unsplittable pathology: every vector identical -> the hash
    # pair is a no-op, the per-cell progress tracker escalates to a
    # REFLECTION try, the reflection has no sideways component, and
    # the cell is marked unsplittable — the loop exits after 2
    # rounds instead of burning the full budget
    same = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(50)],
        schema="vec_id long, embedding array<double>",
    )
    scents = similarity._ivf_centroids(same, "vec_id", "embedding", 1, iters=0)
    sstats: list = []
    sbal = similarity.balance_centroids(
        same, scents, max_cell_rows=10, rounds=5, round_stats=sstats
    )
    assert all(s["max_cell"] == 50 for s in sstats)  # never improves
    assert len(sstats) == 2  # early exit, not the 5-round budget
    assert sstats[1]["reflected"] == 1  # escalation attempted
    # in-loop marks are ledger-visible: 'provably unsplittable'
    # reads differently from 'round budget exhausted'
    assert sstats[1]["unsplittable"] == 1
    assert len(sbal) >= 1


def test_update_hot_lineage_retry_after_growth_is_live():
    """ADVICE r12: a cell marked unsplittable that later gains >5%
    new mass must get a FULL fresh escalation cycle (hash-pair then
    mean-sideways), not be instantly re-marked by its stale lineage
    (whose cons >= 2 plus growth trivially satisfying n >= 0.95*ref
    would re-mark it in the same pass). Pure driver arithmetic — no
    Spark session needed."""
    cap = 10
    # round A: cell 0 hot at 100 — fresh attempt
    hs, stuck = similarity.update_hot_lineage({0: 100}, cap, {}, {})
    assert hs == {0: (100, 0)} and stuck == set()
    # round B: no progress (kept >=95%) — escalate to mean-sideways
    uns: dict = {}
    hs, stuck = similarity.update_hot_lineage({0: 99}, cap, hs, uns)
    assert stuck == {0} and uns == {}
    # round C: still no progress — marked unsplittable
    hs, stuck = similarity.update_hot_lineage({0: 98}, cap, hs, uns)
    assert uns == {0: 98} and stuck == set()
    # round D: growth <=5% — mark holds (no thrash)
    hs, stuck = similarity.update_hot_lineage({0: 101}, cap, hs, uns)
    assert 0 in uns and stuck == set()
    # round E: >5% new mass — mark cleared AND lineage reset: the
    # cell is a fresh attempt (cons=0, not stuck, not re-marked)
    hs, stuck = similarity.update_hot_lineage({0: 150}, cap, hs, uns)
    assert uns == {} and stuck == set() and hs[0] == (150, 0)
    # rounds F/G: the retry gets the full cycle again — stuck once,
    # then unsplittable on the second consecutive no-progress round
    hs, stuck = similarity.update_hot_lineage({0: 149}, cap, hs, uns)
    assert stuck == {0} and uns == {}
    hs, stuck = similarity.update_hot_lineage({0: 148}, cap, hs, uns)
    assert uns == {0: 148}
    # a cell that drops under the cap leaves the state entirely
    hs, stuck = similarity.update_hot_lineage({0: 5}, cap, hs, {})
    assert hs == {} and stuck == set()
