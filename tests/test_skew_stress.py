"""Skew stress harness (VERDICT r5 item 6).

The scale guards — LSH ``max_bucket_size`` star-collapse, blocked
pair generation, salted joins — are exercised elsewhere on benign
sf0.001 data. These tests synthesize DELIBERATELY pathological
inputs (a near-dup family thousands of members strong, a join key
holding 20% of the fact rows) and assert the bounded-work properties
directly: candidate counts stay linear, no single task owns the hot
bucket's quadratic pair emission, no single reducer owns the hot
key. Each assertion fails if its guard is removed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataprocessingframework_spark.operators import dedup
from dataprocessingframework_spark.operators.joins import salted_join


def _family_docs(spark, family: int, distinct: int):
    """``family`` identical boilerplate docs + ``distinct`` unique
    docs (distinct enough that they share no 5-word shingle)."""
    fam = spark.range(family).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate footer text repeated on every page"
              ).alias("text"),
    )
    uniq = spark.range(family, family + distinct).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{i}_"), F.col("id").cast("string"))
                for i in range(8)
            ],
        ).alias("text"),
    )
    return fam.unionByName(uniq)


def test_star_collapse_bounds_hot_family(spark):
    """A 5000-member identical-text family forms one bucket per band;
    the clique is 12.5M pairs. With the cap, each band's bucket
    star-collapses to family-1 pairs and first-colliding-band
    emission keeps only band 0's copy — candidate output must stay
    LINEAR in the family size. Removing max_bucket_size (or the
    star-collapse branch) explodes this to the 12.5M clique and the
    bound fails."""
    fam = 5000
    docs = _family_docs(spark, fam, 200)
    cand = dedup.minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=8, bands=4,
        max_bucket_size=100,
    )
    n = cand.count()
    # star: fam-1 pairs (+ nothing from the unique docs); generous
    # headroom for band-boundary effects, but far below quadratic
    assert fam - 1 <= n <= 5 * fam, n
    # transitive closure must still recover the FULL family as one
    # cluster — the collapse trades pair volume, not connectivity
    cc = dedup.connected_components(cand)
    top = (
        cc.groupBy("cluster").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] == fam


def test_blocked_pair_gen_no_hot_task(spark):
    """With the cap DISABLED, a 4000-member bucket emits its 8M-pair
    clique — but the blocked generator must spread the emission over
    many tasks: chunk the sorted ids, repartition the (chunk_i,
    chunk_j) rows, explode per block. No output partition may own
    more than half the pairs (removing the pre-explode repartition
    puts the whole bucket's emission in ONE task and this fails)."""
    fam = 4000
    docs = _family_docs(spark, fam, 50)
    cand = dedup.minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=8, bands=4,
        max_bucket_size=None,
    )
    per_part = (
        cand.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(r["n"] for r in per_part)
    biggest = max(r["n"] for r in per_part)
    assert total == fam * (fam - 1) // 2, total
    assert len(per_part) >= 2
    assert biggest <= 0.5 * total, (biggest, total)


@pytest.fixture()
def no_aqe(spark):
    """AQE's runtime skew-split would mask a broken salt, and a
    broadcast join would dodge the key shuffle entirely (salting
    exists for the joins that CANNOT broadcast: big dims, streaming);
    pin the static shuffled-join behavior."""
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_salted_join_spreads_hot_key(no_aqe):
    """Fact table with key 0 at 20% frequency (10k of 50k rows)
    joining a 100-key dim: after salting, no reducer may hold the
    whole hot key. An unsalted hash join puts all 10k hot rows in
    one partition; salt=16 must cut the max well below that. Result
    set must equal the plain join (salt is invisible in values)."""
    spark = no_aqe
    fact = spark.range(50_000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .otherwise((F.col("id") % 99) + 1)
        .alias("k"),
    )
    dim = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("payload")
    )
    hot = fact.filter(F.col("k") == 0).count()
    assert hot == 10_000

    salted = salted_join(fact, dim, on="k", salt=16)

    def hot_per_partition(joined):
        return (
            joined.withColumn("p", F.spark_partition_id())
            .filter(F.col("k") == 0)
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    spread = hot_per_partition(salted)
    assert sum(r["n"] for r in spread) == hot
    # the hot key must be SPLIT across reducers: no partition holds
    # more than half of it (unsalted: ONE partition holds all 10k,
    # which is what the plain-join control below demonstrates)
    assert len(spread) >= 2
    assert max(r["n"] for r in spread) <= 0.5 * hot, spread

    control = hot_per_partition(fact.join(dim, on="k"))
    assert max(r["n"] for r in control) == hot, control

    plain = fact.join(dim, on="k")
    assert salted.count() == plain.count()
    assert (
        salted.exceptAll(plain).count() == 0
        and plain.exceptAll(salted).count() == 0
    )


# ---------------------------------------------------------------- r9:
# mega-cells and hot buckets (VERDICT r8 "What's wrong" 1):
# applyInPandas materializes a whole cogroup group in one Python
# worker, so a hot LSH bucket is an executor OOM unless the group
# itself is bounded; the semantic gate avoids groups altogether (one
# corpus scan against the collected batch). These tests plant a
# cell/bucket holding >=80% of the corpus and assert (a) the bounded
# shape — salted sub-blocks, or one scan with no exchange, (b)
# gate/pair results are IDENTICAL to the jvm path — the bound must be
# invisible in values.


def _gate_frames(spark, n_mega=1800, n_side=200, n_batch_dup=40,
                 n_batch_fresh=40):
    from pyspark.sql import Row

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    corpus = [
        Row(vec_id=i, embedding=[10.0 + 0.001 * i, 0.01 * (i % 7), 0.0, 0.0])
        for i in range(n_mega)
    ] + [
        Row(vec_id=n_mega + i,
            embedding=[0.01 * (i % 5), 8.0 + 0.002 * i, 0.0, 0.0])
        for i in range(n_side)
    ]
    # dups: rescaled copies of mega-cell corpus rows (cos = ~1);
    # fresh: orthogonal direction (cos ~ 0 vs everything)
    batch = [
        Row(vec_id=100_000 + i,
            embedding=[c * 2.0 for c in corpus[i * 3].embedding])
        for i in range(n_batch_dup)
    ] + [
        Row(vec_id=200_000 + i, embedding=[0.0, 0.0, 5.0 + 0.01 * i, 1.0])
        for i in range(n_batch_fresh)
    ]
    return (
        spark.createDataFrame(corpus),
        spark.createDataFrame(batch),
        cents,
    )


def _subtree(plan: str, marker: str) -> list[str]:
    """The lines of the first plan node containing ``marker`` and of
    every node below it (deeper-indented lines that follow)."""
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if marker in ln)
    depth = len(lines[at]) - len(lines[at].lstrip(" :+-*"))
    out = [lines[at]]
    for ln in lines[at + 1 :]:
        if len(ln) - len(ln.lstrip(" :+-*")) <= depth:
            break
        out.append(ln)
    return out


def test_semantic_gate_blas_one_corpus_scan(spark, tmp_path):
    """The blas float gate on a file-backed mega-cell corpus is ONE
    narrow corpus scan against the collected batch: the executed plan
    reads the corpus relation exactly once, has no cogroup, and no
    Exchange between that scan and the scoring MapInPandas — per-task
    memory is one Arrow chunk, not one (mega-)cell."""
    from dataprocessingframework_spark.operators import similarity

    corpus, batch, cents = _gate_frames(spark)
    path = str(tmp_path / "mega_corpus")
    corpus.write.parquet(path)
    out = similarity.incremental_semantic_dedup(
        batch, spark.read.parquet(path), cents, threshold=0.95,
        n_probe=2, impl="blas",
    )
    assert {r.vec_id for r in out.collect()} == {200_000 + i for i in range(40)}
    # the adaptive plan as it ran (its final plan, not the initial one)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1, plan  # the batch is an in-memory frame
    scored = _subtree(plan, "MapInPandas")
    assert any("FileScan parquet" in ln for ln in scored), plan
    assert not any("Exchange" in ln for ln in scored), plan


def test_semantic_gate_mega_cell_capped_parity(spark):
    """End-to-end on the mega-cell corpus: the blas gate (chunked
    per-cell matmuls) must keep EXACTLY the same rows as the jvm fold
    — planted: every rescaled-dup batch row dropped, every orthogonal
    fresh row kept."""
    from dataprocessingframework_spark.operators import similarity

    corpus, batch, cents = _gate_frames(spark)
    expect_kept = {200_000 + i for i in range(40)}

    def kept(**kw):
        out = similarity.incremental_semantic_dedup(
            batch, corpus, cents, threshold=0.95, n_probe=2, **kw
        )
        return {r.vec_id for r in out.select("vec_id").collect()}

    capped = kept(impl="blas")
    assert capped == expect_kept
    assert capped == kept(impl="jvm")


def test_near_dup_pairs_mega_bucket_capped_parity(spark):
    """A 150-member same-direction family lands in ONE LSH bucket
    (11k-pair clique). max_bucket_rows=40 splits it into 4x4 salted
    sub-block pairs; output must equal the jvm path exactly (values
    AND multiplicity — each ordered pair meets in exactly one group)
    and each sub-block must stay bounded."""
    from pyspark.sql import Row
    from dataprocessingframework_spark.operators import similarity
    from dataprocessingframework_spark.operators.similarity import (
        _salt_self_join_blocks,
    )

    fam = 150
    df = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[3.0 + 0.001 * i, 1.0, 0.2, 0.1])
            for i in range(fam)
        ]
    )

    def pairs(**kw):
        return sorted(
            (r.id_a, r.id_b, r.cos)
            for r in similarity.cosine_near_dup_pairs(
                df, threshold=0.95, n_planes=4, dim=4, **kw
            ).collect()
        )

    jvm = pairs(impl="jvm")
    capped = pairs(impl="blas", max_bucket_rows=40)
    assert capped == jvm and len(jvm) == fam * (fam - 1) // 2
    # no pair may be emitted twice (exactly-once block coverage)
    assert len({(a, b) for a, b, _ in capped}) == len(capped)

    # structural bound: per (bucket, sa, sb) group each side <= ~2x cap
    a = df.select(
        F.col("vec_id").alias("id_a"), F.lit(0).alias("bucket")
    )
    b = df.select(
        F.col("vec_id").alias("id_b"), F.lit(0).alias("bucket")
    )
    a_g, b_g, keys = _salt_self_join_blocks(a, b, "bucket", 40)
    assert keys == ["bucket", "sa", "sb"]
    amax = (
        a_g.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n")).collect()[0][0]
    )
    bmax = (
        b_g.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n")).collect()[0][0]
    )
    assert amax <= 80 and bmax <= 80, (amax, bmax)
    # coverage: every ordered pair meets in exactly one group
    met = (
        a_g.join(b_g, on=keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert met.filter(F.col("n") != 1).count() == 0
    assert met.count() == fam * (fam - 1) // 2
