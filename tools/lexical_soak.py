"""1M-row lexical-dedup soak (VERDICT r12 item 7): the 100 TB
extrapolation argument for the minhash → jaccard → connected-
components tier, twin of tools/balance_soak.py's quantizer story.

Synthetic corpus with PLANTED duplicate families so every number has
a ground truth:

  * ``--rows N`` documents of ~50 words from a 50k-word vocabulary;
  * ~4% of rows form near-dup families with zipf-ish sizes (member =
    base doc with 3/50 words replaced → token Jaccard ≈ 0.88);
  * family 0 is a DEGENERATE boilerplate clique (5,000 byte-identical
    docs) sized to trip ``max_bucket_size=1000`` — the star-collapse
    guard must fire, and the cluster must still come out whole;
  * everything else is a singleton.

Measured, per VERDICT r12 item 7's asks:
  * per-stage wall time (signatures+banding+pairgen, jaccard verify,
    connected components);
  * CC ROUND COUNT + per-round edge trajectory (round_stats hook);
  * PEAK SHUFFLE per stage window (max single-stage shuffle write +
    window totals, from the Spark UI REST API);
  * the bucket guard's TRIGGER RATE (bucket_stats hook: oversized
    buckets / members, and the s(s-1)/2 pair volume the guard
    refused vs the candidates actually emitted);
  * correctness against the plant: cluster count vs planted family
    count, max cluster vs the boilerplate clique, and zero
    cross-family merges.

Results recorded in PLANS.md ("r13 lexical soak"). Not a CI test.

Usage:
  python tools/lexical_soak.py                # 1,000,000 rows
  python tools/lexical_soak.py --rows 100000  # pilot
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dataprocessingframework_spark.operators.dedup import (  # noqa: E402
    connected_components,
    jaccard_pairs,
    minhash_lsh_candidates,
)
from dataprocessingframework_spark.session import get_spark  # noqa: E402

VOCAB = 50_000
DOC_WORDS = 50
PERTURB = 3
BOILERPLATE = 5_000
CAP = 1_000


def plan_families(rows: int, seed: int = 13):
    """Deterministic plant: fam_of[id] (-1 = singleton), fam sizes."""
    rng = np.random.RandomState(seed)
    fam_of = np.full(rows, -1, dtype=np.int64)
    member_of = np.zeros(rows, dtype=np.int32)
    sizes = [min(BOILERPLATE, rows // 20)]
    budget = int(rows * 0.04)  # near-dup families on top of the clique
    while budget > 2:
        s = min(2 + int(rng.zipf(2.0)), 64, budget)
        if s < 2:
            s = 2
        sizes.append(s)
        budget -= s
    # scatter the family members uniformly over the id space so no
    # partition is "the duplicate partition"
    ids = rng.permutation(rows)
    pos = 0
    for f, s in enumerate(sizes):
        fam_of[ids[pos : pos + s]] = f
        member_of[ids[pos : pos + s]] = np.arange(s)
        pos += s
    return fam_of, member_of, len(sizes)


def build_corpus(spark, rows: int, fam_of, member_of):
    fam_b = spark.sparkContext.broadcast(fam_of)
    mem_b = spark.sparkContext.broadcast(member_of)

    def gen(pdfs):
        import pandas as pd

        fam = fam_b.value
        mem = mem_b.value
        for pdf in pdfs:
            ids = pdf["id"].values
            texts = []
            for i in ids:
                f = fam[i]
                if f >= 0:
                    words = np.random.RandomState(100_000 + f).choice(
                        VOCAB, DOC_WORDS, replace=False
                    )
                    if f != 0 and mem[i] > 0:
                        r = np.random.RandomState(200_000 + i)
                        words = words.copy()
                        words[r.choice(DOC_WORDS, PERTURB, replace=False)] = (
                            r.randint(0, VOCAB, PERTURB)
                        )
                else:
                    words = np.random.RandomState(300_000 + i).randint(
                        0, VOCAB, DOC_WORDS
                    )
                texts.append(" ".join(f"w{k}" for k in words))
            yield pd.DataFrame({"id": ids, "text": texts})

    return (
        spark.range(rows)
        .repartition(64)
        .mapInPandas(gen, "id long, text string")
    )


def stage_shuffle(app_url: str):
    """(max single-stage shuffle write bytes, total write bytes, max stage id)."""
    try:
        with urllib.request.urlopen(f"{app_url}/stages", timeout=10) as r:
            stages = json.load(r)
    except Exception:
        return 0, 0, -1
    done = [s for s in stages if s.get("status") in ("COMPLETE", "ACTIVE")]
    if not done:
        return 0, 0, -1
    return (
        max(s.get("shuffleWriteBytes", 0) for s in done),
        sum(s.get("shuffleWriteBytes", 0) for s in done),
        max(s["stageId"] for s in done),
    )


def window_shuffle(app_url: str, after_stage: int):
    try:
        with urllib.request.urlopen(f"{app_url}/stages", timeout=10) as r:
            stages = json.load(r)
    except Exception:
        return {"peak_mb": -1, "total_mb": -1}
    win = [
        s
        for s in stages
        if s["stageId"] > after_stage
        and s.get("status") in ("COMPLETE", "ACTIVE")
    ]
    if not win:
        return {"peak_mb": 0, "total_mb": 0}
    return {
        "peak_mb": round(
            max(s.get("shuffleWriteBytes", 0) for s in win) / 1e6, 1
        ),
        "total_mb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in win) / 1e6, 1
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    args = ap.parse_args()

    spark = get_spark(app_name="lexical-soak")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    app_url = f"{ui}/api/v1/applications/{app_id}"

    fam_of, member_of, n_fams = plan_families(args.rows)
    planted_members = int((fam_of >= 0).sum())
    print(
        f"corpus: {args.rows} rows, {n_fams} planted families "
        f"({planted_members} members, boilerplate clique {BOILERPLATE})"
    )

    t0 = time.monotonic()
    docs = build_corpus(spark, args.rows, fam_of, member_of)
    docs = docs.localCheckpoint()  # materialize: soak times the dedup
    # pipeline, not corpus generation, and each stage must not re-run it
    t_gen = time.monotonic() - t0
    print(f"generate+checkpoint: {t_gen:.1f}s")

    # --- stage 1: minhash + LSH banding + blocked pair generation
    _, _, s0 = stage_shuffle(app_url)
    bstats: dict = {}
    t0 = time.monotonic()
    cands = minhash_lsh_candidates(
        docs, "text", "id", num_hashes=16, bands=4,
        max_bucket_size=CAP, bucket_stats=bstats,
    ).localCheckpoint()
    n_cands = cands.count()
    t_cand = time.monotonic() - t0
    sh1 = window_shuffle(app_url, s0)
    # refused = the oversized buckets' clique volume minus the s-1
    # star pairs the guard still emits per bucket (pairs_uncapped also
    # counts normal buckets' pairs, which WERE emitted)
    guard_refused = bstats["pairs_oversized"] - (
        bstats["oversized_members"] - bstats["n_oversized"]
    )
    print(
        f"candidates: {n_cands} in {t_cand:.1f}s  shuffle {sh1}\n"
        f"  bucket census: {bstats}\n"
        f"  guard: {bstats['n_oversized']} oversized buckets "
        f"({bstats['oversized_members']} memberships) collapsed to "
        f"stars — refused ~{int(guard_refused)} clique pairs"
    )

    # --- stage 2: exact jaccard verification, pair-driven
    _, _, s1 = stage_shuffle(app_url)
    t0 = time.monotonic()
    pairs = jaccard_pairs(
        docs, "text", "id", threshold=0.7, candidates=cands
    ).localCheckpoint()
    n_pairs = pairs.count()
    t_ver = time.monotonic() - t0
    sh2 = window_shuffle(app_url, s1)
    print(f"verified pairs (j>=0.7): {n_pairs} in {t_ver:.1f}s  shuffle {sh2}")

    # --- stage 3: connected components (star contraction)
    _, _, s2 = stage_shuffle(app_url)
    rounds: list = []
    t0 = time.monotonic()
    cc = connected_components(pairs, round_stats=rounds).localCheckpoint()
    n_nodes = cc.count()
    t_cc = time.monotonic() - t0
    sh3 = window_shuffle(app_url, s2)
    clusters = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    agg = clusters.agg(
        F.count(F.lit(1)).alias("n_clusters"), F.max("n").alias("max_cluster")
    ).collect()[0]
    print(
        f"cc: {n_nodes} clustered nodes, {agg['n_clusters']} clusters "
        f"(max {agg['max_cluster']}) in {t_cc:.1f}s over "
        f"{len(rounds)} rounds  shuffle {sh3}\n"
        f"  rounds: {[(r, n, round(s, 1)) for r, n, s in rounds]}"
    )

    # --- ground truth: no cross-family merge, families stay whole
    import pandas as pd

    truth = spark.createDataFrame(
        pd.DataFrame(
            {"id": np.arange(args.rows)[fam_of >= 0],
             "fam": fam_of[fam_of >= 0]}
        )
    )
    joined = cc.withColumnRenamed("node", "id").join(truth, "id", "left")
    purity = joined.groupBy("cluster").agg(
        F.countDistinct("fam").alias("fams"),
        F.sum(F.when(F.col("fam").isNull(), 1).otherwise(0)).alias("strays"),
    )
    bad = purity.filter(
        (F.col("fams") > 1) | (F.col("strays") > 0)
    ).count()
    whole = (
        joined.filter(F.col("fam").isNotNull())
        .groupBy("fam")
        .agg(F.countDistinct("cluster").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    print(
        f"plant check: {bad} impure clusters (cross-family or stray "
        f"singleton), {whole} fragmented families, planted {n_fams}"
    )
    print(
        json.dumps(
            {
                "rows": args.rows,
                "t_generate": round(t_gen, 1),
                "t_candidates": round(t_cand, 1),
                "t_verify": round(t_ver, 1),
                "t_cc": round(t_cc, 1),
                "cc_rounds": len(rounds),
                "n_candidates": n_cands,
                "n_pairs": n_pairs,
                "n_clusters": int(agg["n_clusters"]),
                "max_cluster": int(agg["max_cluster"]),
                "planted_families": n_fams,
                "impure_clusters": bad,
                "fragmented_families": whole,
                "guard_oversized_buckets": int(bstats["n_oversized"]),
                "guard_refused_pairs": int(guard_refused),
                "shuffle_candidates": sh1,
                "shuffle_verify": sh2,
                "shuffle_cc": sh3,
            }
        )
    )


if __name__ == "__main__":
    main()
