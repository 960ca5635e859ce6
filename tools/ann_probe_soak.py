"""100x ANN index soak: measure the probe-key pushdown in its ON
regime (r8).

Synthesizes a 100x-and-up corpus (deterministic perturbations of the
sf0.1 embeddings — same recipe class as tools/skew_soak.py),
materializes both index kinds, and interleaves probe trials
pushdown-off / pushdown-on. This soak is what (a) caught the
write_bucketed one-file-per-(task x bucket) small-files explosion
(26k files from a 64-partition x 512-bucket write) and (b) showed
the pushdown's fixed keys-collect job outweighs warm-cache local
scan savings at every testable shape, fixing the default to OFF.
Results in PLANS.md ("r8 ANN probe soak"). SOAK_COPIES scales the
corpus (100 -> 200k vectors; 5000 -> 10M).

Run: python tools/ann_probe_soak.py  (~3-5 min, local[32])
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SOAK_COPIES", "100"))


def main() -> None:
    from pyspark.sql import functions as F

    from dataprocessingframework_spark import queries as q
    from dataprocessingframework_spark.operators import similarity
    from dataprocessingframework_spark.session import get_spark

    spark = get_spark(app_name="ann-probe-soak")
    spark.sparkContext.setLogLevel("ERROR")

    base = q.T(spark, SF_DIR, "embeddings")
    n_base = base.count()
    dim = len(base.select("embedding").first()[0])

    # 100x corpus: copy c of vector i gets a deterministic per-copy
    # rotation-free perturbation (+0.01*sin(c + pos)) — distinct
    # vectors, same distribution family, fully reproducible
    copies = spark.range(COPIES).select(F.col("id").alias("copy"))
    corpus = (
        base.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("copy") * n_base).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x.cast("double")
                + 0.01 * F.sin(F.col("copy").cast("double") + i.cast("double")),
            ).cast("array<float>").alias("embedding"),
        )
        .repartition(64)
    )
    print(f"corpus: {COPIES}x base = {n_base * COPIES} vectors, dim {dim}")

    tag = uuid.uuid4().hex[:8]
    scratch = f"{q.SCRATCH}/ann_soak_{tag}"
    queries = base.filter(F.col("vec_id") < 50)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def trial(thunk) -> float:
        t0 = time.time()
        thunk()
        return round(time.time() - t0, 3)

    results: dict[str, dict[str, list[float]]] = {}

    # ---- LSH multi-table index at 512 hash-buckets --------------------
    lsh_table = f"soak_lsh_{tag}"
    t0 = time.time()
    lsh_idx = similarity.materialize_lsh_ann_index(
        corpus, lsh_table, num_buckets=512, path=f"{scratch}_lsh"
    )
    lsh_build = round(time.time() - t0, 2)
    n_files = len(lsh_idx.inputFiles())
    print(f"lsh index: build {lsh_build}s, files {n_files}, "
          f"bytes {similarity._plan_size_bytes(lsh_idx)}")

    def lsh_probe(push):
        return lambda: noop(
            similarity.lsh_topk_from_index(
                lsh_idx, queries, k=10, n_tables=3,
                broadcast_queries=True, pushdown_probe_keys=push,
            )
        )

    results["lsh"] = {"off": [], "on": []}
    for _ in range(4):
        results["lsh"]["off"].append(trial(lsh_probe(False)))
        results["lsh"]["on"].append(trial(lsh_probe(True)))

    # ---- IVF index: 512 cells, 512 buckets ---------------------------
    ivf_table = f"soak_ivf_{tag}"
    t0 = time.time()
    ivf_idx, cents = similarity.materialize_ivf_index(
        corpus, ivf_table, n_cells=512, iters=1, impl="blas",
        num_buckets=512, path=f"{scratch}_ivf",
    )
    ivf_build = round(time.time() - t0, 2)
    n_files_ivf = len(ivf_idx.inputFiles())
    print(f"ivf index: build {ivf_build}s (incl. 512-cell Lloyd), "
          f"files {n_files_ivf}, "
          f"bytes {similarity._plan_size_bytes(ivf_idx)}")

    def ivf_probe(push):
        return lambda: noop(
            similarity.ivf_topk_from_index(
                ivf_idx, cents, queries, k=10, n_probe=8,
                pushdown_probe_cells=push,
            )
        )

    results["ivf"] = {"off": [], "on": []}
    for _ in range(4):
        results["ivf"]["off"].append(trial(ivf_probe(False)))
        results["ivf"]["on"].append(trial(ivf_probe(True)))

    # sanity: pushdown changes nothing
    a = sorted(map(tuple, similarity.lsh_topk_from_index(
        lsh_idx, queries, k=10, n_tables=3, broadcast_queries=True,
        pushdown_probe_keys=True).collect()))
    b = sorted(map(tuple, similarity.lsh_topk_from_index(
        lsh_idx, queries, k=10, n_tables=3, broadcast_queries=True,
        pushdown_probe_keys=False).collect()))
    c = sorted(map(tuple, similarity.ivf_topk_from_index(
        ivf_idx, cents, queries, k=10, n_probe=8,
        pushdown_probe_cells=True).collect()))
    d = sorted(map(tuple, similarity.ivf_topk_from_index(
        ivf_idx, cents, queries, k=10, n_probe=8,
        pushdown_probe_cells=False).collect()))
    print("parity lsh:", a == b and len(a) > 0,
          "ivf:", c == d and len(c) > 0)

    for kind, r in results.items():
        mins = {m: min(v) for m, v in r.items()}
        print(f"{kind}: " + "  ".join(
            f"{m} {v} min={mins[m]}" for m, v in r.items()))

    for t in (lsh_table, ivf_table, f"{ivf_table}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for p in (f"{scratch}_lsh", f"{scratch}_ivf",
              f"{scratch}_ivf_centroids"):
        shutil.rmtree(p, ignore_errors=True)


if __name__ == "__main__":
    main()
