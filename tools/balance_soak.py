"""Quantizer-balance soak (r12): does hot-cell splitting buy probe
latency and gate economy — and what does it do to RECALL?

Two corpora:
  * default: the sf embeddings table under a deliberately coarse
    8-cell seeded quantizer (real data, small);
  * --synthetic N: N rows from 100 Gaussian clusters with zipf-ish
    sizes (the realistic clustered-embedding shape whose density
    spikes produce true mega-cells) under a 32-cell quantizer.

Measured before vs after balance_centroids (min-of-2 timings in one
JVM so codegen warm-up doesn't bias the later variant):
  * max/avg cell, imbalance, balance wall time + round trajectory;
  * 50-query ivf_topk_from_index probe batch at n_probe=4;
  * recall@10 of that probe vs exact cosine top-10 (brute force) —
    the honest check that evening out cells does not silently cost
    neighbor quality at fixed n_probe;
  * one semantic_dedup_gate(gate_kind='sq8') batch (shortlist mass follows
    probed-cell mass).

Results recorded in PLANS.md ("r12 balance soak"). Not a CI test.

Usage:
  python tools/balance_soak.py                 # sf0.1 embeddings
  python tools/balance_soak.py --synthetic 200000
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dataprocessingframework_spark.operators.similarity import (  # noqa: E402
    _ivf_centroids,
    assign_cells,
    balance_centroids,
    cosine_topk,
    ivf_topk_from_index,
    load_sq8_bounds,
    materialize_ivf_index,
    norm,
    semantic_dedup_gate,
)
from dataprocessingframework_spark.queries import SCRATCH  # noqa: E402
from dataprocessingframework_spark.session import get_spark  # noqa: E402


def synthetic(spark, n):
    import numpy as np

    centers = np.random.RandomState(5).randn(100, 64) * 10.0

    def gen(pdfs):
        import pandas as pd

        for pdf in pdfs:
            ids = pdf["id"].values
            rng = np.random.RandomState(int(ids[0]) % (2**31))
            u = (ids % 9973) / 9973.0
            cl = np.floor(100 * u * u).astype(int).clip(0, 99)
            vecs = centers[cl] + rng.randn(len(ids), 64) * 1.5
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(vecs)}
            )

    return (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
    )


def cell_shape(df, cents):
    nz = df.select(
        F.col("vec_id").alias("bid"),
        F.col("embedding").alias("bv"),
        norm(F.col("embedding")).alias("bn"),
    ).filter(F.col("bn") > 0)
    sizes = [
        r.n
        for r in assign_cells(nz, cents, "bid", "bv", impl="blas")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    return max(sizes), sum(sizes) / len(sizes)


def min2(fn):
    ts = []
    for _ in range(2):
        t0 = time.time()
        fn()
        ts.append(round(time.time() - t0, 2))
    return min(ts)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--synthetic":
        n_cells, tag_sf = 32, f"synthetic:{sys.argv[2]}"
    else:
        n_cells, tag_sf = 8, "sf-embeddings"
    spark = get_spark(app_name="balance-soak")
    spark.sparkContext.setLogLevel("ERROR")
    if tag_sf.startswith("synthetic"):
        df = synthetic(spark, int(sys.argv[2])).cache()
    else:
        sf_dir = "/root/testdata/sf0.1"
        df = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias(
                    "embedding"
                ),
            )
            .cache()
        )
    n = df.count()
    cap = 2 * n // n_cells if n_cells == 32 else (n + 7) // 8
    queries = df.limit(50).cache()
    queries.count()
    batch = df.filter(F.col("vec_id") % max(n // 500, 1) == 1).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    ).cache()
    batch.count()
    exact = {
        (r.q_id, r.nbr_id)
        for r in cosine_topk(df, queries, k=10, impl="blas").collect()
    }

    cents0 = _ivf_centroids(df, "vec_id", "embedding", n_cells,
                            iters=0, impl="blas")
    mx0, avg0 = cell_shape(df, cents0)
    print(f"corpus={tag_sf} n={n} cap={cap}")
    print(f"before: cells={n_cells} max_cell={mx0} avg={avg0:.0f} "
          f"imbalance={mx0/avg0:.1f}x")

    stats: list = []
    t0 = time.time()
    bal = balance_centroids(
        df, cents0, max_cell_rows=cap, rounds=8,
        impl="blas", round_stats=stats,
    )
    t_bal = round(time.time() - t0, 2)
    mx1, avg1 = cell_shape(df, bal)
    print(f"after:  cells={len(bal)} max_cell={mx1} avg={avg1:.0f} "
          f"imbalance={mx1/avg1:.1f}x wall={t_bal}s "
          f"rounds={len(stats)} "
          f"traj={[s['max_cell'] for s in stats]}")

    for tag, cents in (("before", cents0), ("after", bal)):
        table = f"t_balsoak_{tag}"
        idx, _ = materialize_ivf_index(
            df, table, centroids=cents, impl="blas",
            num_buckets=16, sq8=True,
            path=os.path.join(SCRATCH, f"balsoak_{tag}"),
        )
        bounds = load_sq8_bounds(spark, table)
        got = {
            (r.q_id, r.nbr_id)
            for r in ivf_topk_from_index(
                idx, cents, queries, k=10, n_probe=4,
                sq8_bounds=bounds,
            ).collect()
        }
        recall = len(got & exact) / max(len(exact), 1)
        probe = min2(
            lambda: ivf_topk_from_index(
                idx, cents, queries, k=10, n_probe=4,
                sq8_bounds=bounds,
            ).write.format("noop").mode("overwrite").save()
        )
        gate = min2(
            lambda: semantic_dedup_gate(
                batch, df, cents, idx, gate_kind="sq8", sq8_bounds=bounds,
                threshold=0.95, n_probe=4, impl="blas",
            ).write.format("noop").mode("overwrite").save()
        )
        print(f"{tag}: probe50(min2)={probe}s gate_batch(min2)={gate}s "
              f"recall@10={recall:.3f}")
    import shutil
    for tag in ("before", "after"):
        for sfx in ("", "_centroids", "_sq8"):
            spark.sql(f"DROP TABLE IF EXISTS t_balsoak_{tag}{sfx}")
            shutil.rmtree(
                os.path.join(SCRATCH, f"balsoak_{tag}{sfx}"),
                ignore_errors=True,
            )


if __name__ == "__main__":
    main()
