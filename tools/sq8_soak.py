"""r10 soak: SQ8 vs float32 IVF index at the 1M-vector shape.

Measures what the sq8 option actually trades at scale: on-disk index
bytes (the thing a 100 TB deployment pays for), build cost, and
probe latency on a warm local cache (where the decode overhead is
the whole story because scan bytes are free). Prints one JSON line
per index kind; paste into PLANS.md "r10 SQ8 IVF index".

r11 adds recall columns: recall_at10 vs exact brute force,
recall_vs_float_probe (vs the float32 IVF probe at the same n_probe
— isolates quantization loss from cell-miss loss, which dominates
at n_probe=8/128), rerank_recall_at10 (shortlist=100 two-stage),
and a pq_refined kind (refine_iters=5 Lloyd codebooks) for the
refined-vs-seeded comparison.

Corpus recipe adapts tools/ann_probe_soak.py with a LARGER
perturbation (+-0.15): the SQ8 grid step on this data is
(mx-mn)/256 ~ 0.035, so ann_probe_soak's +-0.01 leaves most copies
on IDENTICAL codes and parquet RLE-collapses them to a fantasy
15x ratio (first run of this soak — kept in PLANS.md as the
artifact warning). +-0.15 spans ~8 grid steps, so copies carry
genuinely distinct codes and the measured bytes reflect real
entropy.

Run: SOAK_COPIES=500 python tools/sq8_soak.py   (~4 min, local[32])
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SOAK_COPIES", "500"))


def main() -> None:
    from pyspark.sql import functions as F

    from dataprocessingframework_spark import queries as q
    from dataprocessingframework_spark.operators import similarity
    from dataprocessingframework_spark.session import get_spark
    from dataprocessingframework_spark.sources.compact import (
        _table_location,
        dataset_file_stats,
    )

    spark = get_spark(app_name="sq8-soak")
    spark.sparkContext.setLogLevel("ERROR")

    base = q.T(spark, SF_DIR, "embeddings")
    n_base = base.count()
    copies = spark.range(COPIES).select(F.col("id").alias("copy"))
    corpus = (
        base.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("copy") * n_base).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, pos: x
                + F.lit(0.15)
                * F.sin((F.col("copy") + pos).cast("double")),
            ).alias("embedding"),
        )
        .cache()
    )
    n = corpus.count()
    qs = corpus.filter(F.col("vec_id") < 50)

    # exact ground truth once (blas brute force, 50 queries): recall
    # below = |probe top-10 ∩ exact top-10| / 10, averaged over
    # queries — the refined-vs-seeded codebook comparison (r11)
    truth: dict[int, set[int]] = {}
    for r in similarity.cosine_topk(
        corpus, qs, k=10, impl="blas"
    ).collect():
        truth.setdefault(r.q_id, set()).add(r.nbr_id)

    def result_sets(probe_df) -> dict[int, set[int]]:
        got: dict[int, set[int]] = {}
        for r in probe_df.collect():
            got.setdefault(r.q_id, set()).add(r.nbr_id)
        return got

    def recall(
        got: dict[int, set[int]], ref: dict[int, set[int]]
    ) -> float:
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in ref.items()
        ) / len(ref)

    # the float32 IVF probe's own result sets: the cell-probe recall
    # CEILING at this n_probe — PQ/SQ8 recall vs this column isolates
    # quantization loss from cell-miss loss
    float_probe: dict[int, set[int]] = {}

    for kind in ("float32", "sq8", "pq", "pq_refined"):
        tag = uuid.uuid4().hex[:8]
        table = f"soak_sq8_{tag}"
        path = f"{q.SCRATCH}/soak_sq8_{tag}"
        t0 = time.time()
        if kind.startswith("pq"):
            idx, cents, books = similarity.materialize_pq_index(
                corpus, table, n_cells=128, iters=1,
                num_buckets=128, path=path,
                refine_iters=5 if kind == "pq_refined" else 0,
            )
        else:
            idx, _ = similarity.materialize_ivf_index(
                corpus, table, n_cells=128, iters=1,
                num_buckets=128, path=path, sq8=(kind == "sq8"),
            )
            cents = similarity.load_ivf_centroids(spark, table)
        build_s = time.time() - t0
        bounds = (
            similarity.load_sq8_bounds(spark, table)
            if kind == "sq8" else None
        )
        files, nbytes = dataset_file_stats(
            spark, _table_location(spark, table)
        )
        best = float("inf")
        for _ in range(3):
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            if kind.startswith("pq"):
                probe = similarity.ivf_topk_from_index(
                    idx, cents, qs, k=10, n_probe=8, impl="jvm",
                    codebooks=books,
                )
            else:
                probe = similarity.ivf_topk_from_index(
                    idx, cents, qs, k=10, n_probe=8, sq8_bounds=bounds
                )
            probe.count()
            best = min(best, time.time() - t0)
        got = result_sets(probe)
        if kind == "float32":
            float_probe = got
        rec = recall(got, truth)
        vs_float = recall(got, float_probe) if float_probe else None
        # codebook-quality discriminator that never saturates the way
        # copy-cluster recall does: mean squared quantization error
        # over a 5k-row hash-ordered sample (driver-side numpy, the
        # same arithmetic the encoder runs)
        q_mse = None
        if kind.startswith("pq"):
            import numpy as np

            sample = np.array(
                [
                    [float(x) for x in r.embedding]
                    for r in corpus.select("embedding")
                    .orderBy(F.md5(F.col("vec_id").cast("string")))
                    .limit(5000)
                    .collect()
                ]
            )
            m = len(books)
            sd = len(books[0][0])
            tot = 0.0
            for s in range(m):
                sub = sample[:, s * sd : (s + 1) * sd]
                C = np.array(books[s])
                d = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * sub @ C.T
                    + (C * C).sum(1)[None, :]
                )
                tot += float(np.maximum(d.min(axis=1), 0.0).mean())
            q_mse = round(tot, 4)
        if kind.startswith("pq"):
            rr = recall(
                result_sets(
                    similarity.ivf_pq_topk_rerank(
                        idx, cents, books, qs, corpus, k=10,
                        n_probe=8, shortlist=100,
                    )
                ),
                truth,
            )
        else:
            rr = None
        print(
            json.dumps(
                {
                    "soak": "sq8_index",
                    "kind": kind,
                    "rows": n,
                    "files": files,
                    "bytes": nbytes,
                    "build_s": round(build_s, 2),
                    "probe_min3_s": round(best, 3),
                    "recall_at10": round(rec, 3),
                    "recall_vs_float_probe": (
                        round(vs_float, 3) if vs_float is not None
                        else None
                    ),
                    "rerank_recall_at10": (
                        round(rr, 3) if rr is not None else None
                    ),
                    "pq_sample_mse": q_mse,
                }
            ),
            flush=True,
        )
        for t in (table, f"{table}_centroids", f"{table}_sq8",
                  f"{table}_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        for sfx in ("", "_centroids", "_sq8", "_pq"):
            shutil.rmtree(f"{path}{sfx}", ignore_errors=True)


if __name__ == "__main__":
    main()
