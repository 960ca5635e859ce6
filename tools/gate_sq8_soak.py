"""r11 soak: the SQ8-compressed semantic gate vs the float gate at
the 100k-corpus / 10k-batch shape (the incremental ingest step size
the r8 semantic-ingest soak used).

Measures what the compressed gate actually trades: stored index
bytes (what a 100 TB deployment reads per arriving batch) vs warm
wall time (where the float blas gate's matmuls win on compute), and
verifies the kept sets are IDENTICAL (the sound-margin contract).
On a warm local cache the compressed gate pays stage-1 codegen
decode; its win is the 3.6-7.7x smaller scan on cold object storage
plus the candidate-sized float recheck. Prints one JSON line per
gate kind; paste into PLANS.md "r11 compressed gate soak".

Run: SOAK_COPIES=50 python tools/gate_sq8_soak.py   (~3 min)
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
COPIES = int(os.environ.get("SOAK_COPIES", "50"))


def main() -> None:
    from pyspark.sql import functions as F

    from dataprocessingframework_spark import queries as q
    from dataprocessingframework_spark.operators import similarity
    from dataprocessingframework_spark.session import get_spark
    from dataprocessingframework_spark.sources.compact import (
        _table_location,
        dataset_file_stats,
    )

    spark = get_spark(app_name="gate-sq8-soak")
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
    n_corpus = corpus.count()
    # batch: 10% of the corpus size — half perturbed near-copies of
    # corpus rows (real dups), half fresh
    n_batch = max(1000, n_corpus // 10)
    batch = (
        corpus.filter(F.col("vec_id") % 10 < 5)
        .limit(n_batch)
        .select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, pos: x
                + F.lit(0.01) * F.cos(pos.cast("double")),
            ).alias("embedding"),
        )
        .cache()
    )
    n_b = batch.count()

    cents = similarity._ivf_centroids(
        corpus, "vec_id", "embedding", 64, iters=1, impl="blas"
    )
    tag = uuid.uuid4().hex[:8]
    table = f"soak_gate_{tag}"
    path = os.path.join(q.SCRATCH, f"soak_gate_{tag}")
    idx, _ = similarity.materialize_ivf_index(
        corpus, table, centroids=cents, num_buckets=64,
        path=path, sq8=True,
    )
    bounds = similarity.load_sq8_bounds(spark, table)
    _, idx_bytes = dataset_file_stats(spark, _table_location(spark, table))
    fidx, _ = similarity.materialize_ivf_index(
        corpus, f"{table}_f", centroids=cents, num_buckets=64,
        path=f"{path}_f",
    )
    _, fidx_bytes = dataset_file_stats(
        spark, _table_location(spark, f"{table}_f")
    )
    # refine_iters=5: the production-quality codebooks. Seeded books
    # reconstruct this synthetic corpus poorly, which collapses the
    # PQ gate's per-row margins (thresholds go negative) and the
    # candidate set degenerates toward |batch| x cell size — measured
    # and documented in PLANS.md; refined books keep resid, and
    # therefore the margins, usable. resid is computed against
    # whichever books encode the index, so soundness is unaffected.
    pidx, _, books = similarity.materialize_pq_index(
        corpus, f"{table}_p", centroids=cents, num_buckets=64,
        path=f"{path}_p", refine_iters=5,
    )
    _, pidx_bytes = dataset_file_stats(
        spark, _table_location(spark, f"{table}_p")
    )

    kinds = {
        "float_blas_gate": lambda: similarity.incremental_semantic_dedup(
            batch, None, cents, threshold=0.95, n_probe=2, impl="blas",
            corpus_cells=fidx,
        ),
        "sq8_two_stage_gate": lambda: (
            similarity.semantic_dedup_gate(
                batch, corpus, cents, idx, gate_kind="sq8", sq8_bounds=bounds,
                threshold=0.95, n_probe=2, impl="blas",
            )
        ),
        "pq_two_stage_gate": lambda: (
            similarity.semantic_dedup_gate(
                batch, corpus, cents, pidx, gate_kind="pq", codebooks=books,
                threshold=0.95, n_probe=2, impl="blas",
            )
        ),
    }
    kept = {}
    try:
        for kind, fn in kinds.items():
            best = float("inf")
            for _ in range(3):
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                n_kept = fn().count()
                best = min(best, time.time() - t0)
            kept[kind] = n_kept
            print(
                json.dumps(
                    {
                        "soak": "gate_sq8",
                        "kind": kind,
                        "corpus": n_corpus,
                        "batch": n_b,
                        "index_bytes": (
                            idx_bytes if kind.startswith("sq8")
                            else pidx_bytes if kind.startswith("pq")
                            else fidx_bytes
                        ),
                        "kept": n_kept,
                        "gate_min3_s": round(best, 3),
                    }
                ),
                flush=True,
            )
        assert len(set(kept.values())) == 1, kept  # identical verdicts
    finally:
        for t in (table, f"{table}_centroids", f"{table}_sq8",
                  f"{table}_f", f"{table}_f_centroids",
                  f"{table}_p", f"{table}_p_centroids",
                  f"{table}_p_pq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        for sfx in ("", "_centroids", "_sq8", "_f", "_f_centroids",
                    "_p", "_p_centroids", "_p_pq"):
            shutil.rmtree(f"{path}{sfx}", ignore_errors=True)


if __name__ == "__main__":
    main()
