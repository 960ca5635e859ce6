"""r13 soak: the PREFIX gate rung where it's meant to live vs where
it floods — the honest sizing story behind emb_gate_prefix_report.

Two 100k synthetic corpora (64-dim, 10k-row batch, half planted
near-dups), same pipeline on each:

  * ``matryoshka``: per-coordinate scale decays 0.9^i, so ~96% of the
    vector mass lives in the first 16 dims (rest-mass ~0.19) — the
    embedding family the rung targets;
  * ``uniform``: i.i.d. coordinates (rest-mass ~0.87) — the worst
    case the report warns about.

Per corpus, three rungs on the same quantizer (float index / SQ8 /
prefix d_p=16): stored index bytes, gate wall (min-of-3, one JVM),
stage-1 shortlist size (gate_stats), and the identical-kept-set
assertion. Expected shape: on matryoshka the prefix rung's shortlist
is candidate-sized and its index is ~4x smaller than float with no
training; on uniform the Cauchy-Schwarz bound floods stage 1 (the
report's rest-mass p95 predicts it) and SQ8 is the right rung.

Results recorded in PLANS.md ("r13 prefix gate soak"). Not a CI test.

Run: python tools/gate_prefix_soak.py [--rows 100000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synthetic(spark, n: int, dim: int, decay: float, seed: int):
    from pyspark.sql import functions as F  # noqa: F401

    def gen(pdfs):
        import numpy as np
        import pandas as pd

        scales = decay ** np.arange(dim)
        for pdf in pdfs:
            ids = pdf["id"].values
            rng = np.random.RandomState(seed + int(ids[0]) % 999983)
            mat = rng.randn(len(ids), dim) * scales
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [list(map(float, r)) for r in mat]}
            )

    return (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dataprocessingframework_spark.operators import similarity
    from dataprocessingframework_spark.queries import SCRATCH
    from dataprocessingframework_spark.session import get_spark
    from dataprocessingframework_spark.sources.compact import (
        _table_location,
        dataset_file_stats,
    )

    spark = get_spark(app_name="gate-prefix-soak")
    spark.sparkContext.setLogLevel("ERROR")
    dim, dp = 64, 16

    for name, decay in (("matryoshka", 0.9), ("uniform", 1.0)):
        corpus = synthetic(spark, args.rows, dim, decay, seed=29).cache()
        n = corpus.count()
        n_batch = n // 10
        batch = (
            corpus.filter(F.col("vec_id") % 10 < 5)
            .limit(n_batch)
            .select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, pos: x + F.lit(0.01) * F.cos(
                        pos.cast("double")
                    ),
                ).alias("embedding"),
            )
            .cache()
        )
        n_b = batch.count()
        cents = similarity._ivf_centroids(
            corpus, "vec_id", "embedding", 64, iters=1, impl="blas"
        )
        tag = uuid.uuid4().hex[:8]
        t = f"soak_pfx_{tag}"
        path = os.path.join(SCRATCH, f"soak_pfx_{tag}")
        fidx, _ = similarity.materialize_ivf_index(
            corpus, f"{t}_f", centroids=cents, num_buckets=64,
            path=f"{path}_f",
        )
        sidx, _ = similarity.materialize_ivf_index(
            corpus, f"{t}_s", centroids=cents, num_buckets=64,
            path=f"{path}_s", sq8=True,
        )
        bounds = similarity.load_sq8_bounds(spark, f"{t}_s")
        xidx, _ = similarity.materialize_ivf_index(
            corpus, f"{t}_x", centroids=cents, num_buckets=64,
            path=f"{path}_x", prefix_dims=dp,
        )
        rest = xidx.filter(F.col("vnorm") > 0).agg(
            F.round(
                F.expr("percentile(rest_norm / vnorm, 0.95)"), 4
            ).alias("p95")
        ).collect()[0]["p95"]
        bytes_of = {
            k: dataset_file_stats(
                spark, _table_location(spark, f"{t}_{k}")
            )[1]
            for k in ("f", "s", "x")
        }
        kinds = {
            "float_index": (
                "f",
                lambda: similarity.incremental_semantic_dedup(
                    batch, None, cents, threshold=0.95, n_probe=2,
                    impl="blas", corpus_cells=fidx,
                ),
                None,
            ),
            "sq8": (
                "s",
                None,
                lambda st: similarity.semantic_dedup_gate(
                    batch, corpus, cents, sidx, gate_kind="sq8", sq8_bounds=bounds,
                    threshold=0.95, n_probe=2, impl="blas",
                    gate_stats=st,
                ),
            ),
            "prefix": (
                "x",
                None,
                lambda st: similarity.semantic_dedup_gate(
                    batch, corpus, cents, xidx, gate_kind="prefix", prefix_dims=dp,
                    threshold=0.95, n_probe=2, impl="blas",
                    gate_stats=st,
                ),
            ),
        }
        kept = {}
        try:
            for kind, (bk, plain, with_stats) in kinds.items():
                best, shortlist = float("inf"), None
                for i in range(3):
                    spark.sparkContext._jvm.System.gc()
                    st: dict = {}
                    t0 = time.time()
                    if plain is not None:
                        n_kept = plain().count()
                    else:
                        n_kept = with_stats(st if i == 2 else None).count()
                    best = min(best, time.time() - t0)
                    if st:
                        shortlist = st.get("stage1_candidates")
                kept[kind] = n_kept
                print(
                    json.dumps(
                        {
                            "soak": "gate_prefix",
                            "corpus_kind": name,
                            "rest_mass_p95": rest,
                            "rung": kind,
                            "corpus": n,
                            "batch": n_b,
                            "index_bytes": bytes_of[bk],
                            "stage1_candidates": shortlist,
                            "kept": n_kept,
                            "gate_min3_s": round(best, 3),
                        }
                    ),
                    flush=True,
                )
            assert len(set(kept.values())) == 1, kept
        finally:
            corpus.unpersist()
            batch.unpersist()
            for k in ("f", "s", "x"):
                for sfx in ("", "_centroids", "_sq8", "_prefix"):
                    spark.sql(f"DROP TABLE IF EXISTS {t}_{k}{sfx}")
                    shutil.rmtree(
                        f"{path}_{k}{sfx}", ignore_errors=True
                    )


if __name__ == "__main__":
    main()
