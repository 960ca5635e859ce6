"""The compressed semantic-dedup gate ladder, end to end.

The embedding counterpart of ``llm_curation.py``: how a training-data
team keeps a continuously-growing embedding store free of semantic
duplicates when the corpus index must live on object storage. Every
stage is the real distributed path; only the input size changes.

    embeddings corpus
      1. quantizer health     ivf_cell_stats — detect mega-cells
      2. quantizer repair     balance_centroids (hot-cell splitting)
      3. index the ladder     float / SQ8 (~7.7x) / PQ (16 B/vector)
      4. size the rungs       emb_gate_margin_report (SQ8 global
                              margin) + pq_gate_margin_report
                              (per-row margins, frac_no_headroom)
      5. gate a batch         semantic_dedup_gate(gate_kind='auto')
                              — same kept set on every rung (stage 1
                              only shortlists; stage 2 is exact)
      6. pick the rung        gate_rung_signals → recommend_gate_rung
                              (r14): training-free corpus signals
                              decide float/prefix/SQ8 — no human
                              reading reports; a matryoshka corpus
                              picks prefix, a uniform one falls back
                              where its signals point

Run:  python examples/semantic_gate_ladder.py [sf_dir]
      (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def run_pipeline(spark, sf_dir: str, scratch: str) -> dict:
    from dataprocessingframework_spark.operators.similarity import (
        _ivf_centroids,
        assign_cells,
        balance_centroids,
        ivf_cell_stats,
        materialize_ivf_index,
        materialize_pq_index,
        norm,
        pq_gate_margin_report,
        semantic_dedup_gate,
    )
    from dataprocessingframework_spark.queries import (
        _perturbed_gate_batch,
    )

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    n = corpus.count()

    # 1-2. quantizer health -> repair: a deliberately coarse seeded
    #      quantizer leaves catch-all mega-cells; split them so probe
    #      latency and gate shortlists follow even cells
    cents = _ivf_centroids(corpus, "vec_id", "embedding", 4, iters=0)
    nz = corpus.select(
        F.col("vec_id").alias("bid"),
        F.col("embedding").alias("bv"),
        norm(F.col("embedding")).alias("bn"),
    ).filter(F.col("bn") > 0)
    before = ivf_cell_stats(
        assign_cells(nz, cents, "bid", "bv"), n_cells=4
    ).collect()[0]
    cap = (n + 7) // 8
    cents = balance_centroids(corpus, cents, cap, rounds=4)
    after = ivf_cell_stats(
        assign_cells(nz, cents, "bid", "bv"), n_cells=len(cents)
    ).collect()[0]

    # 3. materialize the ladder on the SAME balanced quantizer
    fidx, _ = materialize_ivf_index(
        corpus, "t_ladder_float", centroids=cents, impl="jvm",
        num_buckets=8, path=f"{scratch}/float",
    )
    sidx, _ = materialize_ivf_index(
        corpus, "t_ladder_sq8", centroids=cents, impl="jvm",
        num_buckets=8, path=f"{scratch}/sq8", sq8=True,
    )
    pidx, _, _ = materialize_pq_index(
        corpus, "t_ladder_pq", centroids=cents, impl="jvm",
        num_buckets=8, path=f"{scratch}/pq",
    )
    xidx, _ = materialize_ivf_index(
        corpus, "t_ladder_pfx", centroids=cents, impl="jvm",
        num_buckets=8, path=f"{scratch}/pfx", prefix_dims=16,
    )

    # 4. rung sizing: read BEFORE switching a production gate
    pq_report = pq_gate_margin_report(pidx, threshold=0.95).collect()[0]

    # 5. one arriving batch through every rung via the ONE entry
    #    point — kept sets must be identical (stage 2 is exact)
    batch = _perturbed_gate_batch(corpus, n).cache()
    batch_rows = batch.count()
    kept = {}
    for rung, kw in (
        ("float", dict(corpus=corpus)),
        ("float_index", dict(corpus=None, index=fidx)),
        ("sq8", dict(corpus=corpus, index_table="t_ladder_sq8")),
        ("pq", dict(corpus=corpus, index_table="t_ladder_pq")),
        ("prefix", dict(corpus=corpus, index_table="t_ladder_pfx")),
    ):
        kept[rung] = sorted(
            r.vec_id
            for r in semantic_dedup_gate(
                batch, centroids=cents, threshold=0.95, n_probe=2,
                **kw,
            ).select("vec_id").collect()
        )
    batch.unpersist()
    assert (
        kept["float"] == kept["float_index"] == kept["sq8"]
        == kept["pq"] == kept["prefix"]
    )

    # 6. rung auto-pick (r14): two metadata-sized aggregations per
    #    corpus shape decide the rung — the same call
    #    incremental_semantic_ingest(rung='auto') makes at
    #    bootstrap. This corpus is SQ8-friendly, so the most-
    #    compressed viable rung is SQ8 on every shape; to show the
    #    decision DOING something we demo an SQ8-hostile store (tiny
    #    vectors + grid-stretching outliers — the derived margin
    #    2Δ/min‖v‖ eats the threshold): there a matryoshka energy
    #    profile picks 'prefix' and a uniform one falls back to
    #    'float'. PQ is never auto-picked (needs trained codebooks).
    from dataprocessingframework_spark.operators.similarity import (
        gate_rung_signals,
        recommend_gate_rung,
    )

    dim = len(corpus.first().embedding)
    outliers = corpus.sparkSession.createDataFrame(
        [(-1, [10.0] * dim), (-2, [-10.0] * dim)],
        schema="vec_id long, embedding array<double>",
    )
    hostile = corpus.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x * F.lit(0.01))
        .cast("array<double>")
        .alias("embedding"),
    ).unionByName(outliers)
    hostile_mat = hostile.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x, i: x * F.pow(F.lit(0.125), F.floor(i / F.lit(16))),
        ).alias("embedding"),
    )
    picks = {}
    for variant, c in (
        ("sq8_friendly", corpus),
        ("hostile_uniform", hostile),
        ("hostile_matryoshka", hostile_mat),
    ):
        sig = gate_rung_signals(c, prefix_dims=16)
        verdict = recommend_gate_rung(
            threshold=0.95,
            rest_mass_p95=sig["rest_mass_p95"],
            sq8_margin=sig["sq8_margin"],
        )
        print(
            f"auto_rung[{variant}]: rung={verdict['rung']}"
            f" rest_mass_p95={sig['rest_mass_p95']:.4f}"
            f" sq8_margin={sig['sq8_margin']:.4f}"
            f" viable_prefix={verdict['viable_prefix']}"
            f" viable_sq8={verdict['viable_sq8']}"
        )
        picks[variant] = verdict["rung"]
    assert picks["sq8_friendly"] == "sq8"
    assert picks["hostile_matryoshka"] == "prefix"
    assert picks["hostile_uniform"] == "float"

    return {
        "n_corpus": n,
        "max_cell_before": before.max_cell,
        "max_cell_after": after.max_cell,
        "n_cells_after": after.n_used,
        "pq_frac_no_headroom": pq_report.frac_no_headroom,
        "batch_rows": batch_rows,
        "kept_rows": len(kept["float"]),
        "rungs_agree": True,
        "auto_rung_sq8_friendly": picks["sq8_friendly"],
        "auto_rung_hostile_uniform": picks["hostile_uniform"],
        "auto_rung_hostile_matryoshka": picks["hostile_matryoshka"],
    }


def cleanup(spark) -> None:
    for base in ("t_ladder_float", "t_ladder_sq8", "t_ladder_pq",
                 "t_ladder_pfx"):
        for sfx in ("", "_centroids", "_sq8", "_pq", "_prefix"):
            spark.sql(f"DROP TABLE IF EXISTS {base}{sfx}")


def main(sf_dir: str | None = None) -> dict:
    from dataprocessingframework_spark.queries import SCRATCH
    from dataprocessingframework_spark.session import get_spark

    sf_dir = sf_dir or (
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    )
    spark = get_spark(app_name="semantic-gate-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = run_pipeline(spark, sf_dir, os.path.join(SCRATCH, "gate_ladder"))
    finally:
        cleanup(spark)
        import shutil

        shutil.rmtree(os.path.join(SCRATCH, "gate_ladder"), ignore_errors=True)
    for k, v in out.items():
        print(f"{k}: {v}")
    return out


if __name__ == "__main__":
    main()
