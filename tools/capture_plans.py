"""Capture .explain("formatted") for every computational bench entry.

Writes plans/<tag>/<name>_<suffix>.txt for each entry so optimization
rounds can diff plan shapes (Exchange count, join strategy,
PushedFilters, BatchEvalPython nodes) before/after a change without
re-running the bench.

Usage: python tools/capture_plans.py <tag> <suffix> [name ...]
e.g.   python tools/capture_plans.py r16 before
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r16"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from dataprocessingframework_spark import queries as q
    from dataprocessingframework_spark.operators import (
        dedup,
        similarity,
        text_analysis,
    )
    from dataprocessingframework_spark.session import get_spark

    spark = get_spark(app_name="dpf-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    d = SF_DIR
    emb = lambda: q.T(spark, d, "embeddings")  # noqa: E731
    docs = lambda: q.T(spark, d, "documents")  # noqa: E731

    # name -> thunk returning the UN-materialized DataFrame, mirroring
    # bench.py's bench_queries shapes (no index-probe entries here:
    # their plans are dominated by the materialized-table scan and the
    # build is expensive; capture them ad hoc when touched)
    builders = {
        "q1_pricing_summary": lambda: q.q_h1_pricing_summary(spark, d),
        "q3_top_orders": lambda: q.q_h3_top_orders(spark, d),
        "q5_region_revenue": lambda: q.q_h5_region_revenue(spark, d),
        "group_agg": lambda: q.q_a3_group_agg(spark, d),
        "window_topn": lambda: q.q_window_topn(spark, d),
        "update_columns": lambda: q.q_w4_update_columns(spark, d),
        "asof_join": lambda: q.q_j_asof(spark, d),
        "event_window_agg": lambda: q.q_f_time_bucket(spark, d),
        "event_sessionize": lambda: q.q_ev_sessionize(spark, d),
        "text_quality": lambda: q.q_tx_quality(spark, d),
        "pipeline_curation": lambda: q.q_pipeline_curation(spark, d),
        "pipeline_curation_v2": lambda: q.q_pipeline_curation_v2(spark, d),
        "minhash_signatures": lambda: dedup.minhash_signatures(
            docs(), "text", "doc_id", num_hashes=16
        ),
        "text_pack_sequences": lambda: text_analysis.pack_sequences(
            docs(), context_len=1024
        ),
        "minhash_lsh_candidates_capped": lambda: dedup.minhash_lsh_candidates(
            docs(), "text", "doc_id", num_hashes=16, bands=4
        ),
        "jaccard_verify_lsh": lambda: dedup.jaccard_pairs(
            docs(), "text", "doc_id", threshold=0.5,
            candidates=dedup.minhash_lsh_candidates(
                docs(), "text", "doc_id", num_hashes=16, bands=4
            ),
        ),
        "cc_clusters_star": None,  # iterative: plan capture meaningless
        "text_remove_dup_passages": lambda: q.q_tx_remove_dup_passages(
            spark, d
        ),
        "text_remove_dup_spans": lambda: q.q_tx_remove_dup_spans(spark, d),
        "ann_topk_cosine": lambda: q.q_emb_topk(spark, d),
        "ann_topk_blas": lambda: similarity.cosine_topk(
            emb(), emb().filter(F.col("vec_id") < 50), k=10, impl="blas"
        ),
        "ann_lsh_topk": lambda: similarity.lsh_topk(
            emb(), emb().filter(F.col("vec_id") < 50), k=10,
            broadcast_queries=True,
        ),
        "ann_ivf_topk": lambda: similarity.ivf_topk(
            emb(), emb().filter(F.col("vec_id") < 10), k=5,
            n_cells=16, n_probe=4,
        ),
        "ann_lsh_multi_topk": lambda: similarity.lsh_topk(
            emb(), emb().filter(F.col("vec_id") < 50), k=10,
            n_tables=3, broadcast_queries=True,
        ),
        "ann_kcenter": None,  # iterative
        "ann_kcenter_batched": None,  # iterative
    }

    unknown = only - set(builders)
    assert not unknown, (
        f"unknown plan-capture names: {sorted(unknown)} — a typo here"
        " silently leaves a STALE <name>_<suffix>.txt in place and the"
        " next plan diff compares a pre-change plan against itself"
    )

    for name, build in builders.items():
        if only and name not in only:
            continue
        if build is None:
            if only:
                # an EXPLICITLY requested iterative entry has no static
                # plan; say so loudly (ADVICE r16) — a silent skip here
                # leaves a stale <name>_<suffix>.txt in place, exactly
                # the hazard the unknown-name assert above warns about
                print(
                    f"SKIP {name}: iterative entry, no static plan —"
                    f" NO {name}_{suffix}.txt was (re)written; delete"
                    " any stale one before diffing"
                )
            continue
        try:
            df = build()
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {name}: {type(e).__name__}: {e}")
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        n_exchange = buf.getvalue().count("Exchange")
        print(f"ok   {name}: {n_exchange} Exchange refs -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
