"""r11 drift probe for the cc_clusters_star bench entry (VERDICT r10
"What's wrong" 1): 4.75s (r8) -> 7.68s (driver r10, contended) ->
5.77s (judge clean) with dedup.py CC code unchanged. This tool
adjudicates: 3 isolated trials of the EXACT bench shape (minhash LSH
candidates over sf0.1 documents -> star-contraction CC), same
min-of-trials discipline as bench.py, plus ONE instrumented run that
records the contraction round count and per-round
(edges-after, seconds) via connected_components(round_stats=...)
— if the drift is real it shows up as more rounds or a bigger
candidate edge set (a testdata regeneration artifact), not slower
code.

Run on an otherwise-idle machine: python tools/cc_drift_probe.py
Paste the JSON line into PLANS.md "r11 cc_clusters_star drift".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from dataprocessingframework_spark import queries as q
    from dataprocessingframework_spark.operators import dedup
    from dataprocessingframework_spark.session import get_spark

    spark = get_spark(app_name="cc-drift-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def candidates():
        return dedup.minhash_lsh_candidates(
            q.T(spark, SF_DIR, "documents"), "text", "doc_id",
            num_hashes=16, bands=4,
        )

    n_docs = q.T(spark, SF_DIR, "documents").count()
    n_cand = candidates().count()

    trials = []
    for _ in range(3):
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        dedup.connected_components(
            candidates(),
            all_nodes=q.T(spark, SF_DIR, "documents").select("doc_id"),
        ).count()
        trials.append(round(time.time() - t0, 3))

    stats: list = []
    spark.sparkContext._jvm.System.gc()
    t0 = time.time()
    dedup.connected_components(
        candidates(),
        all_nodes=q.T(spark, SF_DIR, "documents").select("doc_id"),
        round_stats=stats,
    ).count()
    instrumented_s = round(time.time() - t0, 3)

    print(
        json.dumps(
            {
                "probe": "cc_clusters_star_drift",
                "sf_dir": SF_DIR,
                "n_docs": n_docs,
                "n_candidate_pairs": n_cand,
                "trials_s": trials,
                "min_s": min(trials),
                "instrumented_s": instrumented_s,
                "rounds": len(stats),
                "per_round": [
                    {"round": r, "edges_after": n, "s": round(s, 3)}
                    for r, n, s in stats
                ],
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
