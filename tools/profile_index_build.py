"""Profile the ANN index builds (the untimed bench extras that ARE the
ingest path at scale): run materialize_ivf_index / materialize_pq_index
with the exact bench parameters, phase-timed on the driver, then dump
per-stage metrics from the Spark UI REST API — built for the r17
inverse-scaling diagnosis (sq8/pq/gate builds 2.4-3.4x SLOWER at 32
cores than 8, BENCH_r16 vs BENCH_r16_c8).

Usage: SPARK_GRAFT_CPUS=32 python tools/profile_index_build.py sq8 [runs]
       kinds: sq8 | pq | ivf
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    kind = sys.argv[1] if len(sys.argv) > 1 else "sq8"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 1

    from dataprocessingframework_spark import queries as q
    from dataprocessingframework_spark.operators import similarity
    from dataprocessingframework_spark.session import get_spark

    conf = json.loads(os.environ.get("SPARK_GRAFT_PROFILE_CONF", "{}"))
    spark = get_spark(app_name=f"profile-build-{kind}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    emb = q.T(spark, SF_DIR, "embeddings")
    emb.count()  # warm the scan/session

    base_url = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def stages():
        with urllib.request.urlopen(
            f"{base_url}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            return json.loads(r.read())

    import shutil

    def build(tag: str):
        table = f"prof_{kind}_{tag}"
        path = os.path.join(q.SCRATCH, f"prof_{kind}_{tag}")
        t0 = time.time()
        if kind == "pq":
            similarity.materialize_pq_index(
                emb, table, n_cells=16, iters=1, num_buckets=16, path=path
            )
            sfxs = ("", "_centroids", "_pq")
        elif kind == "sq8":
            similarity.materialize_ivf_index(
                emb, table, n_cells=16, iters=1, num_buckets=16,
                path=path, sq8=True,
            )
            sfxs = ("", "_centroids", "_sq8")
        else:
            similarity.materialize_ivf_index(
                emb, table, n_cells=16, iters=1, num_buckets=16, path=path
            )
            sfxs = ("", "_centroids")
        wall = time.time() - t0
        for sfx in sfxs:
            spark.sql(f"DROP TABLE IF EXISTS {table}{sfx}")
            shutil.rmtree(f"{path}{sfx}", ignore_errors=True)
        return wall

    build(uuid.uuid4().hex[:8])  # warm-up (untimed)

    before_ids = {s["stageId"] for s in stages()}
    walls = [build(uuid.uuid4().hex[:8]) for _ in range(runs)]
    after = [s for s in stages() if s["stageId"] not in before_ids]
    after.sort(key=lambda s: s["stageId"])
    total_run = sum(s.get("executorRunTime", 0) for s in after)
    print(
        f"\nwalls {[round(w, 2) for w in walls]} over {runs} run(s); "
        f"{len(after)} stages, executorRunTime total {total_run / 1000:.1f}s"
    )
    print(
        f"{'stage':>6} {'runTime_s':>9} {'tasks':>5} {'launch_s':>9} "
        f"{'input_MB':>8} {'shRead_MB':>9} {'shWrite_MB':>10}  name"
    )
    for s in after:
        sub = (s.get("submissionTime") or "")[11:22]
        print(
            f"{s['stageId']:>6} {s.get('executorRunTime', 0) / 1000:>9.2f} "
            f"{s.get('numCompleteTasks', 0):>5} "
            f"{sub:>9} "
            f"{s.get('inputBytes', 0) / 1e6:>8.1f} "
            f"{s.get('shuffleReadBytes', 0) / 1e6:>9.2f} "
            f"{s.get('shuffleWriteBytes', 0) / 1e6:>10.2f}  "
            f"{s.get('name', '')[:60]}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
