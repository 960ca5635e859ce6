"""Shard-compaction CHAOS soak (r14): the two-phase manifest's heal
paths have unit tests at specific crash points; this drives whole
compact_shards runs with RANDOMIZED kills and asserts the invariants
the design claims:

- after ANY crash + heal_compaction, the reader-visible row multiset
  equals the pre-compaction dataset (no loss, no duplicates);
- a follow-up compact_shards completes and leaves a merged tail
  (<2 undersized shards), no manifest, no visible temps;
- appends landing between a crash and its heal are never deleted by
  the heal (the ADVICE r13 number-reservation guard), exercised on a
  random subset of rounds.

Mechanics: `shards_source.get_fs` is monkeypatched to return a
CrashFS that raises after a random number of MUTATING operations.
`register_shards_source` pickles the module by value per job, so the
patched global ships into the DSv2 rewrite's executor tasks and
driver-side commit as well — kills land in the manifest PUT, the
rewrite's temp writes, the commit renames, the done flip, and the
garbage-collect deletes, not just between driver statements. Reads
never crash.

Both backends: posix and fakeobj:// (object-store semantics).

Usage: python tools/shard_compaction_chaos_soak.py [--rounds 12]
                                                   [--seed 14]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dataprocessingframework_spark.queries import SCRATCH  # noqa: E402
from dataprocessingframework_spark.sources import shards_source  # noqa: E402
from dataprocessingframework_spark.sources.shard_fs import (  # noqa: E402
    get_fs as real_get_fs,
)
from dataprocessingframework_spark.sources.shards_source import (  # noqa: E402
    compact_shards,
    heal_compaction,
    register_shards_source,
)


class ChaosCrash(RuntimeError):
    pass


class CrashFS:
    """Raises after ``budget`` mutating ops (reads never crash).
    Executor-side instances unpickle with their current counter —
    every task gets its own countdown, like a real machine-level
    kill taking out whatever was in flight there.

    ``arm_path``: the kill switch is an ON-DISK sentinel, not just
    the driver's module global. The by-value module pickle plants
    CrashFS copies in Spark's long-lived Python planner/worker
    processes, where the driver's `get_fs` restore never reaches —
    and a spent budget kills FOREVER, so a leaked copy would fail the
    soak's own post-crash appends (seen in r15 when writer init
    gained a lease PUT). Deleting the sentinel disarms every copy in
    every process at once."""

    def __init__(self, inner, budget: int, arm_path: str) -> None:
        self._inner = inner
        self._budget = budget
        self._arm = arm_path
        self.ops = 0

    def _spend(self) -> None:
        if not os.path.exists(self._arm):
            return  # disarmed: behave as the real fs everywhere
        if self.ops >= self._budget:
            raise ChaosCrash(f"killed at op {self.ops}")
        self.ops += 1

    def replace(self, src, dst):
        self._spend()
        return self._inner.replace(src, dst)

    def put_atomic(self, path, data):
        self._spend()
        return self._inner.put_atomic(path, data)

    def open_write(self, path):
        self._spend()
        return self._inner.open_write(path)

    def remove(self, path):
        self._spend()
        return self._inner.remove(path)

    def rmtree(self, path):
        self._spend()
        return self._inner.rmtree(path)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def visible_rows(spark, path: str) -> dict:
    df = (
        spark.read.format("dpf_shards")
        .schema("name string, k int, split_name string")
        .option("content", "false")
        .load(path)
    )
    out: dict = {}
    for r in df.collect():
        out[r.name] = out.get(r.name, 0) + 1
    return out


def build_tail(spark, path: str, round_no: int) -> dict:
    """Six 4-row micro-batch appends + one right-sized 24-row shard."""
    def docs(lo, n):
        return spark.range(lo, lo + n).select(
            F.concat(F.lit(f"r{round_no}-doc"), F.col("id")).alias("name"),
            F.col("id").cast("int").alias("k"),
        )

    for lo in range(0, 24, 4):
        docs(lo, 4).repartition(1).write.format("dpf_shards").option(
            "content", "false"
        ).mode("append").save(path)
    docs(100, 24).repartition(1).write.format("dpf_shards").option(
        "content", "false"
    ).mode("append").save(path)
    return {f"r{round_no}-doc{i}": 1 for i in range(0, 24)} | {
        f"r{round_no}-doc{i}": 1 for i in range(100, 124)
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=12)
    ap.add_argument("--seed", type=int, default=14)
    ap.add_argument(
        "--root", default=os.path.join(SCRATCH, "compact_chaos")
    )
    args = ap.parse_args()

    from dataprocessingframework_spark.session import get_spark

    spark = get_spark(
        app_name="compaction-chaos", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_shards_source(spark)
    rng = random.Random(args.seed)
    shutil.rmtree(args.root, ignore_errors=True)
    stats = {"rounds": 0, "crashes": 0, "appends_under_crash": 0}

    for rnd in range(args.rounds):
        backend = "fakeobj" if rnd % 2 else "posix"
        raw = os.path.join(args.root, f"{backend}-{rnd}")
        path = f"fakeobj://{raw}" if backend == "fakeobj" else raw
        expected = build_tail(spark, path, rnd)
        assert visible_rows(spark, path) == expected

        budget = rng.randrange(0, 30)
        os.makedirs(args.root, exist_ok=True)
        arm = os.path.join(args.root, "_chaos_armed")
        with open(arm, "w") as fh:
            fh.write(str(rnd))
        shards_source.get_fs = (
            lambda p, _b=budget, _a=arm: CrashFS(real_get_fs(p), _b, _a)
        )
        crashed = False
        try:
            compact_shards(spark, path, max_files_in_shard=24)
        except Exception:  # noqa: BLE001 — ChaosCrash arrives wrapped
            # in Py4J/Spark job failures from executor-side kills
            crashed = True
            stats["crashes"] += 1
        finally:
            shards_source.get_fs = real_get_fs
            # disarm the copies the module-by-value pickle left in
            # Spark's aux Python processes (see CrashFS docstring)
            os.remove(arm)

        if crashed and rng.random() < 0.5:
            # an append lands between the crash and the heal: the
            # manifest's pending numbers are reserved, so the heal
            # must not delete it (ADVICE r13 medium)
            stats["appends_under_crash"] += 1
            spark.range(500, 503).select(
                F.concat(F.lit(f"r{rnd}-late"), F.col("id")).alias(
                    "name"
                ),
                F.col("id").cast("int").alias("k"),
            ).repartition(1).write.format("dpf_shards").option(
                "content", "false"
                # the appender KNOWS the compaction holder crashed
                # (we just watched it die) — take over its lease if
                # the crash window left it standing (r15)
            ).option("lease_takeover", "true").mode("append").save(path)
            expected |= {f"r{rnd}-late{i}": 1 for i in (500, 501, 502)}

        heal_compaction(path)
        got = visible_rows(spark, path)
        assert got == expected, (
            rnd, backend, budget,
            {k: v for k, v in got.items() if expected.get(k) != v},
        )

        # follow-up compaction completes and merges the tail; the
        # crashed run may have left its lease standing (the tool KNOWS
        # the holder is dead — it watched it crash), so take over
        compact_shards(
            spark, path, max_files_in_shard=24,
            lease_takeover=crashed,
        )
        assert visible_rows(spark, path) == expected, (rnd, "post")
        fs = real_get_fs(path)
        names = fs.listdir(path)
        assert "_compaction.json" not in names, (rnd, names)
        assert not [
            n for n in names if n.endswith(".tmp") and not n.startswith(".")
        ]
        csvs = [n for n in names if n.endswith(".csv")]
        sizes = {
            r.split_name: r.n
            for r in spark.read.format("dpf_shards")
            .schema("name string, k int, split_name string")
            .option("content", "false")
            .load(path)
            .groupBy("split_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        small = [s for s, n in sizes.items() if n < 12]
        assert len(small) < 2, (rnd, sizes)
        assert len(csvs) == len(sizes)
        stats["rounds"] += 1
        shutil.rmtree(raw, ignore_errors=True)

    print(json.dumps({**stats, "seed": args.seed}))


if __name__ == "__main__":
    main()
