"""Writer-lease CONTENTION chaos soak (r16 — VERDICT r15 item 3).

The single-writer machinery's claims — "the loser always fails loudly
before its first mutation, never interleaves", and (new in r16) "a
raced takeover can never be overwritten back by the old holder's
heartbeat" — are test-pinned at specific points; this soak measures
them the way the sink/compaction claims are measured: randomized
concurrent REAL writers (DSv2 batch appends, compact_shards,
update_shard_metadata_native) started from threads with staggered
delays, plus crashed-holder rounds that leave an ORPHAN heartbeat
ticking at a randomized tiny interval while the next writer forces a
takeover.

Invariants, asserted every round and at the end:

1. every losing op raises LOUDLY with the lease in the message —
   no op ever fails any other way, and no op silently half-lands;
2. after a takeover-winner releases, the lease STAYS released — the
   orphan heartbeat never resurrects it (polled for many ticks);
3. after EVERY round the dataset is BIT-IDENTICAL to a sequential
   twin that replays that round's winners. Winners are
   lease-serialized, but the recorded completion order can invert
   when a finished winner's thread is descheduled before recording
   (the op's Python-side append races the next winner's whole
   critical section) — so the replay tries the round's winner
   permutations, completion order first, and accepts the one whose
   twin fingerprint matches; zero matching permutations is the
   violation. Most rounds have <=3 winners, so this is <=6 cheap
   replays worst case, and it makes the invariant per-round (a
   corruption is caught in the round that caused it).

Run on both backends: posix (flock-enforced CAS) and fakeobj://
(object-store semantics, CAS modeling S3 conditional PUTs).

Usage: python tools/lease_contention_soak.py [--rounds 24] [--seed 16]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import random
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataprocessingframework_spark.queries import SCRATCH  # noqa: E402
from dataprocessingframework_spark.sources import shards_source  # noqa: E402
from dataprocessingframework_spark.sources.shard_fs import (  # noqa: E402
    get_fs,
    join as fs_join,
)
from dataprocessingframework_spark.sources.shards_source import (  # noqa: E402
    _LeaseHeartbeat,
    _read_lease,
    acquire_writer_lease,
    compact_shards,
    register_shards_source,
    update_shard_metadata_native,
)


def mk_append_df(spark, op_id: int, n: int = 8):
    rows = [
        (
            f"op{op_id:04d}_{i:02d}.bin",
            f'payload "q,\n{op_id}-{i}',
            op_id * 100 + i,
            bytes([op_id % 251, i]) * 3,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, schema="name string, caption string, k int, content binary"
    ).coalesce(1)  # coalesce preserves order: deterministic shards


def run_op(spark, path: str, op) -> None:
    """Execute one mutating op against the dataset. Raises the op's
    loud lease error when it loses."""
    kind = op[0]
    if kind == "append":
        _, op_id, takeover = op
        w = (
            mk_append_df(spark, op_id)
            .write.format("dpf_shards")
            .option("max_files_in_shard", "3")
            .mode("append")
        )
        if takeover:
            w = w.option("lease_takeover", "true")
        w.save(path)
    elif kind == "compact":
        _, takeover = op
        compact_shards(
            spark, path, max_files_in_shard=6, lease_takeover=takeover
        )
    elif kind == "update":
        _, op_id, takeover = op
        upd = spark.createDataFrame(
            [(f"op0000_{i:02d}.bin", op_id * 1000 + i) for i in range(8)],
            schema="name string, k int",
        )
        update_shard_metadata_native(
            spark, path, upd, "name", lease_takeover=takeover
        )
    else:  # pragma: no cover - config error
        raise ValueError(kind)


def dataset_fingerprint(path: str) -> tuple:
    fs = get_fs(path)
    names = sorted(
        n for n in fs.listdir(path) if not n.startswith(("_", "."))
    )
    h = hashlib.md5()
    for n in names:
        h.update(n.encode())
        h.update(fs.read_bytes(fs_join(path, n)))
    return names, h.hexdigest()


def replay_round(spark, twin: str, twin_raw: str, round_winners, f_want):
    """Apply the round's winners to the twin in SOME lease-feasible
    order: completion order first, then the other permutations (the
    recorded order can invert when a finished winner is descheduled
    before recording — see module docstring). Returns the order that
    reproduces ``f_want``; raises when none does."""
    import itertools

    backup = twin_raw + "_backup"
    shutil.rmtree(backup, ignore_errors=True)
    if os.path.isdir(twin_raw):
        shutil.copytree(twin_raw, backup)
    for perm in itertools.permutations(round_winners):
        for op in perm:
            kind = op[0]
            seq_op = (
                (kind, op[1], False)
                if kind in ("append", "update")
                else (kind, False)
            )
            run_op(spark, twin, seq_op)
        if dataset_fingerprint(twin) == f_want:
            shutil.rmtree(backup, ignore_errors=True)
            return list(perm)
        # restore and try the next order
        shutil.rmtree(twin_raw, ignore_errors=True)
        if os.path.isdir(backup):
            shutil.copytree(backup, twin_raw)
    raise AssertionError(
        "no winner permutation reproduces the chaos dataset — a loser"
        f" mutated state (winners this round: {round_winners})"
    )


def soak_backend(spark, backend: str, root: str, rounds: int, rng):
    base = os.path.join(root, backend)
    os.makedirs(base, exist_ok=True)
    chaos = (
        f"fakeobj://{base}/chaos" if backend == "fakeobj" else f"{base}/chaos"
    )
    twin_raw = f"{base}/twin"
    twin = (
        f"fakeobj://{twin_raw}" if backend == "fakeobj" else twin_raw
    )

    # seed sequentially (op 0) so the updater always has its keys
    run_op(spark, chaos, ("append", 0, False))
    run_op(spark, twin, ("append", 0, False))
    stats = {
        "rounds": rounds,
        "ops_won": 1,
        "ops_lost": 0,
        "takeover_rounds": 0,
        "orphan_resurrections": 0,
        "non_lease_failures": 0,
    }
    next_id = 1

    for rnd in range(rounds):
        orphan = None
        if rnd % 4 == 3:
            # crashed-holder round: a writer died mid-flight, lock
            # held, stray temp left, heartbeat ORPHANED at a tiny
            # randomized interval (many ticks during the takeover)
            stats["takeover_rounds"] += 1
            crashed = acquire_writer_lease(
                chaos, "crashed-writer", takeover=True
            )
            get_fs(chaos).put_atomic(
                fs_join(chaos, f".crashed-{rnd}.csv.tmp"), b"residue"
            )
            orphan = _LeaseHeartbeat(
                chaos, crashed, interval=rng.uniform(0.002, 0.02)
            )
            time.sleep(rng.uniform(0.0, 0.03))
            kinds = [("append", next_id, True)]
            next_id += 1
        else:
            kinds = []
            for _ in range(rng.randrange(2, 4)):
                k = rng.choice(["append", "compact", "update"])
                if k == "append":
                    kinds.append(("append", next_id, False))
                    next_id += 1
                elif k == "compact":
                    kinds.append(("compact", False))
                else:
                    kinds.append(("update", next_id, False))
                    next_id += 1

        results: list = []
        lock = threading.Lock()

        def attempt(op, delay):
            time.sleep(delay)
            try:
                run_op(spark, chaos, op)
                with lock:
                    results.append(("ok", op, time.monotonic()))
            except Exception as e:  # noqa: BLE001 — classified below
                with lock:
                    results.append(("err", op, str(e)))

        threads = [
            threading.Thread(
                target=attempt, args=(op, rng.uniform(0.0, 0.15))
            )
            for op in kinds
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

        for status, op, info in results:
            if status == "ok":
                stats["ops_won"] += 1
            else:
                stats["ops_lost"] += 1
                if "lease" not in info.lower():
                    stats["non_lease_failures"] += 1
                    raise AssertionError(
                        f"[{backend} rnd {rnd}] loser failed NON-LOUDLY"
                        f" ({op}): {info[:400]}"
                    )
        # invariant 3, per round: the chaos dataset equals the twin
        # after SOME lease-feasible order of this round's winners
        # (completion order tried first)
        round_winners = [
            op
            for status, op, t_done in sorted(
                (r for r in results if r[0] == "ok"), key=lambda r: r[2]
            )
        ]
        if round_winners:
            replay_round(
                spark, twin, twin_raw, round_winners,
                dataset_fingerprint(chaos),
            )

        if orphan is not None:
            # invariant 2: post-round the lease must be released and
            # STAY released across many orphan ticks
            deadline = time.monotonic() + 0.25
            while time.monotonic() < deadline:
                held = _read_lease(chaos)
                if held is not None:
                    stats["orphan_resurrections"] += 1
                    raise AssertionError(
                        f"[{backend} rnd {rnd}] orphan heartbeat"
                        f" resurrected a released lease: {held}"
                    )
                time.sleep(0.01)
            orphan.stop()

    # final end-to-end check (redundant with the per-round replays,
    # kept as the cheap belt-and-braces)
    f_chaos, f_twin = dataset_fingerprint(chaos), dataset_fingerprint(twin)
    assert f_chaos == f_twin, (backend, "final fingerprint diverged")
    stats["files"] = len(f_chaos[0])
    stats["bit_identical_to_twin"] = True
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=24)
    ap.add_argument("--seed", type=int, default=16)
    ap.add_argument(
        "--root", default=os.path.join(SCRATCH, "lease_contention")
    )
    args = ap.parse_args()

    from dataprocessingframework_spark.session import get_spark

    spark = get_spark()
    register_shards_source(spark)
    shutil.rmtree(args.root, ignore_errors=True)

    results = {}
    for backend in ("posix", "fakeobj"):
        rng = random.Random(args.seed)
        results[backend] = soak_backend(
            spark, backend, args.root, args.rounds, rng
        )
    import json

    print(json.dumps(results))


if __name__ == "__main__":
    main()
