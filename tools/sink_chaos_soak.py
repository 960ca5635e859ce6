"""Streaming shard sink CHAOS soak (r14 — VERDICT r13 item 6): the
exactly-once marker path has unit tests for single crash points; this
drives hundreds of micro-batches with RANDOMIZED kill points and
asserts the surviving dataset is bit-for-bit identical to a no-crash
twin run — the exactly-once claim gets the measured-not-argued
treatment the lexical tier got in r13.

Mechanics: ``ShardsStreamWriter.commit`` is driver-side logic over the
``shard_fs`` seam, so a crash ANYWHERE inside it is simulated by an
FS wrapper that raises after a random number of mutating operations
(marker puts + renames all count). That lands kills before the
write-ahead marker, mid-renames, before the ``done`` flip, and on
replays of already-done batches — including crashes DURING the
replay's own healing. After every crash the batch is "restarted":
fresh attempt temps (as Spark re-runs the tasks) + another commit
call, until one completes. Batches mix csv-only and csv+tar shards,
multi-task manifests, and occasional spurious re-deliveries of
already-committed batchIds.

Run on both backends: posix (atomic renames) and fakeobj://
(object-store semantics — copy+delete renames, PUT-only markers).

Usage: python tools/sink_chaos_soak.py [--batches 300] [--seed 14]
"""

from __future__ import annotations

import argparse
import hashlib
import io
import os
import random
import shutil
import sys
import tarfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import (  # noqa: E402
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from dataprocessingframework_spark.queries import SCRATCH  # noqa: E402
from dataprocessingframework_spark.sources import (  # noqa: E402
    shards_source,
)
from dataprocessingframework_spark.sources.shard_fs import (  # noqa: E402
    get_fs,
    join as fs_join,
)
from dataprocessingframework_spark.sources.shards_source import (  # noqa: E402
    ShardsCommitMessage,
    ShardsStreamWriter,
)


class ChaosCrash(RuntimeError):
    pass


class CrashFS:
    """Raises after ``budget`` mutating FS operations — the simulated
    driver kill. Reads never crash (a dead driver doesn't corrupt
    reads; the next driver re-reads)."""

    def __init__(self, inner, budget: int) -> None:
        self._inner = inner
        self._budget = budget
        self.ops = 0

    def _spend(self) -> None:
        if self.ops >= self._budget:
            raise ChaosCrash(f"killed at op {self.ops}")
        self.ops += 1

    def replace(self, src, dst):
        self._spend()
        return self._inner.replace(src, dst)

    def put_atomic(self, path, data):
        self._spend()
        return self._inner.put_atomic(path, data)

    def remove(self, path):
        self._spend()
        return self._inner.remove(path)

    def rmtree(self, path):
        self._spend()
        return self._inner.rmtree(path)

    def __getattr__(self, name):
        return getattr(self._inner, name)


SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("text", StringType()),
    ]
)


def make_task_temps(
    writer: ShardsStreamWriter, path: str, batch_id: int, rng: random.Random
) -> list:
    """Fresh attempt-unique temps for a batch — deterministic PAYLOAD
    per (batch, task, seq) so a rewritten batch produces identical
    bytes, exactly like a deterministic Spark task re-run."""
    fs = get_fs(path)
    n_tasks = 1 + batch_id % 3
    attempt = rng.randrange(10**6)  # attempts differ across restarts
    msgs = []
    for pid in range(n_tasks):
        prefix = fs_join(
            path, f".{writer._token}-p{pid:06d}-a{attempt}"
        )
        shards = []
        for seq in range(1 + (batch_id + pid) % 2):
            rows = [
                (batch_id * 1000 + pid * 100 + seq * 10 + r,
                 f"b{batch_id}-p{pid}-s{seq}-r{r}")
                for r in range(3)
            ]
            csv = "\n".join(
                ['"id","text"']
                + [f'{i},"{t}"' for i, t in rows]
            ) + "\n"
            tmp_csv = f"{prefix}-s{seq}.csv.tmp"
            fs.put_atomic(tmp_csv, csv.encode())
            tmp_tar = None
            if batch_id % 5 == 0:  # every 5th batch carries media
                tmp_tar = f"{prefix}-s{seq}.tar.tmp"
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w") as tf:
                    for i, t in rows:
                        data = t.encode()
                        info = tarfile.TarInfo(name=f"{i}.txt")
                        info.size = len(data)
                        info.mtime = 0
                        tf.addfile(info, io.BytesIO(data))
                fs.put_atomic(tmp_tar, buf.getvalue())
            shards.append((pid, seq, tmp_csv, tmp_tar, len(rows)))
        msgs.append(ShardsCommitMessage(shards=shards))
    return msgs


def run_sink(
    path: str, n_batches: int, rng: random.Random | None
) -> dict:
    """Drive n_batches through the sink; with ``rng``, randomly crash
    commits (incl. replays) until each batch eventually lands.
    Returns {crashes, replays}."""
    writer = ShardsStreamWriter(
        SCHEMA, {"path": path, "checkpointlocation": f"{path}-ckpt"},
        overwrite=False,
    )
    stats = {"crashes": 0, "replays": 0, "spurious": 0}
    real_get_fs = shards_source.get_fs
    for b in range(n_batches):
        landed = False
        attempt = 0
        while not landed:
            msgs = make_task_temps(
                writer, writer._path, b, rng or random.Random(b)
            )
            if rng is None:
                writer.commit(msgs, batchId=b)
                landed = True
                continue
            # escalating budget: retries accumulate temps the replay's
            # sweep must remove, so a fixed cap would livelock — a
            # real driver eventually survives a whole commit
            budget = rng.randrange(0, 12) + 6 * attempt
            attempt += 1
            crash_fs = CrashFS(real_get_fs(writer._path), budget)
            shards_source.get_fs = lambda p, _fs=crash_fs: _fs
            try:
                writer.commit(msgs, batchId=b)
                landed = True
            except ChaosCrash:
                stats["crashes"] += 1
                stats["replays"] += 1
            finally:
                shards_source.get_fs = real_get_fs
        # occasional spurious re-delivery of an already-done batch
        # (Spark replays the last batch after restart) — may also crash
        if rng is not None and b and rng.random() < 0.2:
            stats["spurious"] += 1
            victim = rng.randrange(0, b + 1)
            msgs = make_task_temps(writer, writer._path, victim, rng)
            budget = rng.randrange(0, 12)
            crash_fs = CrashFS(real_get_fs(writer._path), budget)
            shards_source.get_fs = lambda p, _fs=crash_fs: _fs
            try:
                writer.commit(msgs, batchId=victim)
            except ChaosCrash:
                stats["crashes"] += 1
                # heal on the next delivery of ANY commit for this id
                msgs2 = make_task_temps(writer, writer._path, victim, rng)
                shards_source.get_fs = real_get_fs
                writer.commit(msgs2, batchId=victim)
            finally:
                shards_source.get_fs = real_get_fs
    return stats


def dataset_fingerprint(path: str) -> tuple:
    """(sorted file list, content hash) — bit-for-bit comparison,
    markers dir excluded (namespaces differ across the twin runs)."""
    fs = get_fs(path)
    names = sorted(
        n for n in fs.listdir(path) if not n.startswith(("_", "."))
    )
    h = hashlib.md5()
    for n in names:
        h.update(n.encode())
        h.update(fs.read_bytes(fs_join(path, n)))
    return names, h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=300)
    ap.add_argument("--seed", type=int, default=14)
    ap.add_argument("--root", default=os.path.join(SCRATCH, "sink_chaos"))
    args = ap.parse_args()

    shutil.rmtree(args.root, ignore_errors=True)
    results = {}
    for backend in ("posix", "fakeobj"):
        base = os.path.join(args.root, backend)
        os.makedirs(base, exist_ok=True)
        clean = os.path.join(base, "clean")
        chaos_raw = os.path.join(base, "chaos")
        chaos = (
            f"fakeobj://{chaos_raw}" if backend == "fakeobj" else chaos_raw
        )
        clean_p = (
            f"fakeobj://{clean}" if backend == "fakeobj" else clean
        )
        run_sink(clean_p, args.batches, rng=None)
        stats = run_sink(
            chaos, args.batches, rng=random.Random(args.seed)
        )
        f_clean = dataset_fingerprint(clean_p)
        f_chaos = dataset_fingerprint(chaos)
        assert f_clean[0] == f_chaos[0], (
            backend,
            set(f_clean[0]) ^ set(f_chaos[0]),
        )
        assert f_clean[1] == f_chaos[1], backend
        # no stray temps, every marker settled 'done'
        fs = get_fs(chaos)
        assert not [
            n for n in fs.listdir(chaos) if n.endswith(".tmp")
        ], backend
        import json as _json

        ns_root = fs_join(chaos, "_shards_commits")
        for ns in fs.listdir(ns_root):
            for m in fs.listdir(fs_join(ns_root, ns)):
                st = _json.loads(
                    fs.read_bytes(fs_join(ns_root, ns, m))
                )
                assert st["state"] == "done", (backend, ns, m, st)
        results[backend] = {
            "batches": args.batches,
            "files": len(f_chaos[0]),
            **stats,
            "identical_to_clean": True,
        }
    import json

    print(json.dumps(results))


if __name__ == "__main__":
    main()
