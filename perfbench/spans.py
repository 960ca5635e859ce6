"""Span recorder, Spark job accounting, process-tree CPU and memory
sampling, and the ending of a run's child processes.

Spans are recorded from the benchmark's side of each call into the
package: name, layer, start, end, parent span and run id, kept in memory
and written out as one JSON file when the run ends. A layer's self time
is its spans' duration minus the part covered by child spans.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span recorder. ``enabled=False`` makes :meth:`span` a
    no-op so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str = "bench", **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, self.run_id, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer over ``root`` and the spans under it. A
        span's self time is its duration minus its children's
        durations; children never overlap (calls are sequential)."""
        under = self._descendants(root)
        child_sum: dict[int, float] = {}
        for sp in under:
            if sp.parent is not None:
                child_sum[sp.parent] = child_sum.get(sp.parent, 0.0) + sp.duration
        out: dict[str, float] = {}
        for sp in under:
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.duration - child_sum.get(sp.span_id, 0.0)
        return out

    def _descendants(self, root: Span) -> list[Span]:
        keep = {root.span_id}
        out = [root]
        for sp in self.spans[root.span_id + 1 :]:
            if sp.parent in keep:
                keep.add(sp.span_id)
                out.append(sp)
        return out

    def resolve_jobs(self, spark) -> None:
        """Attach Spark job accounting to every span that ran a job group."""
        for sp in self.spans:
            if "group" in sp.attrs:
                sp.attrs.update(job_stats(spark, sp.attrs["group"]))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def load_spans(path: str) -> list[dict]:
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- Spark side
def plan_split(rec: Recorder, spark, name: str, layer: str, build):
    """Time one package call that returns a DataFrame, split into
    construction (the Python call, py4j and eager analysis), logical
    optimisation, physical planning and execution, and return the
    materialised (locally checkpointed) result. Execution runs inside a
    job group; :meth:`Recorder.resolve_jobs` later reads back the jobs,
    stages, tasks, executor run time and shuffle bytes it caused, so
    that accounting is not charged to the call."""
    sc = spark.sparkContext
    group = f"perfbench-{rec.run_id}-{len(rec.spans)}"
    with rec.span(name, layer, group=group) as sp:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.optimizedPlan()
        t2 = time.perf_counter()
        qe.executedPlan()
        t3 = time.perf_counter()
        sc.setJobGroup(group, f"perfbench {name}")
        try:
            df = df.localCheckpoint(eager=True)
            rows = df.count()
        finally:
            sc._jsc.clearJobGroup()
        t4 = time.perf_counter()
    sp.attrs.update(construct_s=t1 - t0, optimize_s=t2 - t1, plan_s=t3 - t2, exec_s=t4 - t3, rows=rows)
    return df


def job_stats(spark, group: str) -> dict:
    """Jobs, stages and tasks of a job group from the status tracker,
    plus executor run time and shuffle write bytes per stage from the
    UI's REST API on localhost."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = run_ms = shuffle = 0
    base = sc.uiWebUrl
    app = sc.applicationId
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks == 0:
            continue  # skipped stage: its shuffle output was reused
        stages += 1
        tasks += info.numCompletedTasks
        if base:
            for att in _rest(f"{base}/api/v1/applications/{app}/stages/{sid}"):
                run_ms += att.get("executorRunTime", 0)
                shuffle += att.get("shuffleWriteBytes", 0)
    return {
        "jobs": len(jobs),
        "stages": stages,
        "tasks": tasks,
        "executor_run_s": run_ms / 1000.0,
        "shuffle_write_bytes": shuffle,
    }


def _rest(url: str) -> list:
    # the listener bus updates the status store asynchronously; a stage
    # that just finished can lag by a few milliseconds
    for _ in range(20):
        try:
            with urllib.request.urlopen(url, timeout=5) as r:
                data = json.load(r)
            if all(a.get("status") in ("COMPLETE", "FAILED", "SKIPPED") for a in data):
                return data
        except OSError:
            pass
        time.sleep(0.05)
    return []


# --------------------------------------------------------------- memory side
class MemSampler:
    """Peak memory of this process and all its descendants (the driver
    JVM, Python workers), sampled from /proc every ``INTERVAL`` seconds
    on a daemon thread. Memory is the proportional set size: a page
    shared by forked Python workers is split between them instead of
    counted once per worker, so the sum is the tree's real footprint."""

    INTERVAL = 0.2

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample()

    def sample(self) -> None:
        total = sum(_pss(p) for p in _tree(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass  # process ended between listing and reading
    return 0


def tree_cpu_seconds() -> float:
    """User plus system CPU seconds of this process and all its
    descendants, including exited children their parents reaped. Time a
    virtual CPU spends stolen by the host is not in it, unlike wall
    time."""
    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process ended between listing and reading
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def descendants() -> list[int]:
    """Every process under this one."""
    me = os.getpid()
    return [p for p in _tree(me) if p != me]


def end_processes(pids: list[int], grace: float) -> list[int]:
    """Wait until each process in ``pids`` has ended: first on its own,
    then after SIGTERM, then after SIGKILL, ``grace`` seconds for each
    step. Returns those still running at the end (none, unless a
    process ignores SIGKILL)."""
    left = list(pids)
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for p in left if sig else ():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while True:
            left = [p for p in left if _running(p)]
            if not left or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not left:
            break
    return left


def _running(pid: int) -> bool:
    """True unless the process is gone or only a zombie waiting to be
    reaped (it has ended; its parent just has not collected it yet)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")
