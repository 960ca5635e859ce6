"""Benchmark entry point.

    python3 perfbench/run.py --workload curate_text --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. One run is one fresh process
with one Spark session on ``local[<cpus>]``: it generates the workload's
inputs from ``--seed`` under ``.perfbench_work/`` in the checkout, runs
the workload's operation in a single-client closed loop until
``--seconds`` have passed (at least once), checks every operation's
output, and prints two JSON lines: a ``detail`` line with the
workload's own figures, then the result line (``correct``,
``attempted``, ``failed``, ``metrics``). ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs exactly one operation, traced,
reports the per-layer metrics instead and writes its spans to
``.perfbench_out/``. ``compare.py`` prints per-layer deltas between two
traced runs and the tracing overhead against an untraced run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import workloads  # noqa: E402
from spans import MemSampler, Recorder, descendants, end_processes, tree_cpu_seconds  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dataprocessingframework_spark"
DRIVER_MEM = "1g"  # far below host RAM, and a steadier peak footprint

END_TO_END = ("setup_s", "op_wall_s", "op_cpu_s", "peak_pss_mb")

# Fields of the construct/optimise/plan/execute split reported, as
# <call>.<field>, for every call a traced run materialised.
SPLIT_FIELDS = (
    "construct_s",
    "optimize_s",
    "plan_s",
    "exec_s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
)
# A traced operation's layer self times must cover all but this share of
# its wall time; the rest is the benchmark's own glue between calls.
TRACE_TOLERANCE = 0.15
# Seconds the driver JVM and its Python workers get to end after the
# session stops, before each is sent SIGTERM, and again before SIGKILL.
STOP_GRACE_S = 10.0


def bench_config() -> dict:
    """Every end-to-end and per-layer metric this benchmark declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or (None, None) when there are too few samples."""
    n = len(samples)
    if n < 11:
        return None, None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(samples)[n - 11]


def spark_env(work: str) -> dict:
    """Environment for the session and its workers: all scratch space
    inside the run's work directory, the package importable by Python
    workers, cores and driver memory sized to this host."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }


def extra_conf(work: str) -> dict:
    """Spark settings the benchmark adds through ``get_spark``; the
    reasons are listed in README.md."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


@dataclass
class Measurement:
    lat: list = field(default_factory=list)  # wall seconds per completed operation
    cpu: list = field(default_factory=list)  # process-tree CPU seconds per operation
    items: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    spans: object = None  # the traced operation's Recorder


def measure(wl, seconds: float, trace: bool, run_id: str, spark=None) -> Measurement:
    """The closed loop: run operation i, check its output, and start
    operation i + 1 until ``seconds`` have passed (always at least one
    operation). A failed or wrong operation is counted and ends the
    loop. With ``trace`` exactly one operation runs, traced, in the same
    place as an untraced run's first one."""
    m = Measurement()
    t_loop = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_loop < seconds:
        m.attempted += 1
        rec = Recorder(run_id, enabled=trace)
        t, cpu = time.perf_counter(), tree_cpu_seconds()
        try:
            with rec.span("operation") as root:
                m.items += wl.op(i, rec)["items"]
            m.lat.append(time.perf_counter() - t)
            m.cpu.append(tree_cpu_seconds() - cpu)
            bad = wl.check(i)
        except Exception:  # noqa: BLE001 — counted as a failed operation
            bad = [traceback.format_exc(limit=3)]
        if bad:
            m.failed += 1
            m.problems.extend(bad)
            break
        i += 1
        if trace:
            rec.resolve_jobs(spark)
            m.layer.update(wl.layer)
            m.layer.update(trace_metrics(rec, root))
            m.spans = rec
            break
    return m


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    os.environ.update(spark_env(work))
    detail: dict = {"workload": args.workload, "seed": args.seed}
    spark = None
    try:
        with MemSampler() as mem:
            from dataprocessingframework_spark.session import get_spark

            t = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf(work))
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t
            wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
            wl.setup()
            setup_wall_s = time.perf_counter() - T_START
            setup_s = tree_cpu_seconds()
            m = measure(wl, args.seconds, bool(args.trace), run_id, spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    pct, tail_s = tail(m.lat)
    detail.update(wl.detail)
    detail.update(
        {
            "setup_s": setup_s,
            "setup_wall_s": setup_wall_s,
            "op_wall_s": statistics.median(m.lat) if m.lat else None,
            "op_tail_ms": None if tail_s is None else 1000 * tail_s,
            "op_tail_pct": pct,
            "op_samples": len(m.lat),
            "items_per_s": m.items / sum(m.lat) if m.lat else None,
            "op_cpu_s": statistics.median(m.cpu) if m.cpu else None,
            "peak_pss_mb": mem.peak_bytes / 2**20,
            "failed_frac": m.failed / m.attempted,
            "problems": m.problems[:5],
        }
    )
    if args.trace:
        declared = {x["name"]: x["unit"] for x in bench_config()["per_layer"]}
        values = {"session.start_s": session_s, **m.layer}
        unknown = sorted(set(values) - set(declared))
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        metrics = {k: (values.get(k, 0.0), u) for k, u in declared.items()}
        if m.spans is not None:
            out = os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.json")
            m.spans.write(out)
            detail["spans_file"] = os.path.relpath(out, ROOT)
    else:
        units = {x["name"]: x["unit"] for x in bench_config()["end_to_end"]}
        metrics = {k: (detail[k], units[k]) for k in END_TO_END}
    return {
        "detail": detail,
        "result": {
            "correct": m.failed == 0,
            "attempted": m.attempted,
            "failed": m.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and every process under it,
    and wait until each has ended. Left alone, the JVM outlives this
    process by a few seconds (it exits when it reads the end of its
    stdin), and Python workers it forked end after it."""
    from pyspark import SparkContext

    pids = descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        pids = sorted(set(pids) | set(descendants()))
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may be gone already
                pass
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits at the end of its stdin
        left = end_processes(pids, STOP_GRACE_S)
        if proc is not None:
            proc.wait(timeout=STOP_GRACE_S)  # reap the JVM, a child of this process
        if left:
            raise RuntimeError(f"processes still running after stop: {left}")


def trace_metrics(rec, root) -> dict:
    """Per-call plan split, the traced operation's wall time and the
    share of it left unattributed to any layer."""
    out = {}
    for sp in rec.spans:
        if "construct_s" in sp.attrs:
            for f in SPLIT_FIELDS:
                out[f"{sp.name}.{f}"] = sp.attrs[f]
    out["trace.op_s"] = root.duration
    out["trace.unattributed_frac"] = rec.self_times(root).get("bench", 0.0) / root.duration
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a timeout's SIGTERM unwinds like an error, so the session stops
    # and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
