"""Per-layer deltas between two traced runs.

    python3 perfbench/compare.py A.json B.json [--untraced RUN.out]

``A.json`` and ``B.json`` are span files written by
``run.py --trace 1`` (their paths are in the run's detail line). Prints
each layer's self time and each timed call's duration in both runs with
the difference. With ``--untraced`` (the captured standard output of an
untraced run of the same workload and seed) it also prints the tracing
overhead: run A's traced operation time over the untraced run's
``op_wall_s``, minus one.
"""

from __future__ import annotations

import argparse
import json

from spans import Recorder, Span, load_spans


def _recorder(path: str) -> tuple[Recorder, Span]:
    spans = [Span(**d) for d in load_spans(path)]
    rec = Recorder(spans[0].run_id, enabled=True)
    rec.spans = spans
    return rec, spans[0]


def _row(name: str, a: float, b: float) -> str:
    ratio = f"{b / a:7.3f}x" if a else "      -"
    return f"{name:<34}{a:11.3f}{b:11.3f}{b - a:+11.3f} {ratio}"


def compare(path_a: str, path_b: str) -> list[str]:
    rec_a, root_a = _recorder(path_a)
    rec_b, root_b = _recorder(path_b)
    lines = [f"{'layer (self time, s)':<34}{'A':>11}{'B':>11}{'B-A':>11}   B/A"]
    self_a, self_b = rec_a.self_times(root_a), rec_b.self_times(root_b)
    for layer in sorted(set(self_a) | set(self_b)):
        lines.append(_row(layer, self_a.get(layer, 0.0), self_b.get(layer, 0.0)))
    lines.append(_row("operation (wall)", root_a.duration, root_b.duration))
    lines.append("")
    lines.append(f"{'call (duration, s)':<34}{'A':>11}{'B':>11}{'B-A':>11}   B/A")
    dur_a = {s.name: s.duration for s in rec_a.spans[1:]}
    dur_b = {s.name: s.duration for s in rec_b.spans[1:]}
    for name in list(dict.fromkeys([*dur_a, *dur_b])):
        lines.append(_row(name, dur_a.get(name, 0.0), dur_b.get(name, 0.0)))
    return lines


def trace_overhead(path_traced: str, untraced_out: str) -> float:
    """Traced operation wall time over the untraced run's median
    operation wall time, minus one."""
    with open(untraced_out) as f:
        last = [line for line in f if line.strip()][-1]
    op_s = json.loads(last)["metrics"]["op_wall_s"]["value"]
    _, root = _recorder(path_traced)
    return root.duration / op_s - 1.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("a")
    p.add_argument("b")
    p.add_argument("--untraced", help="stdout of an untraced run of the same workload")
    args = p.parse_args(argv)
    print("\n".join(compare(args.a, args.b)))
    if args.untraced:
        print(f"\ntrace_overhead_frac (A vs untraced): {trace_overhead(args.a, args.untraced):+.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
