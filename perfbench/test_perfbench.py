"""Self-tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench -q

The two traced-run tests start a Spark session each and take about a
minute apiece; the rest run in a second.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
import compare  # noqa: E402
from spans import Recorder, end_processes  # noqa: E402


def _declared(kind: str) -> list[str]:
    return [m["name"] for m in run.bench_config()[kind]]


# ----------------------------------------------------------- generators
def _crawl_bytes(tmp_path, seed: int) -> bytes:
    wl = workloads.CurateText(None, str(tmp_path), seed)
    wl.setup()
    with open(wl.src, "rb") as f:
        return f.read()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d in (a, b, c):
        d.mkdir()
    assert _crawl_bytes(a, 7) == _crawl_bytes(b, 7)
    assert _crawl_bytes(a, 7) != _crawl_bytes(c, 8)
    centers = gen.cluster_centers(np.random.default_rng(1), 8, 16)
    v1 = gen.clustered_vectors(np.random.default_rng(5), 100, centers)
    v2 = gen.clustered_vectors(np.random.default_rng(5), 100, centers)
    v3 = gen.clustered_vectors(np.random.default_rng(6), 100, centers)
    assert v1.tobytes() == v2.tobytes() != v3.tobytes()


def test_crawl_plants_what_the_checks_rely_on():
    c = gen.crawl(np.random.default_rng(3), 2000)
    text = dict(zip(c.docs.doc_id, c.docs.text))
    assert len(set(gen.vocabulary(np.random.default_rng(0)))) == gen.VOCAB_SIZE
    # every exact duplicate copies an earlier document verbatim
    earlier = {}
    for i, t in text.items():
        earlier.setdefault(t, i)
    assert all(earlier[text[i]] < i for i in c.exact_dups)
    assert len(c.exact_dups) > 50 and len(c.near_dups) > 50
    # near duplicates stay above the curation's Jaccard threshold
    words = {i: set(t.split(" ")) for i, t in text.items()}
    best = [max(len(words[i] & words[j]) / len(words[i] | words[j]) for j in range(i)) for i in c.near_dups[:40]]
    assert np.median(best) >= workloads.CurateText.THRESHOLD


def test_near_copies_clear_the_semantic_threshold():
    rng = np.random.default_rng(2)
    base = gen.clustered_vectors(rng, 500, gen.cluster_centers(rng, 16, 32))
    assert (gen.cosine_max(gen.near_copies(rng, base), base) > 0.99).all()
    fresh = gen.clustered_vectors(rng, 500, gen.cluster_centers(rng, 16, 32))
    assert (gen.cosine_max(fresh, base) < workloads.SemanticIngest.THRESHOLD).mean() > 0.95


# --------------------------------------------------------------- checks
def test_planted_wrong_output_is_caught(tmp_path):
    wl = workloads.CurateText(None, str(tmp_path), 4)
    wl.setup()
    keep = [i for i in range(200) if i not in set(wl.crawl.exact_dups)]
    wrong = keep + [int(wl.crawl.exact_dups[0])]
    text = wl.crawl.docs.set_index("doc_id").text
    out = pd.DataFrame(
        {
            "doc_id": wrong,
            "clean_text": [text[i] for i in wrong],
            "n_tokens": [len(text[i].split()) for i in wrong],
            "shard": 0,
            "bin_id": 0,
        }
    )
    out["bin_id"] = (out.n_tokens.cumsum() - out.n_tokens) // wl.CONTEXT_LEN
    os.makedirs(os.path.join(wl.work, "curated-0"))
    out.to_parquet(os.path.join(wl.work, "curated-0", "part-0.parquet"))
    # doc 0 and doc 1 are unrelated originals: far below the threshold
    pairs = pd.DataFrame({"id_a": [0], "id_b": [1], "jaccard": [0.9]})
    wl.pairs[0] = SimpleNamespace(toPandas=lambda: pairs)
    problems = wl.check(0)
    assert any("exact duplicates survived" in p for p in problems)
    assert any("below the Jaccard threshold" in p for p in problems)
    assert any("larger id of a verified pair" in p for p in problems)


class _Fake:
    """A workload whose second operation produces a wrong output."""

    def __init__(self):
        self.layer, self.detail = {}, {}

    def op(self, i, rec):
        time.sleep(0.01)
        return {"items": 3}

    def check(self, i):
        return ["wrong"] if i == 1 else []


def test_wrong_output_raises_failed_frac():
    m = run.measure(_Fake(), seconds=5.0, trace=False, run_id="t")
    assert (m.attempted, m.failed) == (2, 1)
    assert m.failed / m.attempted == 0.5
    assert m.problems == ["wrong"]


# ---------------------------------------------------------------- spans
def test_self_times_cover_the_wall_time():
    rec = Recorder("t", enabled=True)
    with rec.span("operation") as root:
        with rec.span("a", "dedup"):
            time.sleep(0.02)
            with rec.span("b", "similarity"):
                time.sleep(0.03)
        time.sleep(0.01)
    st = rec.self_times(root)
    assert sum(st.values()) == pytest.approx(root.duration, abs=1e-9)
    assert st["similarity"] >= 0.03 and st["dedup"] >= 0.02 and st["bench"] >= 0.01
    assert st["dedup"] < 0.03 + 0.02  # the child's time is not counted twice


def test_trace_overhead_reads_an_untraced_run(tmp_path):
    rec = Recorder("t", enabled=True)
    with rec.span("operation"):
        time.sleep(0.05)
    spans = str(tmp_path / "spans.json")
    rec.write(spans)
    untraced = tmp_path / "untraced.out"
    result = {"correct": True, "attempted": 1, "failed": 0, "metrics": {"op_wall_s": {"value": 0.04, "unit": "s"}}}
    untraced.write_text(json.dumps({"detail": {}}) + "\n" + json.dumps(result) + "\n")
    assert compare.trace_overhead(spans, str(untraced)) == pytest.approx(rec.spans[0].duration / 0.04 - 1.0)
    assert compare.main([spans, spans, "--untraced", str(untraced)]) == 0


def test_end_processes_kills_a_child_that_ignores_sigterm():
    code = "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); print(flush=True); time.sleep(60)"
    p = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
    p.stdout.readline()  # SIGTERM is ignored from here on
    assert end_processes([p.pid], grace=0.2) == []
    assert p.wait(timeout=5) == -signal.SIGKILL
    p.stdout.close()


def _processes_mentioning(text: str) -> list[int]:
    """Live processes whose command line or environment contains ``text``."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{d}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if text.encode() in cmd or text.encode() in env:
            found.append(int(d))
    return found


def test_end_to_end_names_match_the_declaration():
    assert list(run.END_TO_END) == _declared("end_to_end")


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_prints_declared_metrics_and_sums(workload, tmp_path):
    # output goes to files, not pipes: a process that inherited a pipe
    # would hold it open, and reading it to the end would wait for that
    # process to end, hiding it from the check below
    out, err = tmp_path / "stdout", tmp_path / "stderr"
    with open(out, "w") as o, open(err, "w") as e:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "1"],
            cwd=ROOT,
            stdout=o,
            stderr=e,
            timeout=300,
        )
    assert p.returncode == 0, err.read_text()[-2000:]
    detail_line, result_line = out.read_text().strip().splitlines()[-2:]
    result = json.loads(result_line)
    assert result["correct"] and result["failed"] == 0
    assert list(result["metrics"]) == _declared("per_layer")
    assert result["metrics"]["trace.unattributed_frac"]["value"] <= run.TRACE_TOLERANCE
    spans = os.path.join(ROOT, json.loads(detail_line)["detail"]["spans_file"])
    # the driver JVM and Python workers carry the run's work directory in
    # their command line or environment; none may outlive the run
    run_id = os.path.basename(spans)[len("spans-") : -len(".json")]
    assert _processes_mentioning(os.path.join(".perfbench_work", run_id)) == []
    rec, root = compare._recorder(spans)
    assert sum(rec.self_times(root).values()) == pytest.approx(root.duration, rel=1e-9)
    os.remove(spans)
