import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataprocessingframework_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # the engine default heap (48g) exceeds a small test host, and G1
    # grows toward it: one test JVM then holds several GB it does not
    # need. sf0.001 inputs fit a 4g heap.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark(
        app_name="dpf-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Gated-coverage visibility (VERDICT r5 item 8): optional-
    dependency skips (torch/pyav/soundfile/cv2 absent in CI) silently
    shrink M-tier/K-tier coverage as those tiers grow. List every
    skipped test with its gate reason in the summary so the loss
    stays visible in each round's test log."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    terminalreporter.section("gated-out tests (optional deps absent)")
    for rep in skipped:
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else rep.longrepr
        terminalreporter.write_line(f"  {rep.nodeid} — {reason}")
    terminalreporter.write_line(
        f"  total gated-out: {len(skipped)} "
        "(real-codec/ML bodies exist behind import gates; see COVERAGE.md)"
    )
