"""Class-data-sharing archive of the driver JVM (``session._driver_cds``
and ``session._build_archive``): flag composition, the skip rule, the
archive key, temp-file handling, and one small JVM round trip; and the
package reaching the Python workers of a ``get_spark`` session."""

import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from dataprocessingframework_spark import session as S

JIT = S.merge_driver_java_options("")


@pytest.fixture
def spark_home(tmp_path):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for jar in ("spark-core.jar", "scala-library.jar"):
        (home / "jars" / jar).write_bytes(b"PK")
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    return str(home)


@pytest.fixture
def cds_dir(tmp_path, monkeypatch):
    for v in S._CLASSPATH_ENV:
        monkeypatch.delenv(v, raising=False)
    return str(tmp_path / ".cds")


def _cds(cds_dir, spark_home, java_opts=JIT, heap="1g", conf=None):
    return S._driver_cds(java_opts, heap, conf or {}, cds_dir=cds_dir, spark_home=spark_home)


def test_cds_flags_record_then_reuse(cds_dir, spark_home):
    cds = _cds(cds_dir, spark_home)
    assert cds.classlist == f"{cds.archive}.{os.getpid()}.classlist"
    assert f"-XX:DumpLoadedClassList={cds.classlist}" in cds.flags
    assert "SharedArchiveFile" not in cds.flags
    assert S._CDS_QUIET in cds.flags
    assert os.path.dirname(cds.archive) == cds_dir
    assert cds.conf_dir == os.path.join(cds_dir, "conf") and os.listdir(cds.conf_dir) == []

    with open(cds.archive, "wb"):
        pass  # only a checked archive is ever renamed to this name
    again = _cds(cds_dir, spark_home)
    assert again.classlist is None
    assert f"-XX:SharedArchiveFile={cds.archive} -Xshare:auto" in again.flags
    assert "DumpLoadedClassList" not in again.flags


@pytest.mark.parametrize("case", ["user_conf_dir", "real_conf_file", "caller_xshare", "unwritable"])
def test_cds_skip_rule(case, cds_dir, spark_home, tmp_path, monkeypatch):
    java_opts = JIT
    if case == "user_conf_dir":
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "myconf"))
    elif case == "real_conf_file":
        (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    elif case == "caller_xshare":
        java_opts = S.merge_driver_java_options("-Xshare:off")
    else:
        (tmp_path / "file").write_text("")
        cds_dir = str(tmp_path / "file" / ".cds")  # its parent is a file
    before = os.environ.get("SPARK_CONF_DIR")
    assert _cds(cds_dir, spark_home, java_opts) is None
    assert os.environ.get("SPARK_CONF_DIR") == before


def test_cds_key_heap_mode_and_jars(cds_dir, spark_home):
    small = _cds(cds_dir, spark_home, heap="1g").archive
    assert _cds(cds_dir, spark_home, heap="4g").archive == small  # both compressed oops
    assert _cds(cds_dir, spark_home, heap="48g").archive != small
    with open(os.path.join(spark_home, "jars", "extra.jar"), "wb") as f:
        f.write(b"PK")
    assert _cds(cds_dir, spark_home, heap="1g").archive != small


def test_cds_dead_writer_temp_files_deleted(cds_dir, spark_home):
    """A torn archive or class list whose writer has died is deleted and
    never reaches a JVM; a live writer's files are kept, and while it
    builds the archive no other process records one."""
    archive = _cds(cds_dir, spark_home).archive
    child = subprocess.Popen([sys.executable, "-c", ""])
    child.wait()  # its pid is dead now
    torn = [f"{archive}.{child.pid}.tmp", f"{archive}.{child.pid}.classlist"]
    live = f"{archive}.{os.getppid()}.classlist"
    for path in torn + [live]:
        with open(path, "wb") as f:
            f.write(os.urandom(100))
    assert _cds(cds_dir, spark_home) is None
    assert not any(os.path.exists(p) for p in torn)
    assert os.path.exists(live)
    os.remove(live)
    cds = _cds(cds_dir, spark_home)
    assert cds.classlist == f"{archive}.{os.getpid()}.classlist"
    assert "SharedArchiveFile" not in cds.flags
    assert not any(p in cds.flags for p in torn)


def test_get_spark_composes_cds_flags_at_launch(cds_dir, spark_home, monkeypatch):
    """get_spark appends the flags to the final extraJavaOptions and sets
    SPARK_CONF_DIR only while the JVM is launched."""
    seen = []

    def fake_get_or_create(builder):
        seen.append((dict(builder._options), os.environ.get("SPARK_CONF_DIR")))
        return None

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    monkeypatch.setattr(S, "_ship_package", lambda spark: None)  # no context to ship to
    compose = S._driver_cds
    monkeypatch.setattr(
        S,
        "_driver_cds",
        lambda opts, heap, conf: compose(opts, heap, conf, cds_dir=cds_dir, spark_home=spark_home),
    )
    S.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Xss16m"})
    S.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Xshare:off"})
    (opts, conf_dir), (opted_out, no_conf_dir) = seen
    composed = opts["spark.driver.extraJavaOptions"]
    assert composed.startswith(f"{JIT} -Xss16m -XX:DumpLoadedClassList=")
    assert conf_dir == os.path.join(cds_dir, "conf")
    assert opted_out["spark.driver.extraJavaOptions"] == f"{JIT} -Xshare:off"
    assert no_conf_dir is None
    assert "SPARK_CONF_DIR" not in os.environ


def test_cds_archive_built_at_exit_and_mapped(cds_dir, spark_home, tmp_path, capfd, monkeypatch):
    """One small JVM round trip: a JVM records its classes, the exit hook
    dumps and checks an archive from them (a bad class-list line makes the
    dump print a [cds] warning, which must not reach stdout), and a JVM
    started on the composed flags maps it."""
    cds = _cds(cds_dir, spark_home, heap="64m")
    classpath = str(tmp_path / "app.jar")
    jvm = [cds.java, "-Xmx64m", "-cp", classpath]
    proc = subprocess.Popen([*jvm, *cds.flags.split(), "-version"], stdin=subprocess.PIPE)
    proc.wait()
    with open(cds.classlist, "a") as f:
        f.write("no/such/Klass\n")
    # the exit hook stops the active context; keep the suite's session
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    S._build_archive(proc, cds, classpath)
    assert os.path.isfile(cds.archive)
    assert sorted(os.listdir(cds_dir)) == ["conf", os.path.basename(cds.archive)]

    reuse = _cds(cds_dir, spark_home, heap="64m")
    out = subprocess.run(
        [*jvm, *reuse.flags.split(), "-Xshare:on", "-version"], capture_output=True, text=True
    )
    assert out.returncode == 0 and "sharing" in out.stderr
    assert "[cds]" not in capfd.readouterr().out + out.stdout


def test_get_spark_ships_package_to_workers(tmp_path):
    """A script run from outside the checkout with PYTHONPATH unset has
    the package on its driver ``sys.path`` only; after ``get_spark`` a
    Python worker must import it too (cloudpickle ships closures by
    reference to it)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from dataprocessingframework_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.ui.enabled": "false"}})


def probe(batches):
    import dataprocessingframework_spark  # noqa: F401
    yield from batches


print(spark.range(3).mapInPandas(probe, "id long").count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "3"
