"""SparkSession bootstrap tuned for this engine.

Defaults are chosen for correctness-first local runs but with the knobs
that matter at cluster scale: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), explicit shuffle partition count,
Arrow enabled for every pandas interchange, UTC session time.

At 100 TB on a 1000-executor cluster the same settings hold; only
``spark.sql.shuffle.partitions`` (or AQE's advisory size) and
``spark.sql.files.maxPartitionBytes`` need re-sizing, and both are
exposed here as parameters.

Cold start. Every entry point starts a fresh driver JVM, and at small
scale loading and verifying Spark's classes dominates its first seconds.
``get_spark`` therefore starts the driver on an AppCDS archive (class-
data sharing: the JDK maps pre-parsed, pre-verified classes instead of
loading them from jars) kept under ``.cds/`` in the checkout and built
from the local Spark jars. A JVM started without one records the classes
it loads (``-XX:DumpLoadedClassList=<archive>.<pid>.classlist``, no
measurable cost); at exit this process waits for that JVM, dumps a
static archive from the list into ``<archive>.<pid>.tmp``, checks it
with ``java -Xshare:on`` on the same classpath and heap, and renames it
into place, or deletes it. Later JVMs get ``-XX:SharedArchiveFile=
<archive> -Xshare:auto``; while a live process is building an archive,
other new JVMs of the same key start without one. The archive name is
keyed on the JDK build, the Spark jar list and whether the driver heap
uses compressed oops (a 1g-heap archive is refused by a 48g-heap JVM),
so ``bench.py``'s 48g tiers and 1-4g runs each get their own. Temp files
whose writer process has died are deleted, never passed to a JVM: a torn
archive under ``-Xshare:auto`` disables the JDK's base archive as well.
JDK 17 refuses to dump with a non-empty directory on the classpath, so
the launch points ``SPARK_CONF_DIR`` at an empty ``.cds/conf`` when
Spark's conf directory holds only ``*.template`` files, which Spark
never reads. Nothing is added when ``SPARK_CONF_DIR``, another classpath
variable or ``spark.driver.extraClassPath`` is set, when the conf
directory holds real files, when ``.cds/`` cannot be written, or when
the caller's ``spark.driver.extraJavaOptions`` carry ``-Xshare`` or
``SharedArchiveFile`` (the opt-out). CDS logging is off in the driver:
callers read the last line of its stdout.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import re
import shutil
import subprocess
from contextlib import suppress
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Two Catalyst planning methods (DataSourceV2Strategy::apply 10,221 B,
# ResolveSessionCatalog 10,058 B) exceed HotSpot's 8000-bytecode
# DontCompileHugeMethods ceiling and run INTERPRETED by default; AQE
# re-plans per stage, so plan-heavy drivers pay a randomly-appearing
# 10-60x planning slowdown (root-caused r16, OPTIMIZATION_r16.md
# "spans bimodality"). Scale-independent: a 100 TB driver plans the
# same methods.
_JIT_PLANNER_FLAG = "-XX:-DontCompileHugeMethods"


def merge_driver_java_options(caller_value: str) -> str:
    """Merge a caller's ``spark.driver.extraJavaOptions`` with the
    interpreted-planner fix: prepend :data:`_JIT_PLANNER_FLAG` so the
    caller's flags still win any conflict (last flag wins in HotSpot)
    but the fix is not silently dropped at an override site. If the
    caller already passes the flag (either polarity), their value is
    returned untouched — no duplicate on the command line (ADVICE r16;
    an explicit ``-XX:+DontCompileHugeMethods`` is a deliberate caller
    choice and prepending ours would be a no-op anyway). Executor-side
    planning (DSv2 connectors) is not covered — set executor opts on a
    real cluster if executors ever plan."""
    if "DontCompileHugeMethods" in caller_value:
        return caller_value.strip()
    return f"{_JIT_PLANNER_FLAG} {caller_value}".strip()


# Class-data-sharing archives of the driver JVM (module docstring).
_CDS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cds")
# An archive the JVM cannot map may be reported with [warning][cds] lines
# on its stdout, whose last line bench.py and perfbench parse.
_CDS_QUIET = "-Xlog:cds*=off"
# Any of these in the caller's driver options means the caller owns
# class-data sharing: add nothing.
_CDS_CALLER_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "DumpLoadedClassList")
# Variables that put more than Spark's jars and conf dir on the driver
# classpath; the archive key covers neither.
_CLASSPATH_ENV = (
    "SPARK_CONF_DIR",
    "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
)
# Largest -Xmx that still gets compressed oops (JDK 17, G1: 32736m on,
# 32752m off); an archive dumped on one side is refused on the other.
_COOPS_MAX_HEAP = 32 * 2**30 - 32 * 2**20
_HEAP_UNITS = {"": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
# Seconds to wait at exit for the driver JVM to end, and for each of the
# dump and the check (the dump of Spark's classes takes ~40 s on 4 vCPU).
_CDS_EXIT_WAIT_S = 60
_CDS_DUMP_WAIT_S = 600


@dataclass(frozen=True)
class _DriverCDS:
    flags: str  # appended to spark.driver.extraJavaOptions
    conf_dir: str  # empty SPARK_CONF_DIR for the launch
    archive: str
    classlist: str | None  # classes the JVM records, when no archive exists yet
    java: str
    heap: str


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _archive_key(java: str, spark_home: str, coops: bool, cds_dir: str) -> str:
    """Digest of everything the JVM checks an archive against: the JDK
    build, the jars on the classpath, the compressed-oops mode, and the
    conf dir that is the classpath's first entry."""
    jvm = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(jvm)), "lib", "server", "libjvm.so")
    jars = os.path.join(spark_home, "jars")
    parts = [cds_dir, str(coops)]
    for path in [jvm, libjvm] + sorted(os.path.join(jars, n) for n in os.listdir(jars)):
        if os.path.exists(path):
            st = os.stat(path)
            parts.append(f"{path} {st.st_size} {st.st_mtime_ns}")
    return hashlib.sha1("\n".join(parts).encode()).hexdigest()[:16]


def _driver_cds(
    java_opts: str,
    heap: str,
    conf: dict[str, str],
    cds_dir: str = _CDS_DIR,
    spark_home: str | None = None,
) -> _DriverCDS | None:
    """The class-data-sharing flags for a new driver JVM, or None when
    the skip rule in the module docstring applies or another live
    process is building the archive. Deletes the temp files of writers
    that have died."""
    size = re.fullmatch(r"(\d+)([kmgt]?)", heap.strip().lower())
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if (
        size is None
        or java is None
        or any(f in java_opts for f in _CDS_CALLER_FLAGS)
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or conf.get("spark.driver.extraClassPath")
    ):
        return None
    spark_home = spark_home or _find_spark_home()
    spark_conf = os.path.join(spark_home, "conf")
    if os.path.isdir(spark_conf) and any(
        not n.endswith(".template") for n in os.listdir(spark_conf)
    ):
        return None
    empty_conf = os.path.join(cds_dir, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if not os.access(cds_dir, os.W_OK) or os.listdir(empty_conf):
            return None
        coops = int(size[1]) * _HEAP_UNITS[size[2]] <= _COOPS_MAX_HEAP
        key = _archive_key(java, spark_home, coops, cds_dir)
    except OSError:
        return None
    archive = os.path.join(cds_dir, f"driver-{key}.jsa")
    building = False
    for path in glob.glob(glob.escape(archive) + ".*.*"):
        pid = path[len(archive) + 1 :].split(".")[0]
        if pid.isdigit() and _pid_alive(int(pid)):
            building = True
        else:
            with suppress(OSError):
                os.remove(path)
    if os.path.isfile(archive):
        flags = f"-XX:SharedArchiveFile={archive} -Xshare:auto {_CDS_QUIET}"
        return _DriverCDS(flags, empty_conf, archive, None, java, heap)
    if building:
        return None
    classlist = f"{archive}.{os.getpid()}.classlist"
    flags = f"-XX:DumpLoadedClassList={classlist} {_CDS_QUIET}"
    return _DriverCDS(flags, empty_conf, archive, classlist, java, heap)


def _build_archive(proc: subprocess.Popen[bytes], cds: _DriverCDS, classpath: str) -> None:
    """At exit: stop the active context and end the driver JVM, which
    completes ``cds.classlist``, then dump a static archive of those
    classes on the driver's classpath and heap, and rename it into place
    if a JVM can map it; delete it otherwise."""
    assert cds.classlist is not None
    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()  # ends the accumulator server before its JVM peer goes
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits at the end of its stdin
    try:
        proc.wait(timeout=_CDS_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        return  # a later start deletes the class list once this pid is gone
    tmp = cds.classlist[: -len(".classlist")] + ".tmp"
    jvm = [cds.java, f"-Xmx{cds.heap}", "-cp", classpath]
    dump = ["-Xshare:dump", f"-XX:SharedClassListFile={cds.classlist}"]
    check = ["-Xshare:on", "-version"]
    with suppress(OSError, subprocess.TimeoutExpired):
        if not os.path.isfile(cds.archive) and all(
            subprocess.run(
                [*jvm, f"-XX:SharedArchiveFile={tmp}", *step],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                timeout=_CDS_DUMP_WAIT_S,
            ).returncode
            == 0
            for step in (dump, check)
        ):
            os.replace(tmp, cds.archive)
    for path in (tmp, cds.classlist):
        with suppress(OSError):
            os.remove(path)


def get_spark(
    app_name: str = "dataprocessingframework-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str = "128m",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale notes: AQE coalesces small shuffle partitions and splits skewed
    ones at runtime, so ``shuffle_partitions`` only needs to be an upper
    bound of the useful parallelism (2-3x total cores on a real cluster).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    conf = dict(extra_conf or {})
    # local mode: the driver JVM is the whole cluster — size it like one
    # (must be set before the JVM starts; no-op on an existing session)
    heap = conf.pop("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    # interpreted-planner fix (r16) — see merge_driver_java_options
    java_opts = merge_driver_java_options(conf.pop("spark.driver.extraJavaOptions", ""))
    # JVM flags only reach a JVM that this call starts
    cds = _driver_cds(java_opts, heap, conf) if SparkContext._gateway is None else None
    if cds is not None:
        java_opts = f"{java_opts} {cds.flags}"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", heap)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.driver.extraJavaOptions", java_opts)
        # --- adaptive execution: runtime re-plan, skew splitting, coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle & scan sizing
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        # --- Arrow for every pandas interchange (UDFs, toPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism & ANSI-ish behavior for oracle parity
        .config("spark.sql.session.timeZone", "UTC")
        # broadcast small dims automatically; AQE converts at runtime too
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds is None:
        spark = builder.getOrCreate()
    else:
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir  # read by the launcher only
        try:
            spark = builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        proc = getattr(SparkContext._gateway, "proc", None)
        if cds.classlist is not None and proc is not None:
            classpath = spark._jvm.java.lang.System.getProperty("java.class.path")
            atexit.register(_build_archive, proc, cds, classpath)
    _ship_package(spark)
    return spark


_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on the Python workers of
    ``spark``'s context, once per context.

    cloudpickle serializes mapInPandas / pandas-UDF closures by
    *reference* to this package, so Python workers must be able to
    import it; a driver-side ``sys.path`` entry (a script run from
    outside the checkout, or the external driver importing
    ``__spark_entry__`` by path) does not propagate. Shipping a zip
    via ``addPyFile`` fixes that identically in local and cluster mode
    (workers prepend shipped files to their ``sys.path``)."""
    import tempfile

    sc = spark.sparkContext
    app_id = sc.applicationId  # unique per context, unlike id(sc)
    if app_id in _SHIPPED:
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    target = os.path.join(tempfile.gettempdir(), f"dpf_spark_pkg_{os.getpid()}")
    zpath = shutil.make_archive(
        target, "zip", root_dir=root, base_dir="dataprocessingframework_spark"
    )
    sc.addPyFile(zpath)
    if not _SHIPPED:
        atexit.register(_remove_quietly, zpath)  # served to workers until exit
    _SHIPPED.add(app_id)


def _remove_quietly(path: str) -> None:
    with suppress(OSError):
        os.remove(path)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
