"""Python DataSource (Spark 4 DSv2 API) for csv(+tar) shard datasets.

The one custom piece SURVEY §4 flags as worth real engine work: the
reference's shards loader hands each DataLoader worker WHOLE tar
archives (`dataloaders/shards_dataset.py:86-131` — the worker slices
`tar_to_data.keys()` so one tar is opened exactly once, by exactly one
worker). The prior Spark expression of that locality trick,
``media.load_shard_bytes``, is a ``repartition(split_name) +
mapInPandas`` — correct, but opaque to Catalyst: partition planning is
by convention (a shuffle re-groups rows that ALREADY arrive grouped by
shard), and a ``split_name`` predicate still scans every csv before
filtering.

This DataSource makes the contract explicit to the engine:

- **One shard pair per InputPartition** (``partitions()`` returns one
  ``ShardPartition`` per ``N.csv``/``N.tar`` pair): Spark schedules
  whole shards to tasks, each task opens its tar exactly once, and no
  shuffle is needed to co-locate a shard's rows — the planner-level
  version of the reference's worker-slicing.
- **Partition pruning via filter pushdown** (``pushFilters``): an
  ``EqualTo``/``In`` predicate on ``split_name`` removes whole shard
  pairs from the scan — neither the csv nor the tar of a pruned shard
  is ever opened. Handled filters are still returned to Spark
  (conservative re-apply; pruning only removes rows that cannot
  match), so correctness never depends on this reader's predicate
  evaluation.
- **Arrow-native reads**: each partition yields pyarrow RecordBatches
  (csv parsed by ``pyarrow.csv`` in the RFC4180 doublequote dialect
  ``ShardsWriter`` emits and pandas ``to_csv`` writes), so rows take
  the vectorized path into the JVM.

Scale posture: planning state is one small object per shard
(#shards = rows / max_files_in_shard — metadata-sized), reads are
embarrassingly parallel across shards, and the schema is either
supplied by the caller (``.schema(...)`` — recommended; the engine's
``DatasetReader`` passes the Spark-csv-inferred schema for exact type
parity with the legacy path) or inferred from the FIRST csv only.

Error tolerance mirrors the reference's ``return_none_on_error``
(`shards_dataset.py:101-115`): a missing/corrupt tar member yields
``content=None, is_correct=False, error=<reason>`` instead of failing
the task.

Storage backends: all I/O goes through the ``shard_fs`` seam — posix
paths (default), object stores via fsspec (``s3://``/``s3a://``/
``gs://``/``abfss://``, import-gated), and the ``fakeobj://`` test
backend that enforces object-store semantics (atomic single-object
PUTs, copy+delete rename). The commit protocol's atomic points
(stream markers, the compaction manifest) are single-object publishes
precisely so the object-store mapping is a PUT, not a rename.
"""

from __future__ import annotations

import io
import os
import tarfile
import threading
from dataclasses import dataclass

from . import shard_fs
from .shard_fs import (
    get_fs,
    join as fs_join,
    open_source,
    path_scheme,
    strip_file_scheme,
    write_table,
)

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    In,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

SPLIT_COLUMN = "split_name"
_META_COLS = ("is_correct", "error")


@dataclass
class ShardPartition(InputPartition):
    """One csv(+tar) shard pair — the unit of scheduling."""

    split_name: str
    csv_path: str
    tar_path: str | None


_COMPACTION_MANIFEST = "_compaction.json"
_UPDATE_MARKER = "_metadata_update.json"


def _validated_layout(options: dict) -> str:
    layout = options.get("layout", "tar")
    if layout not in ("tar", "dir"):
        raise ValueError(
            f"dpf_shards layout must be 'tar' (csv+tar shards) or"
            f" 'dir' (csv + loose-file folder, the reference's"
            f" sharded-files format), got {layout!r}"
        )
    return layout


def _validated_meta_format(options: dict) -> str:
    """Shard-table format — the reference's configurable
    ``datafiles_ext`` (`dataset_reader.py:174-190`,
    `configs.py metadata_format`): csv (default) or parquet."""
    fmt = options.get("meta_format", "csv")
    if fmt not in ("csv", "parquet"):
        raise ValueError(
            f"dpf_shards meta_format must be 'csv' or 'parquet',"
            f" got {fmt!r}"
        )
    return fmt


_SCHEMA_FILE = "_schema.json"


def _csv_safe_schema(schema: StructType) -> bool:
    """True when every field's type round-trips through csv text
    unambiguously (the types csv inference itself can produce). Exotic
    types (timestamp/date/decimal/nested) stay on the inference path —
    publishing them could diverge from what the arrow csv parser was
    exercised with."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    safe = (
        StringType,
        IntegerType,
        LongType,
        ShortType,
        ByteType,
        DoubleType,
        FloatType,
        BooleanType,
    )
    return all(isinstance(f.dataType, safe) for f in schema.fields)


def read_published_schema(path: str) -> StructType | None:
    """The dataset's published metadata schema (``_schema.json``), or
    None when absent/corrupt. Cold reads use it to skip the csv
    inference pass entirely (VERDICT r14 item 4) — at millions of
    shards, inference is a second full metadata scan with one task
    per file (multiLine). Every repo-owned write path keeps the file
    current (the batch writer, the metadata updater, the
    stream sink, compaction via the writer); a mixed-schema append
    REMOVES it, so a present file always speaks for every shard —
    the same trust-the-manifest model as the compaction manifest."""
    import json

    try:
        raw = get_fs(path).read_bytes(fs_join(path, _SCHEMA_FILE))
    except (FileNotFoundError, OSError):
        return None
    try:
        schema = StructType.fromJson(json.loads(raw))
    except Exception:  # noqa: BLE001 — corrupt file = inference fallback
        return None
    return schema


def _schema_key(schema: StructType) -> dict:
    """Equality basis for published-vs-written schema comparisons:
    column name → type, ORDER- and NULLABILITY-insensitive. The DSv2
    reader maps csv columns by NAME (header-driven), so column order
    differing between the file and a write is benign — and strict
    StructType equality would silently delete the file on such drift
    (e.g. a join reordering the key column first), reintroducing the
    inference scan the file exists to kill."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _normalized_schema(schema: StructType) -> StructType:
    """Publish all-nullable: csv can always hold nulls, and a
    non-nullable field pinned into the read plan would reject data a
    later writer legitimately appended."""
    from pyspark.sql.types import StructField

    return StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    )


def _sync_published_schema(
    path: str, meta_schema: StructType, force: bool = False
) -> None:
    """Keep ``_schema.json`` truthful after a write. ``force`` (an
    overwrite, or a full-rewrite metadata update) publishes
    unconditionally; an append publishes when the file is absent,
    no-ops when it matches (by :func:`_schema_key`), and DELETES it
    when the appended schema differs (the dataset is now mixed-schema
    — inference is the only honest source). Single-object atomic PUT
    on all backends."""
    import json

    fs = get_fs(path)
    target = fs_join(path, _SCHEMA_FILE)
    payload = json.dumps(_normalized_schema(meta_schema).jsonValue()).encode()
    if force:
        fs.put_atomic(target, payload)
        return
    existing = read_published_schema(path)
    if existing is None:
        fs.put_atomic(target, payload)
    elif _schema_key(existing) != _schema_key(meta_schema):
        try:
            fs.remove(target)
        except OSError:
            pass


def _predrop_schema_if_changed(path: str, meta_schema: StructType) -> bool:
    """Called BEFORE a rename pass that will change the dataset's
    schema: drop the published file first, so a crash mid-renames
    leaves readers on the inference fallback instead of a stale
    schema that misdescribes half the shards. Returns True when a
    DIFFERING published schema was dropped — the dataset is now
    mixed-schema. A CORRUPT file is removed here too (it was dead
    weight every cold read re-fetched and re-parse-failed) and
    treated as absence-with-unknown-history (False): repairable by
    an overwrite, a full rewrite, or :func:`publish_shard_schema`."""
    import json

    fs = get_fs(path)
    target = fs_join(path, _SCHEMA_FILE)
    try:
        raw = fs.read_bytes(target)
    except (FileNotFoundError, OSError):
        return False
    try:
        existing = StructType.fromJson(json.loads(raw))
    except Exception:  # noqa: BLE001 — corrupt: remove the dead file
        try:
            fs.remove(target)
        except OSError:
            pass
        return False
    if _schema_key(existing) != _schema_key(meta_schema):
        try:
            fs.remove(target)
        except OSError:
            pass
        return True
    return False


def _table_column_names(fs, tbl: str, meta_fmt: str) -> list | None:
    """Column names of one shard table (csv first record / parquet
    footer), or None when unreadable — the one implementation behind
    both the replay-guard and the repair op's uniformity sweep."""
    import csv as _csv
    import io

    try:
        if meta_fmt == "parquet":
            import pyarrow.parquet as pq

            return list(pq.read_schema(open_source(tbl)).names)
        with fs.open_read(tbl) as fh:
            return next(
                _csv.reader(io.TextIOWrapper(fh, encoding="utf-8")), []
            )
    except Exception:  # noqa: BLE001 — unreadable table: no claim
        return None


def _refuse_unhealed_update(fs, path: str, what: str) -> None:
    """Writers must not mutate a dataset whose crashed metadata
    update is still outstanding: the marker's rename plan will be
    replayed by the next heal, and new shards landing in between
    would be misdescribed by the heal's recorded-schema publish (and
    could interleave with the replayed renames). Readers already
    refuse via _list_shards; appends compute their start index
    without it, so they check here."""
    if fs.exists(fs_join(path, _UPDATE_MARKER)):
        raise RuntimeError(
            f"{what} refused: unfinished metadata update at {path} —"
            " run heal_metadata_update(path) first (a crashed"
            " updater's rename plan is outstanding; writing now would"
            " race its heal)"
        )


def _plan_targets_match(
    fs, mapping: dict, schema_names: list, meta_fmt: str
) -> bool:
    """Guard for a crash-replay's recorded-schema publish: True only
    when every meta-file target of the replayed rename plan exists
    and carries exactly the recorded column names. Without it, a
    replay whose temps another writer swept (sequential sharing: the
    crashed query's successor committed its own shards onto the same
    numbers) would force-publish a schema describing ZERO of the
    files on disk. Plan-sized driver reads, only on the replay path
    of an authoritative (fresh-dir) batch."""
    want = list(schema_names)
    for final in mapping.values():
        if not final.endswith(f".{meta_fmt}"):
            continue
        if not fs.exists(final):
            return False
        if _table_column_names(fs, final, meta_fmt) != want:
            return False
    return True


def _publish_after_write(
    path: str,
    meta_schema: StructType,
    meta_fmt: str,
    *,
    authoritative: bool,
) -> None:
    """THE one statement of the publish-authority rule, shared by the
    batch commit, the stream commit, and the metadata updater (three
    inlined variants invite drift). A job may publish _schema.json
    only when it can speak for EVERY shard — ``authoritative``: it
    replaced or created them all (overwrite, full-rewrite update,
    write into a previously shardless dir), so it publishes
    unconditionally even where its predrop removed a differing file.
    Everything else has NOTHING to do post-rename: a valid equal file
    was left in place by the predrop, a differing one was dropped
    (mixed dataset — inference is the only honest source), and
    absence on a populated dataset is ambiguous (possibly a crashed
    predecessor's predrop) — publishing there would claim the job's
    schema describes shards it never saw. Explicit repair for the
    ambiguous-absence case: :func:`publish_shard_schema`."""
    if authoritative:
        _sync_or_drop_schema(path, meta_schema, meta_fmt, force=True)


def publish_shard_schema(
    spark,
    shard_dir: str,
    meta_format: str = "csv",
    archive_ext: str = "tar",
    layout: str = "tar",
    lease_takeover: bool = False,
) -> StructType:
    """Explicit, VERIFYING bootstrap/repair of ``_schema.json`` for a
    dataset whose file is absent for an ambiguous reason — never-
    published legacy data, a crashed predecessor's predrop, or a
    removed corrupt file. The write paths deliberately refuse to
    publish in those states (:func:`_publish_after_write`: publishing
    without looking would claim a schema for shards the job never
    saw); this helper LOOKS: it reads every shard table's column
    names (csv first record / parquet footer) driver-side over the
    shard_fs seam — O(#shards) small reads, the same cost class as
    ``_list_shards`` — and REFUSES a genuinely mixed dataset. On a
    uniform one it pins types from the dataset (whole-dataset Spark
    inference when every header is order-identical on a posix path;
    first-shard arrow parse otherwise — the same trade the cold-read
    fallback makes), publishes atomically under the writer lease
    (heartbeat-kept and re-verified before the PUT, like every other
    long holder), and returns the published schema. Raises when the
    dataset is mixed, when headers carry duplicate names, or when the
    inferred types are not csv-publishable — it never reports success
    without a published file."""
    register_shards_source(spark)
    path = strip_file_scheme(shard_dir)
    lease = acquire_writer_lease(
        path, "publish_shard_schema", takeover=lease_takeover
    )
    # the header sweep + inference can run long on a big dataset —
    # same heartbeat + pre-PUT re-verify as the other long holders
    _start_lease_heartbeat(path, lease, 60.0)
    try:
        fs = get_fs(path)
        stems, _archives = _list_shards(
            path, archive_ext, layout, meta_ext=meta_format
        )
        if not stems:
            raise ValueError(f"no shard tables at {path}")
        first_parquet_schema = None
        header_sets: dict[frozenset, str] = {}
        header_orders: set[tuple] = set()
        for stem in stems:
            tbl = fs_join(path, f"{stem}.{meta_format}")
            if meta_format == "parquet" and first_parquet_schema is None:
                import pyarrow.parquet as pq

                try:
                    first_parquet_schema = pq.read_schema(
                        open_source(tbl)
                    )
                    names = list(first_parquet_schema.names)
                except Exception:  # noqa: BLE001 — same error
                    # contract as every later stem (via the shared
                    # helper): unreadable -> remedial ValueError below
                    names = None
            else:
                names = _table_column_names(fs, tbl, meta_format)
            if names is None:
                raise ValueError(
                    f"unreadable shard table {stem}.{meta_format} at"
                    f" {path} — repair it (or compact) before"
                    " publishing a schema"
                )
            if len(names) != len(set(names)):
                raise ValueError(
                    f"shard table {stem}.{meta_format} at {path} has"
                    f" duplicate column names {names} — not"
                    " publishable"
                )
            header_sets.setdefault(frozenset(names), stem)
            header_orders.add(tuple(names))
        if len(header_sets) > 1:
            samples = sorted(
                (stem, sorted(cols)) for cols, stem in header_sets.items()
            )[:3]
            raise ValueError(
                f"dataset at {path} is mixed-schema — shard tables"
                f" disagree on columns, e.g. {samples}; no single"
                " published schema can describe it (inference is the"
                " only honest source). Unify it first (overwrite or a"
                " full-rewrite metadata update)."
            )
        if meta_format == "parquet":
            from pyspark.sql.pandas.types import from_arrow_schema

            # footers are exact; the first one (already fetched in the
            # sweep above) speaks for all name-uniform shards
            meta_schema = from_arrow_schema(first_parquet_schema)
        elif (
            path_scheme(path) in (None, "file")
            and len(header_orders) == 1
        ):
            # whole-dataset inference over the LIVE stems only (a glob
            # would also feed retired, pre-GC compaction shards into
            # the parse). Safe only when every header is ORDER-
            # identical: Spark's csv reader names columns from the
            # first file and parses the rest positionally.
            files = [fs_join(path, f"{s}.{meta_format}") for s in stems]
            meta_schema = (
                spark.read.options(
                    header=True,
                    inferSchema=True,
                    multiLine=True,
                    escape='"',
                )
                .csv(files)
                .schema
            )
        else:
            # remote backends (Spark can't open this scheme) or order-
            # drifted headers (positional inference would mis-assign
            # columns): pin types from the first shard's arrow parse —
            # the same trade the cold-read fallback makes. The DSv2
            # reader maps columns by NAME per shard, so first-shard
            # types apply by name everywhere.
            from pyarrow import csv as pacsv

            from pyspark.sql.pandas.types import from_arrow_schema

            meta_schema = from_arrow_schema(
                pacsv.read_csv(
                    open_source(fs_join(path, f"{stems[0]}.{meta_format}")),
                    parse_options=pacsv.ParseOptions(
                        newlines_in_values=True
                    ),
                ).schema
            )
        # the sweep/inference above may have outlived the stale
        # window: fail loudly rather than publish over a takeover
        _verify_lease_held(path, lease, "publish_shard_schema")
        _sync_or_drop_schema(path, meta_schema, meta_format, force=True)
        published = read_published_schema(path)
        if published is None:
            raise ValueError(
                f"inferred schema for {path} is not csv-publishable"
                f" ({meta_schema.simpleString()}) — exotic types stay"
                " on the inference fallback by design"
            )
        return published
    finally:
        _stop_lease_heartbeat(lease)
        release_writer_lease(path, lease)


_WRITER_LOCK = "_writer.lock"
# separate release tombstone for non-CAS backends only (a tick that
# re-PUTs the lock can never clobber it) — CAS backends don't need it
_WRITER_LOCK_TOMBSTONE = "_writer.lock.released"


def _parse_lease(raw: bytes) -> dict:
    import json

    try:
        lease = json.loads(raw)
    except Exception:  # noqa: BLE001 — corrupt lock = treat as stale
        return {"owner": "<corrupt lease>", "token": "", "ts": 0.0}
    return lease


def _read_lease(path: str) -> dict | None:
    try:
        raw = get_fs(path).read_bytes(fs_join(path, _WRITER_LOCK))
    except (FileNotFoundError, OSError):
        return None
    return _parse_lease(raw)


def acquire_writer_lease(
    path: str,
    owner: str,
    takeover: bool = False,
    stale_after_sec: float = 3600.0,
    self_id: str | None = None,
) -> str:
    """Enforce the one-active-writer-per-dataset-dir assumption
    (VERDICT r14 item 5) instead of documenting it: every mutating
    critical section (batch writer plan→commit, each stream-sink
    commit, compaction, metadata write-back) holds ``_writer.lock``
    — a second concurrent writer fails LOUDLY at plan/commit time
    with the lease holder named, instead of having its temps swept
    mid-flight and dying on a confusing rename error.

    Semantics: on CAS-capable backends (posix and fakeobj — flock-
    enforced; S3-class via conditional PUTs, ``If-None-Match`` /
    ``If-Match``, GA since 2024) the lock is a REAL compare-and-set
    mutex: acquisition lands only against the exact lease state that
    was read, so two racing writers can never both pass, and a
    takeover can never be overwritten back by the old holder's
    heartbeat. On backends without CAS (non-s3 fsspec drivers) it
    degrades to the single-atomic-PUT loud-failure guard of earlier
    rounds — overlap is detected, the loser of a same-millisecond
    race is caught by :func:`_verify_lease_held` before its first
    mutation. A lease older than ``stale_after_sec`` (crashed
    holder) is taken over silently; a LIVE lease needs
    ``takeover=True`` (writer option ``lease_takeover``).
    Long-running holders (batch writer, compaction, metadata
    updater) keep their lease young via :class:`_LeaseHeartbeat`, so
    a legitimately slow job is never mistaken for a crashed one.
    Returns the token to pass to :func:`release_writer_lease`."""
    import json
    import os as _os
    import socket
    import time
    import uuid

    fs = get_fs(path)
    fs.makedirs(path)
    token = uuid.uuid4().hex

    def payload() -> bytes:
        return json.dumps(
            {
                "token": token,
                "owner": f"{owner}@{socket.gethostname()}"
                f":pid={_os.getpid()}",
                "ts": time.time(),
                "self_id": self_id,
            }
        ).encode()

    def check_live(existing: dict) -> None:
        age = time.time() - float(existing.get("ts", 0.0))
        same_self = (
            self_id is not None and existing.get("self_id") == self_id
        )
        # same self_id = the same LOGICAL writer re-acquiring (a
        # restarted stream query's checkpoint namespace — Spark
        # already enforces one active query per checkpoint, so its
        # crashed prior commit's lease is ours to replace)
        if age < stale_after_sec and not takeover and not same_self:
            raise RuntimeError(
                f"dataset {path} has an active writer lease held by"
                f" {existing.get('owner', '<unknown>')} ({age:.0f}s"
                " old). One active writer per dataset dir — wait for"
                " it, or pass lease takeover (writer option"
                " 'lease_takeover', or takeover=True) if it crashed."
            )

    if getattr(fs, "supports_cas", False):
        lock = fs_join(path, _WRITER_LOCK)
        # retry a handful of CAS losses (a 60 s-interval heartbeat
        # refresh landing between our read and our conditional PUT);
        # persistent loss means real contention — raise loudly. The
        # jittered backoff de-syncs from a fast-ticking heartbeat
        # (takeover tests run 5 ms ticks; two fixed-cadence loops can
        # collide every attempt)
        for attempt in range(8):
            cur = fs.get_cas(lock)
            if cur is not None:
                check_live(_parse_lease(cur[0]))
            if fs.put_cas(lock, payload(), None if cur is None else cur[1]):
                return token
            if attempt < 7:  # no pointless sleep on the final failure
                time.sleep(
                    0.01 * (attempt + 1) + (hash(token) % 7) / 1000.0
                )
        raise RuntimeError(
            f"could not acquire the writer lease for {path}: the lock"
            " is being actively contended (another writer acquired or"
            " refreshed it on every attempt) — one active writer per"
            " dataset dir"
        )

    existing = _read_lease(path)
    if existing is not None:
        # a lease whose token the release tombstone names is RELEASED
        # however young its ts — an orphan heartbeat tick racing the
        # release may have re-PUT it after the lock removal (see
        # _LeaseHeartbeat._run, non-CAS branch); without this check a
        # released-but-resurrected lease would block writers for the
        # whole stale window
        released = False
        try:
            raw = fs.read_bytes(fs_join(path, _WRITER_LOCK_TOMBSTONE))
            released = (
                json.loads(raw).get("token") == existing.get("token")
            )
        except Exception:  # noqa: BLE001 — no/corrupt tombstone
            pass
        if not released:
            check_live(existing)
    fs.put_atomic(fs_join(path, _WRITER_LOCK), payload())
    return token


class _LeaseHeartbeat:
    """Keeps a held writer lease young for the duration of a long
    job. Staleness is measured from the lease's timestamp, so without
    refreshes a legitimate writer outliving ``stale_after_sec`` (a
    multi-hour batch write at 100 TB scale) would be silently taken
    over and its temps swept mid-flight; the heartbeat re-PUTs the
    lease with a fresh timestamp every ``interval`` seconds while the
    holder works. Daemon thread: a driver crash kills it, the lease
    ages out, and stale takeover does its job.

    On CAS backends the refresh is a true compare-and-set: it lands
    only against the exact lease bytes the tick read, so a takeover
    or a release (possibly from ANOTHER process — commit()/abort()
    may run in a different Python worker than the one holding this
    thread) can never be overwritten back; a failed CAS ends the
    thread for good. On non-CAS backends the refresh is
    read-check-put, hardened against the cross-process release race
    (ADVICE r15) with a tombstone double-check: release PUTs a
    separate ``_writer.lock.released`` object BEFORE removing the
    lock, and a tick re-checks it after its re-PUT — a resurrected
    lease is aged out (ts=0) and the thread exits. Residual non-CAS
    caveat: a takeover PUT racing a tick's re-PUT can still lose;
    the mutating entry points all re-verify the stored token before
    their first mutation (:func:`_verify_lease_held`), so whichever
    side lost fails loudly instead of interleaving renames."""

    def __init__(self, path: str, token: str, interval: float) -> None:
        import threading

        self._path = path
        self._token = token
        self._interval = max(float(interval), 0.01)
        self._stop_evt = threading.Event()
        self._thread = threading.Thread(
            target=self._run,
            daemon=True,
            name=f"shards-lease-heartbeat-{token[:8]}",
        )
        self._thread.start()

    def _released_elsewhere(self, fs) -> bool:
        """Non-CAS cross-process release check: has some process
        released OUR token via the tombstone object?"""
        import json

        try:
            raw = fs.read_bytes(
                fs_join(self._path, _WRITER_LOCK_TOMBSTONE)
            )
        except (FileNotFoundError, OSError):
            return False
        try:
            return json.loads(raw).get("token") == self._token
        except Exception:  # noqa: BLE001 — corrupt tombstone
            return False

    def _run(self) -> None:
        import json
        import time

        while not self._stop_evt.wait(self._interval):
            try:
                fs = get_fs(self._path)
                lock = fs_join(self._path, _WRITER_LOCK)
                if getattr(fs, "supports_cas", False):
                    cur = fs.get_cas(lock)
                    if cur is None:
                        return  # released: never resurrect
                    lease = _parse_lease(cur[0])
                    if lease.get("token") != self._token:
                        return  # lost to a takeover: never resurrect
                    lease["ts"] = time.time()
                    if not fs.put_cas(
                        lock, json.dumps(lease).encode(), cur[1]
                    ):
                        return  # lost the CAS race (takeover or a
                        # cross-process release): never resurrect
                    continue
                # non-CAS backend: read-check-put + tombstone
                lease = _read_lease(self._path)
                if lease is None or lease.get("token") != self._token:
                    return  # lost or released: never resurrect
                if self._released_elsewhere(fs):
                    return  # released cross-process: don't re-PUT
                lease["ts"] = time.time()
                fs.put_atomic(lock, json.dumps(lease).encode())
                if self._released_elsewhere(fs):
                    # a release landed between our read and our
                    # re-PUT (its tombstone is PUT before its lock
                    # removal, so it is visible by now): our re-PUT
                    # resurrected a released lease. Exit WITHOUT a
                    # repair PUT — an unconditional "age it out"
                    # re-PUT here could clobber a NEW acquirer's
                    # fresh lease (r16 review finding). The
                    # resurrected lock is harmless instead: acquire
                    # treats a lease whose token matches the
                    # tombstone as released, however young its ts.
                    return
            except Exception:  # noqa: BLE001 — transient backend
                pass  # error: the next tick retries; worst case the
                # lease ages out and the commit-time re-check fails loud

    def stop(self) -> None:
        """Set the stop flag AND join: a tick already past its token
        check could otherwise re-PUT the lock after the caller's
        release removed it, resurrecting a released lease. The join
        is bounded — a PUT hung longer than the timeout on a degraded
        backend can still land after release and leave a benign stale
        lock, recoverable via the stale window or an explicit
        takeover (no stronger guarantee exists without backend
        compare-and-set)."""
        self._stop_evt.set()
        if self._thread is not None:
            self._thread.join(timeout=10.0)

    # cloudpickle ships the DataSource writer BY VALUE to executors
    # and captures this module's globals along the way — including
    # the _HEARTBEATS registry. Threads/events don't pickle; ship a
    # dormant shell instead (executors never tick a heartbeat — the
    # driver-side original keeps running untouched).
    def __getstate__(self) -> dict:
        return {
            "_path": self._path,
            "_token": self._token,
            "_interval": self._interval,
        }

    def __setstate__(self, state: dict) -> None:
        import threading

        self.__dict__.update(state)
        self._stop_evt = threading.Event()
        self._stop_evt.set()  # dormant: no thread on this copy
        self._thread = None


# driver-side registry: DataSource writer instances are PICKLED to
# executors for write(), so a thread can't live on the instance —
# commit/abort look the heartbeat up by token instead
_HEARTBEATS: dict[str, _LeaseHeartbeat] = {}

_REGISTER_LOCK = threading.Lock()


def _start_lease_heartbeat(
    path: str, token: str, interval: float
) -> None:
    _HEARTBEATS[token] = _LeaseHeartbeat(path, token, interval)


def _stop_lease_heartbeat(token: str | None) -> None:
    hb = _HEARTBEATS.pop(token, None) if token is not None else None
    if hb is not None:
        hb.stop()


def _verify_lease_held(path: str, token: str, what: str) -> None:
    """Re-check the stored lease right before a holder's first
    mutation. The lock is PUT-not-CAS, so a takeover can race a
    heartbeat tick and either side can lose — this check makes the
    loser fail LOUDLY before it renames anything, instead of two
    writers interleaving into the same dataset dir."""
    held = _read_lease(path)
    if held is None or held.get("token") != token:
        _stop_lease_heartbeat(token)
        raise RuntimeError(
            f"{what} lost its writer lease for {path} (now held by"
            f" {held.get('owner') if held else '<released>'}) — the"
            " job outlived the lease's stale window or a takeover was"
            " forced; nothing was published, re-run it"
        )


def release_writer_lease(path: str, token: str) -> None:
    """Release the lease IF still ours (a takeover may have replaced
    it — never delete the new holder's lock). Release must be robust
    to an ORPHANED heartbeat ticking in another process (ADVICE r15:
    PySpark may run commit()/abort() in a different Python worker
    than the planner that started the thread, where
    _stop_lease_heartbeat is a no-op):

    - CAS + conditional-delete backends (posix, fakeobj): compare-
      and-delete against the exact lease read; an orphan tick's CAS
      refresh then fails and the thread exits — the lock can never
      be resurrected.
    - CAS without conditional delete (S3-class): the lock is
      REPLACED (CAS) with an instantly-stale released marker instead
      of removed; the orphan tick's next CAS refresh fails on the
      changed content. The marker object lingers until the next
      acquire reclaims it via the stale path — documented cost of no
      conditional DELETE.
    - non-CAS: PUT the ``_writer.lock.released`` tombstone FIRST,
      then remove the lock; a tick whose re-PUT resurrected the
      lease sees the tombstone post-PUT, ages the lease out, and
      exits (see :class:`_LeaseHeartbeat`).

    Best-effort by design: it runs in finally/abort paths where the
    backend may be mid-failure, and a leaked lease is recoverable
    (stale timeout or explicit takeover) while a raise here would
    mask the real error."""
    import json

    try:
        fs = get_fs(path)
        lock = fs_join(path, _WRITER_LOCK)
        if getattr(fs, "supports_cas", False):
            cur = fs.get_cas(lock)
            if cur is None or _parse_lease(cur[0]).get("token") != token:
                return  # not ours (takeover/already released): noop
            if getattr(fs, "supports_cas_delete", False):
                fs.remove_cas(lock, cur[1])  # False = takeover raced
                # us between read and delete — leave theirs intact
            else:
                fs.put_cas(
                    lock,
                    json.dumps(
                        {
                            "token": f"released:{token}",
                            "owner": _parse_lease(cur[0]).get("owner"),
                            "ts": 0.0,
                            "released": True,
                        }
                    ).encode(),
                    cur[1],
                )
            return
        # non-CAS: tombstone BEFORE removal (ordering is load-bearing,
        # see _LeaseHeartbeat._run)
        fs.put_atomic(
            fs_join(path, _WRITER_LOCK_TOMBSTONE),
            json.dumps({"token": token}).encode(),
        )
        existing = _read_lease(path)
        if existing is not None and existing.get("token") == token:
            fs.remove(lock)
    except Exception:  # noqa: BLE001 — janitorial, see docstring
        pass


def _sync_or_drop_schema(
    path: str,
    meta_schema: StructType,
    meta_fmt: str = "csv",
    force: bool = False,
) -> None:
    """One write-path entry point: publish/refresh ``_schema.json``
    for csv-safe (or parquet-backed) schemas, DROP it for exotic csv
    types so a stale file never speaks for shards it can't parse."""
    if _csv_safe_schema(meta_schema) or meta_fmt != "csv":
        _sync_published_schema(path, meta_schema, force=force)
    else:
        try:
            get_fs(path).remove(fs_join(path, _SCHEMA_FILE))
        except OSError:
            pass


def _member_name_error(name: str) -> str | None:
    """Dir layout joins member names verbatim under the shard folder,
    so a data-supplied name carrying a path separator or '..' would
    escape the dataset directory — writing outside it, or surfacing
    arbitrary local/bucket files as row content from an untrusted
    dataset. Members must be pure basenames (the reference keys
    sharded-files members by basename — `dataset_reader.py:237-243`);
    the tar layout is immune (members resolve inside the archive)."""
    if not name or name in (".", ".."):
        return f"member name {name!r} is not a valid file name"
    if "/" in name or "\\" in name:
        return (
            f"member name {name!r} contains a path separator — dir"
            " layout members must be pure basenames"
        )
    return None


def _archive_path(path: str, stem: str, archive_ext: str, layout: str) -> str:
    return (
        fs_join(path, stem)
        if layout == "dir"
        else fs_join(path, f"{stem}.{archive_ext}")
    )


def _read_compaction_manifest(path: str) -> dict | None:
    import json

    try:
        return json.loads(
            get_fs(path).read_bytes(fs_join(path, _COMPACTION_MANIFEST))
        )
    except FileNotFoundError:
        return None


def _write_compaction_manifest(path: str, manifest: dict) -> None:
    """Single-object atomic publish — THE reader-visible commit point
    of a compaction (posix: tmp + rename; object stores: one PUT)."""
    import json

    get_fs(path).put_atomic(
        fs_join(path, _COMPACTION_MANIFEST),
        json.dumps(manifest).encode(),
    )


def _list_shards(
    path: str,
    archive_ext: str,
    layout: str = "tar",
    meta_ext: str = "csv",
) -> tuple[list[str], set[str]]:
    fs = get_fs(path)
    if not fs.isdir(path):
        raise FileNotFoundError(path)
    names = sorted(fs.listdir(path))
    if _UPDATE_MARKER in names:
        # a live update marker means renames are (or were) in flight:
        # some shard tables carry the new metadata, some the old. A
        # crashed update would otherwise be silently readable as a
        # mixed dataset FOREVER (unlike compaction, whose manifest
        # readers interpret) — fail loudly instead; the fix is one
        # heal_metadata_update(path) call, which rolls the rename
        # plan forward. The cost: a reader racing a LIVE update errors
        # for the few ms of the rename pass — the honest outcome,
        # since such a read returns mixed rows anyway.
        raise RuntimeError(
            f"unfinished metadata update at {path}: run"
            " dataprocessingframework_spark.sources.shards_source."
            "heal_metadata_update(path) to complete it"
        )
    csvs = [
        n[: -(len(meta_ext) + 1)]
        for n in names
        if n.endswith(f".{meta_ext}")
    ]
    if layout == "dir":
        # sharded-files: the archive mate of N.csv is the loose-file
        # directory N/ (`dataset_reader.py:205-254`'s pairing assert)
        tars = {
            n
            for n in names
            if not n.startswith((".", "_"))
            and "." not in n
            and fs.isdir(fs_join(path, n))
        }
    else:
        tars = {
            n[: -(len(archive_ext) + 1)]
            for n in names
            if n.endswith(f".{archive_ext}")
        }
    # a DONE compaction manifest retires shards logically before their
    # files are garbage-collected: readers exclude them even if the
    # collector hasn't run (crash-healable; see compact_shards)
    manifest = _read_compaction_manifest(path)
    if manifest is not None and manifest.get("state") == "done":
        retired = set(manifest.get("retired", []))
        csvs = [s for s in csvs if s not in retired]
        tars = {s for s in tars if s not in retired}
    return csvs, tars


class ShardsReader(DataSourceReader):
    """Batch reader: one partition per shard pair, split_name
    partition pruning, Arrow-native csv+tar reads."""

    def __init__(self, schema: StructType, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("dpf_shards requires a path")
        path = strip_file_scheme(path)
        self._schema = schema
        self._name_col = options.get("name_col", "name")
        self._content_col = options.get("content_col", "content")
        self._archive_ext = options.get("archive_ext", "tar")
        self._layout = _validated_layout(options)
        self._meta_fmt = _validated_meta_format(options)
        # an explicit content='false' wins over the schema heuristic: a
        # metadata-only csv is allowed to carry a column literally
        # named 'content' without flipping the reader into tar mode
        self._with_content = (
            self._content_col in schema.fieldNames()
            and options.get("content", "auto") != "false"
        )
        csvs, tars = _list_shards(
            path, self._archive_ext, self._layout,
            meta_ext=self._meta_fmt,
        )
        if self._with_content:
            # csv<->tar pairing contract (`dataset_reader.py:183-192`;
            # dir layout: csv<->folder, `dataset_reader.py:237-243`).
            # Dir layout EXEMPT: a shard whose members were all null
            # writes no folder (object stores don't persist empty
            # prefixes), so a missing folder mate is legal there — its
            # rows read back content=null / is_correct=false, the same
            # tolerant contract as a missing tar member
            missing = sorted(set(csvs) - tars)
            if missing and self._layout != "dir":
                raise ValueError(
                    f"shard tables without archive mates: {missing[:10]}"
                )
        self._parts: list[ShardPartition] = [
            ShardPartition(
                split_name=stem,
                csv_path=fs_join(path, f"{stem}.{self._meta_fmt}"),
                tar_path=(
                    _archive_path(path, stem, self._archive_ext, self._layout)
                    if stem in tars and self._with_content
                    else None
                ),
            )
            for stem in csvs
        ]

    def pushFilters(self, filters):  # noqa: D102 — contract in class doc
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == (SPLIT_COLUMN,):
                self._parts = [
                    p for p in self._parts if p.split_name == str(f.value)
                ]
            elif isinstance(f, In) and f.attribute == (SPLIT_COLUMN,):
                vals = {str(v) for v in f.value}
                self._parts = [
                    p for p in self._parts if p.split_name in vals
                ]
        # return ALL filters as unhandled: Spark re-applies them, so
        # pruning can only remove shards that cannot match — the
        # reader never becomes the predicate evaluator of record
        return filters

    def partitions(self):  # noqa: D102
        return list(self._parts)

    def read(self, partition: ShardPartition | None):  # noqa: D102
        if partition is None:
            # Spark passes [None] when partitions() returned [] —
            # i.e. every shard was pruned: nothing to read
            return
        import pyarrow as pa
        import pyarrow.csv as pacsv

        from pyspark.sql.pandas.types import to_arrow_schema

        # in metadata-only mode nothing but split_name is derived —
        # csv columns named 'content'/'is_correct'/'error' read as the
        # plain metadata they are
        special = {SPLIT_COLUMN}
        if self._with_content:
            special |= {self._content_col, *_META_COLS}
        meta_fields = [
            f for f in self._schema.fields if f.name not in special
        ]
        arrow_meta = to_arrow_schema(StructType(meta_fields))
        parse = pacsv.ParseOptions(newlines_in_values=True)
        # 16 MiB csv blocks (default 1 MiB): each arrow block becomes
        # one RecordBatch shipped through the Python-worker socket, so
        # bigger blocks mean fewer serialize/deserialize round trips
        # per shard (a measured single-digit-% win on metadata scans;
        # the jvm route stays the real fast path — VERDICT r15 item
        # 6); shard tables are bounded by max_files_in_shard, so one
        # block is at most one shard's rows
        readopts = pacsv.ReadOptions(block_size=1 << 24)
        # quoted "" stays an empty STRING: the arrow writer encodes
        # null as a bare empty field and '' as a quoted one — the
        # default quoted_strings_can_be_null=True would collapse both
        # to null on read (legacy pandas-written shards never encoded
        # the distinction, so this only tightens the native round-trip)
        convert = pacsv.ConvertOptions(
            column_types={f.name: f.type for f in arrow_meta},
            strings_can_be_null=True,
            quoted_strings_can_be_null=False,
        )
        fs = get_fs(partition.csv_path)
        # open_source: local fast path hands pyarrow the path
        # (mmap-able); remote is one GET per table (metadata-sized)
        if self._meta_fmt == "parquet":
            import pyarrow.parquet as pq

            tbl = pq.read_table(
                open_source(partition.csv_path),
                columns=[f.name for f in meta_fields],
            )
            tbl = tbl.cast(arrow_meta)
        else:
            try:
                tbl = pacsv.read_csv(
                    open_source(partition.csv_path),
                    read_options=readopts,
                    parse_options=parse,
                    convert_options=convert,
                )
            except pa.ArrowInvalid:
                # a type pyarrow's csv converter cannot parse directly
                # (rare — e.g. exotic decimals): read raw, cast after
                tbl = pacsv.read_csv(
                    open_source(partition.csv_path),
                    read_options=readopts,
                    parse_options=parse,
                    convert_options=pacsv.ConvertOptions(
                        strings_can_be_null=True,
                        quoted_strings_can_be_null=False,
                    ),
                )
                tbl = tbl.cast(
                    pa.schema(
                        [arrow_meta.field(c) for c in tbl.column_names]
                    )
                )
        n = tbl.num_rows
        cols: dict[str, pa.ChunkedArray | pa.Array] = {
            f.name: tbl.column(f.name) for f in meta_fields
        }
        cols[SPLIT_COLUMN] = pa.array(
            [partition.split_name] * n, pa.string()
        )
        if self._with_content:
            members: dict[str, bytes] = {}
            loose_dir: str | None = None
            tar_err: str | None = None
            if partition.tar_path is None:
                tar_err = "missing archive"
            elif self._layout == "dir":
                # loose-file folder: one GET per member below — no
                # up-front archive read (and no tar locality win; the
                # tar layout remains the 100 TB-preferred format)
                loose_dir = partition.tar_path
            else:
                try:
                    tar_local = fs.local_path(partition.tar_path)
                    # remote: one GET of the whole archive — a shard
                    # tar is bounded by max_files_in_shard, and whole-
                    # archive transfer is the locality the one-shard-
                    # per-partition plan exists to exploit
                    with (
                        tarfile.open(tar_local, "r")
                        if tar_local is not None
                        else tarfile.open(
                            fileobj=fs.open_read(partition.tar_path),
                            mode="r",
                        )
                    ) as tf:
                        for m in tf.getmembers():
                            fh = tf.extractfile(m)
                            if fh is not None:
                                members[m.name] = fh.read()
                except Exception as e:  # noqa: BLE001 — tolerant contract
                    tar_err = f"{type(e).__name__}: {e}"
            contents: list[bytes | None] = []
            ok: list[bool] = []
            err: list[str | None] = []
            # per-partition invariants, hoisted out of the member
            # loop: the shard folder's resolved base never changes
            # row to row (per-row realpath walks on a multi-million-
            # row dataset are millions of redundant syscalls)
            base_real: str | None = None
            if loose_dir is not None:
                base_local = fs.local_path(loose_dir)
                if base_local is not None:
                    base_real = os.path.realpath(base_local)
            for name in tbl.column(self._name_col).to_pylist():
                data = members.get(str(name))
                member_err = tar_err
                if data is None and loose_dir is not None:
                    bad = _member_name_error(str(name))
                    if bad is not None:
                        # an untrusted dataset's csv must not be able
                        # to surface files OUTSIDE the shard folder as
                        # row content — unsafe names become error rows
                        # (tolerant contract), never filesystem reads
                        member_err = f"ValueError: {bad}"
                    else:
                        member_path = fs_join(loose_dir, str(name))
                        # basename-clean names can still escape via a
                        # SYMLINK planted inside an untrusted dataset's
                        # folder: on local backends, require the
                        # resolved path to stay under the shard folder
                        escaped = False
                        if base_real is not None:
                            local = fs.local_path(member_path)
                            escaped = not os.path.realpath(
                                local
                            ).startswith(base_real + os.sep)
                        if escaped:
                            member_err = (
                                "ValueError: member resolves outside"
                                " the shard folder (symlink escape"
                                " rejected)"
                            )
                        else:
                            try:
                                data = fs.read_bytes(member_path)
                            except Exception as e:  # noqa: BLE001 —
                                # tolerant, and per-member: one
                                # unreadable loose file must not poison
                                # its shard siblings
                                member_err = f"{type(e).__name__}: {e}"
                if data is None:
                    contents.append(None)
                    ok.append(False)
                    err.append(
                        member_err or f"KeyError: {name!r} not in archive"
                    )
                else:
                    contents.append(data)
                    ok.append(True)
                    err.append(None)
            cols[self._content_col] = pa.array(contents, pa.binary())
            cols["is_correct"] = pa.array(ok, pa.bool_())
            cols["error"] = pa.array(err, pa.string())
        full = to_arrow_schema(self._schema)
        out = pa.table(
            [cols[f.name] for f in self._schema.fields], schema=full
        )
        yield from out.to_batches()


class ShardsDataSource(DataSource):
    """``spark.read.format("dpf_shards")`` — see module docstring.

    Options: ``path`` (shard dir), ``content`` ('auto'|'true'|'false',
    default auto: bytes columns appear iff any archive exists),
    ``name_col`` (tar member key column, default 'name'),
    ``content_col`` (default 'content'), ``archive_ext`` (default
    'tar'), ``layout`` ('tar' = csv+tar shards, default; 'dir' = csv +
    loose-file folder N/ — the reference's sharded-files format,
    `dataset_reader.py:205-254`). When the caller supplies
    ``.schema(...)``, content columns are emitted iff the schema
    contains ``content_col``. Paths may be posix, ``file://``,
    ``fakeobj://`` (test object store), or any fsspec scheme
    (``s3://``/``s3a://``/``gs://``/``abfss://``, requires fsspec +
    the protocol driver on driver AND executors)."""

    @classmethod
    def name(cls) -> str:
        return "dpf_shards"

    def schema(self) -> StructType:
        import pyarrow.csv as pacsv

        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        if not path:
            raise ValueError("dpf_shards requires a path")
        path = strip_file_scheme(path)
        archive_ext = self.options.get("archive_ext", "tar")
        meta_fmt = _validated_meta_format(dict(self.options))
        csvs, tars = _list_shards(
            path, archive_ext, _validated_layout(dict(self.options)),
            meta_ext=meta_fmt,
        )
        if not csvs:
            raise ValueError(
                f"no .{meta_fmt} shard tables under {path}"
            )
        content_opt = self.options.get("content", "auto")
        with_content = content_opt == "true" or (
            content_opt == "auto" and bool(tars)
        )
        # the dataset's published _schema.json wins (exact types, zero
        # reads — and consistent with what _shards_v2 plans); fall
        # back to FIRST-shard inference only (the sampling trade every
        # csv reader makes — pass .schema() to pin types exactly;
        # parquet tables carry their schema, so 'inference' there is
        # exact)
        inferred = read_published_schema(path)
        if inferred is None:
            first_csv = fs_join(path, f"{csvs[0]}.{meta_fmt}")
            if meta_fmt == "parquet":
                import pyarrow.parquet as pq

                first_schema = pq.read_schema(open_source(first_csv))
            else:
                first_schema = pacsv.read_csv(
                    open_source(first_csv),
                    parse_options=pacsv.ParseOptions(
                        newlines_in_values=True
                    ),
                ).schema
            inferred = from_arrow_schema(first_schema)
        fields = list(inferred.fields)
        fields.append(StructField(SPLIT_COLUMN, StringType()))
        if with_content:
            fields.append(
                StructField(
                    self.options.get("content_col", "content"),
                    BinaryType(),
                )
            )
            fields.append(StructField("is_correct", BooleanType()))
            fields.append(StructField("error", StringType()))
        return StructType(fields)

    def reader(self, schema: StructType) -> ShardsReader:
        return ShardsReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> "ShardsWriter":
        return ShardsWriter(schema, dict(self.options), overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> "ShardsStreamWriter":
        return ShardsStreamWriter(schema, dict(self.options), overwrite)


@dataclass
class ShardsCommitMessage(WriterCommitMessage):
    """Per-task manifest: (partition_id, seq, tmp_csv, tmp_tar, rows)."""

    shards: list


class ShardsWriter(DataSourceArrowWriter):
    """``df.write.format("dpf_shards")`` — commit-protocol-correct
    shard writing.

    Tasks that wrote FINAL file names directly would be correct on a
    happy path only: a speculative duplicate attempt could race the
    winner on the same ``N.tar``, and a failed job would leave a
    partial dataset that a subsequent shards scan happily reads. This
    writer speaks Spark's commit protocol instead — the property that
    actually matters at 1000 executors where task retries and
    speculation are routine, not exceptional. The reference-named
    entries (``writers.write_shards``/``write_sharded_files``) are
    thin wrappers over it:

    - every task attempt writes ATTEMPT-UNIQUE temp names
      (``.{job}-p{pid}-a{attempt}-s{seq}.csv.tmp`` — dot-prefixed and
      ``.tmp``-suffixed, invisible to ``_list_shards``), so attempts
      never collide and a half-written file can never shadow a shard;
    - the driver's ``commit()`` runs only after EVERY task succeeded:
      it orders the collected manifests by (partition, seq), assigns
      the final contiguous shard numbers, and ``os.replace``s temps
      into place (per-file atomic on posix; object stores swap in a
      copy-manifest here) — losers of speculative races are swept, not
      renamed, because only the winning attempt's manifest reaches
      the driver;
    - ``abort()`` deletes this job's temps, leaving a failed write
      invisible.

    Caveat (batch mode): a DRIVER crash mid-``commit()`` can leave a
    partially-renamed dataset — the inherent posix multi-file-rename
    limit (Hadoop committers have the same window). Callers needing
    dataset-level atomicity wrap the write in ``writers.
    atomic_publish``; the STREAMING sink closes the window itself with
    its per-batch write-ahead marker (see ``ShardsStreamWriter``).

    ``mode("append")`` numbers new shards after the existing maximum
    (the immutable-shards divergence from the reference's in-place
    last-shard fill, see ``_next_shard_index_for``);
    ``mode("overwrite")`` clears existing
    shard pairs at commit time. Shard size: one shard pair per input
    partition by default (repartition to choose), or roll within a
    task every ``max_files_in_shard`` rows.

    Column contract (mirrors the reader): ``content_col`` (binary)
    streams into ``N.tar`` keyed by ``name_col``; every other column
    except the derived ``split_name``/``is_correct``/``error`` lands
    in ``N.csv``. Null content writes no tar member (re-reads as
    ``is_correct=false``, the tolerant contract).
    """

    def __init__(
        self, schema: StructType, options: dict, overwrite: bool
    ) -> None:
        import uuid

        path = options.get("path")
        if not path:
            raise ValueError("dpf_shards requires a path")
        self._path = strip_file_scheme(path)
        self._overwrite = overwrite
        self._name_col = options.get("name_col", "name")
        self._content_col = options.get("content_col", "content")
        self._archive_ext = options.get("archive_ext", "tar")
        self._layout = _validated_layout(options)
        self._meta_fmt = _validated_meta_format(options)
        max_rows = int(options.get("max_files_in_shard", "0"))
        self._max_rows = max_rows if max_rows > 0 else None
        # explicit first shard number for this append — used by
        # compact_shards, whose manifest RESERVES its pending numbers
        # (so _next_shard_index_for would skip past them); everyone
        # else lets commit() compute it
        start_opt = options.get("start_index")
        self._start_index = int(start_opt) if start_opt is not None else None
        # mirror the reader's escape hatch: content='false' lets a
        # metadata-only frame carry a column literally named 'content'
        # without flipping the writer into tar mode
        self._with_content = (
            self._content_col in schema.fieldNames()
            and options.get("content", "auto") != "false"
        )
        if self._with_content:
            ctype = schema[self._content_col].dataType
            if not isinstance(ctype, BinaryType):
                # fail at PLAN time with the real story — otherwise
                # string content raises TypeError per task and integer
                # content silently writes bytes(n) zero-byte members
                raise ValueError(
                    f"content column {self._content_col!r} must be binary,"
                    f" got {ctype.simpleString()} — cast it, or pass"
                    " option('content', 'false') to treat it as csv"
                    " metadata"
                )
            if self._name_col not in schema.fieldNames():
                raise ValueError(
                    f"content column {self._content_col!r} requires "
                    f"member-name column {self._name_col!r}"
                )
        # in metadata-only mode nothing but split_name is derived —
        # mirrors the reader's `special` set, so a csv column literally
        # named 'content'/'is_correct'/'error' round-trips as metadata
        derived = {SPLIT_COLUMN}
        if self._with_content:
            derived |= {self._content_col, *_META_COLS}
        self._meta_cols = [
            f.name for f in schema.fields if f.name not in derived
        ]
        # published to _schema.json at commit so cold reads skip the
        # csv inference pass (see read_published_schema)
        self._meta_schema = StructType(
            [f for f in schema.fields if f.name in self._meta_cols]
        )
        # csv is a FLAT format and pyarrow's writer (deliberately)
        # refuses nested values — fail at PLAN time with the column
        # name, not deep inside every task with ArrowInvalid
        # (parquet metadata shards carry nested columns natively)
        from pyspark.sql.types import ArrayType, MapType

        if self._meta_fmt == "csv":
            nested = [
                f.name
                for f in schema.fields
                if f.name in self._meta_cols
                and isinstance(
                    f.dataType, (ArrayType, MapType, StructType)
                )
            ]
            if nested:
                raise ValueError(
                    f"shard csv metadata cannot hold nested columns"
                    f" {nested} — cast them to string (e.g. to_json)"
                    " before writing, or write"
                    " option('meta_format', 'parquet')"
                )
        # driver-side job token: one namespace for every temp file this
        # job writes, so commit/abort can sweep stragglers by prefix
        self._token = uuid.uuid4().hex[:12]
        fs = get_fs(self._path)
        fs.makedirs(self._path)
        if not overwrite and fs.isdir(self._path):
            # appending with the OTHER metadata format would silently
            # fork the dataset: each reader lists only its own
            # extension and drops the other half without any error —
            # fail at plan time instead. isdir guard: a FRESH dataset
            # on an object store has no prefix to list yet (makedirs
            # is a no-op there) and trivially has nothing to fork
            other = "parquet" if self._meta_fmt == "csv" else "csv"
            forked = [
                f
                for f in fs.listdir(self._path)
                if f.endswith(f".{other}") and f.split(".")[0].isdigit()
            ]
            if forked:
                raise ValueError(
                    f"dataset at {self._path} already has"
                    f" {other}-format shard tables ({forked[:3]}...);"
                    f" appending meta_format={self._meta_fmt!r} would"
                    " fork it — match the existing format or"
                    " mode('overwrite')"
                )
        self._lease_enabled = options.get("lease", "true") != "false"
        self._lease_takeover = (
            options.get("lease_takeover", "false") == "true"
        )
        self._lease_token: str | None = None
        # batch jobs hold the writer lease plan→commit/abort (a
        # concurrent second writer fails HERE, loudly, before writing
        # a byte); the stream sink instead leases per-commit (see
        # ShardsStreamWriter.commit — a query must not hold the dir
        # hostage between micro-batches). Acquired LAST: every
        # plan-time validation error above must not leak a lease.
        if self._lease_enabled and self._lease_at_init:
            # parsed BEFORE the acquire (a raise between the lease PUT
            # and the heartbeat start would leak an hour-long lock),
            # but only on this branch — writers that never start a
            # heartbeat (lease=false, stream sink) keep ignoring a
            # dead option as they always did
            hb_interval = float(
                options.get("lease_heartbeat_sec", "60")
            )
            self._lease_token = acquire_writer_lease(
                self._path,
                "batch-writer",
                takeover=self._lease_takeover,
            )
            # keep the lease young for the job's whole plan->commit
            # span — a batch write legitimately outliving the stale
            # window must not be silently taken over (heartbeat lives
            # in a driver-side registry; this instance is pickled to
            # executors). The stream sink leases per-commit (seconds
            # of renames), no heartbeat needed there.
            _start_lease_heartbeat(
                self._path, self._lease_token, hb_interval
            )

    _lease_at_init = True  # ShardsStreamWriter overrides

    def _release_lease(self) -> None:
        if self._lease_token is not None:
            _stop_lease_heartbeat(self._lease_token)
            release_writer_lease(self._path, self._lease_token)
            self._lease_token = None

    # ---- executor side -------------------------------------------------
    def write(self, iterator) -> ShardsCommitMessage:
        import pyarrow as pa
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid, attempt = tc.partitionId(), tc.taskAttemptId()
        fs = get_fs(self._path)
        prefix = fs_join(
            self._path, f".{self._token}-p{pid:06d}-a{attempt}"
        )
        shards: list[tuple[int, int, str, str | None, int]] = []
        batches: list = []  # arrow RecordBatches of the meta columns
        rows = 0
        seq = 0
        tar: tarfile.TarFile | None = None
        tar_fh = None  # underlying FS handle (PUT-on-close on remote)
        tmp_tar: str | None = None

        def roll() -> None:
            nonlocal batches, rows, seq, tar, tar_fh, tmp_tar
            if rows == 0:
                return
            if tar is not None:
                tar.close()
                tar_fh.close()  # tarfile leaves caller-owned fileobjs open
            tmp_csv = f"{prefix}-s{seq}.{self._meta_fmt}.tmp"
            # arrow-native emit (C++) via shard_fs.write_table — csv:
            # RFC4180 doublequote, the exact dialect the reader's
            # pyarrow parser and pandas-written shards already
            # speak; nulls write as empty (reader:
            # strings_can_be_null=True)
            write_table(
                tmp_csv, pa.Table.from_batches(batches), self._meta_fmt
            )
            shards.append((pid, seq, tmp_csv, tmp_tar, rows))
            batches, rows, seq = [], 0, seq + 1
            tar, tar_fh, tmp_tar = None, None, None

        for batch in iterator:
            offset = 0
            while offset < batch.num_rows:
                take = batch.num_rows - offset
                if self._max_rows is not None:
                    take = min(take, self._max_rows - rows)
                chunk = batch.slice(offset, take)
                offset += take
                if self._with_content and self._layout == "dir":
                    # sharded-files: loose members under a temp DIR
                    # (dot-prefixed — invisible to _list_shards); each
                    # member is its own atomic put, the csv publishes
                    # the shard
                    for name, data in zip(
                        chunk.column(self._name_col).to_pylist(),
                        chunk.column(self._content_col).to_pylist(),
                    ):
                        if data is None:
                            continue
                        mname = str(name)
                        bad = _member_name_error(mname)
                        if bad is not None:
                            raise ValueError(
                                f"dir-layout write rejected: {bad}"
                            )
                        # created LAZILY on the first non-null member:
                        # real object stores don't persist empty
                        # prefixes (makedirs is a no-op there), so an
                        # eagerly-created empty member dir would make
                        # commit's rename raise mid-loop — after
                        # earlier manifest entries already published
                        if tmp_tar is None:
                            tmp_tar = f"{prefix}-s{seq}.dir.tmp"
                            fs.makedirs(tmp_tar)
                        with fs.open_write(
                            fs_join(tmp_tar, mname)
                        ) as mfh:
                            mfh.write(bytes(data))
                elif self._with_content:
                    if tar is None:
                        tmp_tar = f"{prefix}-s{seq}.{self._archive_ext}.tmp"
                        tar_fh = fs.open_write(tmp_tar)
                        tar = tarfile.open(fileobj=tar_fh, mode="w")
                    for name, data in zip(
                        chunk.column(self._name_col).to_pylist(),
                        chunk.column(self._content_col).to_pylist(),
                    ):
                        if data is None:
                            continue
                        payload = bytes(data)
                        info = tarfile.TarInfo(name=str(name))
                        info.size = len(payload)
                        info.mtime = 0
                        tar.addfile(info, io.BytesIO(payload))
                # select only when derived columns are actually
                # present — the common metadata-only batch goes
                # straight through
                batches.append(
                    chunk
                    if chunk.schema.names == self._meta_cols
                    else chunk.select(self._meta_cols)
                )
                rows += chunk.num_rows
                if self._max_rows is not None and rows >= self._max_rows:
                    roll()
        roll()
        return ShardsCommitMessage(shards=shards)

    # ---- driver side ---------------------------------------------------
    def _sweep_temps(self) -> None:
        fs = get_fs(self._path)
        for f in fs.listdir(self._path):
            if f.startswith(f".{self._token}-") and f.endswith(".tmp"):
                try:
                    if f.endswith(".dir.tmp"):
                        fs.rmtree(fs_join(self._path, f))
                    else:
                        fs.remove(fs_join(self._path, f))
                except OSError:
                    pass

    def commit(self, messages) -> None:
        fs = get_fs(self._path)
        # the heartbeat keeps the lease young, but refresh is not CAS
        # and a forced takeover is always possible; VERIFY we still
        # hold it before mutating — a lost lease means another writer
        # may have swept our temps or be mid-commit itself, and
        # failing LOUDLY here beats interleaving
        if self._lease_token is not None:
            _verify_lease_held(
                self._path, self._lease_token, "batch write commit"
            )
        if not self._overwrite:
            # appends compute their start index without _list_shards,
            # so they must refuse an unhealed update here (overwrite
            # clears the stale marker below instead)
            _refuse_unhealed_update(fs, self._path, "batch append")
        manifest = sorted(
            entry
            for m in messages
            if m is not None
            for entry in m.shards
        )
        if self._overwrite:
            # RAW listing, not _list_shards: a leftover done-state
            # compaction manifest hides retired stems from readers, but
            # overwrite replaces the dataset wholesale — retired FILES
            # must go too, and the manifest with them (otherwise fresh
            # shards that reuse a retired number stay invisible)
            heal_compaction(self._path, self._archive_ext)
            # a stale metadata-update marker must die WITH the dataset
            # it describes: healing it after the overwrite would rename
            # pre-overwrite temps onto the fresh shards (stem numbers
            # restart at 0), silently pairing old metadata with new
            # archives. Order matters: temps and stems go FIRST, the
            # marker LAST — a crash mid-overwrite then leaves the
            # loud-read guard standing over whatever mixed shards
            # survived, instead of making them silently readable
            for f in fs.listdir(self._path):
                if f.startswith(".") and "-u" in f and f.endswith(".tmp"):
                    try:
                        fs.remove(fs_join(self._path, f))
                    except OSError:
                        pass
            stems = {
                f.split(".")[0]
                for f in fs.listdir(self._path)
                if f.endswith(".csv")
                or f.endswith(".parquet")
                or f.endswith(f".{self._archive_ext}")
                or ("." not in f and not f.startswith((".", "_")))
            }
            _delete_stems(self._path, stems, self._archive_ext)
            try:
                fs.remove(fs_join(self._path, _UPDATE_MARKER))
            except OSError:
                pass
            # the old generation's schema file goes WITH its shards —
            # a crash mid-overwrite must not leave it describing the
            # surviving mix (force-republished below on success)
            try:
                fs.remove(fs_join(self._path, _SCHEMA_FILE))
            except OSError:
                pass
            start = 0
        elif self._start_index is not None:
            start = self._start_index
        else:
            start = _next_shard_index_for(self._path)
        # a schema-changing append drops the published file BEFORE the
        # renames: a crash mid-loop then leaves readers on the honest
        # inference fallback, never a schema that misdescribes the
        # new shards (the dataset is then mixed-schema and the file
        # stays dropped on success — see _publish_after_write). A
        # ZERO-shard append changes nothing on disk: no predrop (it
        # would delete a still-truthful file).
        if not self._overwrite and manifest:
            _predrop_schema_if_changed(self._path, self._meta_schema)
        for i, (_pid, _seq, tmp_csv, tmp_tar, _rows) in enumerate(manifest):
            idx = start + i
            # archive FIRST: _list_shards pairs csv->archive, so a
            # crash between the two leaves an unreferenced archive
            # (invisible), never a csv whose archive mate is missing
            if tmp_tar is not None:
                fs.replace(
                    tmp_tar,
                    _archive_path(
                        self._path, str(idx), self._archive_ext,
                        self._layout,
                    ),
                )
            fs.replace(
                tmp_csv, fs_join(self._path, f"{idx}.{self._meta_fmt}")
            )
        # publish/refresh the metadata schema LAST: a crash before
        # this point just leaves (or keeps) the dataset on the honest
        # inference fallback. Authority rule in _publish_after_write:
        # an overwrite replaced every shard; an append into a
        # shardless dir created them all — but ONLY when start == 0
        # was COMPUTED from the dir (an explicit start_index=0 option
        # can land on a populated dataset and speaks for nothing
        # beyond its own shards).
        _publish_after_write(
            self._path,
            self._meta_schema,
            self._meta_fmt,
            authoritative=self._overwrite
            or (
                bool(manifest)
                and start == 0
                and self._start_index is None
            ),
        )
        # speculative losers' temps never reach a manifest — sweep them
        self._sweep_temps()
        self._release_lease()

    def abort(self, messages) -> None:
        self._sweep_temps()
        self._release_lease()


_COMMITS_DIR = "_shards_commits"


class ShardsStreamWriter(ShardsWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("dpf_shards")`` — a continuous shard
    sink: each micro-batch lands as new numbered csv(+tar) pairs via
    the same attempt-unique temps as the batch writer, made EXACTLY-
    ONCE across failure-restarts by a per-batch write-ahead marker:

    - markers live under ``_shards_commits/{checkpoint-ns}/{batchId}``
      where the namespace is derived from the query's
      ``checkpointLocation`` — two different queries (or one restarted
      with a fresh checkpoint, whose batchIds restart at 0) can write
      the same sink dir IN TURN without one query's markers silently
      swallowing the other's batches. Sharing is sequential-only: every
      commit sweeps ALL ``.tmp`` files in the dir (the janitor for
      crashed prior attempts, whose job tokens differ), so a
      CONCURRENT query's in-flight temps would be swept. Since r15
      this is ENFORCED, not assumed: each commit holds the
      ``_writer.lock`` lease for its critical section (see
      :func:`acquire_writer_lease`), so an overlapping batch writer /
      compaction / second query fails loudly with the holder named
      instead of dying on a confusing rename error. A restarted query
      re-acquires its own lease via its checkpoint namespace;
    - ``commit()`` first persists the FULL tmp→final rename plan in
      the marker (``state=renaming``, one atomic file replace), then
      executes the renames, then flips the marker to ``done``. A
      replayed batchId therefore either (a) finds ``done`` and sweeps
      its duplicate temps, or (b) finds ``renaming`` and COMPLETES the
      recorded plan — the crashed attempt's surviving temps are
      renamed to their planned names, never re-planned — so a driver
      crash at ANY point (before the marker, mid-renames, before the
      flip) replays to exactly one copy of the batch;
    - temps from a crashed attempt that never reached a marker are
      garbage (their batch will be fully re-written) and every commit
      sweeps ALL ``.tmp`` files — single writer per dataset dir, the
      same janitor assumption as compact_shards.

    Append-only (a shard dataset has no notion of replacing history
    from a stream); numbering continues after existing shards, so a
    sink dir is also a valid cold-start dataset."""

    def __init__(
        self, schema: StructType, options: dict, overwrite: bool
    ) -> None:
        import hashlib

        if overwrite:
            raise ValueError(
                "dpf_shards stream sink is append-only "
                "(use outputMode('append'))"
            )
        super().__init__(schema, options, overwrite=False)
        ckpt = options.get("checkpointlocation") or options.get(
            "checkpointLocation"
        )
        ns = (
            hashlib.md5(ckpt.encode()).hexdigest()[:12]
            if ckpt
            else "default"
        )
        self._commits = fs_join(self._path, _COMMITS_DIR, ns)
        get_fs(self._path).makedirs(self._commits)

    def _marker(self, batch_id: int) -> str:
        return fs_join(self._commits, str(batch_id))

    def _sweep_all_temps(self) -> None:
        fs = get_fs(self._path)
        for f in fs.listdir(self._path):
            if "-u" in f:
                # a crashed metadata update's temps are the INPUTS of
                # its heal-forward plan — sweeping them here would make
                # heal_metadata_update 'succeed' onto a permanently
                # half-updated dataset (batch-writer temps never
                # contain '-u': their segments are -p/-a/-s)
                continue
            if f.startswith(".") and f.endswith(".tmp"):
                try:
                    if f.endswith(".dir.tmp"):
                        fs.rmtree(fs_join(self._path, f))
                    else:
                        fs.remove(fs_join(self._path, f))
                except OSError:
                    pass

    def _write_marker(self, marker_path: str, payload: dict) -> None:
        import json

        # single-object atomic publish (posix: tmp+rename; object
        # store: one PUT) — the write-ahead property needs nothing more
        get_fs(self._path).put_atomic(
            marker_path, json.dumps(payload).encode()
        )

    _lease_at_init = False  # leases per-COMMIT instead (class doc)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        # per-micro-batch lease: held only for the commit critical
        # section (janitor sweep + renames), so sequential queries can
        # share the dir between batches — but a batch writer or
        # compaction overlapping THIS commit fails loudly by name on
        # one side instead of having temps swept under it
        lease = (
            acquire_writer_lease(
                self._path,
                f"stream-sink:batch={batchId}",
                takeover=self._lease_takeover,
                # checkpoint namespace = the query's logical identity:
                # a restarted query (or this one's next attempt after
                # a crashed commit) re-acquires its own lease silently
                self_id=self._commits,
            )
            if self._lease_enabled
            else None
        )
        try:
            self._commit_locked(messages, batchId)
        finally:
            if lease is not None:
                release_writer_lease(self._path, lease)

    def _commit_locked(self, messages, batchId: int) -> None:  # noqa: N803
        import json

        fs = get_fs(self._path)
        # BEFORE the replay branch too: a replayed crashed batch must
        # not land renames (or run the janitor) around an outstanding
        # update plan any more than a fresh batch may — the operator
        # heals first, then the restarted query's replay completes
        _refuse_unhealed_update(fs, self._path, "stream sink commit")
        marker = self._marker(batchId)
        if fs.exists(marker):
            state = json.loads(fs.read_bytes(marker))
            if state.get("state") == "renaming":
                # crashed mid-commit: complete the recorded plan —
                # the crashed attempt's surviving temps take their
                # planned names; already-renamed entries no-op
                for tmp, final in state["map"].items():
                    if fs.exists(tmp):
                        fs.replace(tmp, final)
                # an AUTHORITATIVE crashed batch (recorded at marker
                # write: it created every shard of a fresh dir) can
                # republish the schema it recorded — without this, a
                # batch-0 crash would disable the published-schema
                # optimization for the sink's whole life (its predrop
                # ran pre-crash, and no later batch is ever
                # authoritative again). Guarded: publish only when the
                # plan's targets verifiably carry the recorded columns
                # — a successor query may have swept this attempt's
                # temps and placed its OWN files on these numbers.
                # ...and no-clobber: a successor query may have
                # written same-NAMED columns with different TYPES and
                # published its own truthful file — the name-level
                # target guard can't see types, so an existing file
                # always wins over a replayed one.
                if (
                    state.get("authoritative")
                    and "schema" in state
                    and read_published_schema(self._path) is None
                ):
                    rec = StructType.fromJson(state["schema"])
                    if _plan_targets_match(
                        fs,
                        state["map"],
                        [f.name for f in rec.fields],
                        self._meta_fmt,
                    ):
                        _publish_after_write(
                            self._path,
                            rec,
                            self._meta_fmt,
                            authoritative=True,
                        )
                self._write_marker(marker, {"state": "done"})
            self._sweep_all_temps()  # this replay's temps are duplicates
            return
        manifest = sorted(
            entry
            for m in messages
            if m is not None
            for entry in m.shards
        )
        start = _next_shard_index_for(self._path)
        mapping: dict[str, str] = {}
        for i, (_pid, _seq, tmp_csv, tmp_tar, _rows) in enumerate(manifest):
            idx = start + i
            if tmp_tar is not None:
                mapping[tmp_tar] = _archive_path(
                    self._path, str(idx), self._archive_ext, self._layout
                )
            mapping[tmp_csv] = fs_join(
                self._path, f"{idx}.{self._meta_fmt}"
            )
        # schema-changing micro-batch: drop the published file BEFORE
        # the marker PUT — the replay path above completes renames
        # without re-running this predrop, so a crash between marker
        # and predrop would heal into shards a stale _schema.json
        # misdescribes. Predrop-first means every crash point leaves
        # either the old truthful file (nothing renamed yet, marker
        # absent -> batch retries from scratch) or no file (honest
        # inference fallback). An EMPTY batch touches nothing.
        if mapping:
            _predrop_schema_if_changed(self._path, self._meta_schema)
        # authority recorded IN the write-ahead marker so a crash-
        # replay can finish the publish too: this batch created every
        # shard of a previously shardless dir. The schema rides along
        # because the replaying query attempt may have evolved its
        # own schema since the crashed one planned these files.
        authoritative = bool(mapping) and start == 0
        plan: dict = {"state": "renaming", "map": mapping}
        if authoritative:
            plan["authoritative"] = True
            plan["schema"] = _normalized_schema(
                self._meta_schema
            ).jsonValue()
        self._write_marker(marker, plan)
        for tmp, final in mapping.items():
            fs.replace(tmp, final)
        # publish BEFORE flipping the marker to done: the done-flip
        # discards the plan's authority/schema fields, so a crash
        # between flip and publish would lose the batch-0 publish
        # with nothing left to replay it (the replay branch above
        # publishes in this same renames->publish->done order).
        # Publish-authority rule centralized in _publish_after_write:
        # non-authoritative batches have nothing to do (equal file
        # kept by predrop, differing file dropped, ambiguous absence
        # left alone)
        _publish_after_write(
            self._path,
            self._meta_schema,
            self._meta_fmt,
            authoritative=authoritative,
        )
        self._write_marker(marker, {"state": "done"})
        self._sweep_all_temps()

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._sweep_temps()


def _delete_stems(path: str, stems, archive_ext: str) -> None:
    fs = get_fs(path)
    for stem in stems:
        for ext in ("csv", "parquet", archive_ext):
            try:
                fs.remove(fs_join(path, f"{stem}.{ext}"))
            except FileNotFoundError:
                pass
        # dir-layout archive mate: the loose-file folder N/
        loose = fs_join(path, str(stem))
        if fs.isdir(loose):
            fs.rmtree(loose)


def heal_metadata_update(path: str) -> bool:
    """Complete an interrupted :func:`update_shard_metadata_native`.

    The marker records the FULL temp→final rename plan before any
    rename runs (write-ahead, same shape as the streaming sink's
    per-batch markers), so healing always rolls FORWARD: surviving
    temps take their planned names (they carry the new metadata),
    already-renamed entries no-op, and the marker is removed. Returns
    True when there was a plan to complete. Temps from an attempt
    that crashed before its marker are invisible garbage (dot-
    prefixed) and are swept here too — single active updater per
    dataset dir, the usual janitor assumption.

    Healing is DESTRUCTIVE against a live updater (it sweeps its
    temps and replays its rename plan): call directly only when no
    writer is live — the caller asserts the holder is dead, the same
    contract as ``lease_takeover``. ``update_shard_metadata_native``
    and ``compact_shards`` call it under their OWN lease; the batch
    and stream writers instead REFUSE to append while the marker is
    outstanding (``_refuse_unhealed_update`` — the refusal error
    names this function as the remedy), and a batch OVERWRITE
    discards the stale marker wholesale with the dataset it
    replaces."""
    path = strip_file_scheme(path)
    import json

    fs = get_fs(path)
    marker = fs_join(path, _UPDATE_MARKER)
    had_plan = False
    if fs.exists(marker):
        plan = json.loads(fs.read_bytes(marker))
        for tmp, final in plan["map"].items():
            if fs.exists(tmp):
                fs.replace(tmp, final)
        # a full-rewrite plan records its authority + merged schema:
        # finish the publish the crashed updater didn't reach.
        # Guarded three ways, and NEVER a poison pill (the publish is
        # an optimization — any failure degrades to skip-and-remove-
        # the-marker, the inference-fallback philosophy):
        # - no-clobber: a later writer's published file always wins
        #   (publish only into absence);
        # - completeness + target sweep: the publish is skipped when
        #   any shard table exists OUTSIDE the plan (an append landed
        #   in the crash window — repo writers now refuse, but a
        #   pre-upgrade writer may not have) or when any plan target
        #   doesn't verifiably carry the recorded columns (same guard
        #   as the stream replay); O(#shards) driver reads, on an
        #   explicit rare heal;
        # - a malformed recorded schema is skipped, not raised.
        if plan.get("authoritative") and "schema" in plan:
            try:
                rec = StructType.fromJson(plan["schema"])
                fmt = plan.get("meta_format", "csv")
                plan_stems = {
                    f.rsplit("/", 1)[-1][: -(len(fmt) + 1)]
                    for f in plan["map"].values()
                    if f.endswith(f".{fmt}")
                }
                disk_stems = {
                    n[: -(len(fmt) + 1)]
                    for n in fs.listdir(path)
                    if n.endswith(f".{fmt}")
                    and n[: -(len(fmt) + 1)].isdigit()
                }
                if (
                    read_published_schema(path) is None
                    and disk_stems <= plan_stems
                    and _plan_targets_match(
                        fs,
                        plan["map"],
                        [f.name for f in rec.fields],
                        fmt,
                    )
                ):
                    _publish_after_write(
                        path, rec, fmt, authoritative=True
                    )
            except Exception:  # noqa: BLE001 — see docstring above
                pass
        fs.remove(marker)
        had_plan = True
        # the crashed holder's _writer.lock is deliberately NOT
        # cleared (callers heal while holding their OWN lease —
        # lease-first ordering); a blocked retry passes
        # lease_takeover=True
    for f in fs.listdir(path):
        if (
            f.startswith(".")
            and "-u" in f
            and (f.endswith(".csv.tmp") or f.endswith(".parquet.tmp"))
        ):
            try:
                fs.remove(fs_join(path, f))
            except OSError:
                pass
    return had_plan


def update_shard_metadata_native(
    spark,
    shard_dir: str,
    new_df,
    key_col: str,
    layout: str = "tar",
    archive_ext: str = "tar",
    meta_format: str = "csv",
    content_col: str = "content",
    broadcast_threshold_rows: int = 1_000_000,
    lease_takeover: bool = False,
):
    """W4 write-back through the commit protocol (r14): merge
    new/changed metadata columns into the per-shard CSVs, archives
    untouched (`processors/sharded_processor.py:58-82` semantics;
    ``writers.update_shard_metadata`` is the reference's name for it).
    Runs on posix and object-store paths alike (all I/O via the
    shard_fs seam).

    Same integrity prepass (validate-all-then-modify,
    `helpers/dataframe_helper.py:139-146`): keys unique on both
    sides, update keys ⊆ existing keys — checked before ANY write.
    Then:

    1. each shard group rewrites its csv to an attempt-unique
       dot-prefixed TEMP (arrow csv emit, the native dialect) —
       invisible to readers, so a failed job changes nothing;
    2. the driver publishes a write-ahead ``_metadata_update.json``
       rename plan (single-object atomic PUT), executes the renames
       (per-csv atomic on posix; copy+delete on object stores, where
       each csv still lands whole), and removes the marker;
    3. a crash mid-commit heals FORWARD via
       :func:`heal_metadata_update` (called here first, like
       compaction's healer): the surviving temps carry the new
       metadata and take their planned names.

    Returns a ``(split_name, rows)`` summary DataFrame.
    """
    register_shards_source(spark)
    path = strip_file_scheme(shard_dir)
    # lease FIRST, heal under it (same ordering rationale as
    # compact_shards: the healer sweeps '-u' temps and replays rename
    # plans — run against a LIVE updater it destroys in-flight state)
    lease = acquire_writer_lease(
        path, "update_shard_metadata_native", takeover=lease_takeover
    )
    # full-dataset rewrites run long; keep the lease young throughout
    _start_lease_heartbeat(path, lease, 60.0)
    try:
        return _update_shard_metadata_native_locked(
            spark,
            path,
            new_df,
            key_col,
            layout,
            archive_ext,
            meta_format,
            content_col,
            broadcast_threshold_rows,
            lease,
        )
    finally:
        _stop_lease_heartbeat(lease)
        release_writer_lease(path, lease)


def _update_shard_metadata_native_locked(
    spark,
    path: str,
    new_df,
    key_col: str,
    layout: str,
    archive_ext: str,
    meta_format: str,
    content_col: str,
    broadcast_threshold_rows: int,
    lease: str | None = None,
):
    import json
    import uuid

    from pyspark.sql import functions as F  # noqa: F811 — local import

    heal_metadata_update(path)
    fs = get_fs(path)
    if SPLIT_COLUMN in new_df.columns:
        # a new_df derived from reading the dataset naturally carries
        # split_name; treating it as an update column would relocate
        # rows across shard tables (orphan tables without archive
        # mates, stale duplicates left behind) — rows never move in a
        # METADATA update. Checked FIRST: it needs only the plan's
        # columns, no jobs
        raise ValueError(
            f"new_df must not carry {SPLIT_COLUMN!r} (rows cannot"
            " change shards in a metadata update — drop the column)"
        )
    upd_cols = [c for c in new_df.columns if c != key_col]
    _, _archives = _list_shards(
        path, archive_ext, layout, meta_ext=meta_format
    )
    if _archives:
        # mirror the writer's plan-time validation: on an archive-
        # backed dataset, an update column named after the reader's
        # DERIVED columns would write a csv column that collides with
        # them — subsequent content-mode reads emit duplicate/ambiguous
        # fields. Metadata-only datasets are exempt (there a 'content'
        # csv column legitimately round-trips under content='false')
        colliding = sorted(set(upd_cols) & {content_col, *_META_COLS})
        if colliding:
            raise ValueError(
                f"update columns {colliding} collide with the reader's"
                " derived columns on this archive-backed dataset"
                f" ({content_col!r} and {list(_META_COLS)}) — rename"
                " them, or rewrite via write_shards"
            )
    current = (
        spark.read.format("dpf_shards")
        .option("path", path)
        .option("content", "false")
        .option("layout", layout)
        .option("archive_ext", archive_ext)
        .option("meta_format", meta_format)
        .load()
    )
    # the prechecks, the touched-shards derivation, and the merge all
    # re-consume current — cache the one shard-table parse
    current = current.cache()
    n_cur = current.count()
    if n_cur != current.select(key_col).distinct().count():
        raise ValueError(
            f"existing metadata has duplicate keys on {key_col}"
        )
    n_upd = new_df.count()
    if n_upd != new_df.select(key_col).distinct().count():
        raise ValueError(f"update frame has duplicate keys on {key_col}")
    unmatched = new_df.join(current, on=key_col, how="left_anti").count()
    if unmatched:
        raise ValueError(f"{unmatched} update keys not present in dataset")

    # PARTIAL-update semantics: rows not in new_df keep their current
    # values (overlap columns coalesce update-over-current — dropping
    # them outright would persist NULLs into every untouched row);
    # genuinely NEW columns are NULL for non-updated rows by
    # construction. Consequence: an update cannot set an overlap cell
    # to NULL — write a sentinel and post-process, or rewrite via
    # write_shards.
    # broadcast the update side only while it is plausibly executor-
    # memory-sized: new_df can be dataset-sized (update every row),
    # and an unconditional hint there hits Spark's 8 GB broadcast hard
    # limit / driver OOM at scale. Above the threshold, leave the join
    # unhinted — AQE picks the strategy from runtime sizes
    _bcast = (
        F.broadcast
        if n_upd <= broadcast_threshold_rows
        else (lambda df: df)
    )
    aliased = new_df.select(
        key_col,
        *[F.col(c).alias(f"__upd_{c}") for c in upd_cols],
    )
    merged = current.join(_bcast(aliased), on=key_col, how="left")
    for c in upd_cols:
        merged = merged.withColumn(
            c,
            F.coalesce(F.col(f"__upd_{c}"), F.col(c))
            if c in current.columns
            else F.col(f"__upd_{c}"),
        )
    merged = merged.drop(*[f"__upd_{c}" for c in upd_cols])
    # a full rewrite is forced by a NEW column, and also by an update
    # that CHANGES an overlap column's type (coalesce widens, e.g.
    # int-over-long): touched-only would leave touched shards on the
    # new type and untouched shards on the old — a mixed-schema
    # dataset no single schema (published or inferred) describes
    full_rewrite = not all(
        c in current.columns
        and merged.schema[c].dataType == current.schema[c].dataType
        for c in upd_cols
    )
    if not full_rewrite:
        # no NEW columns -> untouched shards' rewrites would be
        # byte-identity no-ops: restrict the rewrite to the shards
        # that actually contain updated keys (O(touched), not
        # O(dataset)). A new column forces the full rewrite so every
        # shard table keeps a uniform schema.
        touched = (
            current.join(_bcast(new_df.select(key_col)), on=key_col)
            .select(SPLIT_COLUMN)
            .distinct()
        )
        # touched itself is #shards-bounded — always broadcastable
        merged = merged.join(F.broadcast(touched), on=SPLIT_COLUMN)
    meta_cols = [c for c in merged.columns if c != SPLIT_COLUMN]
    token = uuid.uuid4().hex[:12]

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_meta = to_arrow_schema(
        StructType([f for f in merged.schema.fields if f.name in meta_cols])
    )

    def rewrite(key, pdf):
        import pandas as pd
        import pyarrow as pa
        from pyspark import TaskContext

        split = key[0]
        # attempt-unique temp (taskAttemptId): speculative/retried
        # attempts of the same split never share a temp file — the
        # winning attempt's name travels back in the summary row
        attempt = TaskContext.get().taskAttemptId()
        tmp = fs_join(
            path, f".{token}-u{split}-a{attempt}.{meta_format}.tmp"
        )
        # pin the arrow schema from the merged plan: pandas widens
        # int-with-null to float64, and an unpinned from_pandas would
        # persist the column as doubles across every shard
        tbl = pa.Table.from_pandas(
            pdf[meta_cols], schema=arrow_meta, preserve_index=False
        )
        write_table(tmp, tbl, meta_format)
        return pd.DataFrame(
            {"split_name": [split], "tmp": [tmp], "rows": [len(pdf)]}
        )

    summary = merged.groupBy(SPLIT_COLUMN).applyInPandas(
        rewrite, "split_name string, tmp string, rows long"
    )
    summary = summary.cache()
    mapping = {
        r.tmp: fs_join(path, f"{r.split_name}.{meta_format}")
        for r in summary.select(SPLIT_COLUMN, "tmp").collect()
    }
    # the rewrite job (materialized by the collect above) was the
    # last consumer of the cached shard-table parse
    current.unpersist()
    # last check before the first visible mutation: the rewrite job
    # above can run long, and a raced takeover must fail loudly HERE,
    # not interleave rename plans (see _verify_lease_held)
    if lease is not None:
        _verify_lease_held(path, lease, "update_shard_metadata_native")
    # a schema-changing rewrite drops the published file BEFORE the
    # write-ahead marker PUT: heal_metadata_update replays the rename
    # plan without re-running this predrop, so a crash between marker
    # and predrop would heal rewritten shards under a stale
    # _schema.json. Predrop-first leaves every crash point on either
    # the old truthful file (no marker yet — nothing renamed, heal
    # finds nothing) or the honest inference fallback.
    merged_meta = StructType([merged.schema[c] for c in meta_cols])
    plan: dict = {"state": "renaming", "map": mapping}
    if full_rewrite:
        _predrop_schema_if_changed(path, merged_meta)
        # a full rewrite is authoritative (every shard gets the merged
        # schema); record that IN the write-ahead marker so a crash
        # anywhere after the renames still publishes — heal replays
        # the plan and finishes this too
        plan["authoritative"] = True
        plan["schema"] = _normalized_schema(merged_meta).jsonValue()
        plan["meta_format"] = meta_format
    fs.put_atomic(
        fs_join(path, _UPDATE_MARKER), json.dumps(plan).encode()
    )
    for tmp, final in mapping.items():
        fs.replace(tmp, final)
    # keep the published schema truthful — authority rule centralized
    # in _publish_after_write: a full rewrite left every shard on the
    # merged schema (publish unconditionally); a touched-only update
    # cannot change the schema mix by construction (its `current`
    # read pinned the published file when one existed, so merged is
    # key-equal to it), leaving nothing to do. Published BEFORE the
    # marker removal: a crash in between re-publishes via heal
    # (idempotent PUT), while the reverse order would lose the
    # publish with nothing left to replay it.
    _publish_after_write(
        path, merged_meta, meta_format, authoritative=full_rewrite
    )
    fs.remove(fs_join(path, _UPDATE_MARKER))
    # speculative losers' attempt-unique temps never reach the
    # summary
    for f in fs.listdir(path):
        if f.startswith(f".{token}-u") and f.endswith(".tmp"):
            try:
                fs.remove(fs_join(path, f))
            except OSError:
                pass
    return summary.select(SPLIT_COLUMN, "rows")


def heal_compaction(path: str, archive_ext: str = "tar") -> str | None:
    """Complete or roll back an interrupted compact_shards run.

    Returns the healed state ('done' → completed the garbage
    collection, 'compacting' → rolled back the orphaned new shards)
    or None when there was nothing to heal. Readers never needed it
    (the manifest's state field already gives them a consistent
    view). Healing is DESTRUCTIVE against a live compaction (it
    deletes the pending shards a state=compacting manifest names):
    call directly only when no writer is live — the caller asserts
    the holder is dead, the same contract as ``lease_takeover``.
    ``compact_shards`` calls it under its own lease."""
    manifest = _read_compaction_manifest(path)
    if manifest is None:
        return None
    state = manifest.get("state")
    if state == "done":
        # flip committed: retired shards are already invisible to
        # readers; finish deleting their files and clear the manifest
        _delete_stems(path, manifest.get("retired", []), archive_ext)
    else:
        # flip never happened: the retired shards are still live, so
        # any already-written new shards are DUPLICATES — delete them,
        # restoring the exact pre-compaction dataset
        _delete_stems(path, manifest.get("pending", []), archive_ext)
    get_fs(path).remove(fs_join(path, _COMPACTION_MANIFEST))
    # NOTE: the crashed holder's _writer.lock is deliberately NOT
    # cleared here — compact_shards calls this healer while holding
    # its OWN lease (lease-first ordering), so deleting the lock would
    # unlock the dir mid-compaction. A retry blocked by a crashed
    # predecessor's lease passes lease_takeover=True.
    return state


def compact_shards(
    spark,
    path: str,
    max_files_in_shard: int = 1000,
    min_rows: int | None = None,
    archive_ext: str = "tar",
    layout: str = "tar",
    meta_format: str = "csv",
    lease_takeover: bool = False,
) -> dict:
    """Merge undersized shard pairs into right-sized ones — the
    janitor for the streaming sink's long tail (every micro-batch
    appends its own shards, so a low-rate stream accumulates many
    tiny csv+tar pairs: the classic small-files problem).

    Two-phase, crash-healable, single-writer:

    1. *Intent*: a ``_compaction.json`` manifest with
       ``state=compacting`` records the shards to retire and the
       exact new shard numbers about to be written. Readers ignore a
       compacting manifest — the dataset is unchanged.
    2. The retired shards' rows are re-read through the DSv2 source
       (``split_name IN`` pushdown prunes every right-sized shard
       from the scan) and appended as ``ceil(rows/max)`` new pairs by
       the commit-protocol writer.
    3. *Commit*: the manifest atomically flips to ``state=done`` —
       from this single rename on, readers exclude the retired stems
       (``_list_shards``) even though their files still exist.
    4. Garbage collection: retired files deleted, manifest removed.

    A crash in 1-2 heals by deleting the orphaned new shards (the
    flip never happened, so the old shards were always live — no
    loss, no duplicates); a crash in 3-4 heals by finishing the
    deletes. The only reader-visible anomaly is duplicates in the
    instants between the writer's commit and the flip — milliseconds,
    and healed by the next ``heal_compaction``/``compact_shards``.
    Concurrent writers are not supported during a compaction (the
    usual single-janitor assumption).

    Returns ``{"retired": [...], "new": [...], "rows": n}``.
    """
    register_shards_source(spark)
    path = strip_file_scheme(path)
    # lease FIRST, heal under it: healing is destructive (it deletes a
    # compacting manifest's pending shards and sweeps update temps),
    # so running it before the lease check would let a second
    # compaction dismantle a LIVE one's state — the exact overlap the
    # lease exists to refuse. A crashed predecessor's lease blocks
    # here; pass lease_takeover=True to heal past it.
    lease = acquire_writer_lease(
        path, "compact_shards", takeover=lease_takeover
    )
    # compactions of big datasets run long; keep the lease young
    _start_lease_heartbeat(path, lease, 60.0)
    try:
        heal_metadata_update(path)
        heal_compaction(path, archive_ext)
        return _compact_shards_locked(
            spark, path, max_files_in_shard, min_rows,
            archive_ext, layout, meta_format, lease,
        )
    finally:
        _stop_lease_heartbeat(lease)
        release_writer_lease(path, lease)


def _compact_shards_locked(
    spark,
    path: str,
    max_files_in_shard: int,
    min_rows: int | None,
    archive_ext: str,
    layout: str,
    meta_format: str,
    lease: str | None = None,
) -> dict:
    import math

    from pyspark.sql import functions as F

    if min_rows is None:
        min_rows = max_files_in_shard // 2
    csvs, tars = _list_shards(
        path, archive_ext, layout, meta_ext=meta_format
    )
    meta = (
        spark.read.format("dpf_shards")
        .option("path", path)
        .option("content", "false")
        .option("archive_ext", archive_ext)
        .option("layout", layout)
        .option("meta_format", meta_format)
        .load()
    )
    census = {
        r["split_name"]: r["n"]
        for r in meta.groupBy(SPLIT_COLUMN)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    smalls = sorted(s for s, n in census.items() if n < min_rows)
    if len(smalls) < 2:
        return {"retired": [], "new": [], "rows": 0}
    total = sum(census[s] for s in smalls)
    n_new = max(1, math.ceil(total / max_files_in_shard))
    start = _next_shard_index_for(path)
    pending = [str(start + i) for i in range(n_new)]
    # last check before the first mutation: the census above can run
    # long on a big dataset, and a raced takeover must fail loudly
    # HERE, not interleave manifests (see _verify_lease_held)
    if lease is not None:
        _verify_lease_held(path, lease, "compact_shards")
    _write_compaction_manifest(
        path,
        {"state": "compacting", "retired": smalls, "pending": pending},
    )
    with_content = bool(tars)
    src = (
        spark.read.format("dpf_shards")
        .option("path", path)
        .option("content", "true" if with_content else "false")
        .option("archive_ext", archive_ext)
        .option("layout", layout)
        .option("meta_format", meta_format)
        .load()
        .where(F.col(SPLIT_COLUMN).isin(smalls))
    )
    # one shard pair per partition (no in-task rolling) starting at the
    # reserved index, so the new shard numbers are exactly the
    # manifest's pending list (start_index because the manifest itself
    # now blocks _next_shard_index_for from handing these numbers to
    # anyone — including us)
    (
        src.repartition(n_new)
        .write.format("dpf_shards")
        .option("archive_ext", archive_ext)
        .option("layout", layout)
        .option("meta_format", meta_format)
        .option("start_index", str(start))
        # the compaction itself holds the writer lease — its internal
        # rewrite must not contend for it
        .option("lease", "false")
        .mode("append")
        .save(path)
    )
    _write_compaction_manifest(path, {"state": "done", "retired": smalls})
    _delete_stems(path, smalls, archive_ext)
    get_fs(path).remove(fs_join(path, _COMPACTION_MANIFEST))
    return {"retired": smalls, "new": pending, "rows": total}


def shard_stats(
    spark,
    path: str,
    layout: str = "tar",
    archive_ext: str = "tar",
    meta_format: str = "csv",
):
    """Per-shard census — the ops instrument behind compaction sizing
    and capacity planning: one row per shard with ``rows`` (one
    column-pruned DSv2 scan, distributed), ``table_bytes`` and
    ``archive_bytes`` (driver-side listing, O(#shards) stat calls —
    metadata-scale, like the planner itself; dir-layout archives sum
    their loose members).

    Read it before choosing ``compact_shards(min_rows=...)`` or a
    stream's ``max_files_in_shard``; ``compact_shards`` keeps its own
    internal row census (rows alone decide retirement)."""
    from pyspark.sql import functions as F

    register_shards_source(spark)
    path = strip_file_scheme(path)
    fs = get_fs(path)
    stems, archives = _list_shards(
        path, archive_ext, layout, meta_ext=meta_format
    )
    if not stems:
        # a valid-but-empty dataset (e.g. a sink dir before its first
        # batch) gets a zero-row census, not the reader's no-tables
        # error — the docstring sends operators here precisely when a
        # dataset may be empty
        return spark.createDataFrame(
            [],
            schema=(
                "split_name string, rows long, table_bytes long,"
                " archive_bytes long"
            ),
        )
    byte_rows = []
    for stem in stems:
        table_bytes = fs.size(fs_join(path, f"{stem}.{meta_format}"))
        archive_bytes = 0
        if stem in archives:
            apath = _archive_path(path, stem, archive_ext, layout)
            if layout == "dir":
                archive_bytes = sum(
                    fs.size(fs_join(apath, m)) for m in fs.listdir(apath)
                )
            else:
                archive_bytes = fs.size(apath)
        byte_rows.append((stem, int(table_bytes), int(archive_bytes)))
    bytes_df = spark.createDataFrame(
        byte_rows,
        schema="split_name string, table_bytes long, archive_bytes long",
    )
    rows = (
        spark.read.format("dpf_shards")
        .option("path", path)
        .option("content", "false")
        .option("layout", layout)
        .option("archive_ext", archive_ext)
        .option("meta_format", meta_format)
        .load()
        .groupBy(SPLIT_COLUMN)
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    return rows.join(bytes_df, on=SPLIT_COLUMN, how="right").select(
        SPLIT_COLUMN,
        F.coalesce("rows", F.lit(0)).alias("rows"),
        "table_bytes",
        "archive_bytes",
    )


def _next_shard_index_for(out_dir: str) -> int:
    """max(existing numeric shard stem) + 1 — append numbering, the
    W1 resume support (`processors/writers/shards_writer.py:92-119`).
    The reference re-opens the LAST shard and fills it in place before
    starting new ones; in a distributed writer that would mean
    concurrent mutation of a live shard, so appends diverge
    deliberately: existing shards are immutable and new shards number
    from max(existing)+1, at the cost of at most one under-full shard
    per append batch.

    A live ``_compaction.json`` also RESERVES numbers that may not be
    on disk yet: a crashed mid-rewrite compaction leaves ``pending``
    stems the healer will later ``_delete_stems`` — an append that
    reused them (e.g. a stream micro-batch landing between the crash
    and the heal) would be silently deleted by that rollback, its
    'done' marker preventing any replay. Folding the manifest's
    pending/retired numbers into the max makes appends land past the
    reservation regardless of heal ordering."""
    mx = -1
    fs = get_fs(out_dir)
    if fs.isdir(out_dir):
        for f in fs.listdir(out_dir):
            stem = f.split(".")[0]
            if stem.isdigit():
                mx = max(mx, int(stem))
    manifest = _read_compaction_manifest(out_dir)
    if manifest is not None:
        for stem in (
            *manifest.get("pending", []),
            *manifest.get("retired", []),
        ):
            if str(stem).isdigit():
                mx = max(mx, int(stem))
    return mx + 1


def _ensure_active_session(spark) -> None:
    """Pin ``spark`` as THIS JVM thread's active session. Python
    threads ride fresh py4j threads whose active-session thread-local
    is unset, and ``DataSource.lookupDataSource`` resolves Python
    sources via the active session — without this, a threaded
    lifecycle op raises DATA_SOURCE_NOT_FOUND for a source that is
    registered. Best-effort across session implementations (classic
    vs connect spell the companion object differently)."""
    from functools import reduce

    for cls in (
        "org.apache.spark.sql.classic.SparkSession",
        "org.apache.spark.sql.SparkSession",
    ):
        try:
            reduce(getattr, cls.split("."), spark._jvm).setActiveSession(
                spark._jsparkSession
            )
            return
        except Exception:  # noqa: BLE001 — try the next spelling
            continue


def register_shards_source(spark) -> None:
    """Idempotently register ``dpf_shards`` on the session.

    The DataSource class is shipped to Python workers by cloudpickle;
    by default classes pickle BY REFERENCE (module + name), which
    requires this package on every worker's import path. Registering
    the module for by-value pickling makes the source self-contained —
    it works from any driver that merely has the package importable
    (e.g. a sys.path-injected harness), with no cluster-side install.

    Thread-safe for real (r16, found by the lease-contention soak):
    (a) ``spark.dataSource.register`` REPLACES the registration, so
    concurrent re-registrations open a transient
    DATA_SOURCE_NOT_FOUND window for other planners — a per-session
    sentinel under a module lock makes every later call a true
    no-op; (b) a Python thread maps to a FRESH py4j JVM thread that
    does not inherit the active-session thread-local, and Spark
    resolves Python DataSource names through the active session — so
    a lifecycle op run from a user thread (a maintenance thread
    pool, a concurrent writer about to lose the lease loudly) would
    miss the registration entirely. Every call pins the calling
    thread's active session first, which is why the lifecycle entry
    points all call this at their top."""
    import sys

    from pyspark import cloudpickle

    _ensure_active_session(spark)
    with _REGISTER_LOCK:
        if getattr(spark, "_dpf_shards_registered", False):
            return
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        cloudpickle.register_pickle_by_value(shard_fs)
        # self-enable (runtime-settable SQL conf): Spark REFUSES a
        # reader that implements pushFilters while this flag is
        # false, and the external harness brings a vanilla session —
        # same pattern as the events nanosAsLong self-enable (see
        # .claude/skills/verify)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(ShardsDataSource)
        spark._dpf_shards_registered = True
