"""Filesystem abstraction for the ``dpf_shards`` lifecycle.

The DSv2 shards source's value at 100 TB — planner-visible pruning,
commit-protocol writes, the exactly-once streaming sink, crash-healable
compaction — lives on object storage in practice (the reference's own
S3Connector, `connectors/s3_connector.py:9-81`, makes S3 shard datasets
a first-class workflow). But a Python DataSource task has no JVM
gateway, so Hadoop's FileSystem is out of reach from inside ``read()``
/ ``write()``; the I/O has to be Python-native. This module is the
~10-operation seam that lets the same lifecycle code run on:

- **posix paths** (``/data/shards``) — ``LocalShardFS``: real file
  handles, `os.replace` atomic rename. The default; zero behavior
  change for existing callers.
- **object stores** (``s3://``, ``s3a://``, ``gs://``, ``abfss://``)
  — ``FsspecShardFS``: an adapter over `fsspec` (public interface;
  s3fs/gcsfs speak it), gated behind import-try with a loud error
  when the driver lacks the package.
- **``fakeobj:///local/dir``** — ``FakeObjectStoreFS``: a test
  backend that is BACKED by a real local directory (so Spark's
  separate executor/driver Python processes all see the same state)
  but exposes object-store *semantics*: whole-object atomic PUTs and
  NO atomic rename (``replace`` is copy-then-delete). Every
  commit-protocol / marker / manifest decision that must survive an
  object store is exercised by pointing the existing lifecycle tests
  at a ``fakeobj://`` path.

Commit-protocol mapping for stores without atomic rename
--------------------------------------------------------

==================  ==========================  =========================
 step                posix                       object store
==================  ==========================  =========================
 task temp write     write ``.tmp`` file         PUT attempt-unique key
 commit "rename"     ``os.replace`` (atomic)     copy + delete (each PUT
                                                 is atomic per object;
                                                 the multi-file window
                                                 is the same one the
                                                 Hadoop v1 committer has)
 marker/manifest     write tmp + ``os.replace``  single PUT (a PUT *is*
 publish                                         the atomic publish)
==================  ==========================  =========================

The reader-visible invariants are unchanged: a shard pair either
appears fully or not at all (per-object PUT atomicity), the
compaction manifest / stream markers flip in one atomic publish, and
the heal paths only ever act on stems recorded in a manifest.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil

_SCHEME_RE = re.compile(r"^([a-z0-9+.-]+)://", re.IGNORECASE)

_FAKEOBJ_SCHEME = "fakeobj"


def path_scheme(path: str) -> str | None:
    """URL scheme of ``path``, or None for a plain local path."""
    m = _SCHEME_RE.match(path)
    return m.group(1).lower() if m else None


def join(base: str, *parts: str) -> str:
    """Scheme-preserving path join (posix separators throughout)."""
    out = base.rstrip("/")
    for p in parts:
        out = f"{out}/{p.strip('/')}"
    return out


def _content_tag(data: bytes) -> str:
    """CAS tag for backends without a native ETag/generation: a
    content hash, so compare-and-set compares what was actually
    read, never an mtime that can collide under fast successive
    writes."""
    import hashlib

    return hashlib.sha256(data).hexdigest()


@contextlib.contextmanager
def _cas_guard(backing: str):
    """Serialize compare-and-set on a local backing file with an
    exclusive ``flock`` on a bookkeeping sidecar (``_``-prefixed like
    the other dataset bookkeeping entries, so shard listings skip it;
    created once, never removed — removing it would race a concurrent
    locker onto a fresh inode and break mutual exclusion). All CAS
    mutations of the same object funnel through this guard, which is
    what makes
    ``put_cas``/``remove_cas`` ENFORCED compare-and-set on the posix
    and fakeobj backends (fakeobj's backing dir is local disk, so
    flock spans the driver and every executor Python process on the
    same host; multi-host fakeobj is not a supported topology)."""
    import fcntl

    d, b = os.path.split(backing)
    os.makedirs(d, exist_ok=True)
    fd = os.open(
        os.path.join(d, f"_{b}.caslock"), os.O_CREAT | os.O_RDWR, 0o644
    )
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _local_get_cas(backing: str) -> tuple[bytes, str] | None:
    try:
        with open(backing, "rb") as f:
            data = f.read()
    except FileNotFoundError:
        return None
    return data, _content_tag(data)


def _local_put_cas(
    backing: str, data: bytes, tag: str | None, put
) -> bool:
    with _cas_guard(backing):
        cur = _local_get_cas(backing)
        cur_tag = None if cur is None else cur[1]
        if cur_tag != tag:
            return False
        put(data)
        return True


def _local_remove_cas(backing: str, tag: str, remove) -> bool:
    with _cas_guard(backing):
        cur = _local_get_cas(backing)
        if cur is None or cur[1] != tag:
            return False
        remove()
        return True


class LocalShardFS:
    """Posix backend — real files, atomic ``os.replace``."""

    atomic_rename = True
    supports_cas = True
    supports_cas_delete = True

    def local_path(self, path: str) -> str | None:
        """The path as something ``open``/``tarfile``/``pyarrow`` can
        take directly — the zero-copy fast path. None on remote FSes."""
        return path

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def open_read(self, path: str):
        return open(path, "rb")

    def open_write(self, path: str):
        # 1 MiB buffer: tar emits many small (512 B header + member)
        # writes — batching them is the "build the roll in one buffer"
        # optimization without holding whole shards in memory
        return open(path, "wb", buffering=1 << 20)

    def replace(self, src: str, dst: str) -> None:
        # works for directories too (posix rename) — the dir-layout
        # shard publish relies on it
        os.replace(src, dst)

    def put_atomic(self, path: str, data: bytes) -> None:
        # temp is dot-prefixed (invisible to shard listings) and
        # .tmp-suffixed (crash residue is swept by the writers'
        # janitors, which match *.tmp)
        d, b = os.path.split(path)
        tmp = os.path.join(d, f".{b}.wip.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    # --- compare-and-set (writer-lease mutex; see shards_source) ---
    def get_cas(self, path: str) -> tuple[bytes, str] | None:
        """Read ``path`` with a CAS tag for :meth:`put_cas` /
        :meth:`remove_cas`. None when absent."""
        return _local_get_cas(path)

    def put_cas(self, path: str, data: bytes, tag: str | None) -> bool:
        """Atomic compare-and-set PUT: land ``data`` only if the
        current content still carries ``tag`` (None = only if the
        object is absent). Returns False when the precondition
        failed — the caller lost a race and must re-read."""
        return _local_put_cas(
            path, data, tag, lambda d: self.put_atomic(path, d)
        )

    def remove_cas(self, path: str, tag: str) -> bool:
        """Atomic compare-and-delete (posix/fakeobj only — S3-class
        stores have no conditional DELETE; callers fall back to a
        released-marker PUT there)."""
        return _local_remove_cas(path, tag, lambda: os.remove(path))


class _PutOnClose(io.BytesIO):
    """Buffer that publishes itself as one atomic PUT on a SUCCESSFUL
    close — the write handle object stores hand out (a PUT either
    lands whole or not at all; there is no partially-written object).

    Publication only happens on an explicit, non-exception close: a
    ``with`` block exiting on an exception DISCARDS the buffer, and so
    does garbage collection (``__del__``) — otherwise a task dying
    mid-serialize would publish a torn object the moment the buffer
    is finalized, violating the whole-PUT contract."""

    def __init__(self, publish) -> None:
        super().__init__()
        self._publish = publish
        self._done = False

    def discard(self) -> None:
        self._done = True
        super().close()

    def close(self) -> None:
        if not self._done:
            self._done = True
            self._publish(self.getvalue())
        super().close()

    def __exit__(self, exc_type, exc, tb):
        if exc_type is not None:
            self.discard()
            return False
        self.close()
        return False

    def __del__(self):  # GC never publishes
        self.discard()


class FakeObjectStoreFS:
    """Object-store semantics over a local backing directory.

    ``fakeobj:///abs/backing/dir/...`` maps to ``/abs/backing/dir/...``
    on disk — stateless, so driver and executor processes agree with
    no shared registry. Semantics deliberately mimic S3-class stores:

    - writes are whole-object atomic PUTs (emulated with a hidden
      temp + one backing rename — the *emulation* of PUT atomicity,
      not a capability the lifecycle may rely on for multi-file
      transitions);
    - ``replace`` is COPY + DELETE — two operations, no atomicity
      across them (``atomic_rename = False``), which is exactly the
      window the commit protocol's manifests/markers must tolerate;
    - reads return an in-memory buffer (a GET), never a live handle.
    - ``put_cas``/``remove_cas`` ENFORCE compare-and-set (flock over
      the backing file), modeling S3's conditional writes
      (``If-None-Match``/``If-Match``, GA since 2024) / GCS
      ``if-generation-match`` — the contention tests run the lease
      protocol against this enforcement.
    """

    atomic_rename = False
    supports_cas = True
    supports_cas_delete = True

    @staticmethod
    def _backing(path: str) -> str:
        assert path.startswith(f"{_FAKEOBJ_SCHEME}://")
        return "/" + path[len(_FAKEOBJ_SCHEME) + 3 :].lstrip("/")

    def local_path(self, path: str) -> str | None:
        return None

    def isdir(self, path: str) -> bool:
        return os.path.isdir(self._backing(path))

    def listdir(self, path: str) -> list[str]:
        return os.listdir(self._backing(path))

    def makedirs(self, path: str) -> None:
        os.makedirs(self._backing(path), exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._backing(path))

    def remove(self, path: str) -> None:
        os.remove(self._backing(path))

    def rmtree(self, path: str) -> None:
        # prefix delete: one DELETE per object under the prefix
        shutil.rmtree(self._backing(path), ignore_errors=True)

    def size(self, path: str) -> int:
        return os.path.getsize(self._backing(path))

    def read_bytes(self, path: str) -> bytes:
        with open(self._backing(path), "rb") as f:
            return f.read()

    def open_read(self, path: str):
        # a GET: the whole object, seekable (tarfile needs seeks)
        return io.BytesIO(self.read_bytes(path))

    def open_write(self, path: str):
        return _PutOnClose(lambda data: self.put_atomic(path, data))

    def replace(self, src: str, dst: str) -> None:
        # copy-then-delete, like an object store's rename: the copy is
        # an atomic PUT of dst, the delete is separate — a crash
        # between them leaves BOTH objects, never a torn one. A
        # directory "rename" is per-member copy+delete (objects under
        # a prefix) — which is exactly why the dir-layout commit
        # publishes the csv LAST: the csv is the shard's visibility
        # gate, so a half-copied member dir is never readable
        bsrc, bdst = self._backing(src), self._backing(dst)
        if os.path.isdir(bsrc):
            os.makedirs(bdst, exist_ok=True)
            for name in os.listdir(bsrc):
                self.replace(join(src, name), join(dst, name))
            shutil.rmtree(bsrc, ignore_errors=True)
            return
        tmp = self._putwip(bdst)
        shutil.copyfile(bsrc, tmp)
        os.replace(tmp, bdst)  # emulates PUT-of-dst atomicity only
        os.remove(bsrc)

    @staticmethod
    def _putwip(backing: str) -> str:
        # dot-prefixed: an in-flight PUT is INVISIBLE on a real object
        # store, so its emulation residue must be invisible to
        # listdir-based callers too — and .tmp-suffixed so the
        # writers' janitors sweep crash residue
        d, b = os.path.split(backing)
        return os.path.join(d, f".{b}.putwip.tmp")

    def put_atomic(self, path: str, data: bytes) -> None:
        b = self._backing(path)
        tmp = self._putwip(b)
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, b)  # emulates single-PUT atomicity

    # --- compare-and-set (see LocalShardFS docstrings) ---
    def get_cas(self, path: str) -> tuple[bytes, str] | None:
        return _local_get_cas(self._backing(path))

    def put_cas(self, path: str, data: bytes, tag: str | None) -> bool:
        return _local_put_cas(
            self._backing(path),
            data,
            tag,
            lambda d: self.put_atomic(path, d),
        )

    def remove_cas(self, path: str, tag: str) -> bool:
        backing = self._backing(path)
        return _local_remove_cas(
            backing, tag, lambda: os.remove(backing)
        )


class FsspecShardFS:
    """Adapter over ``fsspec`` for real object stores (s3/gs/abfs...).

    Import-gated: constructing it without fsspec installed raises with
    the dependency story instead of an AttributeError mid-job. The
    ``s3a://`` scheme (Hadoop spelling) is mapped to fsspec's ``s3``.

    Verification status (honest): this adapter is MOCK-verified
    against the declared fsspec surface it calls
    (``tests/test_shard_fs_fsspec.py`` pins every method/argument
    shape against a faithful in-test fsspec double), and the
    object-store SEMANTICS (no atomic rename, no empty prefixes,
    whole-object PUTs) are exercised for real by the ``fakeobj://``
    backend — but it has never run against a live fsspec/s3fs/gcsfs
    in this environment (no network). Interface drift vs a real
    driver is the residual risk; run one round-trip against your
    store before trusting it in production.
    """

    atomic_rename = False
    supports_cas_delete = False  # S3-class: no conditional DELETE

    _SCHEME_ALIASES = {"s3a": "s3", "abfss": "abfs"}
    # schemes whose backing store supports conditional PUTs through
    # the s3-style header spelling below (S3 conditional writes are
    # GA since Nov 2024; s3fs forwards extra kwargs to put_object)
    _CAS_SCHEMES = {"s3", "s3a"}

    def __init__(self, scheme: str) -> None:
        try:
            import fsspec
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                f"reading/writing {scheme}:// shard datasets from the "
                "dpf_shards DataSource requires the 'fsspec' package "
                "(plus the protocol driver, e.g. s3fs for s3) on the "
                "driver AND executors; pip install fsspec s3fs"
            ) from e
        self._fs = fsspec.filesystem(
            self._SCHEME_ALIASES.get(scheme, scheme)
        )
        self._scheme = scheme

    def _strip(self, path: str) -> str:
        return path.split("://", 1)[1]

    def local_path(self, path: str) -> str | None:
        return None

    def isdir(self, path: str) -> bool:
        return self._fs.isdir(self._strip(path))

    def listdir(self, path: str) -> list[str]:
        return [
            p.rstrip("/").rsplit("/", 1)[-1]
            for p in self._fs.ls(self._strip(path), detail=False)
        ]

    def makedirs(self, path: str) -> None:
        self._fs.makedirs(self._strip(path), exist_ok=True)

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._strip(path))

    def remove(self, path: str) -> None:
        try:
            self._fs.rm_file(self._strip(path))
        except FileNotFoundError:
            raise
        except Exception as e:  # fsspec drivers vary — normalize
            if "not found" in str(e).lower():
                raise FileNotFoundError(path) from e
            raise

    def read_bytes(self, path: str) -> bytes:
        return self._fs.cat_file(self._strip(path))

    def open_read(self, path: str):
        return io.BytesIO(self.read_bytes(path))

    def open_write(self, path: str):
        return _PutOnClose(lambda data: self.put_atomic(path, data))

    def rmtree(self, path: str) -> None:
        try:
            self._fs.rm(self._strip(path), recursive=True)
        except FileNotFoundError:
            pass

    def size(self, path: str) -> int:
        return int(self._fs.size(self._strip(path)))

    def replace(self, src: str, dst: str) -> None:
        s, d = self._strip(src), self._strip(dst)
        if self._fs.isdir(s):
            self._fs.copy(s + "/", d + "/", recursive=True)
            self._fs.rm(s, recursive=True)
            return
        self._fs.copy(s, d)
        self._fs.rm_file(s)

    def put_atomic(self, path: str, data: bytes) -> None:
        self._fs.pipe_file(self._strip(path), data)

    # --- compare-and-set (S3 conditional-write spelling) ---
    @property
    def supports_cas(self) -> bool:
        return self._scheme in self._CAS_SCHEMES

    def get_cas(self, path: str) -> tuple[bytes, str] | None:
        """Content + ETag tag. ``info`` and ``cat_file`` are two
        calls — an overwrite landing between them yields a STALE tag,
        which the subsequent conditional PUT then correctly rejects
        (the caller re-reads); the race costs a retry, never
        correctness."""
        p = self._strip(path)
        try:
            info = self._fs.info(p)
        except FileNotFoundError:
            return None
        tag = str(info.get("ETag", "")).strip('"')
        try:
            data = self._fs.cat_file(p)
        except FileNotFoundError:
            return None
        return data, tag

    def put_cas(self, path: str, data: bytes, tag: str | None) -> bool:
        """Conditional PUT via S3 conditional writes: ``If-None-Match:
        *`` when ``tag`` is None (create-exclusive), ``If-Match:
        <etag>`` otherwise. A 412 PreconditionFailed / 409 conflict
        maps to False. Mock-verified call shape (see FsspecShardFS
        class docstring for the honest live-driver caveat)."""
        kwargs = (
            {"IfNoneMatch": "*"}
            if tag is None
            else {"IfMatch": f'"{tag}"'}
        )
        try:
            self._fs.pipe_file(self._strip(path), data, **kwargs)
        except FileExistsError:
            return False
        except Exception as e:  # botocore spellings vary — normalize
            # classify by the structured error code when present
            # (botocore ClientError), else by the S3 error-code NAME
            # as a whole word — never by a bare '412'/'409' substring,
            # which also matches request ids and byte counts in
            # unrelated outage messages (r16 review finding)
            import re as _re

            code = ""
            try:
                code = e.response["Error"]["Code"]  # type: ignore[attr-defined]
            except Exception:  # noqa: BLE001 — not a ClientError
                pass
            if code in ("PreconditionFailed", "ConditionalRequestConflict"):
                return False
            if code == "" and _re.search(
                r"\b(PreconditionFailed|ConditionalRequestConflict)\b",
                str(e),
            ):
                return False
            raise
        return True


def get_fs(path: str):
    """Backend for ``path`` by scheme. Stateless — safe to call on the
    driver and inside pickled DataSource tasks alike."""
    scheme = path_scheme(path)
    if scheme is None or scheme == "file":
        return LocalShardFS()
    if scheme == _FAKEOBJ_SCHEME:
        return FakeObjectStoreFS()
    return FsspecShardFS(scheme)


def strip_file_scheme(path: str) -> str:
    """``file:///x`` → ``/x`` (LocalShardFS wants bare paths)."""
    if path_scheme(path) == "file":
        return "/" + path.split("://", 1)[1].lstrip("/")
    return path


def open_source(path: str):
    """What a pyarrow reader should be handed for ``path``: the bare
    path on local backends (mmap-able — C++ owns the fd) or a
    seekable buffer of one GET on remote ones. Re-call for a fresh
    source (a consumed buffer does not rewind across callers)."""
    fs = get_fs(path)
    local = fs.local_path(path)
    return local if local is not None else fs.open_read(path)


def write_table(path: str, tbl, fmt: str) -> None:
    """Format-aware arrow table emit through the seam — ONE place for
    the csv/parquet x local/remote ladder (writer roll, metadata
    rewrite). Local: arrow writes the path directly; remote: buffer
    published as one atomic PUT (discarded, never published, if the
    serializer raises)."""
    fs = get_fs(path)
    local = fs.local_path(path)
    if fmt == "parquet":
        import pyarrow.parquet as pq

        if local is not None:
            pq.write_table(tbl, local)
        else:
            with fs.open_write(path) as fh:
                pq.write_table(tbl, fh)
        return
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.csv as pacsv

    # arrow renders an integral float as '17'; write pandas' '17.0' so
    # csv type inference (no published schema) reads the column back
    # as floating, not integer
    for i, f in enumerate(tbl.schema):
        if pa.types.is_floating(f.type):
            txt = pc.cast(tbl.column(i), pa.string())
            tbl = tbl.set_column(
                i,
                f.name,
                pc.if_else(
                    pc.match_substring_regex(txt, "[.en]"),
                    txt,
                    pc.binary_join_element_wise(txt, ".0", ""),
                ),
            )
    if local is not None:
        pacsv.write_csv(tbl, local)
    else:
        with fs.open_write(path) as fh:
            pacsv.write_csv(tbl, fh)
