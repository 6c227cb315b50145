"""Pluggable filesystem abstraction for metadata + commit IO.

Parity: the reference routes every metadata byte through a `FileIO`
interface with per-scheme plugins (paimon-common/src/main/java/org/apache/
paimon/fs/FileIO.java:62, paimon-filesystems/*); the commit protocol rests
on an atomic create-if-absent ("rename-based CAS", RenamingSnapshotCommit),
and on object stores without atomic rename it acquires a catalog lock
instead (FileStoreCommitImpl.java:101, CatalogLock).

Spark-first split of responsibilities:
- DATA files move through Spark/Hadoop (`df.write.parquet("s3a://…")`) and
  pyarrow Datasets — both already speak object-store URIs natively. This
  module does NOT reimplement bulk data IO.
- METADATA files (snapshots, manifests, schemas, hints) and commit-time
  staging moves are small, consistency-critical, and driver-side — they go
  through `FileIO` so a table at `s3://bucket/wh/db.t` commits correctly.

Backends:
- `LocalFileIO` — plain paths; CAS via `os.link` (atomic on POSIX).
- `ArrowFSFileIO` — any scheme `pyarrow.fs.FileSystem.from_uri` resolves
  (s3://, gs://, hdfs://, abfs://, file://). HDFS rename is atomic and
  fails on an existing target, so CAS maps to move; S3-like stores have no
  atomic rename, so CAS requires a `CommitLock` (same contract as the
  reference's catalog lock) — `set_lock_provider` plugs one in.

Resolution: `for_path(path)` picks the backend from the scheme; everything
in the metadata layer calls through it, so adding a backend is one
`register_fileio` call, no engine changes.
"""

from __future__ import annotations

import contextlib
import os
import uuid
from abc import ABC, abstractmethod
from typing import Callable, Iterator
from urllib.parse import urlparse


class CommitLock(ABC):
    """Mutual exclusion for CAS-less stores (reference: CatalogLock). The
    scope is the path being created: hold the lock across exists+write."""

    @abstractmethod
    def __enter__(self): ...

    @abstractmethod
    def __exit__(self, *exc): ...


class LocalFlockLock(CommitLock):
    """flock-based lock — a working single-host example of the interface
    (multi-host deployments plug in a real lock service: DynamoDB, ZK, a
    catalog transaction — anything that can serialize one path's commit)."""

    def __init__(self, lock_path: str):
        self.lock_path = lock_path
        self._fh = None

    def __enter__(self):
        import fcntl
        os.makedirs(os.path.dirname(self.lock_path), exist_ok=True)
        self._fh = open(self.lock_path, "a+")
        fcntl.flock(self._fh.fileno(), fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl
        fcntl.flock(self._fh.fileno(), fcntl.LOCK_UN)
        self._fh.close()
        self._fh = None


class LeaseFileLock(CommitLock):
    """Lease-file lock over ANY FileIO — the classic object-store pattern
    (write a lock object carrying owner-token + expiry, read back to
    verify ownership, expire stale holders by wall clock), so `s3://`
    commits work out of the box without an external lock service.

    Protocol per acquire attempt:
      1. read the lock object; if it exists and its lease has not expired,
         back off and retry;
      2. overwrite it with (our token, now + lease_ms);
      3. sleep `settle_s`, then read back — we hold the lock iff OUR token
         is what's stored (last-writer-wins resolves concurrent step 2s to
         exactly one visible winner on a strongly-consistent store).
    Release deletes the object only if we still own it, so a successor
    that legitimately broke an expired lease is never clobbered.

    DOCUMENTED CAVEATS (same trade every lease-file scheme makes):
    - Safety needs `settle_s` to exceed the store's write-visibility skew:
      a write still in flight when a rival read-verifies can flip
      ownership after the fact. On S3/GCS (strongly consistent since
      2020/forever) the window is network jitter, not propagation delay.
    - Expiry breaking trusts wall clocks to within `lease_ms`; size the
      lease well above both clock skew and the longest commit critical
      section (the engine holds it across one exists+write of a few KB).
    - A lock SERVICE (DynamoDB, ZooKeeper, a catalog transaction — the
      reference's CatalogLock) is strictly stronger; plug one in via
      `set_lock_provider` when available. This class is the zero-infra
      default, not the last word.
    """

    def __init__(self, io: "FileIO", lock_path: str,
                 lease_ms: int = 60_000, settle_s: float = 0.05,
                 timeout_s: float = 120.0):
        self.io = io
        self.lock_path = lock_path
        self.lease_ms = lease_ms
        self.settle_s = settle_s
        self.timeout_s = timeout_s
        self.token = uuid.uuid4().hex

    def _read(self):
        import json
        try:
            return json.loads(self.io.read_bytes(self.lock_path))
        except Exception:  # noqa: BLE001 — missing or torn → treat as free
            return None

    def __enter__(self):
        import json
        import time as _t
        deadline = _t.monotonic() + self.timeout_s
        while _t.monotonic() < deadline:
            cur = self._read()
            now_ms = int(_t.time() * 1000)
            if cur is not None and cur.get("expire_at_ms", 0) > now_ms:
                _t.sleep(self.settle_s)
                continue
            self.io.write_overwrite(self.lock_path, json.dumps(
                {"owner": self.token,
                 "expire_at_ms": now_ms + self.lease_ms}).encode())
            _t.sleep(self.settle_s)
            cur = self._read()
            if cur is not None and cur.get("owner") == self.token:
                return self
        raise TimeoutError(
            f"could not acquire lease lock {self.lock_path} "
            f"within {self.timeout_s}s")

    def __exit__(self, *exc):
        cur = self._read()
        if cur is not None and cur.get("owner") == self.token:
            self.io.delete(self.lock_path)


def lease_lock_provider(lease_ms: int = 60_000, settle_s: float = 0.05,
                        timeout_s: float = 120.0):
    """Ready-made `set_lock_provider` argument: locks each CAS target via
    a sibling `<path>.lock` lease file on the target's own FileIO —
    contenders for snapshot N serialize on one object, different
    snapshots/tables never contend with each other."""
    def provider(path: str) -> CommitLock:
        return LeaseFileLock(for_path(path), path + ".lock",
                             lease_ms=lease_ms, settle_s=settle_s,
                             timeout_s=timeout_s)
    return provider


# path -> CommitLock factory; None = no lock configured
_LOCK_PROVIDER: Callable[[str], CommitLock] | None = None


def set_lock_provider(provider: Callable[[str], CommitLock] | None):
    """Install a commit-lock factory for stores without atomic rename
    (called with the path being CAS-created; returns a context manager)."""
    global _LOCK_PROVIDER
    _LOCK_PROVIDER = provider


class FileIO(ABC):
    """Small, consistency-critical file operations for the metadata layer.
    All paths are full paths/URIs in the table's own scheme."""

    # --- reads
    @abstractmethod
    def read_bytes(self, path: str) -> bytes: ...

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    @abstractmethod
    def open_input(self, path: str):
        """Binary file-like object positioned at 0 (for parquet footers)."""

    # --- writes
    @abstractmethod
    def try_create(self, path: str, data: bytes) -> bool:
        """Atomically create `path`; False = already exists (lost the CAS
        race). THE commit primitive — must never overwrite."""

    @abstractmethod
    def write_overwrite(self, path: str, data: bytes) -> None:
        """Overwriting write of the whole file: hint files, and staged data
        files before the commit moves them into place. The file is
        complete when the call returns; LocalFileIO replaces atomically
        (temp file + os.replace), so readers never see a partial file."""

    # --- namespace
    @abstractmethod
    def exists(self, path: str) -> bool: ...

    @abstractmethod
    def is_dir(self, path: str) -> bool: ...

    @abstractmethod
    def list_names(self, path: str) -> list[str]:
        """Immediate child basenames; [] when the dir is missing."""

    @abstractmethod
    def walk_files(self, path: str) -> Iterator[tuple[str, int]]:
        """All files under `path` recursively as (full_path, size)."""

    @abstractmethod
    def mkdirs(self, path: str) -> None: ...

    @abstractmethod
    def delete(self, path: str) -> None:
        """Delete one file; silent no-op when missing."""

    @abstractmethod
    def delete_dir(self, path: str) -> None:
        """Recursive delete; silent no-op when missing."""

    @abstractmethod
    def rename(self, src: str, dst: str) -> None:
        """Move a staged file into place (commit finalize). May overwrite."""

    @abstractmethod
    def copy(self, src: str, dst: str) -> None:
        """Copy one file (branch/tag creation). May overwrite."""

    def link_or_copy(self, src: str, dst: str) -> None:
        """Share one immutable data file into a new location (branch fork).
        Backends with hard links share bytes; others copy."""
        self.copy(src, dst)

    @abstractmethod
    def size(self, path: str) -> int: ...

    @abstractmethod
    def mtime(self, path: str) -> float:
        """Last-modified time, epoch seconds (orphan-file safety margin)."""

    def write_parquet(self, table, path: str) -> None:
        """Write one pyarrow Table as a parquet file at `path` (executor-side
        staging emits). Default: buffer + write_overwrite; backends override
        with a direct streaming write."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        self.write_overwrite(path, buf.getvalue().to_pybytes())


class LocalFileIO(FileIO):
    """POSIX filesystem: the default and the test surface. CAS = hard-link
    of an fsync'd temp file (atomic create-if-absent on POSIX). Accepts
    plain paths and file:// URIs (stripped on entry; walk_files yields
    paths in the caller's form so relpath math stays consistent)."""

    @staticmethod
    def _p(path):
        return strip_file_scheme(path)

    def read_bytes(self, path):
        with open(self._p(path), "rb") as f:
            return f.read()

    def open_input(self, path):
        return open(self._p(path), "rb")

    def try_create(self, path, data):
        path = self._p(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        try:
            with open(tmp, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)

    def write_overwrite(self, path, data):
        """Readers see the old bytes or the new ones, never a mix; a failed
        write keeps the old bytes and leaves no temp file behind."""
        path = self._p(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
            raise

    def exists(self, path):
        return os.path.exists(self._p(path))

    def is_dir(self, path):
        return os.path.isdir(self._p(path))

    def list_names(self, path):
        try:
            return os.listdir(self._p(path))
        except (FileNotFoundError, NotADirectoryError):
            return []

    def walk_files(self, path):
        prefix = "file://" if path.startswith("file://") else ""
        for root, _dirs, names in os.walk(self._p(path)):
            for n in names:
                p = os.path.join(root, n)
                yield prefix + p, os.path.getsize(p)

    def mkdirs(self, path):
        os.makedirs(self._p(path), exist_ok=True)

    def delete(self, path):
        try:
            os.unlink(self._p(path))
        except FileNotFoundError:
            pass

    def delete_dir(self, path):
        import shutil
        shutil.rmtree(self._p(path), ignore_errors=True)

    def rename(self, src, dst):
        src, dst = self._p(src), self._p(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)

    def copy(self, src, dst):
        import shutil
        src, dst = self._p(src), self._p(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(src, dst)

    def link_or_copy(self, src, dst):
        src, dst = self._p(src), self._p(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)  # zero-copy share of the immutable data file
        except OSError:
            import shutil
            shutil.copy(src, dst)

    def size(self, path):
        return os.path.getsize(self._p(path))

    def mtime(self, path):
        return os.path.getmtime(self._p(path))

    def write_parquet(self, table, path):
        import pyarrow.parquet as pq
        path = self._p(path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)


class ArrowFSFileIO(FileIO):
    """Any pyarrow.fs scheme: s3://, gs://, hdfs://, abfs://, file://.

    CAS strategy by capability (reference: RenamingSnapshotCommit vs
    catalog lock):
    - a configured `CommitLock` always wins (exists+write under the lock);
    - HDFS/file: rename refuses an existing target → tmp-write + move;
    - S3-like (no atomic rename, no lock): raise — a silent check-then-write
      would corrupt concurrent commits, exactly what the reference refuses
      to do without a lock.
    """

    _ATOMIC_RENAME_TYPES = ("hdfs", "local")  # pyarrow fs.type_name values

    def __init__(self, uri: str):
        import pyarrow.fs as pafs
        parsed = urlparse(uri)
        self.fs, probe = pafs.FileSystem.from_uri(uri)
        self._prefix = f"{parsed.scheme}://{parsed.netloc}"
        # bucket-addressed stores (s3/gs/abfs) express pyarrow paths as
        # 'bucket/key'; host-addressed ones (hdfs) as '/key'. from_uri's
        # returned path tells us which convention this fs uses — dropping
        # the bucket here would silently point every metadata op at the
        # wrong object (r5 review finding).
        self._bucket = (parsed.netloc
                        if parsed.netloc
                        and (probe == parsed.netloc
                             or probe.startswith(parsed.netloc + "/"))
                        else None)

    # pyarrow filesystems take scheme-less paths; keep URIs at the API edge
    def _rel(self, path: str) -> str:
        parsed = urlparse(path)
        if not parsed.scheme:
            return path
        p = parsed.path
        if self._bucket is not None:
            return self._bucket + p if p.startswith("/") \
                else f"{self._bucket}/{p}"
        return p

    def _abs(self, rel: str) -> str:
        if self._bucket is not None and rel.startswith(self._bucket):
            rel = rel[len(self._bucket):]
        return f"{self._prefix}{rel if rel.startswith('/') else '/' + rel}"

    def read_bytes(self, path):
        with self.fs.open_input_stream(self._rel(path)) as f:
            return f.read()

    def open_input(self, path):
        return self.fs.open_input_file(self._rel(path))

    def _write(self, rel, data):
        parent = rel.rsplit("/", 1)[0]
        if parent:
            self.fs.create_dir(parent, recursive=True)
        with self.fs.open_output_stream(rel) as f:
            f.write(data)

    def try_create(self, path, data):
        rel = self._rel(path)
        if _LOCK_PROVIDER is not None:
            with _LOCK_PROVIDER(path):
                if self.exists(path):
                    return False
                self._write(rel, data)
                return True
        if self.fs.type_name in self._ATOMIC_RENAME_TYPES:
            if self.exists(path):
                return False  # cheap early exit; the move below is the CAS
            tmp = f"{rel}.tmp-{uuid.uuid4().hex}"
            self._write(tmp, data)
            try:
                # HDFS rename is atomic and fails if dst exists — the same
                # primitive RenamingSnapshotCommit builds on. pyarrow's
                # local fs move() replaces, so local URIs are routed to
                # LocalFileIO by for_path(); this branch is hdfs-shaped.
                self.fs.move(tmp, rel)
                return True
            except OSError:
                self.fs.delete_file(tmp)
                return False
        raise RuntimeError(
            f"{self.fs.type_name} has no atomic rename: commits require a "
            "CommitLock (fileio.set_lock_provider) — the same contract as "
            "the reference's catalog lock on object stores")

    def write_overwrite(self, path, data):
        self._write(self._rel(path), data)

    def _info(self, path):
        import pyarrow.fs as pafs
        return self.fs.get_file_info([self._rel(path)])[0]

    def exists(self, path):
        import pyarrow.fs as pafs
        return self._info(path).type != pafs.FileType.NotFound

    def is_dir(self, path):
        import pyarrow.fs as pafs
        return self._info(path).type == pafs.FileType.Directory

    def list_names(self, path):
        import pyarrow.fs as pafs
        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(self._rel(path), recursive=False))
        except (FileNotFoundError, OSError):
            return []
        return [i.base_name for i in infos]

    def walk_files(self, path):
        import pyarrow.fs as pafs
        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(self._rel(path), recursive=True))
        except (FileNotFoundError, OSError):
            return
        for i in infos:
            if i.type == pafs.FileType.File:
                yield self._abs(i.path), i.size

    def mkdirs(self, path):
        self.fs.create_dir(self._rel(path), recursive=True)

    def delete(self, path):
        try:
            self.fs.delete_file(self._rel(path))
        except (FileNotFoundError, OSError):
            pass

    def delete_dir(self, path):
        try:
            self.fs.delete_dir(self._rel(path))
        except (FileNotFoundError, OSError):
            pass

    def rename(self, src, dst):
        rel_dst = self._rel(dst)
        parent = rel_dst.rsplit("/", 1)[0]
        if parent:
            self.fs.create_dir(parent, recursive=True)
        self.fs.move(self._rel(src), rel_dst)

    def copy(self, src, dst):
        rel_dst = self._rel(dst)
        parent = rel_dst.rsplit("/", 1)[0]
        if parent:
            self.fs.create_dir(parent, recursive=True)
        self.fs.copy_file(self._rel(src), rel_dst)

    def size(self, path):
        return self._info(path).size

    def mtime(self, path):
        mt = self._info(path).mtime
        return mt.timestamp() if mt is not None else 0.0

    def write_parquet(self, table, path):
        import pyarrow.parquet as pq
        rel = self._rel(path)
        parent = rel.rsplit("/", 1)[0]
        if parent:
            self.fs.create_dir(parent, recursive=True)
        pq.write_table(table, rel, filesystem=self.fs)


# scheme -> FileIO factory (called with the full URI once per table path)
_REGISTRY: dict[str, Callable[[str], FileIO]] = {}
_LOCAL = LocalFileIO()
_CACHE: dict[str, FileIO] = {}


def register_fileio(scheme: str, factory: Callable[[str], FileIO]):
    _REGISTRY[scheme] = factory
    _CACHE.clear()


def for_path(path: str) -> FileIO:
    """Resolve the FileIO backend for a path/URI. Plain paths and file://
    go local (os-based CAS is strictly stronger than emulation); registered
    schemes win; anything else tries pyarrow.fs."""
    scheme = urlparse(path).scheme if "://" in path else ""
    if scheme in ("", "file"):
        return _LOCAL
    if scheme in _REGISTRY:
        key = f"{scheme}://{urlparse(path).netloc}"
        if key not in _CACHE:
            _CACHE[key] = _REGISTRY[scheme](path)
        return _CACHE[key]
    key = f"{scheme}://{urlparse(path).netloc}"
    if key not in _CACHE:
        _CACHE[key] = ArrowFSFileIO(path)
    return _CACHE[key]


def strip_file_scheme(path: str) -> str:
    """file:///x → /x (local tools want plain paths); other URIs unchanged."""
    if path.startswith("file://"):
        return urlparse(path).path
    return path
