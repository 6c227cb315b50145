"""FileIO abstraction: local CAS semantics, the pyarrow.fs backend driven
against local disk (same code path an s3://hdfs:// table uses), lock-based
CAS for rename-less stores, and scheme resolution."""

import os
import tempfile

import pytest

from incubator_paimon_spark import fileio
from incubator_paimon_spark.fileio import (ArrowFSFileIO, LocalFileIO,
                                           LocalFlockLock, for_path,
                                           set_lock_provider,
                                           strip_file_scheme)


@pytest.fixture
def tmp():
    with tempfile.TemporaryDirectory(prefix="pmn_fio_") as d:
        yield d


def _common_contract(io, base):
    # CAS: first create wins, second loses, content is the winner's
    p = f"{base}/snapshot/snapshot-1"
    assert io.try_create(p, b"one") is True
    assert io.try_create(p, b"two") is False
    assert io.read_bytes(p) == b"one"
    # overwrite path (hints)
    h = f"{base}/snapshot/LATEST"
    io.write_overwrite(h, b"1")
    io.write_overwrite(h, b"2")
    assert io.read_text(h) == "2"
    # namespace ops
    assert io.exists(p) and not io.exists(p + ".nope")
    assert io.is_dir(f"{base}/snapshot")
    assert sorted(io.list_names(f"{base}/snapshot")) == ["LATEST", "snapshot-1"]
    assert io.list_names(f"{base}/missing") == []
    walked = dict(io.walk_files(f"{base}/snapshot"))
    assert len(walked) == 2 and all(sz > 0 for sz in walked.values())
    assert io.size(p) == 3
    # rename + delete
    io.mkdirs(f"{base}/stage")
    io.write_overwrite(f"{base}/stage/f", b"data")
    io.rename(f"{base}/stage/f", f"{base}/data/f")
    assert io.read_bytes(f"{base}/data/f") == b"data"
    io.delete(f"{base}/data/f")
    io.delete(f"{base}/data/f")  # idempotent
    assert not io.exists(f"{base}/data/f")
    io.delete_dir(f"{base}/snapshot")
    assert not io.exists(p)


def test_local_contract(tmp):
    _common_contract(LocalFileIO(), tmp)


def test_local_write_overwrite_replaces_whole_and_cleans_up(tmp):
    """write_overwrite: a reader sees exactly the new bytes and no temp
    file is left; a write that raises keeps the old bytes and leaves no
    temp file behind either."""
    io = LocalFileIO()
    p = f"{tmp}/snapshot/LATEST"
    io.write_overwrite(p, b"old-bytes")
    io.write_overwrite(p, b"new")
    assert io.read_bytes(p) == b"new"
    assert os.listdir(f"{tmp}/snapshot") == ["LATEST"]
    with pytest.raises(TypeError):
        io.write_overwrite(p, "text is not bytes")  # f.write raises
    assert io.read_bytes(p) == b"new"
    assert os.listdir(f"{tmp}/snapshot") == ["LATEST"]


def test_local_try_create_cleans_up_on_failure(tmp, monkeypatch):
    """try_create: a write or fsync that raises creates nothing and
    leaves no `<path>.tmp-*` behind."""
    io = LocalFileIO()
    p = f"{tmp}/schema/schema-1"

    def failing_fsync(fd):
        raise OSError("fsync failed")

    with monkeypatch.context() as m:
        m.setattr(os, "fsync", failing_fsync)
        with pytest.raises(OSError, match="fsync failed"):
            io.try_create(p, b"{}")
    assert os.listdir(f"{tmp}/schema") == []
    with pytest.raises(TypeError):
        io.try_create(p, "text is not bytes")  # f.write raises
    assert os.listdir(f"{tmp}/schema") == []
    assert io.try_create(p, b"{}") is True
    assert os.listdir(f"{tmp}/schema") == ["schema-1"]


def test_local_accepts_file_uri(tmp):
    _common_contract(LocalFileIO(), f"file://{tmp}")


def test_arrow_fs_contract(tmp):
    # the same backend object an s3:// or hdfs:// table resolves to,
    # exercised against local disk through pyarrow.fs
    io = ArrowFSFileIO(f"file://{tmp}")
    # pyarrow local move() replaces, so the rename-CAS branch isn't a true
    # CAS here; drive the lock-provider branch instead (the object-store
    # configuration) and check the unlocked exists-guard separately. Locks
    # live OUTSIDE the table tree, as a real lock service would.
    import hashlib
    lockdir = tempfile.mkdtemp(prefix="pmn_lck_")
    set_lock_provider(lambda p: LocalFlockLock(
        os.path.join(lockdir, hashlib.md5(p.encode()).hexdigest())))
    try:
        _common_contract(io, f"file://{tmp}/t")
    finally:
        set_lock_provider(None)


def test_arrow_fs_refuses_unlocked_casless(tmp):
    # an s3-shaped fs (no atomic rename) with no lock configured must refuse
    # to commit rather than silently check-then-write
    io = ArrowFSFileIO.__new__(ArrowFSFileIO)
    io.fs = type("S3Stub", (), {"type_name": "s3"})()
    io._prefix = "s3://bucket"
    io._bucket = "bucket"
    with pytest.raises(RuntimeError, match="CommitLock"):
        io.try_create("s3://bucket/t/snapshot/snapshot-1", b"x")


def test_for_path_resolution(tmp):
    assert for_path("/plain/path") is for_path("/other")  # shared local
    assert isinstance(for_path(f"file://{tmp}/x"), LocalFileIO)
    fileio.register_fileio("mem", lambda uri: LocalFileIO())
    try:
        assert isinstance(for_path("mem://bucket/t"), LocalFileIO)
    finally:
        fileio._REGISTRY.pop("mem")
        fileio._CACHE.clear()


def test_strip_file_scheme():
    assert strip_file_scheme("file:///a/b") == "/a/b"
    assert strip_file_scheme("/a/b") == "/a/b"
    assert strip_file_scheme("s3://b/k") == "s3://b/k"


def test_arrow_fs_bucket_addressed_paths():
    """s3/gs-style stores express pyarrow paths as 'bucket/key'; the backend
    must keep the bucket when stripping the scheme (r5 review: dropping it
    pointed every metadata op at the wrong object)."""
    io = ArrowFSFileIO.__new__(ArrowFSFileIO)
    io._prefix = "s3://bkt"
    io._bucket = "bkt"
    assert io._rel("s3://bkt/wh/db.t/snapshot/snapshot-1") == \
        "bkt/wh/db.t/snapshot/snapshot-1"
    assert io._abs("bkt/wh/db.t/f") == "s3://bkt/wh/db.t/f"
    # host-addressed (hdfs): path stays rooted, no bucket prefix
    io2 = ArrowFSFileIO.__new__(ArrowFSFileIO)
    io2._prefix = "hdfs://nn:8020"
    io2._bucket = None
    assert io2._rel("hdfs://nn:8020/wh/t/snapshot-1") == "/wh/t/snapshot-1"
    assert io2._abs("/wh/t/f") == "hdfs://nn:8020/wh/t/f"


def test_arrow_fs_local_uri_detects_no_bucket(tmp):
    io = ArrowFSFileIO(f"file://{tmp}")
    assert io._bucket is None
