"""The once-per-process zip-archive guard (``univer_ocr_spark.worker_setup``):
exact import semantics for a zip replaced at the same path, no directory
re-read for an unchanged one, and the guard active inside Spark workers."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import univer_ocr_spark
from univer_ocr_spark import worker_setup


def _write_zip(path: str, members: dict) -> None:
    """Write a new archive and move it over ``path`` (a new inode, the way
    ``packaging.build_zip`` replaces the shipped package)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def _is_guard(fn) -> bool:
    return bool(getattr(fn, "_skips_unchanged_archives", False))


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"m.py": "X = 1\n"})
    for name in ("m", "n"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("m", "n"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def _count_reads(monkeypatch) -> list:
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_install_is_idempotent():
    guard = zipimport.zipimporter.invalidate_caches
    assert _is_guard(guard)
    worker_setup.install()
    importlib.reload(worker_setup)
    importlib.reload(univer_ocr_spark)
    assert zipimport.zipimporter.invalidate_caches is guard
    assert not _is_guard(guard.__wrapped__)


def test_replaced_zip_is_reread_and_unchanged_zip_is_not(zip_path, monkeypatch):
    m = importlib.import_module("m")
    assert m.X == 1
    importlib.invalidate_caches()  # every zipimporter records its archive

    _write_zip(zip_path, {"m.py": "X = 2\n", "n.py": "Y = 3\n"})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == [zip_path]
    assert importlib.import_module("n").Y == 3
    del sys.modules["m"]
    assert importlib.import_module("m").X == 2

    reads.clear()
    importlib.invalidate_caches()  # nothing changed
    assert reads == []


def test_missing_zip_falls_through_to_the_original(zip_path):
    importlib.import_module("m")
    importlib.invalidate_caches()
    os.remove(zip_path)
    importlib.invalidate_caches()  # stat fails: zipimport forgets the archive
    del sys.modules["m"]
    with pytest.raises(ImportError):
        importlib.import_module("m")

    _write_zip(zip_path, {"m.py": "X = 4\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("m").X == 4


def test_guard_is_active_in_spark_workers(spark):
    """Each task reports from its worker whether the guard is installed and
    how many zip directories that worker has read since the probe first ran
    there; once every archive is recorded, later jobs' task set-up
    (``importlib.invalidate_caches()``) must read none."""
    n = spark.sparkContext.defaultParallelism

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import univer_ocr_spark.worker_setup as ws  # first touch installs the guard

        state = getattr(zipimport, "_probe_state", None)
        if state is None:
            read = zipimport._read_directory
            state = zipimport._probe_state = {"reads": 0, "tasks": 0}

            def counting(archive):
                state["reads"] += 1
                return read(archive)

            zipimport._read_directory = counting
        state["tasks"] += 1
        zips = [v for v in list(sys.path_importer_cache.values())
                if isinstance(v, zipimport.zipimporter)]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(),
            "seq": state["tasks"],
            "guard": bool(getattr(zipimport.zipimporter.invalidate_caches,
                                  "_skips_unchanged_archives", False)),
            "zips": len(zips),
            "recorded": all(ws._STAT_ATTR in vars(z) for z in zips),
            "reads": state["reads"],
        }])

    schema = "pid long, seq long, guard boolean, zips long, recorded boolean, reads long"
    rows = []
    for _ in range(4):
        rows += spark.range(0, n, 1, n).mapInArrow(probe, schema).collect()
    assert all(r.guard for r in rows)
    assert all(r.zips > 0 for r in rows)

    checked = 0
    by_pid = {}
    for r in sorted(rows, key=lambda r: (r.pid, r.seq)):
        prev = by_pid.get(r.pid)
        if prev is not None and prev.recorded:
            assert r.reads == prev.reads, (prev, r)
            checked += 1
        by_pid[r.pid] = r
    assert checked > 0, rows
