"""The Python-worker zip guard (``docling_spark/_worker.py``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task; the guard lets a reused worker skip re-reading each zip
archive on its path unless the archive's inode, size or mtime changed.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from docling_spark import _worker


def _write_zip(path, **modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zg_m`` on ``sys.path``, imported, with the
    guard installed afterwards (as on a worker) and ``_read_directory``
    calls recorded."""
    path = tmp_path / "mods.zip"
    _write_zip(path, zg_m="X = 1\n")
    monkeypatch.syspath_prepend(str(path))
    for name in ("zg_m", "zg_n"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zg_m  # noqa: F401

    zi = zipimport.zipimporter
    monkeypatch.setattr(zi, "invalidate_caches", zi.invalidate_caches)
    _worker.install()
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    yield path, reads
    for name in ("zg_m", "zg_n"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_and_imports(archive):
    path, reads = archive
    _write_zip(path, zg_m="X = 1\n", zg_n="Y = 2\n")
    importlib.invalidate_caches()
    assert str(path) in reads
    import zg_n

    assert zg_n.Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.parametrize("change", ["mtime", "inode"])
def test_same_size_change_is_reread(archive, change):
    path, reads = archive
    if change == "mtime":
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    else:
        copy = path.with_suffix(".new")
        copy.write_bytes(path.read_bytes())
        os.replace(copy, path)
    importlib.invalidate_caches()
    assert str(path) in reads


def test_missing_archive_falls_through_to_stdlib(archive):
    path, reads = archive
    importers = [i for i in sys.path_importer_cache.values()
                 if isinstance(i, zipimport.zipimporter)
                 and i.archive == str(path)]
    assert importers
    path.unlink()
    importlib.invalidate_caches()
    assert str(path) in reads
    assert all(i._files == {} for i in importers)


def test_driver_keeps_stdlib_invalidate_caches():
    import docling_spark  # noqa: F401

    fn = zipimport.zipimporter.invalidate_caches
    assert fn.__module__ == "zipimport" and not hasattr(fn, "__wrapped__")
    assert not _worker.on_worker()


def test_reused_worker_task_setup_reads_no_archive(spark):
    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import docling_spark  # noqa: F401  (installs the guard)

        imps = [i for i in list(sys.path_importer_cache.values())
                if isinstance(i, zipimport.zipimporter)]
        # an importer whose directory was re-read since this worker's last
        # probe holds a new ``_files`` dict
        seen = [i for i in imps if hasattr(i, "_probe_files")]
        reread = sum(i._probe_files is not i._files for i in seen)
        for i in imps:
            i._probe_files = i._files
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "zips": [len(imps)],
            "seen": [len(seen)], "reread": [reread]})

    one = spark.range(0, 1, 1, 1)
    schema = "pid long, zips long, seen long, reread long"
    rows = [r for _ in range(24)
            for r in one.mapInArrow(probe, schema).collect()]
    assert all(r.zips > 0 for r in rows)
    later = [r for r in rows if r.seen]
    assert later, "no worker ran more than one task"
    assert [r.reread for r in later] == [0] * len(later)
