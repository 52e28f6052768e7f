"""Contract for the stat-checked zipimport invalidation (_zipimport.py).

PySpark workers call ``importlib.invalidate_caches()`` before every task.
On Python < 3.13 each ``zipimporter`` then re-reads its archive's central
directory; the shim re-reads an archive only when its (inode, size,
mtime) changed and shares one directory dict among the archive's
importers. All tests but the last need no Spark; the last runs two tasks
in one reused Python worker and counts the re-reads there.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from trireme_spark import _zipimport

needs_shim = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is lazy from 3.13 on"
)


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("shimpkg/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"shimpkg/{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def counted_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "shim.zip")
    _write_zip(path, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] == "shimpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    _zipimport._STAMPS.pop(path, None)


@needs_shim
def test_importers_of_one_archive_share_one_read(archive, counted_reads):
    root = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "shimpkg"))
    assert root._files is sub._files
    counted_reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
        root.invalidate_caches()
        sub.invalidate_caches()
    assert counted_reads.count(archive) <= 1, counted_reads
    assert root._files is sub._files
    assert "shimpkg/a.py" in root._files


@needs_shim
def test_replaced_archive_is_reread(archive):
    import shimpkg.a

    assert shimpkg.a.X == 1
    importlib.invalidate_caches()  # stamps the first archive
    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    import shimpkg.b

    assert shimpkg.b.Y == 2


@needs_shim
def test_removed_archive_falls_back_to_original(archive):
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()  # stat fails: the original method runs
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _zipimport._STAMPS


def _exec_fresh_copy():
    spec = importlib.util.spec_from_file_location(
        "_zipimport_copy", _zipimport.__file__
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_left_untouched_from_python_313(monkeypatch):
    original = getattr(
        zipimport.zipimporter.invalidate_caches, "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    mod = _exec_fresh_copy()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not mod._STAMPS


@needs_shim
def test_installs_once_below_python_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    _exec_fresh_copy()
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.__wrapped__ is original
    _exec_fresh_copy()
    assert zipimport.zipimporter.invalidate_caches is installed


@needs_shim
def test_reused_worker_rereads_no_archive(spark):
    """Count, not time: the second task in a reused worker does not
    re-read pyspark.zip. The first task imports the package (which
    installs the shim) and a counter around ``zipimport._read_directory``;
    the second reports the reads. An archive first opened after the shim
    was installed (the package zip, when the worker's cwd holds the
    package) is stamped at its first invalidation, so it may be read
    once there, never once per importer."""
    from pyspark.sql import functions as F

    from trireme_spark.session import prep

    prep(spark)

    def install_counter(_):
        import os
        import zipimport as zi

        import trireme_spark  # noqa: F401

        if not hasattr(zi, "_probe_reads"):
            real = zi._read_directory
            zi._probe_reads = []

            def counted(archive):
                zi._probe_reads.append(archive)
                return real(archive)

            zi._read_directory = counted
        del zi._probe_reads[:]
        return os.getpid()

    def report(_):
        import os
        import sys
        import zipimport as zi

        zips = {
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zi.zipimporter)
        }
        return os.getpid(), getattr(zi, "_probe_reads", None), sorted(zips)

    def one_task(fn, schema):
        row = spark.range(0, 1, 1, 1).select(F.udf(fn, schema)("id")).first()
        return row[0]

    pid = one_task(install_counter, "long")
    # Idle workers are handed out oldest first, so a few one-task jobs
    # bring this worker round again.
    for _ in range(16):
        got, reads, zips = one_task(
            report, "struct<pid:long,reads:array<string>,zips:array<string>>"
        )
        if got == pid:
            break
    else:
        pytest.skip(f"worker {pid} was not reused in 16 one-task jobs")
    assert any(z.endswith("pyspark.zip") for z in zips), (
        f"worker does not import pyspark from pyspark.zip: {zips}"
    )
    assert not [r for r in reads if r.endswith("pyspark.zip")], reads
    assert len(reads) == len(set(reads)), f"archives read twice: {reads}"
