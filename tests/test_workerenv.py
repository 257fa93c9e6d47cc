"""The Python-worker import-cache guard (``workerenv.install``): inside a
task, ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed; on the driver nothing is
patched. The last test drives a real reused worker."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from pyspark_postgres_loader_spark import workerenv

_ORIGINAL = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modname: str, body: str = "VALUE = 1\n") -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{modname}.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding ``wenv_a`` on ``sys.path`` with a cached importer,
    and a list that records every directory read of it."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, "wenv_a")
    monkeypatch.syspath_prepend(path)
    importlib.import_module("wenv_a")
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    # Restored on teardown, whatever install() put there.
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _ORIGINAL)
    yield path, reads
    sys.path_importer_cache.pop(path, None)
    for name in ("wenv_a", "wenv_b"):
        sys.modules.pop(name, None)


@pytest.fixture
def in_task(monkeypatch):
    """Make ``TaskContext.get()`` answer as it does inside a Python task."""
    monkeypatch.setattr(TaskContext, "_taskContext", object.__new__(TaskContext))


def test_unchanged_archive_is_not_reread(archive, in_task):
    path, reads = archive
    importlib.invalidate_caches()
    assert len(reads) == 1  # unguarded: every reset re-reads the archive
    workerenv.install()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread_and_imports(archive, in_task, change):
    path, reads = archive
    workerenv.install()
    before = os.stat(path)
    if change == "size":
        _write_zip(path, "wenv_b", "VALUE = 2  # a longer body\n")
    else:
        _write_zip(path, "wenv_b", "VALUE = 2\n")
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("wenv_b").VALUE == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_deleted_archive_takes_the_original_path(archive, in_task):
    path, reads = archive
    workerenv.install()
    os.remove(path)
    reads.clear()
    importlib.invalidate_caches()  # raises nothing
    assert reads == [path]
    assert sys.path_importer_cache[path]._files == {}


def test_second_install_does_not_stack(archive, in_task):
    """Neither a repeat call nor a second copy of the module (the sink
    ships one by value) wraps the guard again."""
    workerenv.install()
    guarded = zipimport.zipimporter.invalidate_caches
    workerenv.install()
    spec = importlib.util.spec_from_file_location("workerenv_copy", workerenv.__file__)
    copy = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(copy)
    copy.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_install_leaves_the_driver_untouched(archive):
    path, reads = archive
    assert TaskContext.get() is None
    workerenv.install()
    assert zipimport.zipimporter.invalidate_caches is _ORIGINAL
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path]


def test_reused_worker_skips_the_reread_after_an_engine_task(spark, sf_dir):
    """After an engine task (a decode walk) a worker's next task resets
    the import caches without re-reading one zip directory."""
    from pyspark_postgres_loader_spark import registry

    registry.all_queries()["ingest_zstd_frame_walk"](spark, sf_dir).collect()

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        real, reads = zipimport._read_directory, []

        def counted(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(imp, zipimport.zipimporter)
            for imp in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "engine": ["pyspark_postgres_loader_spark" in sys.modules],
            "zips": [zips],
            "reads": [len(reads)],
        })

    rows = (
        spark.range(0, 16, 1, 16)
        .mapInPandas(probe, "pid long, engine boolean, zips long, reads long")
        .collect()
    )
    engine = [r for r in rows if r.engine]
    assert engine, rows  # the walk's worker ran a probe task
    assert all(r.zips > 0 and r.reads == 0 for r in engine), rows
