"""The once-per-worker zip-directory cache (``ragflow_spark._cache_zip_directories``):
PySpark's worker invalidates the import caches before every task, and the
cache turns that into a ``stat`` per archive unless the archive changed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import ragflow_spark


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_archive_reread_only_when_it_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipcache_a"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zipcache_a").NAME == "zipcache_a"
    importer = sys.path_importer_cache[archive]
    other = zipimport.zipimporter(archive)  # a second importer of the same archive

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    ragflow_spark._cache_zip_directories()
    importer.invalidate_caches()  # no stamp yet: re-read
    importer.invalidate_caches()
    other.invalidate_caches()
    assert reads == [archive]

    _write_zip(archive, ["zipcache_a", "zipcache_b"])  # rewritten archive
    importer.invalidate_caches()
    other.invalidate_caches()  # shares the directory that re-read cached
    assert reads == [archive, archive]
    assert other.find_spec("zipcache_b") is not None
    assert importlib.import_module("zipcache_b").NAME == "zipcache_b"
    sys.path_importer_cache.pop(archive, None)


def test_driver_keeps_stdlib_invalidate_caches():
    """Outside a task (no ``TaskContext``) importing the package installs
    nothing, even with pyspark loaded."""
    code = (
        "import pyspark.taskcontext, ragflow_spark, zipimport; "
        "print(zipimport.zipimporter.invalidate_caches.__module__)"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         check=True, cwd=os.path.dirname(ragflow_spark.__path__[0]))
    assert out.stdout.strip() == "zipimport"


def test_later_tasks_reread_no_archive(spark):
    """A worker installs the cache during its first task: in a second
    round, ``importlib.invalidate_caches()`` inside a task on a worker of
    the first round reads no zip directory."""

    def probe(_):
        import importlib
        import os
        import zipimport

        import ragflow_spark  # noqa: F401 — what unpickling an engine task does

        read = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield os.getpid(), len(reads), zipimport.zipimporter.invalidate_caches.__module__

    sc = spark.sparkContext
    first = sc.parallelize(range(8), 8).mapPartitions(probe).collect()
    second = sc.parallelize(range(8), 8).mapPartitions(probe).collect()
    assert {m for _, _, m in first + second} == {"ragflow_spark"}
    workers = {pid for pid, _, _ in first}
    later = [n for pid, n, _ in second if pid in workers]
    assert later and set(later) == {0}, second
