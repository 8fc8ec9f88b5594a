"""Lazy zip-import cache invalidation in Spark Python workers
(session.lazy_worker_zipimport): no archive re-read per task, the same
modules importable, and the driver's import system left alone."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from pyshepseg_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
eager_only = pytest.mark.skipif(
    not session._EAGER_ZIP_INVALIDATE,
    reason="this interpreter's zipimporter already invalidates lazily")


@eager_only
def test_invalidate_caches_reads_no_archive_and_still_finds_new_modules(
        tmp_path, monkeypatch):
    z = str(tmp_path / "lazy_mods.zip")
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("lazy_mod_a.py", "A = 1\n")
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(z)
    try:
        assert importlib.import_module("lazy_mod_a").A == 1
        assert type(sys.path_importer_cache[z]) is zipimport.zipimporter
        monkeypatch.setattr(session.TaskContext, "get",
                            classmethod(lambda cls: object()))
        assert session.lazy_worker_zipimport()
        assert session._LazyZipImporter in sys.path_hooks
        assert zipimport.zipimporter not in sys.path_hooks
        assert type(sys.path_importer_cache[z]) is session._LazyZipImporter

        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or read(a))
        importlib.invalidate_caches()
        assert reads == []

        with zipfile.ZipFile(z, "a") as f:
            f.writestr("lazy_mod_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module("lazy_mod_b").B == 2
        assert reads == [z]
    finally:
        for name in ("lazy_mod_a", "lazy_mod_b"):
            sys.modules.pop(name, None)


def test_driver_import_keeps_path_hooks():
    code = ("import sys, zipimport\n"
            "hooks = list(sys.path_hooks)\n"
            "import pyshepseg_spark\n"
            "assert sys.path_hooks == hooks, sys.path_hooks\n"
            "assert zipimport.zipimporter in sys.path_hooks\n"
            "assert not pyshepseg_spark.session.lazy_worker_zipimport()\n")
    r = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]


@eager_only
def test_worker_tasks_reuse_zip_directories(spark):
    def probe(_):
        """Per task: (first probe in this worker, archive reads since
        the previous probe, zipimporter classes in the importer
        cache). Nested, so it ships by value: a worker cannot import
        this test module."""
        import sys
        import zipimport

        import pyshepseg_spark  # noqa: F401  (as any engine UDF does)
        state = getattr(zipimport, "_pyshepseg_probe_reads", None)
        first = state is None
        if first:
            state = zipimport._pyshepseg_probe_reads = [0]
            read = zipimport._read_directory

            def counting(archive):
                state[0] += 1
                return read(archive)
            zipimport._read_directory = counting
        reads, state[0] = state[0], 0
        kinds = {type(v).__name__ for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter)}
        return [(first, reads, sorted(kinds))]

    sc = spark.sparkContext
    rows = []
    for _ in range(2):
        rows += sc.parallelize(range(16), 16).flatMap(probe).collect()
    assert all(kinds == ["_LazyZipImporter"] for _, _, kinds in rows)
    later = [reads for first, reads, _ in rows if not first]
    assert later, "no worker ran a second task"
    assert later == [0] * len(later)
