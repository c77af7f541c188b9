"""zipcache: ``importlib.invalidate_caches()`` re-reads a zip archive on
sys.path only when the archive changed. No Spark needed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from goffish_v3_spark import zipcache


def _write_zip(path, members):
    # fixed member timestamps: equal members give a byte-identical archive
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0)), src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a.py": "VALUE = 1\n"})
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zc_mod_a", "zc_mod_b", "zc_mod_c"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch, archive):
    calls = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_package_import_installs_wrapper():
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
    # a reloaded module must wrap the interpreter's method, not the wrapper
    importlib.reload(zipcache)
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
    assert zipcache.invalidate_caches.__wrapped__.__module__ == "zipimport"


def test_rewritten_archive_is_reread(zip_on_path):
    archive = zip_on_path
    assert importlib.import_module("zc_mod_a").VALUE == 1
    importlib.invalidate_caches()

    # a new member grows the archive
    _write_zip(archive, {"zc_mod_a.py": "VALUE = 1\n", "zc_mod_b.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_b").VALUE == 2

    # same size, new mtime: a member renamed to a name of equal length
    size = os.path.getsize(archive)
    mtime = os.stat(archive).st_mtime_ns
    _write_zip(archive, {"zc_mod_a.py": "VALUE = 1\n", "zc_mod_c.py": "VALUE = 3\n"})
    os.utime(archive, ns=(mtime + 10**9, mtime + 10**9))
    assert os.path.getsize(archive) == size
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_c").VALUE == 3


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    archive = zip_on_path
    importlib.import_module("zc_mod_a")
    calls = _count_reads(monkeypatch, archive)
    # the first call has no stamp to compare against and reads once
    importlib.invalidate_caches()
    assert len(calls) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(calls) == 1


def test_unstattable_archive_falls_back(zip_on_path, monkeypatch):
    archive = zip_on_path
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch, archive)
    os.remove(archive)
    # the original method runs: it fails to read and empties the directory
    importlib.invalidate_caches()
    assert len(calls) == 1
    assert archive not in zipimport._zip_directory_cache


def test_spark_workers_run_the_wrapper(spark):
    """A worker imports the package when it unpickles an engine kernel, so
    its next task's ``importlib.invalidate_caches()`` goes through the
    wrapper. The probe is a closure (pickled by value), so only the kernel
    it calls brings the package into the worker."""
    from goffish_v3_spark.plans.csr import _build_block

    rows = [(1, 2, 1.0, 0, 0, "e"), (1, 1, 0.0, 0, 0, "v"), (2, 2, 0.0, 0, 0, "v")]
    tagged = spark.createDataFrame(
        rows, "src long, dst long, w double, part int, dst_part int, kind string"
    )

    def probe(pdf):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return _build_block(pdf)[["part", "n_edges"]].assign(
            wrapper=f"{fn.__module__}.{fn.__qualname__}"
        )

    for _ in range(2):
        got = (
            tagged.groupBy("part")
            .applyInPandas(probe, "part int, n_edges long, wrapper string")
            .collect()
        )
        assert [tuple(r) for r in got] == [
            (0, 1, "goffish_v3_spark.zipcache.invalidate_caches")
        ]
