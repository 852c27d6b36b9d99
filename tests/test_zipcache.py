"""`chronon_spark.zipcache`: `importlib.invalidate_caches()` re-reads a zip
archive on `sys.path` only when the archive changed, and a Python worker
that runs its second task has the engine's method installed and parses no
zip entries at task set-up."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark import cloudpickle

from chronon_spark import zipcache

pytestmark = pytest.mark.skipif(
    not zipcache.EAGER, reason="the zip cache is installed only on CPython 3.11")


def _write_zip(path, pkg, modules):
    """A package `pkg` with sub-package `sub` holding `modules`."""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/sub/__init__.py", "")
        for m in modules:
            z.writestr(f"{pkg}/sub/{m}.py", f"NAME = {m!r}\n")


@pytest.fixture
def zips(tmp_path, monkeypatch):
    """Two archives on sys.path with sub-packages imported from each, the
    stdlib method restored afterwards, and `_read_directory` counted."""
    paths = {pkg: str(tmp_path / f"{pkg}.zip") for pkg in ("zca", "zcb")}
    for pkg, path in paths.items():
        _write_zip(path, pkg, ["m1"])
        monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipcache, "_stamps", {})
    for pkg in paths:
        assert importlib.import_module(f"{pkg}.sub.m1").NAME == "m1"

    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield paths, reads
    for name in [m for m in sys.modules if m.split(".")[0] in paths]:
        del sys.modules[name]
    for path in paths.values():
        zipimport._zip_directory_cache.pop(path, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]


def _importers(archive):
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive]


def _reads_per_archive(reads, paths):
    return {pkg: reads.count(path) for pkg, path in paths.items()}


def test_stdlib_rereads_every_importer(zips):
    """The cost the engine removes: one full re-read per importer."""
    paths, reads = zips
    importlib.invalidate_caches()
    assert _reads_per_archive(reads, paths) == {
        pkg: len(_importers(path)) for pkg, path in paths.items()}
    assert all(len(_importers(path)) == 3 for path in paths.values())


def test_unchanged_archive_is_not_reread(zips):
    paths, reads = zips
    assert zipcache.install()
    importlib.invalidate_caches()  # no stamp yet: one read per archive
    assert _reads_per_archive(reads, paths) == {"zca": 1, "zcb": 1}
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    for path in paths.values():
        for imp in _importers(path):
            assert imp._files is zipimport._zip_directory_cache[path]
    assert importlib.import_module("zcb.sub.m1").NAME == "m1"


def test_rewritten_archive_is_reread(zips):
    paths, reads = zips
    zipcache.install()
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(paths["zca"], "zca", ["m1", "m2"])
    importlib.invalidate_caches()
    assert reads == [paths["zca"]]
    for imp in _importers(paths["zca"]):
        assert os.path.join("zca", "sub", "m2.py") in imp._files
    assert importlib.import_module("zca.sub.m2").NAME == "m2"
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_deleted_archive_takes_the_stdlib_path(zips):
    paths, reads = zips
    zipcache.install()
    importlib.invalidate_caches()
    reads.clear()
    os.remove(paths["zcb"])
    importlib.invalidate_caches()
    # as in the stdlib: every importer tries to read, finds nothing, and
    # the cached directory is dropped
    assert _reads_per_archive(reads, paths) == {"zca": 0, "zcb": 3}
    assert paths["zcb"] not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in _importers(paths["zcb"]))
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zcb.sub.m2")
    # an archive that comes back is read again
    reads.clear()
    _write_zip(paths["zcb"], "zcb", ["m1", "m2"])
    importlib.invalidate_caches()
    assert _reads_per_archive(reads, paths) == {"zca": 0, "zcb": 1}
    assert importlib.import_module("zcb.sub.m2").NAME == "m2"


def test_driver_keeps_the_stdlib_method(spark):
    assert zipimport.zipimporter.invalidate_caches is zipcache._STDLIB
    assert not zipcache.install_in_worker()


def _probe(batches):
    """In a worker: is the engine's method installed, and how many zip
    entries does one `importlib.invalidate_caches()` parse?"""
    import importlib
    import os
    import sys
    import zipimport

    import pyarrow as pa

    from chronon_spark import zipcache  # the engine package installs it

    for _ in batches:
        pass
    parsed = []
    real = zipimport._read_directory

    def counting(archive):
        files = real(archive)
        parsed.append(len(files))
        return files

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)]
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()],
        "installed": [zipimport.zipimporter.invalidate_caches
                      is zipcache._invalidate_caches],
        "parsed": [sum(parsed)],
        "zip_importers": [len(importers)],
    })


def test_reused_worker_parses_no_zip_entries(spark):
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        schema = "pid long, installed boolean, parsed long, zip_importers long"
        df = spark.range(1, numPartitions=1).mapInArrow(_probe, schema)
        # sequential one-task jobs: the JVM hands out idle workers in FIFO
        # order, so a worker comes back within a few jobs
        rows = [df.collect()[0] for _ in range(8)]
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[__name__])
    if not any(r.zip_importers for r in rows):
        pytest.skip("the Python workers import nothing from a zip archive")
    seen, reused = set(), []
    for r in rows:
        if r.pid in seen:
            reused.append(r)
        seen.add(r.pid)
    assert reused, rows
    for r in reused:
        assert r.installed and r.parsed == 0, rows
