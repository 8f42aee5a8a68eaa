"""The workers' fork server (gdal_spark/_daemon.py): a zip on sys.path is
re-read only when the file has changed, and get_spark selects the module
for local masters."""

import importlib.util
import os
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

import gdal_spark
from gdal_spark.session import get_spark


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for name, src in modules.items():
            z.writestr(zipfile.ZipInfo(f"{name}.py", (2020, 1, 1, 0, 0, 0)), src)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard as the fork server does, count archive reads."""
    from gdal_spark import _daemon

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(_daemon, "_read_stamp", {})
    return reads


def test_guard_rereads_only_a_changed_archive(tmp_path, guarded):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"a": "X = 1\n"})
    try:
        imp, other = zipimport.zipimporter(path), zipimport.zipimporter(path)
        assert _load(imp, "a").X == 1
        guarded.clear()  # the constructor read the archive
        imp.invalidate_caches()  # first call: no stamp yet, one read
        assert guarded == [path]

        # unchanged: the same directory object, no read
        files = imp._files
        imp.invalidate_caches()
        other.invalidate_caches()
        assert guarded == [path] and imp._files is files

        # rewritten with a new module (new size): re-read once, and the
        # second importer of the archive picks up the new directory
        _write_zip(path, {"a": "X = 1\n", "b": "Y = 2\n"})
        imp.invalidate_caches()
        other.invalidate_caches()
        assert guarded == [path, path]
        assert _load(imp, "b").Y == 2 and _load(other, "b").Y == 2

        # rewritten at the same size, told apart by its mtime
        st = os.stat(path)
        _write_zip(path, {"a": "X = 3\n", "b": "Y = 2\n"})
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert os.stat(path).st_size == st.st_size
        imp.invalidate_caches()
        assert len(guarded) == 3 and _load(imp, "a").X == 3

        # deleted: the cache is dropped, as zipimporter's own method does
        os.remove(path)
        imp.invalidate_caches()
        assert imp._files == {} and path not in zipimport._zip_directory_cache
        assert imp.find_spec("a") is None
    finally:
        zipimport._zip_directory_cache.pop(path, None)


def test_workers_do_not_reread_zips(spark):
    """Inside a worker, invalidating import caches reads no archive (Spark's
    default daemon re-reads pyspark.zip, py4j and the spark-core jar: 16
    reads a call)."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = [0]
        read_directory = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        guard = getattr(zipimport.zipimporter.invalidate_caches, "stat_guard", False)
        yield pd.DataFrame({"reads": [reads[0]], "guard": [guard]})

    rows = (spark.range(4, numPartitions=2)
            .mapInPandas(probe, "reads long, guard boolean").collect())
    assert [(r.reads, r.guard) for r in rows] == [(0, True), (0, True)]


def _builder_options(monkeypatch, **kw):
    class Captured:
        def __init__(self, options):
            self.options = dict(options)
            self.sparkContext = self

        def setLogLevel(self, level):
            pass

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: Captured(self._options))
    return get_spark(**kw).options


def test_get_spark_sets_daemon_for_local_masters(monkeypatch):
    opts = _builder_options(monkeypatch, master="local[2]")
    assert opts["spark.python.daemon.module"] == "gdal_spark._daemon"
    root = os.path.dirname(os.path.dirname(os.path.abspath(gdal_spark.__file__)))
    assert opts["spark.executorEnv.PYTHONPATH"] == root

    opts = _builder_options(monkeypatch, master="local[2]",
                            extra={"spark.python.daemon.module": "pyspark.daemon"})
    assert opts["spark.python.daemon.module"] == "pyspark.daemon"

    opts = _builder_options(monkeypatch, master="spark://cluster:7077")
    assert "spark.python.daemon.module" not in opts
    assert "spark.executorEnv.PYTHONPATH" not in opts
