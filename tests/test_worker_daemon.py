"""Worker daemon: the stamp-guarded ``zipimporter.invalidate_caches``.

The first group calls ``invalidate_if_changed`` on its own importer and
needs no Spark; importing the module does not install the patch. The
second group checks the installed patch inside real ``mapInPandas``
workers of the ``get_spark`` session.
"""

import os
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from gpq_tiles_spark.worker_daemon import _stock_invalidate, invalidate_if_changed


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def read_counter(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_import_does_not_patch_process():
    assert zipimport.zipimporter.invalidate_caches is _stock_invalidate


def test_unchanged_archive_is_not_reread(tmp_path, read_counter):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    zi = zipimport.zipimporter(path)
    invalidate_if_changed(zi)  # first call records the stamp
    read_counter.clear()
    for _ in range(5):
        invalidate_if_changed(zi)
    assert read_counter == []
    assert zi.find_spec("mod_a") is not None


def test_rewritten_archive_is_reread(tmp_path, read_counter):
    path = str(tmp_path / "b.zip")
    _write_zip(path, {"mod_b1": "X = 1\n"})
    zi = zipimport.zipimporter(path)
    invalidate_if_changed(zi)
    assert zi.find_spec("mod_b2") is None
    _write_zip(path, {"mod_b1": "X = 1\n", "mod_b2": "Y = 2\n"})
    read_counter.clear()
    invalidate_if_changed(zi)
    assert read_counter == [path]
    assert zi.find_spec("mod_b2") is not None
    read_counter.clear()
    invalidate_if_changed(zi)
    assert read_counter == []


def test_deleted_archive_behaves_as_stock(tmp_path, read_counter):
    results = []
    for method in (_stock_invalidate, invalidate_if_changed):
        path = str(tmp_path / f"c_{method.__name__}.zip")
        _write_zip(path, {"mod_c": "X = 1\n"})
        zi = zipimport.zipimporter(path)
        invalidate_if_changed(zi)
        os.remove(path)
        read_counter.clear()
        method(zi)
        results.append((len(read_counter), zi._files,
                        path in zipimport._zip_directory_cache,
                        zi.find_spec("mod_c")))
    assert results[0] == results[1] == (1, {}, False, None)


def _zip_reads(batches):
    """One row per task: the installed method's name, then the zip
    directory reads done by ``importlib.invalidate_caches()`` and by the
    stock method over the same importers."""
    import importlib as il
    import sys
    import zipimport as zi_mod

    for _ in batches:
        pass
    installed = zi_mod.zipimporter.invalidate_caches
    stock = installed.__globals__.get("_stock_invalidate", installed)
    calls = []
    real = zi_mod._read_directory
    zi_mod._read_directory = lambda a: (calls.append(a), real(a))[1]
    try:
        il.invalidate_caches()
        installed_reads = len(calls)
        calls.clear()
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zi_mod.zipimporter):
                stock(finder)
        stock_reads = len(calls)
    finally:
        zi_mod._read_directory = real
    yield pd.DataFrame({"method": [installed.__name__],
                        "installed": [installed_reads],
                        "stock": [stock_reads]})


needs_daemon = pytest.mark.skipif(
    bool(os.environ.get("SPARK_GRAFT_NO_DAEMON_PRELOAD")),
    reason="SPARK_GRAFT_NO_DAEMON_PRELOAD selects Spark's stock daemon")


@needs_daemon
def test_session_uses_worker_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "gpq_tiles_spark.worker_daemon"


@needs_daemon
def test_warm_task_does_no_zip_directory_reads(spark):
    df = spark.range(0, 4, numPartitions=4)
    schema = "method string, installed long, stock long"
    df.mapInPandas(_zip_reads, schema).collect()  # warm the workers
    out = df.mapInPandas(_zip_reads, schema).toPandas()
    print(f"zip directory reads per warm task: installed "
          f"{out.installed.tolist()}, stock {out.stock.tolist()}")
    assert set(out.method) == {"invalidate_if_changed"}
    assert out.installed.tolist() == [0] * 4
    assert (out.stock > 0).all()


def test_add_py_file_after_warm_workers_is_importable(spark, tmp_path):
    df = spark.range(0, 4, numPartitions=4)
    df.mapInPandas(_zip_reads, "method string, installed long, stock long").collect()
    mod = f"gpq_daemon_probe_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{mod}.zip")
    _write_zip(path, {mod: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def use_probe(batches):
        import importlib as il

        value = il.import_module(mod).VALUE
        for b in batches:
            yield pd.DataFrame({"v": [value] * len(b)})

    out = df.mapInPandas(use_probe, "v long").toPandas()
    assert out.v.tolist() == [42] * 4
