"""The session's Python daemon: the patched zipimporter.invalidate_caches
(no Spark), the rule that picks the daemon, and a Python task's view of
the daemon in the test session."""

import importlib
import os
import sys
import zipfile
import zipimport

import ipfs_search_spark
from ipfs_search_spark import _pydaemon
from ipfs_search_spark.session import _DAEMON_MODULE, _daemon_conf


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path,
                                                        monkeypatch):
    """An archive is read again only when its (mtime, size) changed since
    the patch last read it, or when the patch has not read it yet."""
    reads = []
    stock_read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return stock_read(archive)

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"isx_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.stamped_invalidate_caches({}))
    for name in ("isx_zip_a", "isx_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("isx_zip_a").X == 1
        importer = sys.path_importer_cache[archive]
        reads.clear()
        importer.invalidate_caches()  # not seen by the patch: read
        assert reads == [archive]
        importer.invalidate_caches()  # unchanged: not read again
        assert reads == [archive]

        _write_zip(archive, {"isx_zip_a": "X = 1\n", "isx_zip_b": "Y = 2\n"})
        importer.invalidate_caches()  # rewritten at a new size: read
        assert reads == [archive, archive]
        assert importlib.import_module("isx_zip_b").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_install_stamps_archives_already_read(tmp_path, monkeypatch):
    """install() stamps every archive already in the directory cache, so
    the first invalidate_caches after it (a forked worker's first task)
    reads none of them."""
    reads = []
    stock_read = zipimport._read_directory
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"isx_zip_c": "Z = 3\n"})
    importer = zipimport.zipimporter(archive)  # caches the directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or stock_read(a))
    # restores the stock method after install() replaces it
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    try:
        stamps = _pydaemon.install()
        assert archive in stamps
        importer.invalidate_caches()
        assert reads == []
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_daemon_conf_rule(tmp_path):
    """The package's daemon only where a local worker can import it: the
    package loaded from a directory whose parent is the worker's cwd or on
    its PYTHONPATH. A package loaded from a zip (spark-submit --py-files,
    which puts the zip on the driver's PYTHONPATH) and every non-local
    master keep Spark's stock daemon."""
    pkg = os.path.dirname(os.path.abspath(ipfs_search_spark.__file__))
    root = os.path.dirname(pkg)
    on = {"spark.python.daemon.module": _DAEMON_MODULE}
    elsewhere = str(tmp_path)
    assert _daemon_conf("local[4]", pkg, root, "") == on
    assert _daemon_conf("local", pkg, elsewhere, root) == on
    assert _daemon_conf("local[*]", pkg, elsewhere,
                       os.pathsep.join([elsewhere, root])) == on
    assert _daemon_conf("local[2]", pkg, os.path.dirname(root),
                       os.path.basename(root)) == on
    assert _daemon_conf("local[4]", pkg, elsewhere, "") == {}
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]",
                   "k8s://https://host:443"):
        assert _daemon_conf(master, pkg, root, root) == {}, master

    zipped = str(tmp_path / "ipfs_search_spark.zip")
    _write_zip(zipped, {"ipfs_search_spark/__init__": "",
                        "ipfs_search_spark/_pydaemon": ""})
    zpkg = os.path.join(zipped, "ipfs_search_spark")
    assert _daemon_conf("local[4]", zpkg, elsewhere, zipped) == {}
    assert _daemon_conf("local[4]", zpkg, zipped, "") == {}


def test_session_runs_package_daemon(spark):
    """The test session's workers run the package's daemon: a Python task
    finds zipimporter.invalidate_caches patched and re-reads none of its
    worker's unchanged archives."""
    def _worker_view(it):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = []
        stock_read = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in it:
            pass
        patched = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({
            "fn": [patched.__code__.co_filename],
            "reads": [len(reads)],
            "zips": [sum(isinstance(v, zipimport.zipimporter)
                         for v in sys.path_importer_cache.values())]})

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == _DAEMON_MODULE
    row = spark.range(1, numPartitions=1).mapInPandas(
        _worker_view, "fn string, reads long, zips long").collect()[0]
    assert os.path.samefile(row["fn"], _pydaemon.__file__)
    assert row["zips"] > 0 and row["reads"] == 0
