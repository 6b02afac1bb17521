"""The package's Python worker daemon: zip importers re-read an archive
only when it changed on disk, Spark tasks run under the patched
importer, and get_spark picks the daemon only where it can start."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from coa_codesearch_mcp_spark import session, worker_daemon

PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("wd_probe.py", f"VALUE = {value}\n")


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, "1")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        if archive == zpath:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(zpath)
    monkeypatch.delitem(sys.modules, "wd_probe", raising=False)
    try:
        assert importlib.import_module("wd_probe").VALUE == 1
        importlib.invalidate_caches()  # the importer records the archive's identity
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(zpath, "22")  # new content, new size
        importlib.invalidate_caches()
        assert reads == [zpath]
        del sys.modules["wd_probe"]
        assert importlib.import_module("wd_probe").VALUE == 22
    finally:
        sys.modules.pop("wd_probe", None)
        sys.path_importer_cache.pop(zpath, None)


def test_tasks_run_under_the_patched_importer(spark):
    """A mapInArrow task sees the package's invalidate_caches (before
    CPython 3.13, which made the stock one lazy)."""
    import pyarrow as pa

    if spark.conf.get("spark.python.daemon.module") != session.WORKER_DAEMON:
        pytest.skip("the package is not on the Python workers' import path")

    def probe(batches):
        import zipimport as zi

        from coa_codesearch_mcp_spark import worker_daemon as wd

        patched = zi.zipimporter.invalidate_caches is wd.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"patched": [patched]})

    got = spark.range(1).repartition(1).mapInArrow(probe, "patched boolean").collect()
    assert [r["patched"] for r in got] == [sys.version_info < (3, 13)]


def test_daemon_gate():
    other = os.path.dirname(PACKAGE_PARENT)
    worker, stock = session.WORKER_DAEMON, session.STOCK_DAEMON
    gate = session.python_daemon_module
    assert gate("local[4]", cwd=PACKAGE_PARENT, pythonpath="") == worker
    assert gate("local", cwd=PACKAGE_PARENT, pythonpath="") == worker
    assert gate("local[*]", cwd=other, pythonpath=os.pathsep.join(["/nonexistent", PACKAGE_PARENT])) == worker
    # the package is not importable where the daemon starts
    assert gate("local[4]", cwd=other, pythonpath="") == stock
    assert gate("local[4]", cwd=other, pythonpath=os.path.join(PACKAGE_PARENT, "tests")) == stock
    # workers on other hosts or JVMs get the package only via --py-files
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"):
        assert gate(master, cwd=PACKAGE_PARENT, pythonpath=PACKAGE_PARENT) == stock
