"""The local sessions' Python worker daemon (``graphdatabase_spark._daemon``):
its archive rule, checked without patching this process, and the
workers a local session forks from it."""

import importlib.util
import os
import zipfile
import zipimport

from graphdatabase_spark import _daemon, session

STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(name, source)


def test_archive_is_reread_only_when_changed(tmp_path, monkeypatch):
    """An unchanged archive's directory is not read again; a rewritten
    one is, and its new module imports; a missing one finds nothing.
    Importing the module patched nothing."""
    assert zipimport.zipimporter.invalidate_caches is STDLIB_INVALIDATE
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))
    invalidate = _daemon._reads_if_changed(STDLIB_INVALIDATE)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"old_mod.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    invalidate(imp)                     # a new importer always reads
    reads.clear()
    invalidate(imp)
    invalidate(imp)
    assert reads == []
    assert imp.find_spec("new_mod") is None

    _write_zip(archive, {"old_mod.py": "X = 1\n", "new_mod.py": "X = 2\n"})
    invalidate(imp)
    assert reads == [archive]
    spec = imp.find_spec("new_mod")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.X == 2

    os.remove(archive)
    invalidate(imp)
    assert imp.find_spec("old_mod") is None
    assert zipimport.zipimporter.invalidate_caches is STDLIB_INVALIDATE


def test_local_masters_only_get_the_daemon():
    """A local master gets the daemon and the package root after the
    caller's executor PYTHONPATH; a cluster master keeps pyspark's."""
    conf = session.session_conf(
        "local[2]", {"spark.executorEnv.PYTHONPATH": "/caller/libs"})
    assert conf["spark.python.daemon.module"] == "graphdatabase_spark._daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ("/caller/libs", session._ROOT))
    assert session.session_conf("local")["spark.executorEnv.PYTHONPATH"] \
        == session._ROOT
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        conf = session.session_conf(master)
        assert "spark.python.daemon.module" not in conf, master
        assert "spark.executorEnv.PYTHONPATH" not in conf, master


def test_session_workers_skip_unchanged_archives(spark):
    """A task runs in a worker forked from the package's daemon, and
    ``importlib.invalidate_caches()`` there, as each task's setup calls
    it, reads no archive directory. A first call settles any importer
    this task's own imports made; the counted one is what every later
    task's setup pays."""
    def worker_state(_):
        import importlib
        import sys
        import zipimport
        reads = []
        read = zipimport._read_directory
        importlib.invalidate_caches()
        zipimport._read_directory = \
            lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(type(f).__name__ == "zipimporter"
                   for f in sys.path_importer_cache.values())
        return sys.modules["__main__"].__spec__.name, reads, zips

    [(main, reads, zips)] = (spark.sparkContext.parallelize([0], 1)
                             .map(worker_state).collect())
    assert main == "graphdatabase_spark._daemon"
    assert reads == []
    assert zips > 0    # the worker does import from Spark's archives
