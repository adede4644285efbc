"""Python worker daemon for local sessions: pyspark's own daemon, except
that a zip archive's directory is re-read only when the archive changed.

Every Python-worker task starts in ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes
each ``zipimporter`` re-read its archive's whole central directory: a
worker holds one per package dir it imported from Spark's
``pyspark.zip`` (16), so every task decoded its 1,328-entry directory
16 times again, about 0.1 s of CPU. Spark's archives never change
while a worker lives.

Run as ``python -m graphdatabase_spark._daemon``; importing the module
patches nothing.
"""

import os
import zipimport


def _reads_if_changed(stdlib):
    """``zipimporter.invalidate_caches`` that calls ``stdlib`` only when
    the archive's (mtime_ns, size) differs from this importer's last
    read. A missing archive or a new importer always goes to ``stdlib``."""
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            stdlib(self)
            self._read_stamp = stamp
    return invalidate_caches


def _main():
    zipimport.zipimporter.invalidate_caches = _reads_if_changed(
        zipimport.zipimporter.invalidate_caches)
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    _main()
