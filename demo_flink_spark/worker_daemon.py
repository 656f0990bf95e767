"""Python worker daemon: the stock `pyspark.daemon`, minus the per-task
rescan of unchanged zip archives.

PySpark calls `importlib.invalidate_caches()` at the start of every
Python task (`pyspark.worker_util.setup_spark_files`), and each
`zipimporter` on `sys.path` answers by re-reading its archive's central
directory. Spark puts its `spark-core` jar (15 MB, 5359 entries, no
Python) on every worker's `PYTHONPATH`, beside `pyspark.zip`, py4j and
the shipped package zip: on 4 vCPUs that rescan cost a reused worker
~78 ms per task (~17 ms of it the jar) before the task reached engine
code (Python 3.11; 3.12 re-reads the same way, 3.13 on the next lookup;
SCALING.md, "Python task start").

`session.get_spark` names this module as `spark.python.daemon.module`.
Run as `__main__`, it patches the daemon process, whose forked workers
inherit the patch, and then hands over to `pyspark.daemon.manager()`.
Importing it changes nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Drop `*.jar` entries from `sys.path` (Spark's jar holds no Python
    module), and make `zipimporter.invalidate_caches` re-read an archive
    only when its `(st_mtime_ns, st_size)` differs from that
    importer's last read. The stamp is per importer: one archive has
    one importer per package directory, each holding its own copy of
    the directory. An archive that cannot be stat'ed is re-read, as
    stock. The closing `invalidate_caches()` stamps every importer
    that forked workers inherit."""
    for entry in [p for p in sys.path if p.endswith(".jar")]:
        sys.path.remove(entry)
        sys.path_importer_cache.pop(entry, None)

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
