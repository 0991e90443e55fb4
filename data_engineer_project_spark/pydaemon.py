"""Spark's Python worker daemon, minus the zip directory re-reads.

``session._BUILD_CONF`` names this module as ``spark.python.daemon.module``,
so the JVM starts it as ``python -m data_engineer_project_spark.pydaemon
pyspark.worker``. It changes one stdlib method and then runs
``pyspark.daemon.manager()`` unchanged; every worker it forks inherits
the change.

Why: before each task a pyspark worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). Up to Python 3.12,
``zipimporter.invalidate_caches`` re-parses the archive's central
directory eagerly, once per cached importer: ``pyspark.zip`` (1,328
entries) has about 16 of them, one per imported subpackage, so a warm
worker spent 0.2-0.25 s of CPU per task reading an archive that had not
changed. Here an importer re-reads its archive only when the file's
``(st_mtime_ns, st_size)`` differs from the stamp of its last read;
otherwise it points at the directory already cached for that archive.
A rewritten archive, or a new ``addPyFile`` zip at a new path, is still
read fresh. Python 3.13 made the stdlib re-read lazy, so there this
module only starts the daemon.

Nothing here may print to stdout: the daemon reports its port there.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when it was last read here;
# per process, beside the stdlib's own zipimport._zip_directory_cache
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a rewrite during it shows up next time
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Replace the stdlib method where it re-reads eagerly (Python < 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    # read and stamp each archive once here, so forked workers start warm
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
