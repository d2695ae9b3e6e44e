"""PySpark daemon entry point that skips re-reading unchanged zip archives.

Every Python task starts with ``importlib.invalidate_caches()``.  Before
Python 3.12 that makes each cached ``zipimporter`` (one per imported
``pyspark.zip`` subpackage) re-read the archive's whole directory, about
0.26 s per task on a 4-core VM with Python 3.11.  :func:`install`
re-reads an archive only when its stat stamp changed since that importer
last read it, so a changed archive is still picked up.  Run as
``python -m sketchlib._daemon`` (Spark's ``spark.python.daemon.module``):
it installs the wrapper before any worker is forked, then hands over to
``pyspark.daemon``.  Kept at the package top level so the daemon imports
no pandas or pyspark.sql.
"""

import os
import sys
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (Python < 3.12 only)."""
    if sys.version_info >= (3, 12):  # 3.12+ re-reads lazily on its own
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # install from the imported module, not this __main__ copy, so workers
    # can tell where the wrapper came from
    from sketchlib._daemon import install
    from pyspark.daemon import manager

    install()
    manager()
