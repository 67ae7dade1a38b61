"""Backport of CPython gh-103200 (fixed in 3.12) for Python workers.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`worker_util.setup_spark_files`). On Python < 3.12 each
`zipimporter` then re-reads its archive's whole central directory: a
worker holds one importer per package path inside pyspark.zip (1,328
entries), and one call costs 80-180 ms of CPU on a 4-core x86 host.
Importing the package installs a wrapper that re-reads an archive only
when its (mtime, size) stamp changed since that importer's last
reload, or when it cannot be stat'ed. A UDF's unpickling imports the
package, so a reused worker runs every task after its first engine
task through the wrapper. On 3.12+ this module does nothing.
"""

import sys

if sys.version_info < (3, 12):
    import os
    import zipimport

    _reload = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamp = None
        else:
            stamp = (st.st_mtime_ns, st.st_size)
        if stamp is None or getattr(self, "_dir_stamp", None) != stamp:
            _reload(self)
            self._dir_stamp = stamp

    invalidate_caches.__doc__ = _reload.__doc__
    zipimport.zipimporter.invalidate_caches = invalidate_caches
