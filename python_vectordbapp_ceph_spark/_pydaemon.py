"""PySpark's Python worker daemon, minus a zip-archive re-read on every
task. ``get_spark`` sets it as ``spark.python.daemon.module``; the
JVM's worker-module argument passes through in ``sys.argv[1]``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task. Up to Python 3.12 a ``zipimporter`` answers that by
re-reading its archive's whole central directory, and a worker holds
one importer for each zip or jar on its path and for each subpackage
imported from them: 0.14-0.17 s per task before the UDF runs (Python
3.11, Spark 4.1, on a 4-core x86 host). Spark
never rewrites an archive already on a worker's path (``addPyFile``
adds a new path, which gets a new importer), so the cached directory
stays valid. Forked workers inherit the no-op. From 3.13 the method
only drops a cache entry, which the no-op skips to the same effect.
"""

import runpy
import zipimport


def _keep_archive_directory(self):
    """No-op ``zipimporter.invalidate_caches``."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_archive_directory
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
