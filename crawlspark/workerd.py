"""PySpark worker daemon that keeps zip-imported archives cached.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 that
re-reads the directory of every zip archive already imported from: with
``pyspark.zip`` on the worker path that is 16 reads of a 1,300-entry
directory, about 0.3 s before each task's first row (measured with
cProfile in a worker, 4-CPU host).  CPython 3.12 makes the re-read
lazy.  This daemon makes it a no-op for archives already read (they do
not change during a session; a newly added archive still gets a fresh
importer) and then runs the stock daemon, whose forked workers inherit
the patch.  Select it with
``spark.python.daemon.module=crawlspark.workerd``; the package must be
importable on the worker path, as the engine's UDFs already require.
"""

import zipimport


def _keep_read_directory(self) -> None:
    """zipimporter.invalidate_caches: keep the directory already read."""


zipimport.zipimporter.invalidate_caches = _keep_read_directory

from pyspark import daemon  # noqa: E402  (imported after the patch)

if __name__ == "__main__":
    daemon.manager()
