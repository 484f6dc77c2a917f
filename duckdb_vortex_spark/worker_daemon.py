"""Python worker daemon for this engine's sessions (``spark.python.daemon.module``).

Spark calls ``importlib.invalidate_caches()`` in every Python task and
every Python-DataSource planning call (``worker_util.setup_spark_files``).
Before CPython 3.13 that makes each zipimporter re-read its whole
archive directory, and a worker holds about fifteen importers into
Spark's own archives: the ``pyspark`` and ``py4j`` zips and the
spark-core jar Spark lists on the worker path. Those archives cannot
change while the application runs, so importing this module makes
``invalidate_caches`` skip them; every other archive keeps the stock
re-read. Run as ``__main__``, it then runs ``pyspark.daemon`` unchanged
(which reads the worker module from argv[1]).

Removal plan: delete this module, the ``spark.python.daemon.module``
line in ``session.get_spark`` and the import in ``sources/vortex.py``
once the supported Python is 3.13 or later, where the re-read is lazy.
"""

import runpy
import sys
import zipimport

import py4j
import pyspark

_SPARK_ARCHIVES = frozenset(
    m.__loader__.archive
    for m in (pyspark, py4j)
    if isinstance(m.__loader__, zipimport.zipimporter)
) | frozenset(p for p in sys.path if p.endswith(".jar"))
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_caches_except_spark(self):
    if self.archive not in _SPARK_ARCHIVES:
        _stock_invalidate_caches(self)


if __name__ == "__main__":
    # patch under the module's own name, so the import in
    # sources/vortex.py finds it in sys.modules and patches nothing twice
    import duckdb_vortex_spark.worker_daemon  # noqa: F401

    runpy.run_module("pyspark.daemon", run_name="__main__")
else:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches_except_spark
