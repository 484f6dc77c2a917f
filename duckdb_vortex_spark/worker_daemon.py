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

``freeze_worker_heap`` is the second per-task cost this module
removes: ``pyspark.daemon`` runs a full ``gc.collect()`` after every
task in a reused worker, and CPython runs full collections during a
task too. Each one walks every object the worker's imports left
behind; freezing them once moves them out of the collector's reach.

Removal plan, in two parts:

- the ``invalidate_caches`` patch: delete it, the
  ``spark.python.daemon.module`` line in ``session.get_spark`` and this
  module's ``__main__`` block once the supported Python is 3.13 or
  later, where the re-read is lazy;
- ``freeze_worker_heap`` does not depend on the Python version. It goes
  only if ``pyspark.daemon`` stops collecting after every task.
"""

import gc
import importlib
import os
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


# What sys.modules gains after the VTX1 source loads: in executor
# workers running VTX1 reads and writes, pandas (imported by pyspark's
# Arrow path), pyarrow.compute and the DataSource read helpers; in
# planning workers a few pyarrow modules, which these import too.
_VTX1_TASK_MODULES = (
    "pandas",
    "pyarrow.compute",
    "pyarrow.pandas_compat",
    "pyspark.sql.worker.plan_data_source_read",
)


def freeze_worker_heap():
    """Import what a VTX1 task uses, then ``gc.freeze()`` once, so the
    collections of a Python worker scan only what its tasks allocate.

    Only in a Spark Python worker: the worker factory puts
    ``PYTHON_WORKER_FACTORY_SECRET`` in the environment of the processes
    it starts, never in the driver's. Called when the VTX1 source is
    loaded, which happens in the forked worker, not in the daemon that
    forks it (importing pandas starts a thread, and the daemon must not
    fork with one). Not per task: a task's cyclic leftovers, frozen,
    could never be collected."""
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ or gc.get_freeze_count():
        return
    for name in _VTX1_TASK_MODULES:
        importlib.import_module(name)
    gc.freeze()


if __name__ == "__main__":
    # patch under the module's own name, so the import in
    # sources/vortex.py finds it in sys.modules and patches nothing twice
    import duckdb_vortex_spark.worker_daemon  # noqa: F401

    runpy.run_module("pyspark.daemon", run_name="__main__")
else:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches_except_spark
