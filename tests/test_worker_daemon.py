"""The engine's Python worker daemon (``duckdb_vortex_spark.worker_daemon``)
and the worker environment ``get_spark`` sets up.

The daemon stops ``importlib.invalidate_caches()`` from re-reading
Spark's own archives (the zips ``pyspark`` and ``py4j`` are imported
from, and the jars on the worker path), and leaves every other
archive's stock re-read in place. A Python worker that loads the VTX1
source freezes its import-time heap once (``freeze_worker_heap``); the
driver never does."""

from __future__ import annotations

import gc
import glob
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_LIB = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")


def _run(script: str, cwd: str, timeout: int, **env_over) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(env_over)
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_invalidate_caches_skips_only_spark_archives(tmp_path):
    """Without Spark: with pyspark imported from Spark's own zip and a
    jar on the path, the archive directories of the pyspark and py4j
    zips and of the jar survive ``importlib.invalidate_caches()``; a
    scratch zip that is rewritten with a new module still gets re-read,
    so the new module imports."""
    if not os.path.isfile(os.path.join(SPARK_LIB, "pyspark.zip")):
        pytest.skip("no pyspark.zip under $SPARK_HOME/python/lib")
    zips = sorted(glob.glob(os.path.join(SPARK_LIB, "*.zip")))
    script = f"""
        import importlib, os, sys, zipfile, zipimport
        tmp = {str(tmp_path)!r}
        jar = os.path.join(tmp, "spark-core.jar")
        with zipfile.ZipFile(jar, "w") as z:
            z.writestr("org/apache/spark/SparkContext.class", b"")
        sys.path[:0] = {zips!r} + [jar, {REPO!r}]
        import py4j, pyspark, pyspark.sql
        archives = [m.__loader__.archive for m in (pyspark, py4j)]
        assert all(a.endswith(".zip") for a in archives), archives

        import duckdb_vortex_spark.worker_daemon  # noqa: F401

        archives.append(jar)  # its importer was made while finding the package
        before = {{a: zipimport._zip_directory_cache[a] for a in archives}}
        scratch = os.path.join(tmp, "scratch.zip")
        with zipfile.ZipFile(scratch, "w") as z:
            z.writestr("dvs_probe_a.py", "A = 1\\n")
        sys.path.insert(0, scratch)
        import dvs_probe_a
        with zipfile.ZipFile(scratch, "w") as z:
            z.writestr("dvs_probe_a.py", "A = 1\\n")
            z.writestr("dvs_probe_b.py", "B = 2\\n")

        importlib.invalidate_caches()

        for a in archives:
            assert zipimport._zip_directory_cache[a] is before[a], a
        import dvs_probe_b
        assert dvs_probe_b.B == 2
        print("OK")
    """
    out = _run(script, cwd=str(tmp_path), timeout=120)
    assert out.returncode == 0 and out.stdout.strip() == "OK", out.stderr[-3000:]


def test_vtx1_source_import_applies_the_patch(tmp_path):
    """Spark forks DataSource planning workers from the stock
    ``pyspark.daemon``; loading the VTX1 source applies the same patch
    there, so a reused planning worker skips the re-reads too."""
    script = f"""
        import sys, zipimport
        sys.path.insert(0, {REPO!r})
        import duckdb_vortex_spark.sources.vortex  # noqa: F401
        print(zipimport.zipimporter.invalidate_caches.__module__)
    """
    out = _run(script, cwd=str(tmp_path), timeout=120)
    assert out.stdout.strip() == "duckdb_vortex_spark.worker_daemon", out.stderr[-3000:]


def test_vtx1_source_freezes_worker_heap_once(tmp_path):
    """Without Spark: in a process the worker factory started (it sets
    ``PYTHON_WORKER_FACTORY_SECRET``), loading the VTX1 source freezes
    the heap after importing what a VTX1 task uses; calling the freeze
    again moves nothing more into the permanent generation. In the
    driver (no secret) nothing is frozen."""
    script = f"""
        import gc, sys
        sys.path.insert(0, {REPO!r})
        from duckdb_vortex_spark import worker_daemon
        import duckdb_vortex_spark.sources.vortex  # noqa: F401
        first = gc.get_freeze_count()
        allocated_since = [dict(i=i) for i in range(10000)]  # a second freeze would take these
        worker_daemon.freeze_worker_heap()
        print(first, gc.get_freeze_count(), "pandas" in sys.modules)
    """
    out = _run(script, cwd=str(tmp_path), timeout=120, PYTHON_WORKER_FACTORY_SECRET="s")
    first, again, pandas_loaded = out.stdout.split()
    assert int(first) > 0 and int(again) == int(first), out.stderr[-3000:]
    assert pandas_loaded == "True"

    out = _run(script, cwd=str(tmp_path), timeout=120)
    assert out.stdout.split() == ["0", "0", "False"], out.stderr[-3000:]


def test_daemon_parent_loads_no_task_modules(tmp_path):
    """The daemon process forks every executor worker, so importing the
    daemon module must not import pandas (whose import starts a thread)
    or freeze anything: that happens in the forked worker."""
    script = f"""
        import gc, sys
        sys.path.insert(0, {REPO!r})
        import duckdb_vortex_spark.worker_daemon  # noqa: F401
        print(gc.get_freeze_count(), "pandas" in sys.modules, "pyarrow" in sys.modules)
    """
    out = _run(script, cwd=str(tmp_path), timeout=120, PYTHON_WORKER_FACTORY_SECRET="s")
    assert out.stdout.split() == ["0", "False", "False"], out.stderr[-3000:]


def test_workers_that_loaded_vtx1_stay_frozen(spark, tmp_path):
    """After VTX1 writes and reads, the Python workers that loaded the
    VTX1 source report a non-zero freeze count, and further tasks do
    not grow it (objects only leave the permanent generation, when
    freed). The probe is itself a Python DataSource, so its ``read()``
    runs in the executor workers that ran the VTX1 scans. Its
    ``partitions()`` runs in a planning worker, which Spark forks from
    the stock ``pyspark.daemon``; it loads the VTX1 source there. The
    driver stays unfrozen."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    from duckdb_vortex_spark.sources.vortex import register

    def worker_state():
        import gc
        import os
        import sys

        return (
            os.getpid(),
            gc.get_freeze_count(),
            "duckdb_vortex_spark.sources.vortex" in sys.modules,
        )

    class ProbeReader(DataSourceReader):
        def partitions(self):
            import duckdb_vortex_spark.sources.vortex  # noqa: F401

            planner = worker_state()
            # enough tasks to cycle through every idle worker in the pool
            return [InputPartition(planner) for _ in range(64)]

        def read(self, partition):
            yield ("planning", *partition.value)
            yield ("executor", *worker_state())

    class FreezeProbe(DataSource):
        @classmethod
        def name(cls):
            return "dvs_freeze_probe"

        def schema(self):
            return "role string, pid long, frozen long, vtx1 boolean"

        def reader(self, schema):
            return ProbeReader()

    register(spark)
    spark.dataSource.register(FreezeProbe)
    path = str(tmp_path / "vtx")
    df = spark.range(4000).withColumn("s", F.concat(F.lit("v"), F.col("id").cast("string")))

    def vtx1_round_trip():
        df.repartition(8).write.format("vortex").mode("overwrite").save(path)
        spark.read.format("vortex").load(path).where("id % 7 = 1").count()

    def probe():
        rows = spark.read.format("dvs_freeze_probe").load().collect()
        return {(r.role, r.pid): r.frozen for r in rows if r.vtx1}

    vtx1_round_trip()
    first = probe()
    assert {role for role, _pid in first} == {"planning", "executor"}, first
    assert all(n > 0 for n in first.values()), first
    vtx1_round_trip()
    second = probe()
    same = set(first) & set(second)
    assert same, (first, second)
    assert all(0 < second[w] <= first[w] for w in same), (first, second)
    assert gc.get_freeze_count() == 0


def test_session_workers_run_the_daemon(spark):
    """A Python UDF's worker forks from the engine's daemon, so it runs
    with the replaced ``zipimporter.invalidate_caches``."""

    @F.udf("string")
    def invalidate_caches_module(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.range(1).select(invalidate_caches_module("id")).first()[0]
    assert got == "duckdb_vortex_spark.worker_daemon"


def test_vtx1_roundtrip_from_any_working_directory(tmp_path):
    """A session started outside the repository with PYTHONPATH unset
    still finds the package in its workers: the VTX1 writer and reader
    run there, and so does the worker daemon."""
    out_dir = str(tmp_path / "rt")
    script = f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from duckdb_vortex_spark.session import get_spark
        from duckdb_vortex_spark.sources.vortex import register

        spark = get_spark("dvs-worker-path", cpus=2)
        register(spark)
        df = spark.range(1000).withColumn("s", F.col("id").cast("string"))
        df.write.format("vortex").mode("overwrite").save({out_dir!r})
        back = spark.read.format("vortex").load({out_dir!r})
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
        spark.stop()
        print("OK")
    """
    out = _run(script, cwd=str(tmp_path), timeout=300, SPARK_GRAFT_DRIVER_MEM="1g")
    assert out.returncode == 0 and out.stdout.strip().endswith("OK"), out.stderr[-3000:]
