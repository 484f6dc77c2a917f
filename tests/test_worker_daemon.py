"""The engine's Python worker daemon (``duckdb_vortex_spark.worker_daemon``)
and the worker environment ``get_spark`` sets up.

The daemon stops ``importlib.invalidate_caches()`` from re-reading
Spark's own archives (the zips ``pyspark`` and ``py4j`` are imported
from, and the jars on the worker path), and leaves every other
archive's stock re-read in place."""

from __future__ import annotations

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
