"""Shared pieces of the benchmark: run environment, Spark lifecycle,
spans, result canonicalization and small statistics helpers."""

from __future__ import annotations

import math
import os
import resource
import statistics
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem_gib() -> int:
    """A quarter of physical memory, between 1 and 4 GiB: the program's
    own default (24g) is sized for a much larger machine."""
    total_kib = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kib = int(line.split()[1])
    return max(1, min(4, total_kib // (4 * 1024 * 1024)))


def set_run_environment(run_dir: str) -> dict[str, str]:
    """Environment for the Spark JVM and its Python workers; must run
    before the JVM starts. Every scratch path points inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    mem = f"{driver_mem_gib()}g"
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        # the Python workers import the package when they run the VTX1
        # writer/reader; they do not inherit the driver's sys.path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # C1-only JIT: with the C2 compiler the JVM kept recompiling for
        # many passes after warm-up, and the CPU time of a catalog_mix
        # pass varied from 8 to 15 s between passes; with C1 alone it
        # settles after one round, at 6-8 s
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
            f'-Xms{mem} -Xmn512m -XX:TieredStopAtLevel=1" '
            "pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and every
    live descendant (the Spark JVM and its Python workers), including the
    children each has reaped. Unlike wall time it leaves out the time a
    shared host gave the CPUs to other work."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        # ppid; utime, stime, cutime, cstime (clock ticks)
        procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs since boot
    (``steal`` in /proc/stat): time another guest ran on them."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


class Spark:
    """Owns the session and its JVM: ``stop()`` ends both and waits."""

    def __init__(self, app: str):
        from duckdb_vortex_spark.session import get_spark, quiet_accumulator_noise

        self.session = get_spark(app)
        quiet_accumulator_noise(self.session)
        self.sc = self.session.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> tuple[float, float]:
        """High-water resident set (MB) of the JVM and of this driver process."""
        jvm_kib = 0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kib = int(line.split()[1])
        self_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return jvm_kib / 1024.0, self_kib / 1024.0

    def stop(self) -> None:
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.session.stop()
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — never leave the JVM behind
                    proc.kill()
                    proc.wait()


_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


class Tracer:
    """Spans around the benchmark's calls into the program's layers.

    Every span measures its wall time and ``tree_cpu_s``. When enabled, a span also runs
    its Spark jobs under its own job group and, on exit, reads that
    group's jobs, stages and tasks from ``SparkContext.statusTracker()``
    (this works with the UI disabled). Counts are kept for the span's
    own jobs (``self_*``) and for the span with all its descendants.
    """

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc, self.run_id, self.enabled = sc, run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def _group(self, sid: int) -> str:
        return f"perfbench-{self.run_id}-{sid}"

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {"name": name, "layer": layer, **attrs}
        if not self.enabled:
            c, t = tree_cpu_s(), time.perf_counter()
            try:
                yield rec
            finally:
                rec["wall"] = time.perf_counter() - t
                rec["cpu"] = tree_cpu_s() - c
            return
        sid = len(self.spans)
        self.spans.append(rec)
        parent = self._stack[-1] if self._stack else None
        rec.update(id=sid, parent=parent, run_id=self.run_id, children=[])
        if parent is not None:
            self.spans[parent]["children"].append(sid)
        self._stack.append(sid)
        self.sc.setJobGroup(self._group(sid), name)
        cpu0 = tree_cpu_s()
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["wall"] = rec["end"] - rec["start"]
            rec["cpu"] = tree_cpu_s() - cpu0
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(self._group(parent), self.spans[parent]["name"])
            rec.update(self._counts(self._group(sid)))
            for k in _COUNTS:  # children have ended already
                rec[k] = rec[f"self_{k}"] + sum(self.spans[c][k] for c in rec["children"])

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped (shuffle output reused) or evicted
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return dict(zip((f"self_{k}" for k in _COUNTS), (len(jobs), stages, tasks, failed)))


def _canon_value(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canonical(pdf) -> tuple:
    """Order-insensitive form of a result: columns sorted by name,
    values as canonical strings, rows sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        tuple(_canon_value(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return tuple(pdf.columns), tuple(rows)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def oracle_results(ctx, tables, sqls: dict) -> dict:
    """Canonical DuckDB results of ``sqls`` over the parquet inputs in
    ``ctx.data_dir``. The inputs depend only on the scale factor and the
    generator, so results are cached under ``.work/oracle`` keyed by the
    generator source, the scale factor, the DuckDB version and the SQL."""
    import hashlib
    import json

    import duckdb

    with open(os.path.join(os.path.dirname(__file__), "datagen.py"), "rb") as fh:
        base = hashlib.sha256(fh.read() + f"|{ctx.sf}|{duckdb.__version__}|".encode())
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for key, sql in sqls.items():
        h = base.copy()
        h.update(sql.encode())
        path = os.path.join(cache, f"{h.hexdigest()}.json")
        if os.path.exists(path):
            with open(path) as fh:
                cols, rows = json.load(fh)
            out[key] = (tuple(cols), tuple(tuple(r) for r in rows))
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET enable_progress_bar = false")
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{ctx.data_dir}/{t}.parquet')"
                )
        out[key] = canonical(con.execute(sql).fetchdf())
        with open(path + ".tmp", "w") as fh:
            json.dump(out[key], fh)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out
