"""Per-entry census of the catalog: one warm sf0.01 pass over EVERY
catalog entry, each entry's wall seconds and Spark jobs to
CATALOG_TIMES.json.

The session comes from ``get_spark``, so it carries the engine's
configs. Each entry runs once to warm up, then once measured: its
builder under one job group, then a ``noop`` write of the result under
another. Jobs are counted per group through ``statusTracker()``, so
``build_jobs`` are the jobs the builder itself runs (probes, fixpoint
loops, eager checkpoints, schema inference) and ``jobs`` adds the ones
the write runs. Wall time is one measured run (n=1), so only large
moves are signal; job counts are exact.

Usage:
    python scripts/catalog_times.py    # writes CATALOG_TIMES.json and
                                       # flags >=3x wall or any job gain
                                       # against the file it replaces
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.01"
OUT = ROOT / "CATALOG_TIMES.json"


def _jobs(sc, group: str, fn):
    """(fn(), the number of Spark jobs it ran under job group ``group``)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    prev = None
    if OUT.exists():
        try:
            prev = json.loads(OUT.read_text())
        except ValueError:
            prev = None

    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as E
    from duckdb_vortex_spark.session import get_spark

    spark = get_spark("catalog-times")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    qs = E.queries()
    rows: dict[str, dict] = {}
    errs: dict[str, str] = {}
    t0 = time.time()
    for i, (name, fn) in enumerate(qs.items()):
        try:
            _noop(fn(spark, SF_DIR))
            t_e = time.time()
            df, build_jobs = _jobs(sc, f"census-build-{name}", lambda: fn(spark, SF_DIR))
            _, run_jobs = _jobs(sc, f"census-run-{name}", lambda: _noop(df))
            rows[name] = {
                "wall": round(time.time() - t_e, 3),
                "jobs": build_jobs + run_jobs,
                "build_jobs": build_jobs,
            }
        except Exception as e:  # noqa: BLE001 — the census records, the gate judges
            errs[name] = f"{type(e).__name__}: {e}"
        if (i + 1) % 50 == 0:
            print(f"  {i + 1}/{len(qs)} ({time.time() - t0:.0f}s)", flush=True)

    doc = {
        "sf": 0.01,
        "cpus": sc.defaultParallelism,
        "note": "one warm-up, then one measured builder call plus noop write "
                "per entry; wall n=1 (treat <3x moves as noise), jobs exact",
        "total_sec": round(time.time() - t0, 1),
        "total_wall": round(sum(r["wall"] for r in rows.values()), 1),
        "total_jobs": sum(r["jobs"] for r in rows.values()),
        "total_build_jobs": sum(r["build_jobs"] for r in rows.values()),
        "entries": rows,
        "errors": errs,
    }
    OUT.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    print(f"wrote {OUT}: {len(rows)} entries, {doc['total_jobs']} jobs "
          f"({doc['total_build_jobs']} at build), wall {doc['total_wall']}s"
          + (f", {len(errs)} ERRORS" if errs else ""))
    top = sorted(rows.items(), key=lambda kv: -kv[1]["build_jobs"])[:10]
    print("  most build jobs: " + ", ".join(f"{n} {r['build_jobs']}" for n, r in top))

    old = (prev or {}).get("entries", {})
    moved = False
    for name, r in rows.items():
        p = old.get(name)
        if p is None:
            continue
        if p["wall"] > 0.05 and r["wall"] / p["wall"] >= 3.0:
            moved = True
            print(f"  REGRESSION? {name}: {p['wall']:.2f}s -> {r['wall']:.2f}s")
        if r["jobs"] > p["jobs"]:
            moved = True
            print(f"  MORE JOBS: {name}: {p['jobs']} -> {r['jobs']}")
    if old and not moved:
        print("  no >=3x wall regression and no job gain vs previous artifact")
    spark.stop()
    if errs:
        sys.exit(1)


if __name__ == "__main__":
    main()
