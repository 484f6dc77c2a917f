"""Benchmark entry point.

    python3 perfbench/run.py --workload <catalog_mix|vortex_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process drives Spark ``local[nproc]``
as a single closed-loop client. The run generates its inputs, sets
them up three times (``setup_s`` is the median), warms up, then
repeats passes of the workload until ``--seconds`` have elapsed (at
least one pass), checks every result, and prints one JSON object as
the last line of stdout. The timed metrics are CPU seconds of the
benchmark's process tree (``common.tree_cpu_s``); the wall times are
on the line before the result. ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json; ``--trace 1`` records a span around every call into
a layer, writes them to ``perfbench/.work/spans/`` and reports the
per-layer metrics: those of the workload and the common ones, with the
other workload's metrics reported as 0 and listed as ``not_measured``
on the line before the result. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
from types import SimpleNamespace

import common

WORKLOADS = ("catalog_mix", "vortex_ingest")
# per-layer metrics every workload measures; the rest belong to the
# workload module that names them in its LAYER_METRICS
COMMON_LAYER_METRICS = ("spark.jobs", "spark.tasks", "spark.failed_tasks", "trace.pass_cpu_s", "error_rate")
SETUP_REPEATS = 3
T0 = time.perf_counter()


def _spec() -> dict:
    path = os.path.join(common.ROOT, "BENCHMARK.json")
    with open(path) as fh:
        return json.load(fh)


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(common.ROOT, "duckdb_vortex_spark")):
        _log("the duckdb_vortex_spark package is not next to perfbench/")
        return 2
    spec = _spec()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(common.WORK, run_id)
    env = common.set_run_environment(run_dir)
    sys.path.insert(0, common.ROOT)
    load_start = common.loadavg()
    t_start = time.perf_counter()

    mod = importlib.import_module(args.workload)
    spark = common.Spark(f"perfbench-{args.workload}")
    _log("spark up")
    try:
        ctx = SimpleNamespace(
            spark=spark.session,
            tracer=common.Tracer(spark.sc, run_id, bool(args.trace)),
            seed=args.seed,
            sf=args.sf,
            cpus=int(env["SPARK_GRAFT_CPUS"]),
            run_dir=run_dir,
            log=_log,
        )
        setup_walls, setup_cpus = [], []
        for i in range(SETUP_REPEATS):
            ctx.data_dir = os.path.join(run_dir, f"data-{i}")
            c0, t0 = common.tree_cpu_s(), time.perf_counter()
            mod.setup(ctx, ctx.data_dir)
            setup_walls.append(time.perf_counter() - t0)
            setup_cpus.append(common.tree_cpu_s() - c0)

        def repeat(one_pass) -> None:
            t0 = time.perf_counter()
            one_pass()
            while time.perf_counter() - t0 < args.seconds:
                one_pass()

        ctx.repeat = repeat
        _log("set up")
        steal0 = common.steal_s()
        res = mod.run(ctx)
        steal = common.steal_s() - steal0
        _log(f"{len(res['pass_walls'])} passes done")
        jvm_mb, driver_mb = spark.peak_rss_mb()
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    not_measured = []
    if args.trace:
        values = dict(res["layers"])
        if set(values) != set(mod.LAYER_METRICS):
            raise RuntimeError(
                f"{args.workload} layer metrics differ from its LAYER_METRICS: "
                f"{sorted(set(values) ^ set(mod.LAYER_METRICS))}"
            )
        passes = [s for s in ctx.tracer.spans if s["name"] == "pass"]
        for k in ("jobs", "tasks", "failed_tasks"):
            values[f"spark.{k}"] = common.median([s[k] for s in passes])
        values["trace.pass_cpu_s"] = res["pass_cpu_s"]
        values["error_rate"] = failed / max(attempted, 1)
        wanted = spec["per_layer"]
        not_measured = [m["name"] for m in wanted if m["name"] not in values]
        values.update(dict.fromkeys(not_measured, 0.0))
        spans_dir = os.path.join(common.WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump(ctx.tracer.spans, fh)
    else:
        values = {
            "setup_s": common.median(setup_cpus),
            "pass_cpu_s": res["pass_cpu_s"],
            "op_cpu_p50_s": res["op_cpu_p50_s"],
            "peak_rss_mb": jvm_mb + driver_mb,
            "success_rate": 1.0 - failed / max(attempted, 1),
        }
        wanted = spec["end_to_end"]
        spans_path = None
    if set(values) != {m["name"] for m in wanted}:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ {m['name'] for m in wanted})}"
        )
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "sf": args.sf,
                "cores": ctx.cpus,
                "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
                "loadavg_start": load_start,
                "loadavg_end": common.loadavg(),
                "wall_s": round(time.perf_counter() - t_start, 3),
                "jvm_hwm_mb": round(jvm_mb, 1),
                "driver_hwm_mb": round(driver_mb, 1),
                "passes": len(res["pass_walls"]),
                "pass_walls": [round(w, 3) for w in res["pass_walls"]],
                "pass_cpus": [round(c, 2) for c in res["pass_cpus"]],
                "setup_walls": [round(w, 3) for w in setup_walls],
                "setup_cpus": [round(c, 2) for c in setup_cpus],
                "steal_s": round(steal, 2),
                "spans": spans_path and os.path.relpath(spans_path, common.ROOT),
                "not_measured": not_measured,
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
