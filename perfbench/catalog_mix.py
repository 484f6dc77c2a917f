"""Workload ``catalog_mix``: TPC-H catalog entries over parquet, in seeded order.

Exercises the ``catalog``/``queries`` layers (the entries' relational
plans). It reads no VTX1 file, runs no streaming chain and calls no
``operators`` kernel, so it is the control for format, chain and
operator changes.

One operation = ``catalog.queries()[name](spark, data_dir)`` plus
``toPandas()`` on its result; the collected rows are compared with the
entry's DuckDB oracle after the pass.

``pass_cpu_s`` is the median CPU time of a pass, and ``op_cpu_p50_s``
the median over the entries of each entry's median CPU time.
"""

from __future__ import annotations

import random

import datagen
from common import canonical, median, oracle_results

ENTRIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q21_waiting_supplier",
]
# the tables the entries read
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
WARMUP_ROUNDS = 3
LAYER_METRICS = (
    *(f"query.{n}_s" for n in ENTRIES),
    "catalog.build_s",
    "catalog.build_jobs",
)


def setup(ctx, data_dir: str) -> None:
    from duckdb_vortex_spark import catalog

    datagen.write(data_dir, ctx.sf, TABLES)
    catalog.register_views(ctx.spark, data_dir, TABLES)


def run(ctx) -> dict:
    from duckdb_vortex_spark import catalog
    from duckdb_vortex_spark.session import release_persisted

    spark, tr, d = ctx.spark, ctx.tracer, ctx.data_dir
    entries = catalog.entries()
    expected = oracle_results(ctx, TABLES, {n: entries[n].oracle for n in ENTRIES})
    rng = random.Random(ctx.seed)
    out = {"pass_walls": [], "pass_cpus": [], "attempted": 0, "failed": 0}
    per_entry: dict[str, list[float]] = {n: [] for n in ENTRIES}
    entry_cpu: dict[str, list[float]] = {n: [] for n in ENTRIES}
    build_s, build_jobs = [], []

    # warm-up: code generation on the first round; the CPU time of a
    # pass still falls for two more (6.7, 6.2, 5.7 s in one run), which
    # the timed passes would otherwise carry
    for _ in range(WARMUP_ROUNDS):
        for n in ENTRIES:
            try:
                entries[n].builder(spark, d).toPandas()
            except Exception as e:  # noqa: BLE001 — counted in the pass, not fatal
                ctx.log(f"warm-up {n} failed: {e!r}")
            release_persisted()
    ctx.log("warmed up")

    def one_pass() -> None:
        order = list(ENTRIES)
        rng.shuffle(order)
        results, walls, builds = {}, [], []
        with tr.span("pass", "perfbench", order=order) as p:
            for n in order:
                family = entries[n].family
                try:
                    with tr.span(n, family) as s:
                        with tr.span("build", "catalog") as b:
                            df = entries[n].builder(spark, d)
                        with tr.span("materialize", family):
                            results[n] = df.toPandas()
                    walls.append(s["wall"])
                    per_entry[n].append(s["wall"])
                    entry_cpu[n].append(s["cpu"])
                    builds.append(b)
                except Exception as e:  # noqa: BLE001
                    ctx.log(f"{n} failed: {e!r}")
                release_persisted()
        out["attempted"] += len(order)
        for n in order:
            if n not in results or canonical(results[n]) != expected[n]:
                out["failed"] += 1
                ctx.log(f"{n}: result differs from its DuckDB oracle")
        out["pass_walls"].append(sum(walls))
        out["pass_cpus"].append(p["cpu"])
        build_s.append(sum(b["wall"] for b in builds))
        build_jobs.append(sum(b.get("self_jobs", 0) for b in builds))

    ctx.repeat(one_pass)
    out["pass_cpu_s"] = median(out["pass_cpus"])
    out["op_cpu_p50_s"] = median([median(c) for c in entry_cpu.values() if c])
    if ctx.tracer.enabled:
        out["layers"] = {f"query.{n}_s": median(w) for n, w in per_entry.items()}
        out["layers"]["catalog.build_s"] = median(build_s)
        out["layers"]["catalog.build_jobs"] = median(build_jobs)
    return out
