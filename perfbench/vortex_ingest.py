"""Workload ``vortex_ingest``: the VTX1 file path, then the ingest chain.

A pass runs the VTX1 part (``vortex_scan.VortexPart``: COPY of the
TPC-H tables, TPC-H SQL over VTX1 views, pushed-down key lookups)
and then the chain part (``ingest_chain.ChainPart``: micro-batches of
the exact → near-dup → semantic chain over VTX1 state stores). It
exercises ``sources.vortex``, ``sources.vortex_format`` and
``streaming`` and bypasses the catalog builders. Its operation for
``op_cpu_p50_s`` is one chain batch. The two parts share one workload
because a run of each costs a JVM start and set-up that the
benchmark's time budget does not allow three times over.
"""

from __future__ import annotations

import datagen
import ingest_chain
import vortex_scan
from common import median

TABLES = vortex_scan.TABLES + ingest_chain.TABLES
LAYER_METRICS = vortex_scan.LAYER_METRICS + ingest_chain.LAYER_METRICS


def setup(ctx, data_dir: str) -> None:
    from duckdb_vortex_spark import catalog
    from duckdb_vortex_spark.sources import vortex

    datagen.write(data_dir, ctx.sf, TABLES)
    vortex.register(ctx.spark)
    for t in TABLES:
        catalog.load(ctx.spark, data_dir, t).createOrReplaceTempView(t)


def run(ctx) -> dict:
    vtx = vortex_scan.VortexPart(ctx)
    ctx.log("VTX1 part ready")
    chain = ingest_chain.ChainPart(ctx)
    out = {"pass_walls": [], "pass_cpus": []}
    ctx.log("warmed up")

    def one_pass() -> None:
        with ctx.tracer.span("pass", "perfbench") as p:
            vtx.run_pass()
            chain.run_pass()
        out["pass_walls"].append(p["wall"])
        out["pass_cpus"].append(p["cpu"])

    ctx.repeat(one_pass)
    chain.close()
    out["pass_cpu_s"] = median(out["pass_cpus"])
    out["op_cpu_p50_s"] = median([s["cpu"] for s in chain.batches])
    out["attempted"] = vtx.attempted + chain.attempted
    out["failed"] = vtx.failed + chain.failed
    if ctx.tracer.enabled:
        out["layers"] = {**vtx.layers(chain.state_store_files()), **chain.layers()}
    return out
