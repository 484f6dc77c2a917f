#!/usr/bin/env python
"""Per-stage wall breakdown of q21 at a replica scale (VERDICT r11
next #1, option b): the ×4/×8 head-to-head marginal ratio for
tpch_q21_waiting_supplier sat flat at ~4.4× where the amortization
thesis predicts falling — so either the ladder hadn't left the
fixed-floor regime (the ×16/×32 legs answer that) or a second
PER-ROW cost hides in one stage. This names the stage.

Method: time CUMULATIVE
sub-plans of each engine's exact shipped q21 at ×1 and ×K; the
consecutive deltas attribute wall to stages, and the per-stage ×1→×K
marginal ratio says which stage's residual does not amortize.

Spark stages (the shipped DataFrame decomposition, tpch.py):
  join    lineitem ⋈ orders merge-pinned SMJ + late projection (lo)
  persup  + groupBy(l_orderkey, l_suppkey) [sum(late), max(late)]
  ag      + groupBy(l_orderkey) [count(*), sum(sup_late)]
  full    + late-supplier filter ⋈ ag ⋈ supplier + final agg/sort/limit

DuckDB stages (the shipped oracle decomposition):
  join    the lo CTE
  ag      + the COUNT(DISTINCT) per-order aggregate
  full    the whole oracle

Spark materializes via the noop sink (bench.py convention: full
columns, no transfer). DuckDB stages are wrapped in a small
all-columns aggregate (sum/count per column) so projection pruning
cannot skip stage work and fetch cost stays O(1) — the closest
DuckDB analogue of noop.

Usage: python scripts/breakdown_q21_stages.py [--scale-dir DIR]
       (default DIR: /tmp/dvs_scale_amort/x8 — run
        scale_amortization.py --keep first to build it)
Prints one JSON line; readable table on stderr.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from duckdb_vortex_spark.catalog import load  # noqa: E402
from duckdb_vortex_spark.session import get_spark, quiet_accumulator_noise  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
X_DIR = "/tmp/dvs_scale_amort/x8"


def _lo(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").hint("merge")
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90)
        .cast("int")
        .alias("late"),
    )


def _per_sup(spark, sf_dir):
    return _lo(spark, sf_dir).groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("late").alias("n_late_lines"), F.max("late").alias("sup_late")
    )


def _ag(spark, sf_dir):
    return _per_sup(spark, sf_dir).groupBy("l_orderkey").agg(
        F.count("*").alias("nsup"), F.sum("sup_late").alias("nlate")
    )


def spark_stages():
    from duckdb_vortex_spark.queries.tpch import tpch_q21_waiting_supplier

    return {
        "join": _lo,
        "persup": _per_sup,
        "ag": _ag,
        "full": tpch_q21_waiting_supplier,
    }


_D_LO = """
  SELECT l_orderkey, l_suppkey,
         CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


def duck_stages(oracle_full: str) -> dict[str, str]:
    return {
        "join": f"SELECT count(*), sum(late), max(l_suppkey), max(l_orderkey) FROM ({_D_LO})",
        "ag": f"""WITH lo AS ({_D_LO})
            SELECT count(*), sum(nsup), sum(nlate), max(l_orderkey) FROM (
              SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS nsup,
                     COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nlate
              FROM lo GROUP BY 1)""",
        "full": oracle_full,
    }


def _median(fn, n=5, warm=2):
    for _ in range(warm):
        fn()
    out = []
    for _ in range(n):
        t0 = time.monotonic()
        fn()
        out.append(time.monotonic() - t0)
    return round(statistics.median(out), 4)


def measure_spark(sf_dir: str) -> dict[str, float]:
    spark = get_spark("q21-breakdown")
    quiet_accumulator_noise(spark)
    out = {}
    for name, b in spark_stages().items():
        out[name] = _median(
            lambda: b(spark, sf_dir).write.format("noop").mode("overwrite").save()
        )
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
        print(f"    spark {name:8s} {out[name]:7.3f}s", file=sys.stderr)
    spark.stop()
    return out


def measure_duck(sf_dir: str) -> dict[str, float]:
    from duckdb_vortex_spark import catalog

    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracle = catalog.oracle_sql()["tpch_q21_waiting_supplier"]
    out = {}
    for name, sql in duck_stages(oracle).items():
        out[name] = _median(lambda: con.execute(sql).fetchall())
        print(f"    duck  {name:8s} {out[name]:7.3f}s", file=sys.stderr)
    con.close()
    return out


def main() -> None:
    x_dir = (
        sys.argv[sys.argv.index("--scale-dir") + 1]
        if "--scale-dir" in sys.argv
        else X_DIR
    )
    if not os.path.isdir(x_dir):
        sys.exit(f"{x_dir} missing: run scale_amortization.py --keep first")
    # the ×1 baseline must be the duckdb-rewritten x1 dir, not the raw
    # testdata files (scale_amortization provenance rule)
    x1 = os.path.join(os.path.dirname(x_dir), "x1")
    if not os.path.isdir(x1):
        sys.exit(f"{x1} missing: run scale_amortization.py --keep first")

    res: dict[str, dict] = {}
    for label, d in (("x1", x1), ("xK", x_dir)):
        print(f"-- {label} ({d}) --", file=sys.stderr)
        res[label] = {"spark": measure_spark(d), "duck": measure_duck(d)}

    # stage deltas (cost attributed to the stage beyond its prefix)
    def deltas(t: dict[str, float], order: list[str]) -> dict[str, float]:
        out, prev = {}, 0.0
        for s in order:
            out[s] = round(t[s] - prev, 4)
            prev = t[s]
        return out

    s_order = ["join", "persup", "ag", "full"]
    d_order = ["join", "ag", "full"]
    table = {
        "spark_x1": deltas(res["x1"]["spark"], s_order),
        "spark_xK": deltas(res["xK"]["spark"], s_order),
        "duck_x1": deltas(res["x1"]["duck"], d_order),
        "duck_xK": deltas(res["xK"]["duck"], d_order),
    }
    print(f"\n{'stage':8s} {'spark x1':>9s} {'spark xK':>9s} {'marg':>7s}",
          file=sys.stderr)
    for s in s_order:
        m = table["spark_xK"][s] - table["spark_x1"][s]
        print(f"{s:8s} {table['spark_x1'][s]:9.3f} {table['spark_xK'][s]:9.3f} "
              f"{m:7.3f}", file=sys.stderr)
    print(f"{'stage':8s} {'duck x1':>9s} {'duck xK':>9s} {'marg':>7s}",
          file=sys.stderr)
    for s in d_order:
        m = table["duck_xK"][s] - table["duck_x1"][s]
        print(f"{s:8s} {table['duck_x1'][s]:9.3f} {table['duck_xK'][s]:9.3f} "
              f"{m:7.3f}", file=sys.stderr)
    print(json.dumps({"cumulative": res, "stage_deltas": table, "x_dir": x_dir},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
