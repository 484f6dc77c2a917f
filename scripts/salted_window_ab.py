#!/usr/bin/env python
"""Salted-window A/B on the q21-class shape (VERDICT r12 next #6).

The r12 skew leg pinned the dilemma for same-key WINDOW consumers of
a skewed join: AQE's skew split breaks the clustering the window
needs (forced split = +34 % from the extra exchange), so the default
plan absorbs one fat task. This leg measures the documented escape —
``plans/skew.window_counts_hot_isolated`` (salted per-(key,salt)
totals for hot keys broadcast back; plain window for the cold tail) —
against plain absorb, on the q21-class PRIMITIVE where the window
partition is genuinely unbounded: order-level line/late counts
attached to every row of the lineitem⋈orders join output. (The
shipped q21 itself windows over per-(order,supplier) rows, whose
partitions are bounded by suppliers-per-order — that bound is WHY q21
absorbs well; the primitive here is the shape users hit when they
window the raw join output.)

Per replica dir (uniform ×8 control + ×8 at 15/30/50 % hot): one
fresh process; exact parity check between arms (full checksum), two
warmups per arm, then N interleaved rounds alternating absorb/salt
with the bench cleanup between runs. Medians + loadavg to stderr,
one JSON line to stdout.

Usage: python scripts/salted_window_ab.py [--k 8] [--rounds 5]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_PCTS = [0, 15, 30, 50]  # 0 = uniform control (the insurance premium)
HOT_ROW_THRESHOLD = 100_000  # ×8 hot key holds ≥ 0.15·4.8M ≈ 720k rows


AGGS = {"n_lines": ("*", "count"), "n_late": ("late", "sum")}


def _join_output(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from duckdb_vortex_spark.catalog import load

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").hint("merge")
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90)
        .cast("int")
        .alias("late"),
    )


# Each arm builds its OWN frames, and only the persisted arm calls
# persist() — and only at its own build time (r13 review: a
# shared _build_frames registered the persist at build of ALL arms,
# so whichever arm ran FIRST paid the cache build against a cached lo
# it never asked for, and after the first clean() the persisted arm
# ran cache-less, measuring identically to plain salt — the arms were
# mislabeled).
def _arm_absorb(spark, sf_dir: str):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lo = _join_output(spark, sf_dir)
    w = Window.partitionBy("l_orderkey")
    return lo.withColumn("n_lines", F.count("*").over(w)).withColumn(
        "n_late", F.sum("late").over(w)
    )


def _arm_salt(spark, sf_dir: str):
    from duckdb_vortex_spark.plans.skew import window_counts_hot_isolated

    return window_counts_hot_isolated(
        _join_output(spark, sf_dir), ["l_orderkey"], AGGS,
        hot_row_threshold=HOT_ROW_THRESHOLD,
    )


def _arm_salt_persisted(spark, sf_dir: str):
    # the practical form: persist the join output so the helper's two
    # consumers (totals pass + attach pass) pay the skewed join ONCE —
    # each timed run pays its own cache build (clean() drops it after)
    from duckdb_vortex_spark.plans.skew import window_counts_hot_isolated

    return window_counts_hot_isolated(
        _join_output(spark, sf_dir).persist(), ["l_orderkey"], AGGS,
        hot_row_threshold=HOT_ROW_THRESHOLD,
    )


ARMS = {
    "absorb": _arm_absorb,
    "salt": _arm_salt,
    "salt_persisted": _arm_salt_persisted,
}


def measure_main(sf_dir: str, rounds: int) -> None:
    from pyspark.sql import functions as F

    from bench import _materialize
    from duckdb_vortex_spark.session import get_spark, quiet_accumulator_noise

    spark = get_spark("dvs-salted-window")
    quiet_accumulator_noise(spark)

    def clean() -> None:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)

    # parity: both arms must agree on a full checksum, not just counts
    def checksum(df):
        h = F.pmod(
            F.xxhash64("l_orderkey", "l_suppkey", "late", "n_lines", "n_late"),
            F.lit(1 << 31),  # sum of n·2^31 stays far below 2^63 (ANSI)
        )
        return df.agg(F.count("*").alias("n"), F.sum(h).alias("h")).collect()[0]

    # parity across all three arms, each built in isolation
    sums = {}
    for name, build in ARMS.items():
        sums[name] = checksum(build(spark, sf_dir))
        clean()
    vals = {(r.n, r.h) for r in sums.values()}
    assert len(vals) == 1, f"arm mismatch: {sums}"
    ca = next(iter(sums.values()))

    # arms are BUILDERS: each timed run builds its own frame (plan
    # construction is ms), so the persisted arm registers its persist
    # inside its OWN run and clean() strips it right after — no arm
    # ever executes against another arm's cache (r13 review).
    for _ in range(2):  # warm all arms
        for build in ARMS.values():
            _materialize(build(spark, sf_dir))
            clean()
    runs: dict[str, list[float]] = {k: [] for k in ARMS}
    for _ in range(rounds):
        for name, build in ARMS.items():
            df = build(spark, sf_dir)
            t0 = time.monotonic()
            _materialize(df)
            runs[name].append(round(time.monotonic() - t0, 3))
            clean()
    out = {
        "rows": int(ca.n),
        "load": round(os.getloadavg()[0], 1),
        "runs": runs,
        "medians": {k: round(statistics.median(v), 3) for k, v in runs.items()},
    }
    spark.stop()
    print(json.dumps(out), flush=True)


def main() -> None:
    from scripts.skew_replica_leg import build_skew_dir
    from scripts.scale_amortization import build_replica_dir

    k = int(sys.argv[sys.argv.index("--k") + 1]) if "--k" in sys.argv else 8
    rounds = (
        int(sys.argv[sys.argv.index("--rounds") + 1])
        if "--rounds" in sys.argv
        else 5
    )
    results = {}
    for pct in HOT_PCTS:
        d = build_replica_dir(k) if pct == 0 else build_skew_dir(k, pct)
        label = "uniform" if pct == 0 else f"hot{pct}"
        print(f"-- {label}: {d} --", file=sys.stderr)
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--measure", d, str(rounds)],
            capture_output=True,
            text=True,
        )
        sys.stderr.write(p.stderr[-2000:] if len(p.stderr) > 2000 else p.stderr)
        if p.returncode != 0:
            print(f"{label} FAILED", file=sys.stderr)
            sys.exit(1)
        results[label] = json.loads(p.stdout.strip().splitlines()[-1])
        m = results[label]["medians"]
        print(
            f"   {label:8s} absorb={m['absorb']:7.3f}s salt={m['salt']:7.3f}s "
            f"salt_persisted={m['salt_persisted']:7.3f}s "
            f"(load {results[label]['load']})",
            file=sys.stderr,
        )
    print(json.dumps({"k": k, "rounds": rounds, "results": results}))


if __name__ == "__main__":
    if "--measure" in sys.argv:
        i = sys.argv.index("--measure")
        measure_main(sys.argv[i + 1], int(sys.argv[i + 2]))
    else:
        main()
