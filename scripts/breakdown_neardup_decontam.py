"""Stage-level spread breakdown of contamination_neardup_eval
(VERDICT r7 finding #3 / next-round #3): the entry's same-session
min-to-max spread was 0.98 in BENCH_SPREADS.json — roughly 2x across
3 warm runs, the noisiest headline query — while every other entry
spread <= 0.57. This script names the unstable stage with numbers,
the cumulative-prefix method: time CUMULATIVE sub-plans of the
exact shipped plan (narrow projections so the noop sink measures the
operator, not serialization width), n warm runs each, and report
per-stage median AND per-stage spread. The stage whose cumulative
spread jumps is the unstable one.

Stages (cumulative prefixes of neardup_decontaminate):
  ebuild  eval signatures + band buckets (the broadcast side build)
  tsig    train minhash signatures (tokenize barrier + 32-hash fold)
  cand    + broadcast bucket join + candidate-pair distinct
  tsh     + id-semi-join prune + re-shingle candidates
  full    the shipped entry plan (verify join + max + final left join)

Usage: python scripts/breakdown_neardup_decontam.py [n]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.contamination import contamination_neardup_eval
from duckdb_vortex_spark.operators.dedup import (
    band_buckets,
    minhash_signatures,
    shingle_table,
)
from duckdb_vortex_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def stages(spark):
    d = load(spark, SF_DIR, "documents")
    train = d.filter(F.col("source") != "src0")
    eval_df = d.filter(F.col("source") == "src0")

    esig = minhash_signatures(eval_df, "text", "doc_id", 32, 3)
    ebuck = band_buckets(esig, 32, 2).withColumnRenamed("id", "doc_b")
    tsig = minhash_signatures(train, "text", "doc_id", 32, 3)
    tbuck = band_buckets(tsig.select("id", "mh"), 32, 2)
    cand = (
        tbuck.join(F.broadcast(ebuck.select("band", "h", "doc_b")), ["band", "h"])
        .select(F.col("id").alias("doc_a"), "doc_b")
        .distinct()
    )
    cand_train = train.join(
        cand.select(F.col("doc_a").alias("doc_id")).distinct(), "doc_id", "left_semi"
    )
    tsh = shingle_table(cand_train, "text", "doc_id", 3).select(
        F.col("id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    # narrow projections: force the compute, skip array serialization
    return {
        "ebuild": ebuck.select("band", "h", "doc_b"),
        "tsig": tsig.select("id", F.element_at("mh", 1).alias("m1")),
        "cand": cand,
        "tsh": tsh.select("doc_a", F.size("sh_a").alias("nsh")),
        "full": contamination_neardup_eval(spark, SF_DIR),
    }


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("dvs-breakdown-neardup-decontam")
    out = {"op": "contamination_neardup_eval", "sf_dir": SF_DIR, "n": n, "stages": {}}
    for name, df in stages(spark).items():
        materialize(df)  # warm
        runs = []
        for _ in range(n):
            t0 = time.monotonic()
            materialize(df)
            runs.append(round(time.monotonic() - t0, 4))
        mn, md, mx = min(runs), statistics.median(runs), max(runs)
        out["stages"][name] = {
            "runs": runs,
            "median": md,
            "spread": round((mx - mn) / mn, 3),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
