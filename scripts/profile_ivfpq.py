"""Stage-level breakdown of similarity_ivfpq_ann: time the index
build (materialize cand), then the probe, separately — same session,
noop sink. Usage: python scripts/profile_ivfpq.py [n]"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _materialize  # noqa: E402
from duckdb_vortex_spark.catalog import load  # noqa: E402
from duckdb_vortex_spark.operators.similarity import (  # noqa: E402
    PQ_COMPACT,
    ivfpq_index,
    ivfpq_probe,
)
from duckdb_vortex_spark.session import get_spark  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dvs-profile-ivfpq")
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    out: dict[str, list[float]] = {"build": [], "probe": [], "total": []}
    for _ in range(n + 1):  # first iteration is warm-up
        t0 = time.monotonic()
        idx = ivfpq_index(emb, 16, m=PQ_COMPACT["m"], k_codes=PQ_COMPACT["k_codes"])
        _materialize(idx.cand)  # force the persisted codes frame
        t1 = time.monotonic()
        _materialize(ivfpq_probe(idx, q, k=10, n_probe=4))
        t2 = time.monotonic()
        out["build"].append(round(t1 - t0, 3))
        out["probe"].append(round(t2 - t1, 3))
        out["total"].append(round(t2 - t0, 3))
        spark.catalog.clearCache()
    meds = {k: statistics.median(v[1:]) for k, v in out.items()}
    print(json.dumps({"runs": out, "medians": meds, "cand_parts": idx.cand.rdd.getNumPartitions()}))


if __name__ == "__main__":
    main()
