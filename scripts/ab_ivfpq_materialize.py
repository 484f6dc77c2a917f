"""Interleaved A/B for OPTIMIZATION_r15 deferred item #1: does the
one-shot similarity_ivfpq_ann entry win by skipping the DISK_ONLY
persist barrier on the codes frame (arm N), or does Catalyst re-inline
the encoder's interpreted argmin HOFs past the broadcast join and
re-run them per PAIR (the r5 8.4-vs-1.5 s blowup shape)?

Arms alternate run-by-run in one session (box drift hits both).
Also checks the two arms' results are row-identical once.

Usage: python scripts/ab_ivfpq_materialize.py [n_pairs]
"""

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
    IvfPqIndex,
    codebook_rows,
    ivf_assign,
    ivfpq_index,
    ivfpq_probe,
    pq_codebooks,
    pq_encode,
    sample_centroids,
)
from duckdb_vortex_spark.session import get_spark, release_persisted  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def build_nopersist(emb, n_clusters, m, k_codes):
    """ivfpq_index body with the _pq_barrier wrap removed."""
    centroids = sample_centroids(emb, n_clusters)
    books = pq_codebooks(
        emb, m=m, k=k_codes,
        centroids=centroids if k_codes == n_clusters else None,
    )
    rows = codebook_rows(centroids)
    cand = pq_encode(
        ivf_assign(emb, centroids, 1, rows=rows),
        books, passthrough=("cluster_id",),
    ).select(F.col("vec_id").alias("cand_id"), "cluster_id", "codes")
    return IvfPqIndex(centroids, books, cand, rows)


def main() -> None:
    n_pairs = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dvs-ab-ivfpq-materialize")
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    m, k_codes = PQ_COMPACT["m"], PQ_COMPACT["k_codes"]

    def run(arm: str) -> float:
        t0 = time.monotonic()
        idx = (
            ivfpq_index(emb, 16, m=m, k_codes=k_codes)
            if arm == "P"
            else build_nopersist(emb, 16, m, k_codes)
        )
        _materialize(ivfpq_probe(idx, q, k=10, n_probe=4))
        dt = time.monotonic() - t0
        release_persisted()
        spark.catalog.clearCache()
        return round(dt, 3)

    # one-time result-identity check (same arithmetic either way)
    rows_p = sorted(
        map(tuple, ivfpq_probe(ivfpq_index(emb, 16, m=m, k_codes=k_codes),
                               q, k=10, n_probe=4).collect())
    )
    release_persisted()
    spark.catalog.clearCache()
    rows_n = sorted(
        map(tuple, ivfpq_probe(build_nopersist(emb, 16, m, k_codes),
                               q, k=10, n_probe=4).collect())
    )
    release_persisted()
    spark.catalog.clearCache()
    identical = rows_p == rows_n

    run("P")  # warm-up
    out = {"P": [], "N": []}
    for _ in range(n_pairs):
        out["N"].append(run("N"))
        out["P"].append(run("P"))
    print(json.dumps({
        "identical": identical,
        "n_rows": len(rows_p),
        "runs": out,
        "medians": {k: statistics.median(v) for k, v in out.items()},
        "loadavg": os.getloadavg(),
    }))


if __name__ == "__main__":
    main()
