"""Measure the incremental family's core scale claim: per-batch cost
must be (near-)independent of how much history has already landed —
otherwise "incremental" quietly degrades to quadratic over a day of
micro-batches. Chops the sf0.1 documents corpus into equal id-ordered
batches and drives them through the near-dup processor and the
integrated exact→near-dup→semantic chain, printing per-batch wall
seconds; a flat-ish curve (vs batch index) is the pass, a steadily
climbing one names a history-sized scan hiding somewhere.

Expected slope sources that are NOT failures (documented):
  * the hot-bucket guard re-aggregates (band, h) counts from the index
    scan the candidate join already pays — O(index) per batch, the one
    deliberately-accepted history term (module docstring says a real
    deployment keeps a running count table instead);
  * candidate-verify work grows with the number of true cross-batch
    near-dups the corpus actually contains.

r9: the integrated-chain run is extended to ~20 batches with
`compact_chain_stores` interleaved every COMPACT_EVERY batches (every
chain state store, leveled run folds under the history-scaled segment
cap), recording BOTH
per-batch wall seconds and the per-state-read file count — the r8 bug's
signature was file-count growth, and with compaction in the loop both
curves must stay flat ACROSS compaction points, not just within the
first few batches. The 24/7 posture this certifies: state reads open
at most (cap + compact_every) dirs per store, with the cap
max(4, ceil(log2(batches))) growing only logarithmically.

Usage: python scripts/breakdown_incremental_flatness.py [n_batches] [chain_batches] [compact_every]
Prints one JSON line per operator.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.similarity import sample_centroids
from duckdb_vortex_spark.session import get_spark
from duckdb_vortex_spark.sources.vortex import register
from duckdb_vortex_spark.streaming.incremental_neardup import neardup_process_batch
from duckdb_vortex_spark.streaming.incremental_pipeline import (
    CHAIN_STORE_SORT,
    compact_chain_stores,
    ingest_process_batch,
)
from duckdb_vortex_spark.streaming.sinks import state_dirs

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def chain_state_files(root: str, before: int) -> int:
    """Files a batch ``before`` would open for its four state reads —
    the quantity whose unbounded growth was the r8 +2 s/batch bug."""
    total = 0
    for store in CHAIN_STORE_SORT:
        base = os.path.join(root, store)
        for d in state_dirs(base, before):
            total += len([f for f in os.listdir(d) if not f.startswith(".")])
    return total


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    chain_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    compact_every = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    spark = get_spark("dvs-incremental-flatness")
    register(spark)
    docs = load(spark, SF_DIR, "documents").persist()
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    step = (len(ids) + n_batches - 1) // n_batches
    chunks = [ids[i * step : (i + 1) * step] for i in range(n_batches)]

    out = {"sf_dir": SF_DIR, "n_batches": n_batches, "batch_rows": step}

    root = tempfile.mkdtemp(prefix="flat_nd_")
    dirs = [os.path.join(root, d) for d in ("raw", "idx", "man")]
    times = []
    for b, chunk in enumerate(chunks):
        t0 = time.monotonic()
        neardup_process_batch(docs.filter(F.col("doc_id").isin(chunk)), b, *dirs)
        times.append(round(time.monotonic() - t0, 2))
    shutil.rmtree(root, ignore_errors=True)
    out["neardup_per_batch_s"] = times
    out["neardup_last_over_first"] = round(times[-1] / times[0], 2)

    emb = load(spark, SF_DIR, "embeddings")
    corpus = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")),
        "doc_id",
    ).persist()
    cids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    cstep = (len(cids) + chain_batches - 1) // chain_batches
    cchunks = [cids[i * cstep : (i + 1) * cstep] for i in range(chain_batches)]
    centroids = sample_centroids(emb, 16).persist()
    root = tempfile.mkdtemp(prefix="flat_chain_")
    ctimes, cfiles, compactions = [], [], []
    for b, chunk in enumerate(cchunks, start=1):
        cfiles.append(chain_state_files(root, b))
        t0 = time.monotonic()
        ingest_process_batch(
            corpus.filter(F.col("doc_id").isin(chunk)), b, centroids, root
        )
        ctimes.append(round(time.monotonic() - t0, 2))
        if b % compact_every == 0:
            t0 = time.monotonic()
            res = compact_chain_stores(spark, root, before=b + 1)
            # classify the pass by the widest fold it committed: a
            # from-0 fold rewrote the full prefix ("major"); any other
            # run fold left the giant alone — with the r10 leveled
            # trigger, majors must get geometrically RARER with
            # history, which is the whole point vs the r9 all-fold
            spans = []
            for v in res.values():
                if v:
                    name = os.path.basename(v)
                    lo = int(name.split("-from-", 1)[1].split("-", 1)[0])
                    hi = int(name.rsplit("-", 1)[1])
                    spans.append((lo, hi))
            kind = "major" if any(lo == 0 for lo, _ in spans) else "minor"
            compactions.append((b, round(time.monotonic() - t0, 2), kind))
    shutil.rmtree(root, ignore_errors=True)
    out["chain_per_batch_s"] = ctimes
    out["chain_state_files_before_batch"] = cfiles
    out["chain_compactions_at_s"] = compactions
    out["compact_every"] = compact_every
    out["chain_last_over_first"] = round(ctimes[-1] / ctimes[0], 2)
    # flatness across compaction points: mean of last quarter vs mean
    # of second quarter (first quarter excluded — empty-state batches)
    q = max(1, len(ctimes) // 4)
    out["chain_tail_over_mid"] = round(
        sum(ctimes[-q:]) / q / (sum(ctimes[q : 2 * q]) / q), 2
    )
    out["chain_max_state_files"] = max(cfiles)
    out["chain_batch_rows"] = cstep
    print(json.dumps(out))


if __name__ == "__main__":
    main()
