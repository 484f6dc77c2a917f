"""Chain part of the ``vortex_ingest`` workload: the integrated exact →
near-dup → semantic ingest chain over ``documents ⋈ embeddings``, in
id-ordered micro-batches.

A pass lands every document into a fresh state root in ``N_BATCHES``
batches, each one ``streaming.incremental_pipeline.ingest_process_batch``
call. Before every ``MAINTAIN_EVERY``-th batch it runs
``compact_chain_stores(before=b)``, the way ``incremental_ingest_stream``
does with ``maintain_every``, so later batches read compacted stores.
Batch sizes are a fixed set (``SIZE_SHARES`` of the corpus) in an order
the seed picks: the median batch wall does not depend on the order, and
the sizes differ enough for a fit of batch wall on batch size. The union of
the batch manifests must equal ``INGEST_PIPELINE_ORACLE`` run by DuckDB:
the chain's result does not depend on where the input is cut.
"""

from __future__ import annotations

import glob
import json
import os
import random

from common import canonical, median, oracle_results

TABLES = ("documents", "embeddings")
# two batches, one twice the size of the other: each batch costs about
# as much fixed Spark-job overhead as a whole VTX1 pass, so the run's
# time budget holds two, and the size gap gives the wall-on-size fit a
# lever
SIZE_SHARES = (1, 2)
N_BATCHES = len(SIZE_SHARES)
MAINTAIN_EVERY = 1
STORES = ("raw", "lsh", "ivf")
LAYER_METRICS = (
    "streaming.batch_p50_s",
    "streaming.ingest_s",
    "streaming.first_batch_s",
    "streaming.batch_jobs",
    "streaming.batch_tasks",
    "streaming.state_files_read",
    "streaming.batch_fixed_s",
    "streaming.batch_per_doc_ms",
    "streaming.compact_s",
    "streaming.compact_jobs",
)


def cut_points(ids: list[int], seed: int) -> list[int]:
    """Id boundaries of batches sized ``SIZE_SHARES`` (in seeded order)
    of the sorted ``ids``."""
    shares = list(SIZE_SHARES)
    random.Random(seed).shuffle(shares)
    cuts, done = [ids[0]], 0
    for share in shares[:-1]:
        done += share
        cuts.append(ids[len(ids) * done // sum(shares)])
    return cuts + [ids[-1] + 1]


def _ids(data_dir: str, table: str, col: str) -> list[int]:
    import pyarrow.parquet as pq

    return pq.read_table(f"{data_dir}/{table}.parquet", columns=[col])[col].to_pylist()


def _state_files(root: str, before: int) -> int:
    from duckdb_vortex_spark.streaming.sinks import state_dirs

    n = 0
    for store in STORES:
        for d in state_dirs(os.path.join(root, store), before):
            n += len(glob.glob(os.path.join(d, "**", "*.vortex"), recursive=True))
    return n


def _fit(sizes: list[int], walls: list[float]) -> tuple[float, float]:
    """Least-squares ``wall = fixed + per_doc * size``."""
    n = len(sizes)
    mx, my = sum(sizes) / n, sum(walls) / n
    sxx = sum((x - mx) ** 2 for x in sizes)
    if sxx == 0:
        return my, 0.0
    slope = sum((x - mx) * (y - my) for x, y in zip(sizes, walls)) / sxx
    return my - slope * mx, slope


class ChainPart:
    def __init__(self, ctx):
        from pyspark.sql import functions as F

        from duckdb_vortex_spark import catalog
        from duckdb_vortex_spark.operators.similarity import sample_centroids
        from duckdb_vortex_spark.streaming import incremental_pipeline as ip

        self.ctx = ctx
        spark, d = ctx.spark, ctx.data_dir
        docs = catalog.load(spark, d, "documents")
        emb = catalog.load(spark, d, "embeddings")
        self.corpus = docs.join(
            emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")),
            "doc_id",
        ).persist()
        ids = sorted(set(_ids(d, "documents", "doc_id")) & set(_ids(d, "embeddings", "vec_id")))
        self.centroids = sample_centroids(emb, 16).persist()
        self.cuts = cut_points(ids, ctx.seed)
        self.sizes = [sum(1 for i in ids if lo <= i < hi) for lo, hi in zip(self.cuts, self.cuts[1:])]
        self.expected = oracle_results(ctx, TABLES, {"manifest": ip.INGEST_PIPELINE_ORACLE})[
            "manifest"
        ]
        self.attempted = self.failed = 0
        self.roots: list[str] = []
        self.batches, self.compactions, self.state_files, self.ingest_s = [], [], [], []

    def run_pass(self) -> None:
        """All batches into a fresh state root, with maintenance between
        them."""
        from pyspark.sql import functions as F

        from duckdb_vortex_spark.streaming import incremental_pipeline as ip
        from duckdb_vortex_spark.streaming.sinks import batch_dirs

        ctx, spark, tr, cuts = self.ctx, self.ctx.spark, self.ctx.tracer, self.cuts
        root = os.path.join(ctx.run_dir, f"chain-{len(self.roots)}")
        self.roots.append(root)
        ingest = 0.0
        for b in range(N_BATCHES):
            if b >= 1 and b % MAINTAIN_EVERY == 0:
                with tr.span("compact_chain_stores", "streaming", before=b) as s:
                    ip.compact_chain_stores(spark, root, before=b)
                self.compactions.append(s)
                ingest += s["wall"]
            if tr.enabled and b >= 1:
                self.state_files.append(_state_files(root, b))
            part = self.corpus.filter((F.col("doc_id") >= cuts[b]) & (F.col("doc_id") < cuts[b + 1]))
            with tr.span("ingest_process_batch", "streaming", batch=b, docs=self.sizes[b]) as s:
                ip.ingest_process_batch(part, b, self.centroids, root)
            self.batches.append(s)
            ingest += s["wall"]
        self.ingest_s.append(ingest)
        self.attempted += N_BATCHES
        man = (
            spark.read.format("vortex")
            .option("paths", json.dumps(batch_dirs(os.path.join(root, "man"), 10**9)))
            .load()
            .select("doc_id", "source", "stage", "is_kept")
            .toPandas()
        )
        if canonical(man) != self.expected:
            self.failed += N_BATCHES
            ctx.log("chain manifest differs from INGEST_PIPELINE_ORACLE")

    def state_store_files(self) -> list[str]:
        """The VTX1 part files the chain wrote (they hold list columns)."""
        return sorted(
            f for root in self.roots for f in glob.glob(f"{root}/**/*.vortex", recursive=True)
        )

    def close(self) -> None:
        self.corpus.unpersist()
        self.centroids.unpersist()

    def layers(self) -> dict:
        walls = [s["wall"] for s in self.batches]
        fixed, per_doc = _fit([s["docs"] for s in self.batches], walls)
        return {
            "streaming.batch_p50_s": median(walls),
            "streaming.ingest_s": median(self.ingest_s),
            "streaming.first_batch_s": walls[0],
            "streaming.batch_jobs": median([s["jobs"] for s in self.batches]),
            "streaming.batch_tasks": median([s["tasks"] for s in self.batches]),
            "streaming.state_files_read": median(self.state_files),
            "streaming.batch_fixed_s": fixed,
            "streaming.batch_per_doc_ms": per_doc * 1e3,
            "streaming.compact_s": median([s["wall"] for s in self.compactions]),
            "streaming.compact_jobs": median([s["jobs"] for s in self.compactions]),
        }
