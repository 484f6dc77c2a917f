"""Incremental SEMANTIC dedup: new embeddings vs a persistent IVF index.

Completes the incremental-ingest trio — exact fingerprints
(`incremental_dedup`), MinHash-LSH text near-dups
(`incremental_neardup`), and now embedding-space near-dups (the
SemDeDup signal, Abbas et al. 2023) — continuously, without re-running
the n·k assignment or any pairwise pass over the landed corpus.

This module is a one-gate chain over `semantic_gate`, the gate the
integrated chain (`incremental_pipeline`) runs third. Shape at 100 TB/day:

1. the centroid CODEBOOK is trained offline and static during ingest
   (standard IVF practice — FAISS trains on a sample, then serves);
   here it is the deterministic hash-order sample
   (`similarity.sample_centroids`) so an external oracle can replay
   the pick exactly;
2. per batch, 1-probe assignment of the NEW vectors against the
   codebook in the cosine kernel's closure — map-side only, no
   shuffle of the corpus;
3. candidates = landed index rows in the batch's probed clusters
   ONLY: the index is written cluster-SORTED, so the candidate scan
   zone-map-prunes to O(batch clusters) chunks — the IVF
   inverted-list layout as batch-dir storage, never a corpus scan;
4. exact cosine vs candidates (+ earlier same-batch, same-cluster
   rows) on the numpy cosine kernel, in one map-side pass over the
   candidates with the collected batch rows in its closure; a new
   vector is dropped iff some EARLIER vector (earlier
   batch, or same batch with smaller id) in the SAME cluster reaches
   the threshold. ALL vectors are indexed — dropped ones too — so the
   whole-history manifest is a pure function of (codebook, arrival
   order): it equals the batch-mode same-cluster answer regardless of
   micro-batch chopping, which is what the DuckDB oracle checks.

State: (cluster_id, vec_id, embedding, vnorm) per landed vector — the
vectors themselves ARE the verification state (SemDeDup needs real
cosines), which is why the cluster-sorted layout matters: reads are
bounded by probed clusters, not corpus size. Exactly-once: every
artifact commits through the staged atomic rename
(`sinks.overwrite_batch_atomic`); a retry reads only strictly-earlier
state (`sinks.read_state`).

Threshold note: the synthetic embeddings are diffuse (max pair cosine
~0.51 at sf0.01), so the entry uses 0.40 — the production-style 0.95
would test nothing, same reasoning as `dedup_semantic_cluster`'s 0.30.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import load, query
from ..operators.similarity import (
    _reached,
    _sql_cos,
    _vectors,
    codebook_rows,
    ivf_assign,
    sample_centroids,
)
from .incremental_neardup import keep_manifest
from .sinks import (
    job_label,
    overlapped_batch_writes,
    overwrite_batch_atomic,
    read_state,
    start_batch_stream,
    three_batch_manifest,
)


# A chain's codebook is static for its life: its rows are collected
# once per centroids frame, not once per micro-batch.
_CODEBOOKS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def assign_clusters(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """What the semantic gate reads of the (id, vec) rows reaching it:
    (cluster_id, id, vec, vnorm), a 1-probe assignment against the
    static codebook (map-side only), cut from its lineage
    (`localCheckpoint`). The codebook's rows are collected on the first
    call for a ``centroids`` frame and reused by later calls with it."""
    rows = _CODEBOOKS.get(centroids)
    if rows is None:
        rows = _CODEBOOKS[centroids] = codebook_rows(centroids)
    return (
        ivf_assign(vecs.select("id", "vec"), centroids, 1, "id", "vec", rows=rows)
        .select("cluster_id", "id", "vec", "vnorm")
        .localCheckpoint(eager=False)
    )


def semantic_gate(
    asg: DataFrame, landed: DataFrame | None, threshold: float = 0.4
) -> DataFrame:
    """The semantic gate. ``asg`` is `assign_clusters` of the rows
    reaching the gate; ``landed`` is the prior cluster-sorted index
    (cluster_id, id, vec, vnorm), None before the first batch, read
    fresh with pushdown on. Returns the ids of rows with an earlier row
    in the same cluster (a prior batch, or a smaller id in this batch)
    whose cosine reaches ``threshold``; an id may repeat. A NaN cosine
    reaches every threshold, a null one (a null vector or element, a
    length mismatch, a zero norm) none.

    The batch's (cluster_id, id, vec) rows are collected in one job,
    which materializes ``asg``'s cut. Their clusters are applied to
    ``landed`` as a literal filter, so the index scan zone-map-prunes to
    those clusters' chunks, and the rows ride in the closure of one
    map-side pass over the landed rows and the batch itself, scored on
    the cosine kernel (`similarity._reached`). The id guard ``id_a <
    id_b`` is right for landed rows too, since ids are unique across the
    stream."""
    import numpy as np

    scored = asg.select("cluster_id", "id", "vec")
    batch = scored.toArrow()
    ids, cids = (batch.column(c).to_numpy() for c in ("id", "cluster_id"))
    id_type = batch.schema.field("id").type
    vecs = _vectors(batch.column("vec").combine_chunks())
    if landed is not None:
        probed = np.unique(cids).tolist()
        scored = landed.filter(F.col("cluster_id").isin(probed)).select(
            "cluster_id", "id", "vec"
        ).unionByName(scored)

    def gate(batches):
        import pyarrow as pa

        for a in batches:
            hit = _reached(
                a.column(1).to_numpy(), a.column(0).to_numpy(), _vectors(a.column(2)),
                ids, cids, vecs, threshold,
            )
            yield pa.RecordBatch.from_arrays([pa.array(ids[hit], id_type)], names=["id"])

    return scored.mapInArrow(gate, StructType([asg.schema["id"]]))


def cluster_sorted(asg: DataFrame) -> DataFrame:
    """The index rows as they are landed: range-partitioned and sorted
    on (cluster_id, id), so each file's cluster_id zone maps stay tight
    for later batches' probed-cluster scans. The range cut has no
    partition count: AQE sizes it by bytes, one file per KB–MB batch."""
    return asg.repartitionByRange("cluster_id", "id").sortWithinPartitions("cluster_id", "id")


def semdedup_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    centroids: DataFrame,
    index_dir: str,
    manifest_dir: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of the semantic-dedup ingest. Writes two
    batch-id scoped artifacts: the cluster-sorted index rows
    (cluster_id, id, vec, vnorm — ALL vectors) and the manifest
    (vec_id, keep)."""
    spark_ = batch_df.sparkSession
    with overlapped_batch_writes(spark_) as bw, job_label(
        spark_, f"semdedup b{batch_id}: semantic gate"
    ):
        asg = assign_clusters(
            batch_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            centroids,
        )
        landed = read_state(spark_, index_dir, batch_id, schema=asg.schema, pushdown="true")
        dropped = semantic_gate(asg, landed, threshold)
        bw.submit(
            overwrite_batch_atomic, cluster_sorted(asg), index_dir, batch_id,
            label=f"semdedup b{batch_id}: index (write)",
        )
        manifest = keep_manifest(asg.select("id"), dropped, "vec_id")
        overwrite_batch_atomic(manifest, manifest_dir, batch_id)


def incremental_semdedup_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    manifest_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Start the semantic-dedup ingest on a streaming DataFrame with a
    static (offline-trained) centroid codebook; returns the
    StreamingQuery. Manifest across all batches = batch-mode
    same-cluster SemDeDup of the whole history, first-wins."""
    return start_batch_stream(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: semdedup_process_batch(
            batch_df, batch_id, centroids, index_dir, manifest_dir, **kwargs
        ),
    )


# ---------------------------------------------------------------------------
# catalog entry: whole-history manifest equals the batch-mode answer
# ---------------------------------------------------------------------------

SEMDEDUP_STREAM_ORACLE = f"""
WITH h AS (
  SELECT vec_id, embedding,
         ((vec_id % 4294967296) * 1000003) % 4294967296 AS hk
  FROM embeddings
), c AS (
  SELECT row_number() OVER (ORDER BY hk, vec_id) - 1 AS cluster_id,
         embedding AS centroid
  FROM h
  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= 16
), asg AS (
  SELECT v.vec_id, v.embedding, c.cluster_id,
         {_sql_cos("v.embedding", "c.centroid")} AS csim
  FROM embeddings v CROSS JOIN c
), a1 AS (
  SELECT vec_id, embedding, cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cluster_id) AS r FROM asg)
  WHERE r = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM a1 a JOIN a1 b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_sql_cos("a.embedding", "b.embedding")} >= 0.4
)
SELECT e.vec_id, d.vec_id IS NULL AS keep
FROM embeddings e LEFT JOIN dropped d USING (vec_id)
"""


@query(
    "stream_incremental_semdedup",
    oracle=SEMDEDUP_STREAM_ORACLE,
    tags=("streaming", "dedup", "similarity", "llm"),
)
def stream_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings ingested in three id-ordered micro-batches through
    the persistent-IVF semantic-dedup pipeline (offline codebook →
    1-probe assign → candidate scan of probed clusters only → cosine
    >= 0.4 vs earlier vectors → per-batch keep/drop manifest), then
    the manifests unioned.

    Because every vector is indexed and "earlier" follows id order,
    the streamed whole-history manifest must equal batch-mode
    same-cluster SemDeDup: keep iff no same-cluster vector with a
    smaller id reaches the threshold — exactly what the oracle
    replays (codebook pick, 1-probe assignment with the same
    tie-break, pairwise cosine), independent of batch chopping."""
    emb = load(spark, sf_dir, "embeddings")
    # the chain collects the codebook once, on its first batch
    centroids = sample_centroids(emb, 16)
    return three_batch_manifest(
        emb,
        "vec_id",
        "semdedup",
        ("vec_id", "keep"),
        lambda batch_df, batch_id, root: semdedup_process_batch(
            batch_df, batch_id, centroids, *(os.path.join(root, d) for d in ("idx", "man"))
        ),
    )
