"""Integrated incremental ingest: exact → near-dup → semantic, ONE stream.

The r7 incremental trio proved each gate alone (`incremental_dedup`,
`incremental_neardup`, `incremental_semdedup`) with separate scratch
stores. A real ingest pipeline runs them as ONE chain per micro-batch
over ONE landed corpus (VERDICT r7 next-round #5): a document dropped
by the exact gate never reaches the near-dup index; a near-dup never
reaches the semantic index; and every gate's verification reads from
the SAME shared landed-batch store the chain itself writes.

Per micro-batch (documents already joined to their embeddings), a
composition of the standalone modules' gate functions:

0. land the raw batch (id, fp, text, vec) id-sorted into the SHARED
   raw store — the one corpus artifact every gate reads back (fp =
   the exact-gate fingerprint, a column of the raw store). The same
   projection computes what the near-dup gate reads of a row (its
   shingles and LSH band keys, `incremental_neardup.lsh_signatures`),
   so the batch is cut once for both gates;
1. EXACT gate (`incremental_dedup.exact_gate`): in-batch first-wins
   by id, then drop ids whose fingerprint is in the landed history
   (the raw store's fp column, column-pruned — 8 B/doc read).
   Survivors s1;
2. NEAR-DUP gate over s1 (`incremental_neardup.neardup_gate`): the
   persistent LSH index holds every doc that REACHED this gate (prior
   s1 sets); the verify re-shingles only candidate old docs, fetched
   from the SHARED raw store. Survivors s2; ALL s1 buckets append to
   the index;
3. SEMANTIC gate over s2 (`incremental_semdedup.semantic_gate`):
   1-probe assignment against the static codebook (offline-trained,
   `sample_centroids` over the full embeddings table so the oracle
   can replay the pick; collected once per chain); the persistent IVF
   index holds every doc that reached this gate (prior s2 sets).
   Survivors s3; ALL s2 assignments append cluster-sorted;
4. manifest row per batch document: first failing gate
   (stage ∈ exact | near_dup | semantic | kept).

Spark jobs and tasks per batch. A job costs driver planning, AQE and
scheduling whatever the batch size, and at micro-batch sizes the job
and task counts, not the row count, set a batch's cost. Measured at
sf0.01 on 4 cores (the benchmark's chain part, the 334-document batch
that reads history; the first, 166-document batch runs 19 jobs and 21
tasks):

  stage            jobs  tasks  what runs
  land raw            3      3  range sampling and exchange, write
  exact gate          2      3  one broadcast of the batch
                                fingerprints (in-batch semi self-join
                                and history join), distinct
  near-dup gate       8      9  exact-dropped broadcast (s1 cut),
                                batch keys, hot-bucket aggregate and
                                broadcast, capped-bucket broadcast,
                                pair distinct, shingle broadcast,
                                index-pair broadcast
  lsh write           1      1
  semantic gate       2      3  near-dropped broadcast, one collect
                                of the batch's rows
  ivf write           3      3  range sampling and exchange, write
  manifest            3      6  one broadcast of the stage-tagged
                                dropped ids (the semantic gate's
                                cosine pass runs inside it),
                                aggregate, write
  total              22     28

Every cut and store write has no fixed partition count, so AQE sizes
each by bytes: one partition, one task and one part file per store
while a batch is KBs–MBs, more as it grows. With a fixed four-way cut
per store the same batches ran 66 and 91 tasks, and each Python task
(a store write, a state read, the semantic kernel) held Python
workers of its own.

Store writes run on the write pool, each submitted only after a
main-thread job has materialized the lineage cut it reads, so two
threads never race to materialize one lazy cut.

Chain semantics (what the DuckDB oracle replays): with gates indexing
exactly the docs that reach them,
  keep_e(d)  = no earlier doc with the same normalized text;
  drop_n(d)  = d ∈ reach2 and some earlier reach2-doc has J >= 0.8;
  drop_s(d)  = d ∈ reach3 and some earlier reach3-doc in the same
               cluster has cosine >= threshold,
where reach2 = keep_e, reach3 = keep_e ∧ ¬drop_n, and "earlier" is
smaller id. PRECONDITION — id-ordered ingest, exactly as
`incremental_neardup`/`incremental_semdedup` state it: the streamed
manifest equals this batch-mode chain independent of chopping iff
batch order refines global id order. The exact gate compares
fingerprints where the oracle compares normalized text — identical
answers absent a 64-bit hash collision (~n²/2⁶⁴; the hash IS the
design at 100 TB, where shuffling full text to dedup would dwarf
every other cost).

Store contention note: the raw store is written by stage 0 and read
back by stage 2's verifier IN THE SAME BATCH only for cross-batch
candidates (strictly-earlier state, `state_dirs`' contract), so the
shared store never reads its own half-written batch.

State: fingerprints 8 B/doc (a raw-store column) + LSH
~384 B/reach2-doc + IVF
(vec + norm)/reach3-doc — each gate's state is bounded by the docs
that SURVIVED the cheaper gates before it, which is the point of
running the chain in this order (cheapest first, each gate shrinks
the next one's index).

Lineage is CUT at every gate boundary (`localCheckpoint`, not
`persist`): persist caches data but keeps the full logical plan, so
each downstream action re-ANALYZES the whole accumulated chain —
measured at sf0.01, the final manifest join of three tiny cached
dropped-sets spent 38 s in Catalyst analysis/optimization alone and
the 3-batch entry took 117 s; with checkpoints the same entry runs
46 s and the manifest join plans in milliseconds. The trade is
standard foreachBatch practice: checkpointed partitions are
executor-local (no lineage replay on executor loss), and the batch
protocol already retries a failed batch WHOLESALE from
strictly-earlier state, so intra-batch recompute-from-lineage buys
nothing here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from ..operators.dedup import _DUCK_TOKS, _duck_shingles
from ..operators.similarity import _sql_cos, sample_centroids
from ..operators.text import tokens
from .incremental_dedup import exact_gate, fingerprint
from .incremental_neardup import lsh_buckets, lsh_signatures, neardup_gate
from .incremental_semdedup import assign_clusters, cluster_sorted, semantic_gate
from .sinks import (
    compact_dataset_incremental,
    job_label,
    overlapped_batch_writes,
    overwrite_batch_atomic,
    read_state,
    start_batch_stream,
    three_batch_manifest,
)


# Sort keys for each per-batch state store the chain reads back —
# compaction must cluster on the key the per-batch read prunes on
# (raw: candidate-id point fetches — the fingerprint column rides in
# the raw store since r16, read via column pruning; lsh: (band,h)
# bucket join; ivf: probed-cluster zone-map scan). The manifest store
# is append-only output, never read per batch, so it is not
# maintained here.
CHAIN_STORE_SORT = {
    "raw": ["id"],
    "lsh": ["band", "h"],
    "ivf": ["cluster_id", "id"],
}


def compact_chain_stores(
    spark: SparkSession, root: str, before: int | None = None
) -> dict[str, str | None]:
    """Maintenance pass over the chain's state stores: one
    incremental (tiered) compaction each, its segment files sized by
    bytes (one at micro-batch sizes), folding a tail run of segments
    once the live count would pass the history-scaled cap
    max(4, ceil(log2(history))) — see
    `sinks.compact_dataset_incremental`. That cap is what keeps per-row
    rewrite cost O(log n) on an UNBOUNDED 24/7 stream. Run BETWEEN
    micro-batches on checkpoint-committed batches only; with it
    interleaved every N batches, a per-batch state read opens at most
    ``cap + N`` dirs, O(log batches), each holding one file while the
    store is KBs–MBs — the bound `test_chain_state_file_count_bounded`
    pins.

    ``before`` (REQUIRED when called from inside a stream's
    foreachBatch): the current batch id. A crash mid-batch-N
    leaves partial per-store state for N (the chain lands raw/ first),
    and an unbounded maintenance pass on restart would fold those dirs
    into a segment with upto = N — after which every retry of batch N
    trips `state_dirs`' "still retryable" guard forever, permanently
    wedging the stream. With ``before=N`` the pass only ever folds
    batch ids strictly below the batch about to (re)run, so the
    retry's atomic overwrite replaces the partial dirs as designed.
    Returns {store: new segment path or None}."""
    out: dict[str, str | None] = {}
    for store, cols in CHAIN_STORE_SORT.items():
        p = os.path.join(root, store)
        if os.path.isdir(p):
            with job_label(spark, f"compact {store}"):
                out[store] = compact_dataset_incremental(spark, p, cols, before=before)
    return out


def ingest_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    centroids: DataFrame,
    root: str,
    near_threshold: float = 0.8,
    sem_threshold: float = 0.4,
    num_hashes: int = 32,
    n: int = 3,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
) -> None:
    """One micro-batch of the integrated chain. ``batch_df`` carries
    (doc_id, source, text, vec). Writes batch-id-scoped artifacts under
    ``root``: raw/ (shared corpus, fingerprint column included — the
    exact store, fused r16), lsh/ (near-dup index), ivf/ (semantic
    index), man/ (the manifest). ``centroids`` is the static codebook:
    its rows are collected by the first batch that passes the frame and
    reused by the later ones."""
    spark_ = batch_df.sparkSession
    raw_d, lsh_d, ivf_d, man_d = (
        os.path.join(root, s) for s in ("raw", "lsh", "ivf", "man")
    )

    def stage(name: str) -> str:
        return f"chain b{batch_id}: {name}"

    # Every store write is submitted to the write pool as soon as a
    # main-thread job has materialized the lineage cut it reads (so the
    # two threads never race to materialize one cut), and joined before
    # the batch returns: this batch's state reads list strictly-earlier
    # batch dirs only, so no gate waits on a write
    # (`overlapped_batch_writes`).
    with overlapped_batch_writes(spark_) as bw, job_label(spark_, stage("land raw")) as label:
        # 0. the raw batch, id-sorted, with what every gate reads of a
        # row: the exact-gate fingerprint and the near-dup gate's
        # shingles and band keys (tokens bound below the range exchange)
        rows = lsh_signatures(
            batch_df.select(
                F.col("doc_id").alias("id"), fingerprint("text").alias("fp"),
                "source", "text", "vec", tokens("text").alias("__toks"),
            )
            .repartitionByRange("id")
            .sortWithinPartitions("id"),
            num_hashes, n, rows_per_band,
        ).localCheckpoint(eager=False)
        raw = rows.select("id", "fp", "text", "vec")

        # 1. EXACT gate (its broadcast build materializes ``rows``)
        label(stage("exact gate"))
        landed = read_state(spark_, raw_d, batch_id, schema=raw.schema)
        exact_dropped = exact_gate(
            rows.select("id", F.col("fp").alias("__fp")),
            None if landed is None else landed.select(F.col("fp").alias("__fp")),
        )
        bw.submit(
            overwrite_batch_atomic, raw, raw_d, batch_id, label=stage("land raw (write)")
        )

        # 2. NEAR-DUP gate over s1 (its broadcast builds materialize s1)
        label(stage("neardup gate"))
        s1 = rows.join(F.broadcast(exact_dropped), "id", "left_anti").localCheckpoint(
            eager=False
        )
        lsh_rows = lsh_buckets(s1)
        near_dropped = neardup_gate(
            s1,
            read_state(spark_, lsh_d, batch_id, schema=lsh_rows.schema),
            landed,
            near_threshold,
            n,
            max_bucket,
        )
        bw.submit(
            overwrite_batch_atomic, lsh_rows, lsh_d, batch_id,
            label=stage("lsh store (write)"),
        )

        # 3. SEMANTIC gate over s2 (the probed-cluster collect
        # materializes asg)
        label(stage("semantic gate"))
        asg = assign_clusters(
            s1.join(F.broadcast(near_dropped), "id", "left_anti"), centroids
        )
        landed_ivf = read_state(spark_, ivf_d, batch_id, schema=asg.schema, pushdown="true")
        sem_dropped = semantic_gate(asg, landed_ivf, sem_threshold)
        bw.submit(
            overwrite_batch_atomic, cluster_sorted(asg), ivf_d, batch_id,
            label=stage("ivf store (write)"),
        )

        # 4. manifest: first failing gate. The dropped sets are disjoint
        # (each gate reads the previous one's survivors), so one
        # broadcast of their stage-tagged union labels every row; an id
        # repeats only within one set, and the aggregate folds it.
        label(stage("manifest"))
        dropped = (
            exact_dropped.withColumn("stage", F.lit("exact"))
            .unionByName(near_dropped.withColumn("stage", F.lit("near_dup")))
            .unionByName(sem_dropped.withColumn("stage", F.lit("semantic")))
        )
        manifest = (
            rows.select("id", "source")
            .join(F.broadcast(dropped), "id", "left")
            .groupBy("id", "source")
            .agg(F.coalesce(F.min("stage"), F.lit("kept")).alias("stage"))
            .select(
                F.col("id").alias("doc_id"),
                "source",
                "stage",
                (F.col("stage") == "kept").alias("is_kept"),
            )
        )
        overwrite_batch_atomic(manifest, man_d, batch_id)


def incremental_ingest_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    centroids: DataFrame,
    root: str,
    checkpoint: str,
    maintain_every: int | None = None,
    **kwargs,
):
    """Start the integrated chain on a streaming DataFrame of
    (doc_id, source, text, vec) with a static offline codebook;
    returns the StreamingQuery. Whole-history manifest = the
    batch-mode chain under id-ordered ingest (module docstring).

    ``maintain_every`` builds the 24/7 posture in: every N-th
    micro-batch, `compact_chain_stores` runs INSIDE the sink BEFORE
    the batch is processed — the one point in a stream's life where
    maintenance is safe by construction (the processor is the only
    reader, no plan spans the pass, and ``before=batch_id`` keeps a
    crashed predecessor attempt's partial state out of every fold).
    With it set, a batch's state read opens at most
    (cap + maintain_every) dirs per store, the cap growing as
    O(log batches-ever-landed) — the growth that keeps per-row rewrite
    cost O(log n) on an unbounded stream (see `compact_chain_stores`);
    without it, callers own maintenance (between sessions, or their
    own in-sink wiring)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if maintain_every and batch_id >= 1 and batch_id % maintain_every == 0:
            compact_chain_stores(spark, root, before=batch_id)
        ingest_process_batch(batch_df, batch_id, centroids, root, **kwargs)

    return start_batch_stream(stream_df, checkpoint, sink)


# ---------------------------------------------------------------------------
# catalog entry: streamed chain manifest equals the batch-mode chain
# ---------------------------------------------------------------------------

INGEST_PIPELINE_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY lower(regexp_replace(text, '\\s+', ' ', 'g'))
           ORDER BY doc_id) = 1 AS keep_e
  FROM documents
),
sh AS (
  SELECT doc_id AS id, {_duck_shingles(_DUCK_TOKS)} AS sh
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM ex WHERE keep_e)
),
nd AS (
  SELECT DISTINCT b.id AS doc_id
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
),
r3 AS (
  SELECT doc_id FROM ex
  WHERE keep_e AND doc_id NOT IN (SELECT doc_id FROM nd)
),
hk AS (
  SELECT vec_id, embedding,
         ((vec_id % 4294967296) * 1000003) % 4294967296 AS hk
  FROM embeddings
),
c AS (
  SELECT row_number() OVER (ORDER BY hk, vec_id) - 1 AS cluster_id,
         embedding AS centroid
  FROM hk
  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= 16
),
asg AS (
  SELECT v.vec_id, v.embedding, c.cluster_id,
         {_sql_cos("v.embedding", "c.centroid")} AS csim
  FROM embeddings v CROSS JOIN c
  WHERE v.vec_id IN (SELECT doc_id FROM r3)
),
a1 AS (
  SELECT vec_id, embedding, cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cluster_id) AS r FROM asg)
  WHERE r = 1
),
sd AS (
  SELECT DISTINCT b.vec_id AS doc_id
  FROM a1 a JOIN a1 b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_sql_cos("a.embedding", "b.embedding")} >= 0.4
)
SELECT ex.doc_id, ex.source,
       CASE WHEN NOT ex.keep_e THEN 'exact'
            WHEN ex.doc_id IN (SELECT doc_id FROM nd) THEN 'near_dup'
            WHEN ex.doc_id IN (SELECT doc_id FROM sd) THEN 'semantic'
            ELSE 'kept' END AS stage,
       (ex.keep_e
        AND ex.doc_id NOT IN (SELECT doc_id FROM nd)
        AND ex.doc_id NOT IN (SELECT doc_id FROM sd)) AS is_kept
FROM ex
"""


@query(
    "stream_incremental_ingest_pipeline",
    oracle=INGEST_PIPELINE_ORACLE,
    tags=("streaming", "dedup", "similarity", "llm", "flagship"),
)
def stream_incremental_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents (joined to their embeddings on doc_id = vec_id)
    ingested in three id-ordered micro-batches through the INTEGRATED
    exact → near-dup → semantic chain over one shared landed-batch
    store, emitting a per-document manifest with first-failing-gate
    attribution. The unioned manifests must equal the batch-mode
    chain the oracle replays (normalized-text first-wins, then
    Jaccard >= 0.8 among exact survivors, then same-cluster cosine
    >= 0.4 among near-dup survivors with the replayed codebook) —
    the property that makes backfill and streaming ingest
    interchangeable for the WHOLE pipeline, not just each gate alone."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    corpus = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")),
        "doc_id",
    )
    # the chain collects the codebook once, on its first batch
    centroids = sample_centroids(emb, 16)
    return three_batch_manifest(
        corpus,
        "doc_id",
        "ingest",
        ("doc_id", "source", "stage", "is_kept"),
        lambda batch_df, batch_id, root: ingest_process_batch(
            batch_df, batch_id, centroids, root
        ),
    )
