"""Incremental NEAR-dup: new stream data against a persistent LSH index.

`incremental_dedup.py` answers "have we EVER seen this exact
document?"; a real training-data ingest also needs the fuzzy version —
"is this a near-duplicate of anything already landed?" — continuously,
without re-running MinHash over the whole corpus per batch.

This module is a one-gate chain over `neardup_gate`, the gate the
integrated chain (`incremental_pipeline`) runs second. Per micro-batch:

1. compute MinHash signatures + LSH band buckets for the NEW documents
   only (per-row work, zero shuffle — `lsh_signatures`);
2. candidate pairs = batch buckets ⋈ the persistent bucket index on
   (band, h) — the index holds (band, h, id) for every document ever
   landed (~16 rows × 24 B/doc), so the join touches only colliding
   buckets, never the corpus;
3. exact shingle-Jaccard verification: the NEW side's shingles are
   in-plan; the OLD side re-shingles only the candidate documents,
   fetched from the landed raw batches by a doc-id join against the
   broadcast candidate pairs (the raw store is written id-sorted per
   batch, so its id zone maps bound the candidate chunks);
4. emit a keep/drop manifest row per new document and append the
   batch's bucket rows to the index — ALL documents are indexed
   (dropped ones too), so the drop rule is a pure function of
   arrival order: a document is dropped iff some EARLIER document
   (earlier batch, or same batch with smaller id) is a verified
   near-duplicate.

PRECONDITION — id-ordered ingest (same as `incremental_semdedup`):
"earlier" means earlier BATCH first, then smaller id within a batch;
a landed (history) candidate always wins against a new document with
no id comparison. Batch mode's "earlier" is smaller id, full stop.
The two orders agree — and therefore the whole-history manifest
equals the batch-mode answer independent of how the stream was
chopped into micro-batches (what the DuckDB oracle checks) — exactly
when batch order refines global id order, i.e. every id in batch i
precedes every id in batch i+1 (monotone ingest: ids assigned at
arrival). For out-of-order arrival the streaming answer is still the
arrival-order answer (deterministic, every doc audited), but it is
NOT the id-order batch answer: no streaming operator can award the
win to a smaller-id document it has not yet seen.

State: the index grows ~384 B/doc (16 bands × 24 B); hot buckets are
capped like the batch path (a bucket over ``max_bucket`` docs is a
stop-shingle artifact, not a dup cluster), and the cap applies
UNIFORMLY to the in-batch and history joins from the same
point-in-time (history + batch) counts. The batch-equality contract
above therefore holds exactly for corpora whose buckets stay under
the cap — the same precondition the batch entry's brute-force oracle
rests on (max observed bucket 15 ≪ cap 1000) — while a bucket that
does cross the cap degrades to bounded-work mode: pairs stop being
emitted from it at the point it crossed, which is chopping-DEPENDENT
by nature (a stream cannot know a bucket's final size). Per-batch
bucket counts are recomputed from the index scan the candidate join
already pays for; a production deployment would maintain a running
(band, h) → count table instead — same semantics, one fewer
aggregate.

Exactly-once: every write lands under the micro-batch's batch-id
directory; a retry reads only strictly-earlier state (`sinks.read_state`)
and overwrites its own, so replay is idempotent (same contract as
`incremental_dedup.process_batch`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from ..operators.dedup import (
    _DUCK_TOKS,
    _duck_shingles,
    _with_jaccard,
    band_keys,
    minhash,
    shingles_from_tokens,
)
from ..operators.text import tokens
from .sinks import (
    job_label,
    overlapped_batch_writes,
    overwrite_batch_atomic,
    read_state,
    start_batch_stream,
    three_batch_manifest,
)


def lsh_signatures(
    docs: DataFrame, num_hashes: int = 32, n: int = 3, rows_per_band: int = 2
) -> DataFrame:
    """What the near-dup gate reads of a row: ``docs`` with its token
    array ``__toks`` replaced by the shingle set ``sh`` and the array
    ``bk`` of LSH band keys (band ``b`` at position ``b``). Per-row
    work, no exchange. ``__toks`` should be bound below an exchange (the
    raw store's range partitioning), so the per-shingle lambda slices a
    column instead of re-tokenizing (see `shingle_table`); each step is
    its own projection, since every later step reads its input several
    times."""
    cols = [c for c in docs.columns if c != "__toks"]
    sig = docs.select(*cols, shingles_from_tokens("__toks", n).alias("sh"))
    sig = sig.select(*cols, "sh", minhash("sh", num_hashes).alias("__mh"))
    return sig.select(*cols, "sh", band_keys("__mh", num_hashes, rows_per_band).alias("bk"))


def lsh_buckets(sig: DataFrame) -> DataFrame:
    """The LSH index rows (band, h, id) of `lsh_signatures` rows."""
    return sig.select(F.posexplode("bk").alias("band", "h"), "id")


def neardup_gate(
    sig: DataFrame,
    index: DataFrame | None,
    landed: DataFrame | None,
    threshold: float = 0.8,
    n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """The near-dup gate. ``sig`` is `lsh_signatures` (id, sh, bk) of the
    rows reaching the gate; ``index`` is the prior LSH index (band, h,
    id) and ``landed`` the prior landed documents (id, text), each None
    before the first batch. Returns the ids of rows with an earlier row
    (a prior batch, or a smaller id in this batch) whose shingle Jaccard
    reaches ``threshold``; an id may repeat. The result is a lineage cut
    whose exchanges have run, so ``sig``'s cut is materialized when it
    returns.

    Hot buckets: a (band, h) with more than ``max_bucket`` rows in the
    index plus this batch is excluded from BOTH candidate joins. Only
    the batch's bucket keys are counted (the index scan is semi-joined
    to them map-side first), so the aggregate's exchange is bounded by
    the batch, not by every key ever landed.

    Lineage cuts split the gate into three plans: the capped buckets,
    the candidate pairs, the verify. Within a plan, a broadcast that
    several joins read is built once: the capped buckets (the earlier
    side of in-batch pairs, and what the index streams against), the
    batch's shingle sets (both sides of an in-batch pair, the new side
    of an index pair). The index pairs are broadcast into the landed
    store's scan, so only candidate docs are re-shingled. Candidate
    pairs are deduplicated before the verify, so a pair sharing several
    buckets is verified once."""
    bkt = lsh_buckets(sig)
    counted = bkt.select("band", "h")
    if index is not None:
        counted = index.select("band", "h").join(
            F.broadcast(counted), ["band", "h"], "left_semi"
        ).unionByName(counted)
    ok = (
        counted.groupBy("band", "h")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= max_bucket)
        .select("band", "h")
    )
    # cut, like the pairs below: three joins read the capped buckets,
    # and without the cut the planner pushes each consumer's filters
    # into its own copy of the subtree, and every copy re-runs the
    # hot-bucket aggregate's exchanges
    buck_ok = bkt.join(F.broadcast(ok), ["band", "h"]).localCheckpoint(eager=False)
    earlier = F.broadcast(buck_ok)
    cand = (
        buck_ok.withColumnRenamed("id", "doc_b")
        .join(earlier, ["band", "h"])
        .filter(F.col("id") < F.col("doc_b"))
        .select(F.col("id").alias("doc_a"), "doc_b", F.lit(False).alias("old"))
    )
    if index is not None:
        # the index streams map-side; the bounded batch buckets broadcast
        cross = index.withColumnRenamed("id", "doc_a").join(earlier, ["band", "h"])
        cand = cand.unionByName(
            cross.select("doc_a", F.col("id").alias("doc_b"), F.lit(True).alias("old"))
        )
    # cut: both verify branches read the pairs
    cand = cand.distinct().localCheckpoint(eager=False)
    shs = F.broadcast(sig.select("id", "sh"))
    pairs = (
        cand.filter(~F.col("old"))
        .join(shs.alias("a"), F.col("doc_a") == F.col("a.id"))
        .select("doc_a", "doc_b", F.col("a.sh").alias("sh_a"))
    )
    if landed is not None:
        # old-side shingles are re-built for candidate docs only: the
        # landed store streams map-side against the broadcast pairs
        old = landed.join(
            F.broadcast(cand.filter(F.col("old"))), F.col("id") == F.col("doc_a")
        ).select("doc_a", "doc_b", tokens("text").alias("__toks"))
        pairs = pairs.unionByName(
            old.select("doc_a", "doc_b", shingles_from_tokens("__toks", n).alias("sh_a"))
        )
    pairs = pairs.join(shs.alias("b"), F.col("doc_b") == F.col("b.id")).select(
        "doc_a", "doc_b", "sh_a", F.col("b.sh").alias("sh_b")
    )
    return (
        _with_jaccard(pairs)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("doc_b").alias("id"))
        .localCheckpoint(eager=False)
    )


def keep_manifest(ids: DataFrame, dropped: DataFrame, id_name: str) -> DataFrame:
    """(``id_name``, keep) for each ``id`` of ``ids``: keep is false for
    the ``dropped`` ids (which may repeat). Both joins read one
    broadcast of ``dropped``."""
    d = F.broadcast(dropped.select("id"))
    return ids.join(d, "id", "left_anti").select(
        F.col("id").alias(id_name), F.lit(True).alias("keep")
    ).unionByName(
        ids.join(d, "id", "left_semi").select(F.col("id").alias(id_name), F.lit(False).alias("keep"))
    )


def neardup_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    raw_dir: str,
    index_dir: str,
    manifest_dir: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
) -> None:
    """One micro-batch of the near-dup ingest. Writes three batch-id
    scoped artifacts: the landed raw rows (id, text — the corpus),
    the LSH index rows (band, h, id — all docs), and the manifest
    (doc_id, keep)."""
    spark_ = batch_df.sparkSession
    with overlapped_batch_writes(spark_) as bw, job_label(
        spark_, f"neardup b{batch_id}: neardup gate"
    ):
        sig = lsh_signatures(
            batch_df.select(
                F.col(id_col).alias("id"),
                F.col(text_col).alias("text"),
                tokens(text_col).alias("__toks"),
            )
            .repartitionByRange("id")
            .sortWithinPartitions("id"),
            num_hashes,
            n,
            rows_per_band,
        ).localCheckpoint(eager=False)
        raw = sig.select("id", "text")
        rows = lsh_buckets(sig)
        dropped = neardup_gate(
            sig,
            read_state(spark_, index_dir, batch_id, schema=rows.schema),
            read_state(spark_, raw_dir, batch_id, schema=raw.schema),
            threshold,
            n,
            max_bucket,
        )
        # the gate's broadcast builds have materialized sig's cut
        bw.submit(
            overwrite_batch_atomic, raw, raw_dir, batch_id,
            label=f"neardup b{batch_id}: raw (write)",
        )
        bw.submit(
            overwrite_batch_atomic, rows, index_dir, batch_id,
            label=f"neardup b{batch_id}: index (write)",
        )
        manifest = keep_manifest(sig.select("id"), dropped, "doc_id")
        overwrite_batch_atomic(manifest, manifest_dir, batch_id)


def incremental_neardup_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    raw_dir: str,
    index_dir: str,
    manifest_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Start the near-dup ingest on a streaming DataFrame; returns the
    StreamingQuery (caller awaits). Manifest across all batches =
    batch-mode MinHash dedup of the whole history, first-wins."""
    return start_batch_stream(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: neardup_process_batch(
            batch_df, batch_id, raw_dir, index_dir, manifest_dir, **kwargs
        ),
    )


# ---------------------------------------------------------------------------
# catalog entry: the whole-history manifest equals the batch-mode answer
# ---------------------------------------------------------------------------

NEARDUP_STREAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS id, {_duck_shingles(_DUCK_TOKS)} AS sh
  FROM documents
),
dropped AS (
  SELECT DISTINCT b.id AS doc_id
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
)
SELECT d.doc_id, dr.doc_id IS NULL AS keep
FROM documents d LEFT JOIN dropped dr USING (doc_id)
"""


@query(
    "stream_incremental_neardup",
    oracle=NEARDUP_STREAM_ORACLE,
    tags=("streaming", "dedup", "llm"),
)
def stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents ingested in three id-ordered micro-batches through the
    persistent-LSH near-dup pipeline (land raw → index buckets →
    candidate join vs the index → exact verify vs candidate docs only
    → per-batch keep/drop manifest), then the manifests unioned.

    Because every document is indexed and "earlier" follows id order,
    the streamed whole-history manifest must equal batch-mode MinHash
    dedup: keep iff no doc with a smaller id has Jaccard ≥ 0.8 — which
    is exactly the brute-force oracle, independent of batch chopping
    (the oracle assumes LSH misses nothing; miss probability ≤
    (1-0.8²)¹⁶ ≈ 7e-8 per true pair, as in dedup_minhash_lsh_pairs)."""
    return three_batch_manifest(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "neardup",
        ("doc_id", "keep"),
        lambda batch_df, batch_id, root: neardup_process_batch(
            batch_df, batch_id, *(os.path.join(root, d) for d in ("raw", "idx", "man"))
        ),
    )
