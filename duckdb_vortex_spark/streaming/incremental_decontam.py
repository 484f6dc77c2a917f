"""Incremental FUZZY DECONTAMINATION: an ingest gate vs a static eval index.

The third ingest gate a production pretraining pipeline runs next to
exact dedup (`incremental_dedup`) and near-dup dedup
(`incremental_neardup`): "is this new document a near-duplicate of the
held-out benchmark?" — continuously, per micro-batch, without ever
re-scanning the corpus (VERDICT r7 next-round #6). Composes the r7
batch operator `operators.contamination.neardup_decontaminate` with
the persistent-index pattern of the incremental trio. It is a one-gate
chain over that operator's `decontaminate_against_index`:

1. the EVAL INDEX is built ONCE, offline, from the held-out set —
   MinHash signatures + shingle arrays (id, sh, mh), landed as a
   vortex dataset (`build_eval_index`). Eval benchmarks are small by
   nature, so this is the static-broadcast-codebook role from
   `incremental_semdedup`: state that never grows with the corpus;
2. per batch, the index is loaded and the batch's documents flow
   through the exact candidate/verify plan of the batch operator
   (`decontaminate_against_index`): batch signatures map-side →
   broadcast band-bucket join → id-semi-join prune → exact
   shingle-Jaccard >= threshold vs the broadcast eval shingles;
3. the per-document manifest row (doc_id, source, max_jaccard,
   is_kept) commits under the micro-batch's batch-id dir through the
   staged atomic rename.

CHOP-INVARIANCE — unconditional. Unlike the dedup gates (whose
"earlier document wins" rule needs id-ordered ingest for batch
equality), decontamination is a pure PER-DOCUMENT function of the
static eval index: no cross-batch pair is ever formed, so the
whole-history manifest equals the batch-mode answer for ANY arrival
order and ANY chopping — the strongest invariance in the incremental
family, and exactly what the DuckDB oracle (brute-force train x eval
Jaccard) checks.

State: the eval index only — O(|eval|), ~constant; per-batch work is
O(|batch| + collisions), independent of everything already landed.
Exactly-once: manifests commit via `sinks.overwrite_batch_atomic`
(rewrite-on-retry; a retried batch recomputes from the same static
index, so the rewrite is value-identical).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from ..operators.contamination import (
    NEARDUP_DECONTAM_ORACLE,
    decontaminate_against_index,
)
from ..operators.dedup import minhash_signatures
from .sinks import (
    job_label,
    overwrite_batch_atomic,
    read_state,
    start_batch_stream,
    three_batch_manifest,
)


def build_eval_index(
    eval_df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
) -> None:
    """Land the static eval signature index (id, sh, mh) as a vortex
    dataset — the build-once/search-many artifact every micro-batch
    reloads. Written id-sorted (deterministic layout; the index is
    eval-set-sized, so sorting is trivial)."""
    esig = minhash_signatures(eval_df, text_col, id_col, num_hashes, n)
    overwrite_batch_atomic(
        esig.repartitionByRange("id").sortWithinPartitions("id"), index_dir, 0
    )


def load_eval_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The eval index `build_eval_index` landed, persisted: it is
    static, so a stream loads and caches it once."""
    return read_state(spark, index_dir, 1).persist()


def decontam_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    manifest_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
    rows_per_band: int = 2,
    eval_index_df: DataFrame | None = None,
) -> None:
    """One micro-batch of the decontamination gate: flag every batch
    document whose Jaccard vs ANY eval document reaches ``threshold``,
    commit the manifest under the batch-id dir. Extra batch columns
    (e.g. ``source``) pass through to the manifest for auditability.

    ``eval_index_df`` (r16): the eval index is STATIC by construction,
    yet each batch re-loaded and re-persisted it — a long-running
    stream pays the load + cache write once per micro-batch for state
    that never changes. Pass the already-persisted index frame (the
    stream wrapper and the catalog entry do) to load it once per
    stream; omitted, the per-batch load keeps the old standalone
    behavior."""
    spark_ = batch_df.sparkSession
    with job_label(spark_, f"decontam b{batch_id}: decontam gate"):
        own_index = eval_index_df is None
        # persisted, the tiny index pins both broadcast builds (ebuck + esh)
        # to one scan
        esig = load_eval_index(spark_, index_dir) if own_index else eval_index_df
        try:
            flags = decontaminate_against_index(
                batch_df,
                esig,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
                num_hashes=num_hashes,
                n=n,
                rows_per_band=rows_per_band,
            )
            passthrough = [c for c in batch_df.columns if c not in (text_col,)]
            manifest = (
                batch_df.select(*passthrough)
                # flags is batch-bounded → broadcast (r16, guide §3.1)
                .join(F.broadcast(flags), F.col(id_col) == flags.id)
                .select(*passthrough, "max_jaccard", "is_kept")
            )
            overwrite_batch_atomic(manifest, manifest_dir, batch_id)
        finally:
            if own_index:
                esig.unpersist()


def incremental_decontam_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    manifest_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Start the decontamination gate on a streaming DataFrame against
    a pre-built eval index (`build_eval_index`); returns the
    StreamingQuery. Whole-history manifest = the batch operator's
    answer, unconditionally (per-document gate, static index)."""

    esig = load_eval_index(spark, index_dir)  # once per STREAM
    return start_batch_stream(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: decontam_process_batch(
            batch_df, batch_id, index_dir, manifest_dir, eval_index_df=esig, **kwargs
        ),
    )


# ---------------------------------------------------------------------------
# catalog entry: streamed manifests equal the batch decontamination answer
# ---------------------------------------------------------------------------


@query(
    "stream_incremental_decontam",
    oracle=NEARDUP_DECONTAM_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def stream_incremental_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training documents ingested in three micro-batches through the
    fuzzy-decontamination gate: a static MinHash eval index built once
    from source 'src0', then per batch — signatures, broadcast LSH
    candidate join, exact Jaccard >= 0.8 verify, per-batch manifest.
    The unioned manifests must equal the batch operator
    `contamination_neardup_eval` row-for-row (same oracle): the gate
    is a pure per-document function of the static index, so batch
    chopping cannot change any row — unconditionally, with no
    id-ordered-ingest precondition (module docstring)."""
    docs = load(spark, sf_dir, "documents")
    esig = None  # the static eval index: built and loaded once, in batch 1

    def process_batch(batch_df: DataFrame, batch_id: int, root: str) -> None:
        nonlocal esig
        idx_d = os.path.join(root, "idx")
        if batch_id == 1:
            build_eval_index(docs.filter(F.col("source") == "src0"), idx_d)
            esig = load_eval_index(spark, idx_d)
        decontam_process_batch(
            batch_df, batch_id, idx_d, os.path.join(root, "man"), eval_index_df=esig
        )

    try:
        return three_batch_manifest(
            docs.filter(F.col("source") != "src0"),
            "doc_id",
            "decontam",
            ("doc_id", "source", "max_jaccard", "is_kept"),
            process_batch,
        )
    finally:
        if esig is not None:
            esig.unpersist()
