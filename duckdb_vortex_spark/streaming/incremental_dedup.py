"""Incremental dedup: new stream data against the historical corpus.

The within-stream dedup in streaming/windows.py bounds its state by a
watermark; a TRAINING-DATA ingest pipeline needs the other kind too —
"have we EVER seen this document?" — whose state is the corpus itself
and therefore lives in storage, not the stream state store.

This module is a one-gate chain over `exact_gate`, the gate the
integrated chain (`incremental_pipeline`) runs first. Per micro-batch:

1. fingerprint rows (xxhash64 of normalized text); in-batch, the
   first row of each fingerprint wins;
2. drop the rows whose fingerprint is in the persistent fingerprint
   store (a vortex dataset: tiny rows, one column);
3. append survivors to the output dataset AND their fingerprints to
   the store, both under the micro-batch's batch-id directory —
   retries overwrite their own dirs, so exactly-once composes with
   the streaming checkpoint.

Scale: the store grows by corpus cardinality (8 bytes/doc before
encoding), and periodic compaction keeps its file count flat. The
batch side is one micro-batch (bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import (
    job_label,
    overwrite_batch_atomic,
    read_state,
    start_batch_stream,
)


def fingerprint(text_col: str = "text"):
    """Content fingerprint: xxhash64 over whitespace-normalized,
    lowercased text — byte-identical docs AND trivially-reformatted
    ones collapse."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return F.xxhash64(norm)


def exact_gate(
    fp: DataFrame, seen: DataFrame | None, order: tuple = ("id",)
) -> DataFrame:
    """The exact gate. ``fp`` holds a unique row key ``id``, the
    fingerprint ``__fp`` and the ``order`` columns for the rows reaching
    the gate, ``seen`` the fingerprints of every earlier row (one
    ``__fp`` column; None before the first batch). Returns the dropped
    ids, each once: each row with an earlier row of its fingerprint in
    ``(order, id)`` order, and each row whose fingerprint is in
    ``seen``. The result is a lineage cut whose broadcast build has run,
    so ``fp``'s own cut is materialized when it returns.

    The batch side is bounded and the history is the corpus, so ONE
    broadcast of the batch fingerprints serves both checks: the
    in-batch first-wins is a semi self-join against it, and it is
    broadcast INTO the history scan (map-side inner join), so only
    matched ids reach the one exchange, the distinct. Checkpointed
    frames carry no size stats; without the hint the planner
    sort-merged the batch against the whole store."""
    rank = (*order, "id")
    fpb = F.broadcast(fp.select("__fp", *dict.fromkeys(rank)))

    def at(side: str):
        return F.struct(*(F.col(f"{side}.{c}") for c in rank))

    dropped = (
        fp.alias("b")
        .join(
            fpb.alias("a"),
            (F.col("a.__fp") == F.col("b.__fp")) & (at("a") < at("b")),
            "left_semi",
        )
        .select("id")
    )
    if seen is not None:
        hist = seen.join(fpb, "__fp").select("id")
        dropped = dropped.unionByName(hist).distinct()
    return dropped.localCheckpoint(eager=False)


def incremental_dedup_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    text_col: str = "text",
):
    """Start the ingest pipeline on a streaming DataFrame; returns the
    StreamingQuery (caller awaits). Output dataset: survivors only,
    first occurrence wins across the whole stream history."""
    return start_batch_stream(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: process_batch(
            batch_df, batch_id, out_dir, store_dir, text_col
        ),
    )


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    store_dir: str,
    text_col: str = "text",
) -> None:
    """One micro-batch of the ingest pipeline — exposed as a plain
    function so retry semantics are directly testable: calling it twice
    with the same batch_id is idempotent (the replay reads exactly the
    store state the first attempt read, then overwrites its own dirs).

    First-wins ranks whole rows (smallest by the batch's columns in
    order), so the batch needs no id column, and a replayed record —
    the same row twice in one batch — is emitted once. The gate's row
    key is a per-row surrogate, fixed by the checkpoint."""
    spark_ = batch_df.sparkSession
    with job_label(spark_, f"dedup b{batch_id}: exact gate") as label:
        rows = (
            batch_df.withColumn("__fp", fingerprint(text_col))
            .withColumn("__row", F.monotonically_increasing_id())
            .localCheckpoint(eager=False)
        )
        dropped = exact_gate(
            rows.select(
                F.col("__row").alias("id"), "__fp", F.struct(*batch_df.columns).alias("__doc")
            ),
            read_state(spark_, store_dir, batch_id, schema=rows.select("__fp").schema),
            order=("__doc",),
        )
        fresh = rows.join(
            F.broadcast(dropped.withColumnRenamed("id", "__row")), "__row", "left_anti"
        )
        # both writes read the cut ``dropped``, which only a job of its
        # own materializes: written one after the other, never two
        # threads materialize it at once
        label(f"dedup b{batch_id}: output (write)")
        overwrite_batch_atomic(fresh.select(*batch_df.columns), out_dir, batch_id)
        label(f"dedup b{batch_id}: fp store (write)")
        overwrite_batch_atomic(fresh.select("__fp"), store_dir, batch_id)
