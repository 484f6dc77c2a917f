"""Incremental decontamination gate: per-document vs a STATIC eval
index, so the whole-history manifest must equal the batch operator for
ANY chopping and ANY arrival order (no id-ordered precondition — the
strongest invariance in the incremental family), and the gate must
survive the retry/crash scenarios the other ingest pipelines pin."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.contamination import neardup_decontaminate
from duckdb_vortex_spark.sources.vortex import register
from duckdb_vortex_spark.streaming.incremental_decontam import (
    build_eval_index,
    decontam_process_batch,
    incremental_decontam_stream,
)
from duckdb_vortex_spark.streaming.sinks import batch_dirs

from .conftest import SF_DIR, cache_is_empty


def _manifest(spark, man_d):
    return (
        spark.read.format("vortex")
        .option("paths", json.dumps(batch_dirs(man_d, 10**9)))
        .load()
    )


def _batch_answer(train, eval_df):
    out = neardup_decontaminate(train, eval_df, threshold=0.8)
    return {r["id"]: (r["max_jaccard"], r["is_kept"]) for r in out.collect()}


def test_chop_and_order_invariance(spark, tmp_path):
    """id-ordered 2-batch, id-ordered 5-batch, AND a parity chop (all
    even ids first — NOT id-ordered across batches) all produce the
    same manifest as the batch operator: the gate is a pure
    per-document function of the static index."""
    register(spark)
    docs = load(spark, SF_DIR, "documents").limit(200).persist()
    train = docs.filter(F.col("source") != "src0")
    eval_df = docs.filter(F.col("source") == "src0")
    want = _batch_answer(train, eval_df)
    ids = sorted(want)
    chops = {
        "c2": [ids[: len(ids) // 2], ids[len(ids) // 2 :]],
        "c5": [ids[i::5] for i in range(5)],  # interleaved: not id-ordered
        "par": [[i for i in ids if i % 2 == 0], [i for i in ids if i % 2 == 1]],
    }
    for tag, chunks in chops.items():
        idx_d, man_d = (str(tmp_path / f"{tag}_{d}") for d in ("idx", "man"))
        build_eval_index(eval_df, idx_d)
        for b, chunk in enumerate(chunks):
            decontam_process_batch(
                train.filter(F.col("doc_id").isin(chunk)), b, idx_d, man_d
            )
        got = {
            r["doc_id"]: (r["max_jaccard"], r["is_kept"])
            for r in _manifest(spark, man_d).collect()
        }
        assert got == want, f"{tag}: manifest diverges from the batch operator"
    docs.unpersist()


def test_real_stream_drive(spark, tmp_path):
    """End-to-end through readStream/foreachBatch: two parquet files
    replayed one per micro-batch against a pre-built eval index; a
    planted eval near-duplicate in the SECOND batch is flagged."""
    register(spark)
    docs = load(spark, SF_DIR, "documents")
    eval_df = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0").select(
        "doc_id", "source", "text"
    ).limit(60)
    # plant: an eval doc's text under a fresh train id in file 2
    leak = (
        eval_df.orderBy("doc_id")
        .limit(1)
        .select(F.lit(99999).cast("long").alias("doc_id"), F.lit("srcX").alias("source"), "text")
    )
    a = train.filter(F.col("doc_id") % 2 == 0)
    b = train.filter(F.col("doc_id") % 2 == 1).unionByName(leak)
    src = str(tmp_path / "replay")
    a.coalesce(1).write.parquet(os.path.join(src, "f1"))
    b.coalesce(1).write.parquet(os.path.join(src, "f2"))
    now = os.path.getmtime(glob.glob(os.path.join(src, "f1", "*.parquet"))[0])
    for f in glob.glob(os.path.join(src, "f2", "*")):
        os.utime(f, (now + 60, now + 60))

    idx_d, man_d, ckpt = (str(tmp_path / d) for d in ("idx", "man", "ck"))
    build_eval_index(eval_df, idx_d)
    stream = (
        spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = incremental_decontam_stream(spark, stream, idx_d, man_d, ckpt)
    q.awaitTermination()
    q.stop()

    man = _manifest(spark, man_d)
    assert man.count() == a.count() + b.count()
    got = {r["doc_id"]: r["is_kept"] for r in man.collect()}
    assert got[99999] is False, "planted eval leak was not flagged"
    assert len(glob.glob(os.path.join(man_d, "batch-*"))) >= 2


def test_retried_batch_is_idempotent(spark, tmp_path):
    """Replaying a batch id rewrites a value-identical manifest (the
    gate reads only the static index, so the retry recomputes the same
    rows) and leaves exactly one batch dir."""
    register(spark)
    docs = load(spark, SF_DIR, "documents").limit(80)
    eval_df = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    idx_d, man_d = (str(tmp_path / d) for d in ("idx", "man"))
    build_eval_index(eval_df, idx_d)
    decontam_process_batch(train, 0, idx_d, man_d)
    first = {
        r["doc_id"]: (r["max_jaccard"], r["is_kept"])
        for r in _manifest(spark, man_d).collect()
    }
    decontam_process_batch(train, 0, idx_d, man_d)  # retry
    again = {
        r["doc_id"]: (r["max_jaccard"], r["is_kept"])
        for r in _manifest(spark, man_d).collect()
    }
    assert first == again
    assert len(glob.glob(os.path.join(man_d, "batch-*"))) == 1


def test_failed_manifest_write_releases_own_index(spark, tmp_path):
    """A batch that loads the eval index itself releases it also when
    its manifest write fails: the failure propagates and no cached
    frame outlives the batch."""
    register(spark)
    docs = load(spark, SF_DIR, "documents").limit(40)
    idx_d = str(tmp_path / "idx")
    build_eval_index(docs.filter(F.col("source") == "src0"), idx_d)
    man_d = tmp_path / "man"
    man_d.write_text("")  # a file where the manifest dir should be
    spark.catalog.clearCache()  # what earlier tests left cached is not checked here
    with pytest.raises(Exception, match="Not a directory"):
        decontam_process_batch(docs.filter(F.col("source") != "src0"), 0, idx_d, str(man_d))
    assert cache_is_empty(spark)
