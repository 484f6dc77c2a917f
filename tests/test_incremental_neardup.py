"""Incremental near-dup ingest: the persistent-LSH pipeline must give
the same whole-history keep/drop manifest as batch-mode MinHash dedup,
no matter how the stream is chopped into micro-batches — and survive
the same retry scenario the exact-dedup pipeline pins."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.dedup import (
    band_buckets,
    minhash_lsh_pairs,
    minhash_signatures,
)
from duckdb_vortex_spark.operators.text import tokens
from duckdb_vortex_spark.sources.vortex import register
from duckdb_vortex_spark.streaming.incremental_neardup import (
    incremental_neardup_stream,
    lsh_buckets,
    lsh_signatures,
    neardup_process_batch,
)
from duckdb_vortex_spark.streaming.sinks import batch_dirs, compact_dataset_incremental

from .conftest import SF_DIR


def _manifest(spark, man_d):
    return (
        spark.read.format("vortex")
        .option("paths", json.dumps(batch_dirs(man_d, 10**9)))
        .load()
    )


def _batch_answer(docs):
    """keep iff no smaller-id doc with J >= 0.8 (perfect-recall LSH)."""
    pairs = minhash_lsh_pairs(docs, threshold=0.8)
    dropped = {r["doc_b"] for r in pairs.collect()}
    return {r["doc_id"]: r["doc_id"] not in dropped for r in docs.select("doc_id").collect()}


def test_batch_and_stream_share_one_hash_family(spark):
    """Batch pair-finding and the streaming LSH index bucket a doc
    alike: `band_buckets(minhash_signatures(docs))` and the chain's
    `lsh_buckets(lsh_signatures(...))` give the same (id, band, h)
    rows, so a batch-built index and a streamed one are
    interchangeable."""
    docs = load(spark, SF_DIR, "documents")
    batch = band_buckets(minhash_signatures(docs, "text", "doc_id", 32, 3), 32, 2)
    stream = lsh_buckets(
        lsh_signatures(
            docs.select(F.col("doc_id").alias("id"), tokens("text").alias("__toks")),
            32,
            3,
            2,
        )
    )
    got = sorted(map(tuple, batch.select("id", "band", "h").collect()))
    want = sorted(map(tuple, stream.select("id", "band", "h").collect()))
    assert got == want
    assert len(got) == 16 * docs.count()


def test_chopping_invariance(spark, tmp_path):
    """2-batch and 5-batch chops of the same id-ordered corpus produce
    identical manifests, equal to the batch-mode answer."""
    register(spark)
    docs = load(spark, SF_DIR, "documents").limit(160).persist()
    want = _batch_answer(docs)
    ids = sorted(want)
    for n_batches, tag in ((2, "c2"), (5, "c5")):
        dirs = [str(tmp_path / f"{tag}_{d}") for d in ("raw", "idx", "man")]
        step = (len(ids) + n_batches - 1) // n_batches
        for b in range(n_batches):
            chunk = ids[b * step : (b + 1) * step]
            neardup_process_batch(
                docs.filter(F.col("doc_id").isin(chunk)), b, *dirs
            )
        got = {
            r["doc_id"]: r["keep"] for r in _manifest(spark, dirs[2]).collect()
        }
        assert got == want, f"{tag}: manifest diverges from batch answer"
    docs.unpersist()


def test_real_stream_drive(spark, tmp_path):
    """End-to-end through readStream/foreachBatch: two parquet files
    replayed one per micro-batch; manifest covers every doc exactly
    once and cross-batch near-dups are caught."""
    register(spark)
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").limit(80)
    a = docs.filter(F.col("doc_id") <= 40)
    # file 2: fresh docs + exact near-dups of file 1 under new ids
    # deterministic pick: limit() without order has no stable row set
    redup = (
        a.orderBy("doc_id")
        .limit(10)
        .select((F.col("doc_id") + 50000).alias("doc_id"), "text")
    )
    b = docs.filter(F.col("doc_id") > 40).union(redup)
    src = str(tmp_path / "replay")
    a.coalesce(1).write.parquet(os.path.join(src, "f1"))
    b.coalesce(1).write.parquet(os.path.join(src, "f2"))
    now = os.path.getmtime(glob.glob(os.path.join(src, "f1", "*.parquet"))[0])
    for f in glob.glob(os.path.join(src, "f2", "*")):
        os.utime(f, (now + 60, now + 60))

    stream = (
        spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    raw_d, idx_d, man_d, ckpt = (
        str(tmp_path / d) for d in ("raw", "idx", "man", "ck")
    )
    q = incremental_neardup_stream(spark, stream, raw_d, idx_d, man_d, ckpt)
    q.awaitTermination()
    q.stop()

    man = _manifest(spark, man_d)
    assert man.count() == a.count() + b.count()
    got = {r["doc_id"]: r["keep"] for r in man.collect()}
    # every re-duplicated id was dropped (its original has an earlier
    # batch), and the full manifest equals the batch-mode answer
    # (the corpus has planted near-dups WITHIN file 1 too — those drop
    # as well; redup ids sort after all originals, so id order ==
    # arrival order and the batch answer applies verbatim)
    for r in redup.select("doc_id").collect():
        assert got[r["doc_id"]] is False
    assert got == _batch_answer(a.unionByName(b))
    assert len(glob.glob(os.path.join(man_d, "batch-*"))) >= 2


def test_retried_batch_is_idempotent(spark, tmp_path):
    """A replayed batch id must read only strictly-earlier state: the
    retry may not double-index its own first attempt (which would make
    every row its own 'earlier near-dup' and drop the whole batch)."""
    register(spark)
    dirs = [str(tmp_path / d) for d in ("raw", "idx", "man")]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")
    t0 = "the quick brown fox jumps over the lazy dog again and again"
    t1 = "an entirely different document about spark shuffle partitioning"
    neardup_process_batch(mk([(1, t0)]), 0, *dirs)
    batch1 = mk([(2, t0), (3, t1)])
    neardup_process_batch(batch1, 1, *dirs)  # first attempt (uncommitted)
    neardup_process_batch(batch1, 1, *dirs)  # retry with same batch_id
    got = {r["doc_id"]: r["keep"] for r in _manifest(spark, dirs[2]).collect()}
    assert got == {1: True, 2: False, 3: True}
    # index holds ALL docs exactly once each (16 bands * 3 docs)
    idx = (
        spark.read.format("vortex")
        .option("paths", json.dumps(batch_dirs(dirs[1], 10**9)))
        .load()
    )
    assert idx.select("id").distinct().count() == 3
    assert idx.count() == 3 * 16


def test_crash_mid_write_leaves_no_visible_batch(spark, tmp_path):
    """A batch that dies mid-write must leave nothing a `batch-*`
    reader can see: artifacts stage under a dot-prefixed dir and
    commit via one atomic rename."""
    import duckdb_vortex_spark.streaming.sinks as sinks

    register(spark)
    dirs = [str(tmp_path / d) for d in ("raw", "idx", "man")]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")
    doc = "atomic commit test document with enough words to shingle properly"
    orig = sinks.os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # die at the second artifact's commit point
            raise RuntimeError("simulated crash")
        orig(src, dst)

    sinks.os.rename = crashing_rename
    try:
        try:
            neardup_process_batch(mk([(1, doc)]), 0, *dirs)
        except RuntimeError:
            pass
    finally:
        sinks.os.rename = orig
    # the crashed artifact's dir shows no committed batch, only staging
    crashed = [d for d in dirs if not glob.glob(os.path.join(d, "batch-*"))]
    assert crashed, "crash did not prevent a visible batch anywhere"
    # the artifact that died AT its commit point left only staging;
    # later artifacts were never started — nothing visible either way
    assert any(
        glob.glob(os.path.join(d, ".staging-batch-*")) for d in crashed
    )
    # retry completes cleanly and clears the stale staging
    neardup_process_batch(mk([(1, doc)]), 0, *dirs)
    for d in dirs:
        assert glob.glob(os.path.join(d, "batch-*"))
        assert not glob.glob(os.path.join(d, ".staging-batch-*"))


def test_hot_bucket_cap_applies_uniformly(spark, tmp_path):
    """max_bucket must gate BOTH candidate joins: with the cap at 1
    every 2+-doc bucket is excluded, so an exact duplicate is kept
    whether it arrives in the same batch or a later one (before the
    fix the in-batch self-join ignored the cap entirely)."""
    register(spark)
    dirs = [str(tmp_path / d) for d in ("raw", "idx", "man")]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")
    t = "the quick brown fox jumps over the lazy dog again and again"
    # same-batch duplicate pair
    neardup_process_batch(mk([(1, t), (2, t)]), 0, *dirs, max_bucket=1)
    # cross-batch duplicate of doc 1
    neardup_process_batch(mk([(3, t)]), 1, *dirs, max_bucket=1)
    got = {r["doc_id"]: r["keep"] for r in _manifest(spark, dirs[2]).collect()}
    assert got == {1: True, 2: True, 3: True}
    # sanity: with the default cap the same corpus drops the dups
    dirs2 = [str(tmp_path / f"d2_{d}") for d in ("raw", "idx", "man")]
    neardup_process_batch(mk([(1, t), (2, t)]), 0, *dirs2)
    neardup_process_batch(mk([(3, t)]), 1, *dirs2)
    got2 = {r["doc_id"]: r["keep"] for r in _manifest(spark, dirs2[2]).collect()}
    assert got2 == {1: True, 2: False, 3: False}


def test_reads_incrementally_compacted_state(spark, tmp_path):
    """Compacting the raw and index stores between batches 1 and 2 (a
    maintenance pass with ``before=2``, which folds batches 0-1 into a
    segment and removes their dirs) leaves the manifest of batches 0-2
    unchanged: batch 2 reads the segment as its prior state."""
    register(spark)
    docs = load(spark, SF_DIR, "documents").limit(120).persist()
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    step = (len(ids) + 2) // 3
    got = {}
    for tag in ("plain", "compacted"):
        raw_d, idx_d, man_d = (str(tmp_path / f"{tag}_{d}") for d in ("raw", "idx", "man"))
        for b in range(3):
            if tag == "compacted" and b == 2:
                compact_dataset_incremental(spark, raw_d, ["id"], before=2)
                compact_dataset_incremental(spark, idx_d, ["band", "h"], before=2)
                assert not batch_dirs(raw_d, 2) and not batch_dirs(idx_d, 2)
            chunk = ids[b * step : (b + 1) * step]
            neardup_process_batch(
                docs.filter(F.col("doc_id").isin(chunk)), b, raw_d, idx_d, man_d
            )
        got[tag] = {r["doc_id"]: r["keep"] for r in _manifest(spark, man_d).collect()}
    assert got["compacted"] == got["plain"] == _batch_answer(docs)
    docs.unpersist()
