"""Integrated incremental ingest chain (exact → near-dup → semantic
over one shared landed-batch store): the whole-history manifest must
be invariant to micro-batch chopping under id-ordered ingest — and the
1-batch chop IS batch mode by construction, so c1 == c2 == c5 is the
batch-equality property itself. Gate ORDER (first failing stage wins)
and retry idempotence are pinned on synthetic corpora."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.similarity import sample_centroids
from duckdb_vortex_spark.sources.vortex import register
from duckdb_vortex_spark.streaming.incremental_pipeline import (
    INGEST_PIPELINE_ORACLE,
    incremental_ingest_stream,
    ingest_process_batch,
)
from duckdb_vortex_spark.streaming.sinks import batch_dirs

from .conftest import SF_DIR, assert_matches_oracle


def _manifest(spark, root):
    return (
        spark.read.format("vortex")
        .option("paths", json.dumps(batch_dirs(os.path.join(root, "man"), 10**9)))
        .load()
    )


def _corpus(spark, limit=150):
    docs = load(spark, SF_DIR, "documents")
    emb = load(spark, SF_DIR, "embeddings")
    return docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")),
        "doc_id",
    ).limit(limit)


def test_chopping_invariance_vs_batch_mode(spark, tmp_path):
    """1-batch (= batch mode), 2-batch and 5-batch id-ordered chops
    produce identical (stage, is_kept) manifests."""
    register(spark)
    corpus = _corpus(spark).persist()
    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 16)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    results = {}
    for n_batches, tag in ((1, "c1"), (2, "c2"), (5, "c5")):
        root = str(tmp_path / tag)
        step = (len(ids) + n_batches - 1) // n_batches
        for b in range(n_batches):
            chunk = ids[b * step : (b + 1) * step]
            ingest_process_batch(
                corpus.filter(F.col("doc_id").isin(chunk)), b, centroids, root
            )
        results[tag] = {
            r["doc_id"]: (r["stage"], r["is_kept"])
            for r in _manifest(spark, root).collect()
        }
    assert set(results["c1"]) == set(ids)
    assert results["c1"] == results["c2"] == results["c5"]
    corpus.unpersist()


def test_two_batch_chain_matches_oracle(spark, oracle, tmp_path):
    """The default tier's chain check: the whole corpus in two
    id-ordered `ingest_process_batch` batches; the union of the batch
    manifests equals the batch-mode chain DuckDB replays. Measured
    25.8 s in a default-tier run on a 4-core machine (52 s when it is
    the session's first chain). It stays out of `_SLOW_TESTS`: it is
    the default tier's only check of the integrated chain."""
    register(spark)
    docs = load(spark, SF_DIR, "documents")
    emb = load(spark, SF_DIR, "embeddings")
    corpus = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")),
        "doc_id",
    )
    centroids = sample_centroids(emb, 16).persist()
    batched = corpus.withColumn(
        "__b", F.ntile(2).over(Window.orderBy("doc_id"))
    ).persist()
    root = str(tmp_path / "chain")
    for b in (1, 2):
        ingest_process_batch(
            batched.filter(F.col("__b") == b).drop("__b"), b, centroids, root
        )
    assert_matches_oracle(
        _manifest(spark, root).select("doc_id", "source", "stage", "is_kept"),
        oracle,
        INGEST_PIPELINE_ORACLE,
        "two_batch_chain",
    )
    batched.unpersist()
    centroids.unpersist()


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, text string, vec array<double>"
    )


def test_gate_order_first_failing_stage_wins(spark, tmp_path):
    """A doc that fails several gates is attributed to the FIRST one:
    an exact dup of an earlier doc reads 'exact' even though it is
    also a near-dup; a reworded near-dup reads 'near_dup' even though
    its vector also collides; a same-cluster vector with different
    text reads 'semantic'; and a doc dropped at gate 1 must NOT poison
    gate 2's index (its text never reaches the LSH index)."""
    register(spark)
    t0 = "the quick brown fox jumps over the lazy dog again and again today"
    t0_near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    t2 = "an entirely different document about spark shuffle partitioning"
    v_a = [1.0, 0.0, 0.0, 0.0]
    v_b = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (1, "s", t0, v_a),
        (2, "s", t0, v_a),        # exact dup of 1 (and near-dup, and cosine 1.0)
        (3, "s", t0_near, v_b),   # near-dup of 1, different vector
        (4, "s", t2, v_a),        # different text, same vector as 1 → semantic
        (5, "s", t2 + " extra", v_b),  # near-dup of 4? no — J(t2, t2+extra) high
    ]
    corpus = _mk(spark, rows)
    centroids = sample_centroids(
        _mk(spark, rows).select(F.col("doc_id").alias("vec_id"), F.col("vec").alias("embedding")),
        2,
    )
    root = str(tmp_path / "g")
    # two batches so the exact dup crosses a batch boundary too
    ingest_process_batch(corpus.filter(F.col("doc_id") <= 2), 0, centroids, root)
    ingest_process_batch(corpus.filter(F.col("doc_id") > 2), 1, centroids, root)
    got = {r["doc_id"]: r["stage"] for r in _manifest(spark, root).collect()}
    assert got[1] == "kept"
    assert got[2] == "exact"
    assert got[3] == "near_dup"
    assert got[4] == "semantic"
    # doc 5 is a near-dup of doc 4 — and doc 4 DID reach the near-dup
    # gate (it fell at the later semantic gate), so 5 drops as near_dup
    assert got[5] == "near_dup"
    # gate-1 victim never entered the LSH index
    idx = (
        spark.read.format("vortex")
        .option("paths", json.dumps(batch_dirs(os.path.join(root, "lsh"), 10**9)))
        .load()
    )
    assert 2 not in {r["id"] for r in idx.select("id").distinct().collect()}


def test_retried_batch_is_idempotent(spark, tmp_path):
    """Replaying a middle batch reads only strictly-earlier state for
    every store (lsh, ivf, raw — the raw store carries the exact
    gate's fingerprint column since the r16 fusion): the manifest and
    every index hold each doc exactly once afterwards."""
    register(spark)
    t0 = "the quick brown fox jumps over the lazy dog again and again"
    t1 = "an entirely different document about spark shuffle partitioning"
    v = [1.0, 0.0]
    w = [0.0, 1.0]
    all_rows = _mk(spark, [(1, "s", t0, v), (2, "s", t1, w), (3, "s", t0, v)])
    centroids = sample_centroids(
        all_rows.select(F.col("doc_id").alias("vec_id"), F.col("vec").alias("embedding")), 2
    )
    root = str(tmp_path / "r")
    ingest_process_batch(all_rows.filter(F.col("doc_id") == 1), 0, centroids, root)
    b1 = all_rows.filter(F.col("doc_id") > 1)
    ingest_process_batch(b1, 1, centroids, root)  # first attempt
    ingest_process_batch(b1, 1, centroids, root)  # retry, same id
    got = {r["doc_id"]: (r["stage"], r["is_kept"]) for r in _manifest(spark, root).collect()}
    assert got == {1: ("kept", True), 2: ("kept", True), 3: ("exact", False)}
    for store, id_col in (("lsh", "id"), ("ivf", "id")):
        dirs = batch_dirs(os.path.join(root, store), 10**9)
        df = spark.read.format("vortex").option("paths", json.dumps(dirs)).load()
        # exactly one batch dir per processed batch id, no duplicates
        assert len(dirs) == 2, store
    # raw store holds every landed doc exactly once, each with its
    # exact-gate fingerprint (the r16 fused column)
    raw = spark.read.format("vortex").option(
        "paths", json.dumps(batch_dirs(os.path.join(root, "raw"), 10**9))
    ).load()
    assert raw.count() == 3
    assert raw.filter(F.col("fp").isNull()).count() == 0
    # duplicate text ⇒ identical fingerprint in the landed store
    fps = {r["doc_id"]: r["fp"] for r in raw.select(F.col("id").alias("doc_id"), "fp").collect()}
    assert fps[1] == fps[3] and fps[1] != fps[2]


def test_chain_state_file_count_bounded(spark, tmp_path):
    """The 24/7 posture: with `compact_chain_stores` interleaved every
    K batches (max_segments-bounded, max_files-bounded segments), a
    batch's state read opens at most
    (max_segments + K) dirs * max-files-per-dir per store NO MATTER how
    many batches have ever landed — file-count growth was the exact
    signature of the r8 +2 s/batch bug, so the bound is pinned
    structurally (cheap, no timing). Also asserts the manifest equals
    the never-compacted run: repeated compaction — including major
    merges — must not change a single row."""
    from duckdb_vortex_spark.streaming.incremental_pipeline import (
        CHAIN_STORE_SORT,
        compact_chain_stores,
    )
    from duckdb_vortex_spark.streaming.sinks import STATE_FILES, state_dirs

    register(spark)
    corpus = _corpus(spark, limit=135).persist()
    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 16)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    n_batches, every, max_segments = 9, 3, 2
    step = (len(ids) + n_batches - 1) // n_batches
    chunks = [ids[i * step : (i + 1) * step] for i in range(n_batches)]

    plain_root = str(tmp_path / "plain")
    for b, chunk in enumerate(chunks, start=1):
        ingest_process_batch(
            corpus.filter(F.col("doc_id").isin(chunk)), b, centroids, plain_root
        )
    plain = {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, plain_root).collect()
    }

    root = str(tmp_path / "maintained")
    bound_dirs = max_segments + every
    bound_files = bound_dirs * STATE_FILES
    counts: list[int] = []
    for b, chunk in enumerate(chunks, start=1):
        # the state read batch b is about to do: bounded per store
        for store in CHAIN_STORE_SORT:
            dirs = state_dirs(os.path.join(root, store), b)
            files = sum(
                len([f for f in os.listdir(d) if not f.startswith(".")])
                for d in dirs
            )
            assert len(dirs) <= bound_dirs, (store, b, dirs)
            assert files <= bound_files, (store, b, files)
            counts.append(files)
        ingest_process_batch(
            corpus.filter(F.col("doc_id").isin(chunk)), b, centroids, root
        )
        if b % every == 0:
            compact_chain_stores(spark, root, max_segments=max_segments)
    # content: repeated compaction (incl. majors) changed nothing
    got = {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, root).collect()
    }
    assert got == plain
    # sanity: the bound was actually exercised (some state accumulated)
    assert max(counts) >= STATE_FILES
    corpus.unpersist()


def test_real_stream_drive(spark, tmp_path):
    """End-to-end through readStream/foreachBatch over two replayed
    parquet files; manifest covers every doc exactly once. Runs with
    the BUILT-IN maintenance knob (maintain_every=1, r10): the second
    batch's sink compacts the first batch's state before processing,
    so the stream exercises the full 24/7 posture — in-sink
    maintenance with the before=batch_id bound — as a one-parameter
    product feature, not test-side wiring."""
    from duckdb_vortex_spark.streaming.sinks import _segments

    register(spark)
    corpus = _corpus(spark, limit=60).select("doc_id", "source", "text", "vec")
    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 16)
    a = corpus.filter(F.col("doc_id") < 30)
    b = corpus.filter(F.col("doc_id") >= 30)
    src = str(tmp_path / "replay")
    a.coalesce(1).write.parquet(os.path.join(src, "f1"))
    b.coalesce(1).write.parquet(os.path.join(src, "f2"))
    now = os.path.getmtime(glob.glob(os.path.join(src, "f1", "*.parquet"))[0])
    for f in glob.glob(os.path.join(src, "f2", "*")):
        os.utime(f, (now + 60, now + 60))
    root, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    stream = (
        spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = incremental_ingest_stream(
        spark, stream, centroids, root, ckpt, maintain_every=1
    )
    q.awaitTermination()
    q.stop()
    man = _manifest(spark, root)
    assert man.count() == corpus.count()
    assert man.select("doc_id").distinct().count() == corpus.count()
    # the built-in maintenance actually ran: batch 0's state is folded
    assert _segments(os.path.join(root, "lsh")), "in-sink maintenance did not run"


def _replay_files(spark, corpus, src, n_files, order_col="doc_id"):
    """Write ``corpus`` as ``n_files`` parquet files with ascending
    mtimes so a maxFilesPerTrigger=1 stream replays them as id-ordered
    micro-batches."""
    ids = sorted(r[order_col] for r in corpus.select(order_col).collect())
    step = (len(ids) + n_files - 1) // n_files
    base_t = None
    for i in range(n_files):
        chunk = ids[i * step : (i + 1) * step]
        d = os.path.join(src, f"f{i}")
        corpus.filter(F.col(order_col).isin(chunk)).coalesce(1).write.parquet(d)
        files = glob.glob(os.path.join(d, "*"))
        if base_t is None:
            base_t = os.path.getmtime(glob.glob(os.path.join(d, "*.parquet"))[0])
        for f in files:
            os.utime(f, (base_t + 60 * i, base_t + 60 * i))


def test_live_stream_with_interleaved_compaction(spark, tmp_path):
    """Maintenance against a LIVE StreamingQuery (VERDICT r8 #6): a
    foreachBatch sink that runs `compact_chain_stores` on the
    checkpoint-committed batches before processing each new one — the
    24/7 deployment shape — must produce exactly the batch-mode
    manifest; and a fold that swallows a still-retryable batch must
    fail LOUDLY on the mid-stream retry, surfacing through the
    StreamingQueryException, not silently self-join."""
    from duckdb_vortex_spark.streaming.incremental_pipeline import (
        compact_chain_stores,
    )

    register(spark)
    corpus = (
        _corpus(spark, limit=80).select("doc_id", "source", "text", "vec").persist()
    )
    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 16)

    # batch-mode reference (one batch, separate root)
    ref_root = str(tmp_path / "ref")
    ingest_process_batch(corpus, 1, centroids, ref_root)
    want = {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, ref_root).collect()
    }

    src = str(tmp_path / "replay")
    _replay_files(spark, corpus, src, n_files=4)
    root, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    compacted_at: list[int] = []

    def sink(batch_df, batch_id):
        if batch_id >= 1:
            # before=batch_id (ADVICE r9): even if a previous attempt
            # of THIS batch crashed mid-chain and left partial state
            # dirs, the maintenance pass must not fold them — only
            # strictly earlier, checkpoint-committed batches
            res = compact_chain_stores(spark, root, max_segments=2, before=batch_id)
            if any(v is not None for v in res.values()):
                compacted_at.append(batch_id)
        ingest_process_batch(batch_df, batch_id, centroids, root)

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    assert len(compacted_at) >= 2, "compaction never ran mid-stream"
    got = {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, root).collect()
    }
    assert got == want

    # --- retryable-fold detection, mid-stream -----------------------------
    src2, root2, ck2 = (str(tmp_path / d) for d in ("replay2", "out2", "ck2"))
    _replay_files(spark, corpus, src2, n_files=2)
    from duckdb_vortex_spark.streaming.sinks import compact_dataset_incremental

    def bad_sink(batch_df, batch_id):
        ingest_process_batch(batch_df, batch_id, centroids, root2)
        if batch_id == 1:
            # fold EVERYTHING — including batch 1, which has not
            # committed yet (we are still inside its sink) — then die,
            # so the checkpoint replays batch 1
            compact_dataset_incremental(
                spark, os.path.join(root2, "raw"), sort_cols=["id"]
            )
            raise RuntimeError("simulated crash after over-eager fold")

    stream2 = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src2, "*"))
    )
    q2 = (
        stream2.writeStream.foreachBatch(bad_sink)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="simulated crash"):
        q2.awaitTermination()

    def retry_sink(batch_df, batch_id):
        ingest_process_batch(batch_df, batch_id, centroids, root2)

    q3 = (
        stream2.writeStream.foreachBatch(retry_sink)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    # the replay of batch 1 reads state_dirs(fp, 1) and must hit the
    # "segment folds a still-retryable batch" guard, loudly
    with pytest.raises(Exception, match="still retryable"):
        q3.awaitTermination()
    corpus.unpersist()


def test_stream_restart_resumes_batch_ids_across_compaction(spark, tmp_path):
    """The 24/7 lifecycle nobody tests until it bites: stop the ingest
    stream, run maintenance (compact the state stores), RESTART from
    the same checkpoint when new files land. The file source must
    resume batch ids where it left off (no collision with landed
    batch dirs), the restarted batches must read the COMPACTED state
    through the tiered listing, and the whole-history manifest must
    still equal batch mode."""
    from duckdb_vortex_spark.streaming.incremental_pipeline import (
        compact_chain_stores,
        incremental_ingest_stream,
    )
    from duckdb_vortex_spark.streaming.sinks import _segments, batch_dirs

    register(spark)
    corpus = (
        _corpus(spark, limit=60).select("doc_id", "source", "text", "vec").persist()
    )
    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 16)

    ref_root = str(tmp_path / "ref")
    ingest_process_batch(corpus, 1, centroids, ref_root)
    want = {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, ref_root).collect()
    }

    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    quarters = [ids[i * 15 : (i + 1) * 15] for i in range(4)]
    src = str(tmp_path / "watched")
    os.makedirs(src)
    root, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def land_files(qs, start):
        for i, chunk in enumerate(qs, start=start):
            corpus.filter(F.col("doc_id").isin(chunk)).coalesce(1).write.parquet(
                os.path.join(src, f"f{i}")
            )

    def run_session():
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q = incremental_ingest_stream(spark, stream, centroids, root, ckpt)
        q.awaitTermination()
        q.stop()

    # session 1: first two quarters -> batches 0, 1
    land_files(quarters[:2], 0)
    run_session()
    assert len(batch_dirs(os.path.join(root, "man"), 10**9)) == 2
    # maintenance while the stream is DOWN: fold batches 0-1
    res = compact_chain_stores(spark, root, max_segments=2)
    assert any(v is not None for v in res.values())
    assert _segments(os.path.join(root, "lsh")), "lsh store not compacted"

    # session 2: two more quarters land; SAME checkpoint resumes
    land_files(quarters[2:], 2)
    run_session()
    man_ids = sorted(
        int(os.path.basename(d).split("-")[1])
        for d in batch_dirs(os.path.join(root, "man"), 10**9)
    )
    assert man_ids == [0, 1, 2, 3], "batch ids must continue across restart"
    got = {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, root).collect()
    }
    assert got == want
    corpus.unpersist()


def test_stores_compactable_between_batches(spark, tmp_path):
    """Every state store the chain maintains can be incrementally
    compacted BETWEEN micro-batches: after folding batches 1-2 of
    every store into sorted segments, batch 3 (and a retry of it)
    produces the same manifest as the never-compacted run — the
    strictly-earlier retry contract survives compaction. Folding a
    batch that is still retryable must fail loudly instead."""
    import pytest

    from duckdb_vortex_spark.streaming.sinks import (
        compact_dataset_incremental,
        state_dirs,
    )

    register(spark)
    corpus = _corpus(spark, limit=120).persist()
    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 16)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    step = (len(ids) + 2) // 3
    chunks = [ids[i * step : (i + 1) * step] for i in range(3)]

    def run(root, compact_after_2):
        for b, chunk in enumerate(chunks, start=1):
            if compact_after_2 and b == 3:
                for store, keys in (
                    ("raw", ["id"]),
                    ("lsh", ["band", "h"]),
                    ("ivf", ["cluster_id", "id"]),
                ):
                    seg = compact_dataset_incremental(
                        spark, os.path.join(root, store), sort_cols=keys
                    )
                    assert seg is not None, store
            ingest_process_batch(
                corpus.filter(F.col("doc_id").isin(chunk)), b, centroids, root
            )
        return {
            r["doc_id"]: (r["stage"], r["is_kept"])
            for r in _manifest(spark, root).collect()
        }

    plain = run(str(tmp_path / "plain"), compact_after_2=False)
    compacted_root = str(tmp_path / "comp")
    compacted = run(compacted_root, compact_after_2=True)
    assert compacted == plain

    # retry of batch 3 AFTER the stores were compacted: still idempotent
    ingest_process_batch(
        corpus.filter(F.col("doc_id").isin(chunks[2])), 3, centroids, compacted_root
    )
    assert {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, compacted_root).collect()
    } == plain

    # folding a still-retryable batch is detected: compact everything
    # (incl. batch 3), then a retry of batch 3 must fail loudly
    compact_dataset_incremental(
        spark, os.path.join(compacted_root, "raw"), sort_cols=["id"]
    )
    with pytest.raises(ValueError, match="still retryable"):
        state_dirs(os.path.join(compacted_root, "raw"), 3)
    corpus.unpersist()


def test_stream_restart_after_crashed_fold_under_lease(spark, tmp_path):
    """Restart-under-load soak (VERDICT r10 next #8): a maintain_every
    stream is killed between micro-batches, and the store is left the
    way a maintenance pass crashed MID-FOLD leaves it — fold segments
    committed, all GC skipped (superseded segments + consumed batch
    dirs still on disk), and the lease still held by a DEAD pid. The
    resumed stream (same checkpoint) must: steal the stale lease in
    its first in-sink pass, GC the crash leftovers, keep folding, and
    deliver exactly the batch-mode manifest — the full crash-recovery
    path of the 24/7 posture driven through a real StreamingQuery."""
    import duckdb_vortex_spark.streaming.sinks as sinks
    from duckdb_vortex_spark.streaming.incremental_pipeline import (
        compact_chain_stores,
    )

    register(spark)
    corpus = (
        _corpus(spark, limit=90).select("doc_id", "source", "text", "vec").persist()
    )
    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 16)

    # batch-mode reference (chopping invariance: 1 batch == any chop)
    ref_root = str(tmp_path / "ref")
    ingest_process_batch(corpus, 1, centroids, ref_root)
    want = {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, ref_root).collect()
    }

    # stage all 6 replay files, then feed 3 per phase (moves keep the
    # staged ascending mtimes, so replay order is deterministic)
    staged = str(tmp_path / "staged")
    _replay_files(spark, corpus, staged, n_files=6)
    src = str(tmp_path / "replay")
    os.makedirs(src)
    files = sorted(os.listdir(staged))
    assert len(files) == 6

    root, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def run_stream():
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q = incremental_ingest_stream(
            spark, stream, centroids, root, ckpt, maintain_every=1
        )
        q.awaitTermination()
        q.stop()

    for f in files[:3]:
        os.rename(os.path.join(staged, f), os.path.join(src, f))
    run_stream()  # phase 1: batches 0..2, then the "kill"

    # crash a maintenance pass mid-fold: fold commits on every store,
    # ALL GC skipped, and the raw store's lease is left held by a pid
    # that no longer exists (the pass died before releasing)
    orig = sinks.shutil.rmtree
    try:
        sinks.shutil.rmtree = lambda *a, **kw: None
        compact_chain_stores(spark, root, max_segments=1, before=3)
    finally:
        sinks.shutil.rmtree = orig
    # the lease releases via os.rmdir (decoupled from the disabled GC
    # machinery by design), so re-create it as the crashed pass left
    # it: held by a pid that no longer exists
    fp_lock = os.path.join(root, "raw", ".maintenance-lock")
    os.makedirs(fp_lock)
    dead = 2**22 + 7919
    while sinks._pid_alive(dead):  # pragma: no cover — paranoia
        dead += 1
    with open(os.path.join(fp_lock, "owner.json"), "w") as f:
        json.dump({"pid": dead, "ts": 0.0}, f)
    leftovers = [
        s
        for s in sinks._segments(os.path.join(root, "raw"))
        if s not in sinks._live_segments(os.path.join(root, "raw"))
    ]
    assert leftovers, "crash-sim expected superseded segments on disk"

    # phase 2: resume under load — same checkpoint, 3 more files
    for f in files[3:]:
        os.rename(os.path.join(staged, f), os.path.join(src, f))
    run_stream()

    # the resumed in-sink pass stole the dead lease and GC'd the crash
    # leftovers; nothing superseded or locked remains
    assert not os.path.isdir(fp_lock), "stale lease must have been stolen"
    for store in ("raw", "lsh", "ivf"):
        p = os.path.join(root, store)
        assert set(sinks._segments(p)) == set(sinks._live_segments(p)), store
    got = {
        r["doc_id"]: (r["stage"], r["is_kept"])
        for r in _manifest(spark, root).collect()
    }
    assert got == want
    corpus.unpersist()


def test_overlapped_batch_writes_joins_and_propagates(monkeypatch):
    """Focused r16 unit pins for `sinks.overlapped_batch_writes` (the
    §2.6 write-overlap machinery): (1) every submitted write completes
    before __exit__ returns — the exactly-once precondition; (2) a
    failed write surfaces as the batch's error even when the gate body
    succeeds; (3) a gate-body error still joins in-flight writes first
    (no write left racing a retry) and wins over write errors;
    (4) DVS_OVERLAP_WRITES=0 degrades to inline execution."""
    import time as _t

    from duckdb_vortex_spark.streaming.sinks import overlapped_batch_writes

    # (1) join-before-return
    done = []
    with overlapped_batch_writes() as bw:
        bw.submit(lambda: (_t.sleep(0.2), done.append("w1"))[-1])
        bw.submit(lambda: (_t.sleep(0.1), done.append("w2"))[-1])
    assert sorted(done) == ["w1", "w2"]

    # (2) write failure fails the batch
    def boom():
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        with overlapped_batch_writes() as bw:
            bw.submit(boom)

    # (3) gate error propagates, but the in-flight write is joined first
    joined = []
    with pytest.raises(ValueError, match="gate"):
        with overlapped_batch_writes() as bw:
            bw.submit(lambda: (_t.sleep(0.2), joined.append("w"))[-1])
            raise ValueError("gate")
    assert joined == ["w"]

    # (4) kill switch runs inline on the calling thread
    import threading

    monkeypatch.setenv("DVS_OVERLAP_WRITES", "0")
    tids = []
    with overlapped_batch_writes() as bw:
        bw.submit(lambda: tids.append(threading.get_ident()))
    assert tids == [threading.get_ident()]


def test_overlapped_write_session_setup_failure_warns_once(monkeypatch, caplog):
    """A write thread that cannot take over the caller's session still
    runs its write, and the cause is logged once per process instead of
    surfacing later as a causeless DATA_SOURCE_NOT_FOUND."""
    from duckdb_vortex_spark.streaming import sinks

    class NoContext:
        @property
        def sparkContext(self):  # noqa: N802
            raise RuntimeError("no JVM here")

    monkeypatch.setattr(sinks, "_SESSION_SETUP_WARNED", False)
    ran = []
    with caplog.at_level("WARNING", logger=sinks.__name__):
        for _ in range(2):
            with sinks.overlapped_batch_writes(NoContext()) as bw:
                bw.submit(lambda: ran.append(1))
    assert ran == [1, 1]
    warned = [r for r in caplog.records if "active session" in r.getMessage()]
    assert len(warned) == 1 and "no JVM here" in caplog.text


def test_hung_overlapped_write_does_not_block_exit(tmp_path):
    """A process whose batch writes hang still exits when its main thread
    ends: both pool workers stuck in a write, a third write queued, and
    the interpreter exits without running the queued one."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    marker = tmp_path / "queued-write-ran"
    script = f"""
        import sys, threading
        sys.path.insert(0, {repo!r})
        from duckdb_vortex_spark.streaming import sinks

        hang = threading.Event()
        bw = sinks.overlapped_batch_writes()
        bw.submit(hang.wait)
        bw.submit(hang.wait)
        bw.submit(open, {str(marker)!r}, "w")
        print("exiting", flush=True)
    """
    env = dict(os.environ, DVS_OVERLAP_WRITES="1")
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0 and out.stdout.strip() == "exiting", out.stderr[-3000:]
    assert not marker.exists()
