"""Incremental semantic dedup: the persistent-IVF pipeline must give
the same whole-history keep/drop manifest as batch-mode same-cluster
SemDeDup, no matter how the stream is chopped — plus the retry and
real-stream scenarios the other incremental pipelines pin."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.similarity import ivf_assign, sample_centroids
from duckdb_vortex_spark.sources.vortex import register
from duckdb_vortex_spark.streaming.incremental_semdedup import (
    incremental_semdedup_stream,
    semantic_gate,
    semdedup_process_batch,
)
from duckdb_vortex_spark.streaming.sinks import batch_dirs, compact_dataset_incremental

from .conftest import SF_DIR
from .hof_reference import _dot, cosine

THRESH = 0.4


def _manifest(spark, man_d):
    return (
        spark.read.format("vortex")
        .option("paths", json.dumps(batch_dirs(man_d, 10**9)))
        .load()
    )


def _batch_answer(emb, centroids):
    """keep iff no same-cluster vector with a smaller id reaches the
    threshold — computed directly, no batching."""
    a1 = ivf_assign(emb, centroids, 1).select(
        "cluster_id", F.col("vec_id").alias("id"), "embedding", "vnorm"
    )
    l = a1.select(
        "cluster_id",
        F.col("id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("vnorm").alias("na"),
    )
    r = a1.select(
        "cluster_id",
        F.col("id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("vnorm").alias("nb"),
    )
    dropped = {
        x["id_b"]
        for x in l.join(r, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("c"),
        )
        .filter(F.col("c") >= THRESH)
        .select("id_b")
        .distinct()
        .collect()
    }
    return {
        x["vec_id"]: x["vec_id"] not in dropped
        for x in emb.select("vec_id").collect()
    }


def _hof_gate(asg, landed, threshold):
    """The HOF reference gate: the ids of batch rows with a landed or
    batch row in the same cluster, with a smaller id, whose `cosine`
    reaches ``threshold`` (Spark's ``>=``, under which NaN reaches every
    threshold and null none)."""
    old = asg if landed is None else landed.unionByName(asg)
    a = old.select("cluster_id", F.col("id").alias("id_a"), F.col("vec").alias("va"))
    b = asg.select("cluster_id", F.col("id").alias("id_b"), F.col("vec").alias("vb"))
    return {
        r["id_b"]
        for r in a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .collect()
    }


def test_semantic_gate_equals_hof_reference(spark):
    """The kernel gate drops exactly the ids the HOF reference gate
    drops, with and without landed rows, on adversarial vectors: zero
    vectors, null elements, NaN elements (a NaN cosine drops), a null
    vector, a length mismatch and an equal-length pair of another
    length, a duplicate pair scoring exactly at the threshold, and a
    batch row with a lower id than its landed duplicate (kept)."""
    nan = float("nan")
    schema = "cluster_id int, id bigint, vec array<float>, vnorm double"
    landed = spark.createDataFrame(
        [
            (0, 10, [1.0, 0.0, 0.0], None),
            (0, 20, [0.6, 0.8, 0.0], None),
            (0, 30, [0.0, 0.0, 0.0], None),  # zero vector
            (0, 40, [1.0, None, 0.0], None),  # null element
            (1, 50, [nan, 1.0, 1.0], None),  # NaN element
            (3, 90, [1.0, 0.0, 0.0], None),  # a cluster the batch does not probe
        ],
        schema,
    )
    asg = spark.createDataFrame(
        [
            (0, 5, [1.0, 0.0, 0.0], None),  # lower id than its landed duplicate 10
            (0, 15, [2.0, 0.0, 0.0], None),  # cosine 1.0 with 5 and 10
            (0, 25, [0.6, 0.8, 0.0], None),  # exactly at the threshold with 20
            (0, 35, [0.0, 0.0, 0.0], None),
            (0, 45, [1.0, 0.0, None], None),
            (1, 55, [0.0, 1.0, 1.0], None),  # NaN cosine with 50
            (1, 60, [nan, 0.0, 0.0], None),
            (2, 65, [1.0, 2.0, 3.0], None),
            (0, 70, [3.0, 4.0], None),  # length mismatch with the 3-dim rows
            (0, 75, [6.0, 8.0], None),  # cosine 1.0 with 70
            (0, 80, None, None),
            (0, 85, [1.0, 0.001, 0.0], None),  # just below the threshold
        ],
        schema,
    )
    at = asg.filter("id = 25").select(F.col("vec").alias("b"))
    thr = at.crossJoin(landed.filter("id = 20").select(F.col("vec").alias("a")))
    thr = thr.select(cosine(F.col("a"), F.col("b"))).first()[0]
    assert thr < 1.0
    for lnd, want in ((None, {15, 60, 75}), (landed, {15, 25, 55, 60, 75})):
        assert _hof_gate(asg, lnd, thr) == want
        assert {r["id"] for r in semantic_gate(asg, lnd, thr).collect()} == want


def test_chopping_invariance(spark, tmp_path):
    register(spark)
    emb = load(spark, SF_DIR, "embeddings").persist()
    centroids = sample_centroids(emb, 16)
    want = _batch_answer(emb, centroids)
    ids = sorted(want)
    for n_batches, tag in ((2, "c2"), (5, "c5")):
        dirs = [str(tmp_path / f"{tag}_{d}") for d in ("idx", "man")]
        step = (len(ids) + n_batches - 1) // n_batches
        for b in range(n_batches):
            chunk = ids[b * step : (b + 1) * step]
            semdedup_process_batch(
                emb.filter(F.col("vec_id").isin(chunk)), b, centroids, *dirs
            )
        got = {
            r["vec_id"]: r["keep"] for r in _manifest(spark, dirs[1]).collect()
        }
        assert got == want, f"{tag}: manifest diverges from batch answer"
    emb.unpersist()


def test_retried_batch_is_idempotent(spark, tmp_path):
    """A replayed batch id reads only strictly-earlier state — the
    retry must not treat its own first attempt's index rows as
    'earlier' (which would drop its whole batch as self-duplicates)."""
    register(spark)
    emb = load(spark, SF_DIR, "embeddings").limit(60).persist()
    centroids = sample_centroids(emb, 4)
    dirs = [str(tmp_path / d) for d in ("idx", "man")]
    b0 = emb.filter(F.col("vec_id") < 30)
    b1 = emb.filter(F.col("vec_id") >= 30)
    semdedup_process_batch(b0, 0, centroids, *dirs)
    semdedup_process_batch(b1, 1, centroids, *dirs)
    first = {r["vec_id"]: r["keep"] for r in _manifest(spark, dirs[1]).collect()}
    semdedup_process_batch(b1, 1, centroids, *dirs)  # retry, same id
    again = {r["vec_id"]: r["keep"] for r in _manifest(spark, dirs[1]).collect()}
    assert first == again
    # index holds every vector exactly once
    idx = (
        spark.read.format("vortex")
        .option("paths", json.dumps(batch_dirs(dirs[0], 10**9)))
        .load()
    )
    assert idx.count() == emb.count()
    assert idx.select("id").distinct().count() == emb.count()
    emb.unpersist()


def test_real_stream_drive(spark, tmp_path):
    """End-to-end through readStream/foreachBatch with a static
    codebook: two parquet files replayed one per micro-batch; the
    manifest equals the batch-mode answer and covers every vector."""
    register(spark)
    emb = load(spark, SF_DIR, "embeddings").limit(100).persist()
    centroids = sample_centroids(emb, 8)
    a = emb.filter(F.col("vec_id") < 50)
    b = emb.filter(F.col("vec_id") >= 50)
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
    idx_d, man_d, ckpt = (str(tmp_path / d) for d in ("idx", "man", "ck"))
    q = incremental_semdedup_stream(spark, stream, centroids, idx_d, man_d, ckpt)
    q.awaitTermination()
    q.stop()
    got = {r["vec_id"]: r["keep"] for r in _manifest(spark, man_d).collect()}
    assert got == _batch_answer(emb, centroids)
    assert len(glob.glob(os.path.join(man_d, "batch-*"))) >= 2
    emb.unpersist()


def test_index_compaction_preserves_candidates(spark, tmp_path):
    """Lifecycle: after many small streamed batches, compact the
    semantic index into one cluster-sorted segment — the next batch
    reads the compacted layout through `state_dirs` and produces an
    identical manifest."""
    from duckdb_vortex_spark.streaming.sinks import (
        compact_dataset_incremental,
        read_vortex_dataset_tiered,
        state_dirs,
    )

    register(spark)
    emb = load(spark, SF_DIR, "embeddings").limit(90).persist()
    centroids = sample_centroids(emb, 4)
    want = _batch_answer(emb, centroids)
    dirs = [str(tmp_path / d) for d in ("idx", "man")]
    # land the first two thirds as two id-ordered batches (arrival
    # order must follow id order for the batch answer to apply),
    # compact, then ingest the final third against the compacted state
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    b = [
        emb.filter(F.col("vec_id") < cut1),
        emb.filter((F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2)),
        emb.filter(F.col("vec_id") >= cut2),
    ]
    semdedup_process_batch(b[0], 0, centroids, *dirs)
    semdedup_process_batch(b[1], 1, centroids, *dirs)
    n_before = read_vortex_dataset_tiered(spark, dirs[0]).count()
    seg = compact_dataset_incremental(spark, dirs[0], ["cluster_id", "id"], before=2)
    # batch 2's prior state is exactly the one compacted segment
    assert state_dirs(dirs[0], 2) == [seg]
    assert read_vortex_dataset_tiered(spark, dirs[0]).count() == n_before
    semdedup_process_batch(b[2], 2, centroids, *dirs)
    got = {r["vec_id"]: r["keep"] for r in _manifest(spark, dirs[1]).collect()}
    assert got == want
    emb.unpersist()


def test_reads_incrementally_compacted_state(spark, tmp_path):
    """Compacting the index between batches 1 and 2 (a maintenance pass
    with ``before=2``, which folds batches 0-1 into a segment and
    removes their dirs) leaves the manifest of batches 0-2 unchanged:
    batch 2 reads the segment as its prior state."""
    register(spark)
    emb = load(spark, SF_DIR, "embeddings").persist()
    centroids = sample_centroids(emb, 16)
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    step = (len(ids) + 2) // 3
    got = {}
    for tag in ("plain", "compacted"):
        idx_d, man_d = (str(tmp_path / f"{tag}_{d}") for d in ("idx", "man"))
        for b in range(3):
            if tag == "compacted" and b == 2:
                compact_dataset_incremental(spark, idx_d, ["cluster_id", "id"], before=2)
                assert not batch_dirs(idx_d, 2)
            chunk = ids[b * step : (b + 1) * step]
            semdedup_process_batch(
                emb.filter(F.col("vec_id").isin(chunk)), b, centroids, idx_d, man_d
            )
        got[tag] = {r["vec_id"]: r["keep"] for r in _manifest(spark, man_d).collect()}
    assert got["compacted"] == got["plain"] == _batch_answer(emb, centroids)
    emb.unpersist()
