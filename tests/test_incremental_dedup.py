"""Incremental (cross-batch, storage-backed) dedup: replaying a
corpus with duplicates across micro-batches must emit each distinct
document exactly once — including duplicates that live in DIFFERENT
batches, which watermark-state dedup can't catch once state expires."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.sources.vortex import register
from duckdb_vortex_spark.streaming.incremental_dedup import (
    fingerprint,
    incremental_dedup_stream,
    process_batch,
)

from .conftest import SF_DIR


def test_incremental_dedup_across_batches(spark, tmp_path):
    register(spark)
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").limit(120)

    # replay: 3 files; file2 repeats half of file1's texts under new
    # ids (cross-batch dups), file3 repeats file2's (and adds fresh)
    a = docs.limit(60)
    dup_half = a.limit(30).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    b = docs.filter(F.col("doc_id") > 60).limit(30).union(dup_half)
    src = str(tmp_path / "replay")
    a.coalesce(1).write.parquet(os.path.join(src, "f1"))
    b.coalesce(1).write.parquet(os.path.join(src, "f2"))
    # make f2 newer so batch order is deterministic
    now = os.path.getmtime(glob.glob(os.path.join(src, "f1", "*.parquet"))[0])
    for f in glob.glob(os.path.join(src, "f2", "*")):
        os.utime(f, (now + 60, now + 60))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    out, store, ckpt = (
        str(tmp_path / "out"),
        str(tmp_path / "store"),
        str(tmp_path / "ck"),
    )
    q = incremental_dedup_stream(spark, stream, out, store, ckpt)
    q.awaitTermination()
    q.stop()

    got = spark.read.format("vortex").load(os.path.join(out, "batch-*"))
    want = (
        a.unionByName(b)
        .withColumn("__fp", fingerprint("text"))
        .groupBy("__fp")
        .count()
    )
    # exactly one surviving row per distinct fingerprint
    assert got.count() == want.count()
    assert got.withColumn("__fp", fingerprint("text")).select("__fp").distinct().count() == got.count()
    # the store carries the same fingerprint set
    store_fps = spark.read.format("vortex").load(os.path.join(store, "batch-*"))
    assert store_fps.distinct().count() == got.count()
    # multiple micro-batches actually ran (cross-batch property tested)
    assert len(glob.glob(os.path.join(out, "batch-*"))) >= 2


def test_retried_batch_does_not_lose_data(spark, tmp_path):
    """Exactly-once under retry: a micro-batch whose first attempt
    wrote its store/output dirs but whose checkpoint did NOT commit is
    replayed with the same batch_id. The replay must anti-join only
    against batches strictly earlier than itself — a glob over the
    whole store would see the stale first-attempt fingerprints,
    classify every row as already-seen, and rewrite both dirs empty
    (the data-loss bug this pins)."""
    register(spark)
    out, store = str(tmp_path / "out"), str(tmp_path / "store")

    batch0 = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id bigint, text string"
    )
    process_batch(batch0, 0, out, store)
    batch1 = spark.createDataFrame(
        [(3, "beta doc"), (4, "gamma doc")], "doc_id bigint, text string"
    )
    process_batch(batch1, 1, out, store)  # first attempt (uncommitted)
    process_batch(batch1, 1, out, store)  # retry with same batch_id

    got = spark.read.format("vortex").load(os.path.join(out, "batch-*"))
    # gamma survives the retry; beta deduped against batch 0
    assert sorted(r["text"] for r in got.collect()) == [
        "alpha doc", "beta doc", "gamma doc"
    ]
    store_fps = spark.read.format("vortex").load(os.path.join(store, "batch-*"))
    assert store_fps.distinct().count() == 3


def test_in_batch_first_wins_is_per_row(spark, tmp_path):
    """In-batch first-wins ranks whole rows, not ids: a record replayed
    twice in one batch (same id, same text) is emitted once and its
    fingerprint stored once; one id on two different texts keeps both;
    duplicates without an id still collapse to one row."""
    register(spark)
    out, store = str(tmp_path / "out"), str(tmp_path / "store")
    batch0 = spark.createDataFrame(
        [
            (1, "alpha doc"), (1, "alpha doc"),  # replayed record
            (2, "beta doc"), (2, "gamma doc"),  # one id, two texts
            (None, "delta doc"), (None, "Delta  doc"),  # no id
        ],
        "doc_id bigint, text string",
    )
    process_batch(batch0, 0, out, store)
    batch1 = spark.createDataFrame(
        [(5, "alpha doc"), (None, "delta doc"), (6, "eps doc")],
        "doc_id bigint, text string",
    )
    process_batch(batch1, 1, out, store)

    got = spark.read.format("vortex").load(os.path.join(out, "batch-*"))
    assert sorted((r["doc_id"] or 0, r["text"]) for r in got.collect()) == [
        (0, "Delta  doc"), (1, "alpha doc"), (2, "beta doc"), (2, "gamma doc"),
        (6, "eps doc"),
    ]
    store_fps = spark.read.format("vortex").load(os.path.join(store, "batch-*"))
    assert store_fps.count() == store_fps.distinct().count() == 5


def test_stream_without_an_id_column(spark, tmp_path):
    """The stream needs a text column only: a schema with no id runs,
    and a text seen in an earlier batch is dropped from a later one."""
    register(spark)
    src = str(tmp_path / "src")
    texts = spark.createDataFrame([("one doc",), ("two doc",)], "text string")
    texts.coalesce(1).write.parquet(os.path.join(src, "f1"))
    texts.union(spark.createDataFrame([("three doc",)], "text string")).coalesce(
        1
    ).write.parquet(os.path.join(src, "f2"))
    now = os.path.getmtime(glob.glob(os.path.join(src, "f1", "*.parquet"))[0])
    for f in glob.glob(os.path.join(src, "f2", "*")):
        os.utime(f, (now + 60, now + 60))
    stream = (
        spark.readStream.schema(texts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    out = str(tmp_path / "out")
    q = incremental_dedup_stream(
        spark, stream, out, str(tmp_path / "store"), str(tmp_path / "ck")
    )
    q.awaitTermination()
    q.stop()
    assert len(glob.glob(os.path.join(out, "batch-*"))) == 2
    got = spark.read.format("vortex").load(os.path.join(out, "batch-*"))
    assert sorted(r["text"] for r in got.collect()) == ["one doc", "three doc", "two doc"]


def test_multi_path_option_handles_commas(spark, tmp_path):
    """The out-of-band `paths` JSON-list option reads several dataset
    dirs in one scan — including paths that legitimately contain a
    comma (the old in-band comma splitting made those unreadable)."""
    import json

    register(spark)
    d1 = str(tmp_path / "part,one.vortex")
    d2 = str(tmp_path / "two.vortex")
    spark.createDataFrame([(1,)], "x bigint").write.format("vortex").mode("append").save(d1)
    spark.createDataFrame([(2,)], "x bigint").write.format("vortex").mode("append").save(d2)
    got = (
        spark.read.format("vortex")
        .option("paths", json.dumps([d1, d2]))
        .load()
    )
    assert sorted(r["x"] for r in got.collect()) == [1, 2]
