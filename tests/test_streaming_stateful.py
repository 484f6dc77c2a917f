"""applyInPandasWithState: running per-user totals across micro-batch
replay must converge to the batch aggregate."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.streaming.stateful import (
    batch_user_totals,
    running_user_totals,
)

from .conftest import SF_DIR


def test_stateful_totals_converge_to_batch(spark, tmp_path):
    events = load(spark, SF_DIR, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "events_replay")
    events.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    # update mode emits one row per user per micro-batch that touched
    # them; the LAST emission per user is the running total — compare
    # against the batch twin
    emitted = spark.table("user_totals").toPandas()
    # multiple triggers ran: keep the max-n_events row per user
    final = emitted.sort_values("n_events").groupby("user_id").tail(1)
    want = batch_user_totals(spark.read.parquet(src)).toPandas()

    got = {int(r.user_id): r for _, r in final.iterrows()}
    assert len(got) == len(want)
    for _, w in want.iterrows():
        g = got[int(w.user_id)]
        assert int(g.n_events) == int(w.n_events)
        assert math.isclose(float(g.sum_value), float(w.sum_value), rel_tol=1e-9)
        assert g.last_seen == w.last_seen
    # state actually accumulated across triggers: some user must have
    # been emitted more than once (6 files, 2 per trigger = 3 triggers)
    assert len(emitted) > len(final)


def test_sessionizer_stream_equals_batch_any_order(spark, tmp_path):
    """Interval-merge sessionization: final streamed state equals the
    batch lag/cumsum twin even though file replay scrambles event
    order across micro-batches."""
    from duckdb_vortex_spark.streaming.stateful import (
        batch_user_sessions,
        sessionize_users,
    )
    from duckdb_vortex_spark.streaming.windows import run_to_memory, stream_from_directory

    events = load(spark, SF_DIR, "events")
    path = str(tmp_path / "sess_stream")
    # repartition WITHOUT ts ordering: batches replay out of time order
    events.repartition(7).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    stream = stream_from_directory(spark, path, schema, max_files_per_trigger=2)
    run_to_memory(sessionize_users(stream), "sess_sink", "update")
    # update mode re-emits per batch: keep each user's newest emission,
    # identified by the monotone n_events_seen version counter
    final = (
        spark.table("sess_sink")
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events_seen", "n_sessions", "first_us", "last_us")
            ).alias("s")
        )
        .select("user_id", "s.n_sessions", "s.first_us", "s.last_us")
    )
    got = {r.user_id: (r.n_sessions, r.first_us, r.last_us) for r in final.collect()}
    want = {
        r.user_id: (r.n_sessions, r.first_us, r.last_us)
        for r in batch_user_sessions(spark.read.parquet(path)).collect()
    }
    assert got == want and len(got) > 0
