"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2B Streaming north-star: "applyInPandasWithState for
custom stateful operators" — no reference parity, DuckDB v1.5.5 has
no streaming state at all).

``running_user_totals`` keeps per-user running aggregates across
micro-batches: (n_events, sum_value, last_seen). Each micro-batch
emits the updated totals for the users present in that batch
("update"-mode semantics). State is one small tuple per user — at
100 TB/day event volume the state store scales with |users|, not
|events|, and Spark's HDFS/RocksDB state backends checkpoint it per
trigger.

The batch twin (plain groupBy over the same columns) is what tests
compare against after draining a replayed file stream: final emitted
totals per user must equal the batch aggregate — the unified-model
guarantee, extended to custom state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_seen_us", T.LongType()),
    ]
)


def _update_user(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, sv, last_us = state.get
    else:
        n, sv, last_us = 0, 0.0, None
    for pdf in pdfs:
        n += len(pdf)
        sv += float(pdf["value"].sum())
        batch_last = pdf["ts"].max()
        us = int(batch_last.value // 1000)
        last_us = us if last_us is None else max(last_us, us)
    state.update((n, sv, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [sv],
            "last_seen": [pd.Timestamp(last_us * 1000)],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals with explicit state. Input needs
    (user_id, ts, value); works only on streaming DataFrames (the
    batch twin is a plain groupBy — see tests)."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def batch_user_totals(events: DataFrame) -> DataFrame:
    """The batch twin of running_user_totals' final state."""
    return events.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.max("ts").alias("last_seen"),
    )


# --- gap sessionizer (interval-merge state) -------------------------------

SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        # events folded into state so far: a monotone version counter —
        # consumers keep the row with the highest value per user
        # (update-mode emissions are not otherwise ordered).
        T.StructField("n_events_seen", T.LongType()),
    ]
)

SESSION_STATE = T.StructType(
    [
        T.StructField("starts", T.ArrayType(T.LongType())),
        T.StructField("ends", T.ArrayType(T.LongType())),
        T.StructField("n_events_seen", T.LongType()),
    ]
)

_GAP_US = 3_600_000_000  # 1 hour


def _merge_intervals(iv: list[tuple[int, int]], gap: int) -> list[tuple[int, int]]:
    iv.sort()
    out: list[tuple[int, int]] = []
    for s, e in iv:
        if out and s - out[-1][1] <= gap:
            ps, pe = out[-1]
            out[-1] = (ps, max(pe, e))
        else:
            out.append((s, e))
    return out


def _update_sessions(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        starts, ends, seen = state.get
        iv = [(int(s), int(e)) for s, e in zip(starts, ends)]
    else:
        iv, seen = [], 0
    for pdf in pdfs:
        seen += len(pdf)
        iv.extend((int(t.value // 1000),) * 2 for t in pdf["ts"])
    iv = _merge_intervals(iv, _GAP_US)
    state.update(([s for s, _ in iv], [e for _, e in iv], seen))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_sessions": [len(iv)],
            "first_us": [iv[0][0]],
            "last_us": [iv[-1][1]],
            "n_events_seen": [seen],
        }
    )


def sessionize_users(events: DataFrame, gap_us: int = _GAP_US) -> DataFrame:
    """Gap-based sessionization as custom state: per user, a sorted set
    of disjoint [start, end] intervals merged under the gap threshold.

    Unlike a naive last-event-timestamp sessionizer, interval-merge
    state is ORDER-TOLERANT: micro-batches may replay events in any
    order (file-source replay makes no cross-batch time guarantee) and
    the final state is identical — the same property that makes it
    safe under Spark's non-deterministic batch composition at scale.
    State size is O(open sessions per user), not O(events)."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_sessions,
            SESSION_OUTPUT,
            SESSION_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def batch_user_sessions(events: DataFrame, gap_us: int = _GAP_US) -> DataFrame:
    """Batch twin: classic lag/cumsum gap sessionization."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    new_s = (
        F.when(F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us), 1)
        .otherwise(0)
    )
    return (
        events.select("user_id", "ts", new_s.alias("new_s"), us.alias("us"))
        .groupBy("user_id")
        .agg(
            F.sum("new_s").cast("bigint").alias("n_sessions"),
            F.min("us").alias("first_us"),
            F.max("us").alias("last_us"),
        )
    )
