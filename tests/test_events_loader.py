"""Pin BOTH vintages of the events.ts loader normalization
(catalog.load, VERDICT r2 item 9): round-1 testdata shipped
TIMESTAMP(NANOS), round-2 regenerated as TIMESTAMP(MICROS) NTZ. The
on-disk schema drives the branch, so both must stay covered even
though only one vintage is present in /root/testdata at a time.
"""

from __future__ import annotations

import datetime
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from duckdb_vortex_spark import catalog
from duckdb_vortex_spark.session import get_spark

from .conftest import SF_DIR, run_counting_jobs


def _write_events(tmp_path, ts_array):
    table = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 11], type=pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.5, 2.5], type=pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))


# one µs past the epoch second, plus sub-µs nanos that DuckDB truncates
_NS = [1_704_067_200_000_000_789, 1_704_067_201_500_001_999]
_EXPECT_US = [1_704_067_200_000_000, 1_704_067_201_500_001]
# the three vintages of events.ts on disk
_VINTAGES = {
    "ns": pa.array(_NS, type=pa.timestamp("ns")),
    "us": pa.array(_EXPECT_US, type=pa.timestamp("us")),
    "us-utc": pa.array(_EXPECT_US, type=pa.timestamp("us", tz="UTC")),
}


def _fields(schema):
    return [(f.name, f.dataType, f.nullable, f.metadata) for f in schema.fields]


def test_nanos_branch_truncates_to_micros(spark, tmp_path):
    """NANOS parquet: read as long (legacy conf), integer-DIV to µs —
    DuckDB's silent ns→µs truncation semantics, exactly."""
    _write_events(tmp_path, pa.array(_NS, type=pa.timestamp("ns")))
    df = catalog.load(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = sorted(r.ts for r in df.select("ts").collect())
    want = [
        datetime.datetime.fromtimestamp(us / 1e6, tz=datetime.timezone.utc).replace(
            tzinfo=None
        )
        for us in _EXPECT_US
    ]
    # pinned-UTC session: naive datetimes are UTC wall clock
    assert [t.replace(tzinfo=None) for t in got] == want


def test_micros_ntz_branch_casts_to_timestamp(spark, tmp_path):
    """MICROS (no tz) parquet: Spark surfaces TIMESTAMP_NTZ; the
    loader casts to TimestampType under the pinned-UTC session."""
    _write_events(
        tmp_path, pa.array(_EXPECT_US, type=pa.timestamp("us"))
    )
    df = catalog.load(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.count() == 2


def test_micros_utc_branch_passthrough(spark, tmp_path):
    """MICROS with UTC tz: already TimestampType — loader must not
    touch it (the identity branch)."""
    _write_events(
        tmp_path, pa.array(_EXPECT_US, type=pa.timestamp("us", tz="UTC"))
    )
    df = catalog.load(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = sorted(r.ts for r in df.select("ts").collect())
    assert got[0].replace(tzinfo=None) == datetime.datetime(2024, 1, 1, 0, 0, 0)


@pytest.mark.parametrize("unit", sorted(_VINTAGES))
def test_vintages_agree_after_normalization(spark, tmp_path, unit):
    """Every vintage of the same instant normalizes to identical µs
    timestamps — the invariant every downstream catalog entry relies
    on."""
    d = tmp_path / unit
    d.mkdir()
    _write_events(d, _VINTAGES[unit])
    df = catalog.load(spark, str(d), "events")
    got = sorted(
        r.us for r in df.selectExpr("unix_micros(ts) AS us").collect()
    )
    assert got == _EXPECT_US


@pytest.mark.parametrize("unit", sorted(_VINTAGES))
def test_second_load_binds_without_a_job(spark, tmp_path, unit):
    """A session infers a table file's schema once: loading the same
    unchanged file again gives the same schema and rows and runs no
    Spark job."""
    _write_events(tmp_path, _VINTAGES[unit])
    load = partial(catalog.load, spark, str(tmp_path), "events")
    first, first_jobs = run_counting_jobs(spark, load)
    second, second_jobs = run_counting_jobs(spark, load)
    assert first_jobs >= 1  # the first load infers
    assert second_jobs == 0
    assert _fields(second.schema) == _fields(first.schema)
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file rewritten at the same path with another schema is a new
    file to the memo: the load infers again and reads the new rows."""
    load = partial(catalog.load, spark, str(tmp_path), "events")
    _write_events(tmp_path, _VINTAGES["us-utc"])
    load().collect()
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"event_id": [7, 8, 9], "ts": _VINTAGES["ns"].take([0, 1, 1])}), path)
    df, jobs = run_counting_jobs(spark, load)
    assert jobs >= 1
    assert df.columns == ["event_id", "ts"]
    got = sorted(r.us for r in df.selectExpr("unix_micros(ts) AS us").collect())
    assert got == [_EXPECT_US[0], _EXPECT_US[1], _EXPECT_US[1]]


def test_missing_table_raises_as_spark_does(spark, tmp_path):
    """A missing table is not memoized: the load raises the error
    ``spark.read.parquet`` raises."""
    with pytest.raises(Exception) as want:
        spark.read.parquet(str(tmp_path / "orders.parquet"))
    with pytest.raises(Exception) as got:
        catalog.load(spark, str(tmp_path), "orders")
    assert type(got.value) is type(want.value)
    assert str(got.value) == str(want.value)


def test_directory_table_is_inferred_on_every_load(spark, tmp_path):
    """A table that is a directory (a Spark-written dataset) is not
    memoized: every load infers its schema."""
    spark.range(3).write.parquet(str(tmp_path / "orders.parquet"))
    load = partial(catalog.load, spark, str(tmp_path), "orders")
    for _ in range(2):
        df, jobs = run_counting_jobs(spark, load)
        assert jobs >= 1
        assert sorted(r.id for r in df.collect()) == [0, 1, 2]


def test_memo_schema_equals_inferred_for_every_table(spark):
    """For every driver table, the schema a memoized read passes back
    is the one Spark infers, field by field with nullability."""
    catalog.load(spark, SF_DIR, "events")  # sets the conf events reads under
    for t in catalog.TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        catalog._read_parquet(spark, path)
        memo, jobs = run_counting_jobs(spark, partial(catalog._read_parquet, spark, path))
        assert jobs == 0, t
        assert _fields(memo.schema) == _fields(spark.read.parquet(path).schema), t


def test_table_bound_before_events_binds_again_without_a_job(spark, tmp_path):
    """``get_spark`` sets the conf the ``events`` load reads under, so
    that load does not change the schema memo's key: a table bound
    before a session's first ``events`` load binds again after it with
    no job."""
    import shutil

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    spark = get_spark("dvs-tests", cpus=8)  # the running session, configured as conftest builds it
    (tmp_path / "bound").mkdir()
    table = shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "bound")  # unread in this session
    catalog._read_parquet(spark, str(table))
    _write_events(tmp_path, _VINTAGES["ns"])
    catalog.load(spark, str(tmp_path), "events")
    _, jobs = run_counting_jobs(spark, partial(catalog._read_parquet, spark, str(table)))
    assert jobs == 0
