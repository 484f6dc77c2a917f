"""DDL / file-format reader entries for the DRIVER gate (round 5).

These convert three SURVEY §2B rows that previously had only pytest
coverage ("L" in the verdict tables) into driver-checked currency:

- ``ddl_insert_append_table`` — CREATE TABLE + two INSERT INTO …
  SELECT appends over a range generator, the
  /root/reference/test/sql/table.test:8-50 shape (typed column matrix,
  additive INSERT), checksummed back out of the managed table.
- ``read_csv_typed_roundtrip`` — a driver table written to CSV and
  read back through ``spark.read.csv`` with an explicit schema
  (quoting, header, date parsing), aggregated; the oracle aggregates
  the parquet-backed view directly, so any CSV serialization defect
  diverges.
- ``read_json_typed_roundtrip`` — same shape through JSONL
  (``spark.read.json``): Jackson writes shortest-round-trip doubles,
  so exact-cents checksums survive the text hop.

All scratch state is per-run (uuid table names / mkdtemp dirs) and
dropped in ``finally`` — driver and pytest runs may interleave.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query

INSERT_APPEND_ORACLE = """
WITH seqs AS (
  SELECT seq FROM generate_series(1, 100) AS t(seq)
  UNION ALL
  SELECT seq FROM generate_series(101, 200) AS t(seq)
), rows_ AS (
  SELECT
    seq AS id_col,
    seq % 2 = 0 AS bool_col,
    CAST(seq % 128 AS TINYINT) AS tinyint_col,
    CAST(seq AS INT) AS int_col,
    seq * 10 AS bigint_col,
    CAST(seq AS DOUBLE) / 1000.0 AS double_col,
    'Value ' || CAST(seq AS VARCHAR) AS varchar_col,
    DATE '1992-03-22' + CAST(seq AS INT) AS date_col,
    TIMESTAMP '2025-01-01 00:00:00' + to_seconds(CAST(seq AS INT)) AS ts_col
  FROM seqs
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(bigint_col) AS BIGINT) AS sum_big,
  CAST(SUM(CAST(tinyint_col AS BIGINT)) AS BIGINT) AS sum_tiny,
  CAST(SUM(CASE WHEN bool_col THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  CAST(SUM(CAST(floor(double_col * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_dbl_micros,
  CAST(COUNT(DISTINCT varchar_col) AS BIGINT) AS n_distinct_str,
  CAST(MIN(date_col) AS VARCHAR) AS min_date,
  MAX(ts_col) AS max_ts
FROM rows_
"""


@query("ddl_insert_append_table", oracle=INSERT_APPEND_ORACLE, tags=("sql", "ddl"))
def ddl_insert_append_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE + INSERT INTO … SELECT + a second appending INSERT
    (reference table.test:30-50: INSERT is additive), checksummed from
    the managed table. The oracle rebuilds the identical 200 rows from
    generate_series, so table DDL, typed INSERT evaluation, and append
    accumulation are all hash-checked by the driver."""
    tbl = f"dvs_ins_{uuid.uuid4().hex[:10]}"
    spark.sql(
        f"""
        CREATE TABLE {tbl} (
          id_col BIGINT, bool_col BOOLEAN, tinyint_col TINYINT,
          int_col INT, bigint_col BIGINT, double_col DOUBLE,
          varchar_col STRING, date_col DATE, ts_col TIMESTAMP
        ) USING parquet
        """
    )
    try:
        insert = """
        INSERT INTO {tbl}
        SELECT
          seq,
          seq % 2 = 0,
          CAST(seq % 128 AS TINYINT),
          CAST(seq AS INT),
          seq * 10,
          CAST(seq AS DOUBLE) / 1000.0,
          'Value ' || CAST(seq AS STRING),
          DATE_ADD(DATE '1992-03-22', CAST(seq AS INT)),
          TIMESTAMP '2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0, seq)
        FROM (SELECT id + {base} AS seq FROM range(100))
        """
        spark.sql(insert.format(tbl=tbl, base=1))
        spark.sql(insert.format(tbl=tbl, base=101))  # append, not replace
        out = spark.table(tbl).agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("bigint_col").alias("sum_big"),
            F.sum(F.col("tinyint_col").cast("bigint")).alias("sum_tiny"),
            F.sum(F.when(F.col("bool_col"), 1).otherwise(0)).cast("bigint").alias("n_true"),
            F.sum(
                F.floor(F.col("double_col") * 1_000_000 + F.lit(0.5)).cast("bigint")
            ).alias("sum_dbl_micros"),
            F.countDistinct("varchar_col").cast("bigint").alias("n_distinct_str"),
            # DATE → 'yyyy-MM-dd' string: DuckDB's fetchdf widens DATE
            # to datetime64 (midnight timestamp) while Spark's toPandas
            # keeps datetime.date — same value, different canon text
            F.date_format(F.min("date_col"), "yyyy-MM-dd").alias("min_date"),
            F.max("ts_col").alias("max_ts"),
        )
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


CSV_RT_ORACLE = """
SELECT
  c_custkey,
  c_name,
  c_mktsegment || ', "' || c_name || '"' AS noisy,
  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
FROM customer
"""


@query("read_csv_typed_roundtrip", oracle=CSV_RT_ORACLE, tags=("sql", "io", "csv"))
def read_csv_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV → ``spark.read.csv`` with explicit schema →
    per-row projection. The ``noisy`` column embeds commas AND double
    quotes, so the round trip exercises RFC-4180 quoting/escaping;
    doubles survive via Java shortest-round-trip serialization
    (exact-cents computed AFTER the text hop). The oracle reads the
    parquet view directly: any CSV quoting/typing defect changes the
    hash. Scale: explicit schema (no inference scan), splittable
    per-file reads."""
    scratch = tempfile.mkdtemp(prefix="dvs_csv_")
    path = os.path.join(scratch, "customer_csv")
    try:
        load(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_name",
            F.concat(
                F.col("c_mktsegment"), F.lit(', "'), F.col("c_name"), F.lit('"')
            ).alias("noisy"),
            "c_acctbal",
        ).write.option("header", True).csv(path)
        back = (
            spark.read.schema(
                "c_custkey BIGINT, c_name STRING, noisy STRING, c_acctbal DOUBLE"
            )
            .option("header", True)
            .csv(path)
        )
        out = back.select(
            "c_custkey",
            "c_name",
            "noisy",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


JSON_RT_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
  MIN(c_name) AS min_name,
  MAX(c_name) AS max_name
FROM customer
"""


@query("read_json_typed_roundtrip", oracle=JSON_RT_ORACLE, tags=("sql", "io", "json"))
def read_json_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → JSONL → ``spark.read.json`` with explicit schema →
    exact-cents checksum. Jackson serializes doubles with the shortest
    decimal that round-trips (Double.toString), so c_acctbal survives
    the text hop bit-exactly and the cents sum hash-matches the
    parquet-direct oracle."""
    scratch = tempfile.mkdtemp(prefix="dvs_json_")
    path = os.path.join(scratch, "customer_json")
    try:
        load(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
        ).write.json(path)
        back = spark.read.schema(
            "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING"
        ).json(path)
        out = back.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("sum_cents"),
            F.countDistinct("c_mktsegment").cast("bigint").alias("n_segments"),
            F.min("c_name").alias("min_name"),
            F.max("c_name").alias("max_name"),
        )
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
