"""Catalog entries that drive the ``.vortex`` format end-to-end
(SURVEY.md §2A A1/A4/A6/A7 as *driver-checked* rows, not just pytest).

Each builder COPYies driver-table data into a real ``.vortex`` dataset
(fresh temp dir per run), reads it back through the DataSource with a
pushed filter, and aggregates. The DuckDB oracle computes the same
result straight from the parquet source — so a green row proves the
container round-trips values exactly AND that filter/projection
pushdown over encoded chunks returns precisely the right rows. This is
the Spark-side equivalent of the reference's ``COPY TO (FORMAT
VORTEX) → read_vortex`` sqllogictests (/root/reference/test/sql/
sequence.test:9-21), routed through the driver's correctness gate.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from .vortex import register, write_sorted, write_zordered


def _fresh_dir(tag: str) -> str:
    """Per-run scratch dataset path (driver + pytest may interleave —
    never share state between runs)."""
    root = tempfile.mkdtemp(prefix=f"dvs_{tag}_")
    return os.path.join(root, f"{tag}.vortex")


VORTEX_RT_ORACLE = """
SELECT
  o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
"""


@query("vortex_copy_roundtrip_agg", oracle=VORTEX_RT_ORACLE, tags=("vortex", "io"))
def vortex_copy_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY orders → sorted .vortex dataset → scan with a pushed
    timestamp range predicate (zone-map chunk pruning on the sort
    key) → grouped aggregate. The oracle aggregates the parquet
    source directly, so any encode/decode or pruning defect breaks
    the hash match. Write is range-partitioned on the filter column
    (write_sorted) — the layout that makes the zone maps selective."""
    register(spark)
    path = _fresh_dir("rt")
    try:
        write_sorted(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
            ),
            path,
            sort_cols=["o_orderdate"],
            chunk_rows=4096,
        )
        back = spark.read.format("vortex").option("pushdown", "true").load(path)
        out = (
            back.filter(
                F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_orders"),
                (
                    F.sum(
                        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
                    ).cast("double")
                    / 100.0
                ).alias("total_price"),
            )
        )
        # Materialize before the scratch dir disappears: the driver may
        # collect lazily after this function returns.
        out = spark.createDataFrame(out.toArrow(), out.schema)
        return out
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


VORTEX_TYPES_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS sum_key,
  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
  MIN(l_shipdate) AS min_ship,
  MAX(l_returnflag) AS max_flag
FROM lineitem
WHERE l_orderkey % 7 = 0
"""


@query("vortex_typed_roundtrip_checksum", oracle=VORTEX_TYPES_ORACLE, tags=("vortex", "io"))
def vortex_typed_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed fidelity through every specialized encoder at once:
    bigint keys (FoR/delta bitpack), float prices (ALP), timestamps
    (bitpack), flag strings (dict) written and re-read, then
    checksummed (count, exact sums, min/max). Any lossy encoding or
    row drop diverges from the parquet-direct oracle."""
    register(spark)
    path = _fresh_dir("ty")
    try:
        li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
        li.select(
            "l_orderkey", "l_extendedprice", "l_shipdate", "l_returnflag"
        ).write.format("vortex").mode("append").option("chunk_rows", 8192).save(path)
        back = spark.read.format("vortex").option("pushdown", "true").load(path)
        out = back.agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").cast("bigint").alias("sum_key"),
            (
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
                ).cast("double")
                / 100.0
            ).alias("sum_price"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_returnflag").alias("max_flag"),
        )
        out = spark.createDataFrame(out.toArrow(), out.schema)
        return out
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


VORTEX_ZORDER_ORACLE = """
SELECT
  o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_custkey AS BIGINT)) AS BIGINT) AS sum_cust
FROM orders
WHERE o_custkey BETWEEN 400 AND 700
  AND o_totalprice BETWEEN 100000.0 AND 200000.0
GROUP BY o_orderstatus
"""


@query("vortex_zorder_pruned_scan", oracle=VORTEX_ZORDER_ORACLE, tags=("vortex", "io"))
def vortex_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY orders → Morton/Z-order-clustered .vortex dataset on
    (o_custkey, o_totalprice) → scan with a pushed BOX predicate over
    both curve dimensions → grouped aggregate. Z-ordering makes every
    chunk a hyper-rectangle in (custkey × price) space, so the box
    prunes chunks from footer zone maps on EITHER column — the layout
    Delta/Iceberg call OPTIMIZE ZORDER BY, here over the .vortex
    statistics layer (SURVEY.md §2A A7; pruning superiority vs a
    single-column sort is pinned in
    tests/test_vortex_source.py::test_zorder_write_prunes_on_second_dimension).
    The oracle runs the same box on the parquet source, so encode/
    decode + both pushed range predicates must return exactly the
    right rows for the hash to match."""
    register(spark)
    path = _fresh_dir("zo")
    try:
        write_zordered(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
            ),
            path,
            zorder_cols=["o_custkey", "o_totalprice"],
            chunk_rows=2048,
        )
        back = spark.read.format("vortex").option("pushdown", "true").load(path)
        out = (
            back.filter(
                F.col("o_custkey").between(400, 700)
                & F.col("o_totalprice").between(100000.0, 200000.0)
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_custkey").cast("bigint").alias("sum_cust"),
            )
        )
        out = spark.createDataFrame(out.toArrow(), out.schema)
        return out
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


VORTEX_REE_ORACLE = """
SELECT
  CAST(l_quantity AS BIGINT) AS qty,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS sum_key
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
GROUP BY CAST(l_quantity AS BIGINT)
"""


@query("vortex_ree_clustered_scan", oracle=VORTEX_REE_ORACLE, tags=("vortex", "io"))
def vortex_ree_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY lineitem clustered on its low-cardinality quantity column →
    the quantity chunks become run-heavy and the writer picks RUN-END
    encoding (codec-level selection pinned in
    tests/test_vortex_format.py::TestRunEndEncoding; footer-level in
    test_vortex_source.py::test_sorted_low_cardinality_uses_ree) →
    range-pruned scan → per-quantity aggregate. The oracle aggregates
    the parquet source, so REE decode + zone-map pruning must return
    exactly the right rows."""
    register(spark)
    path = _fresh_dir("ree")
    try:
        write_sorted(
            load(spark, sf_dir, "lineitem").select(
                F.col("l_quantity").cast("bigint").alias("qty"), "l_orderkey"
            ),
            path,
            sort_cols=["qty"],
            chunk_rows=2048,
        )
        back = spark.read.format("vortex").option("pushdown", "true").load(path)
        out = (
            back.filter(F.col("qty").between(10, 20))
            .groupBy("qty")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("l_orderkey").cast("bigint").alias("sum_key"),
            )
        )
        out = spark.createDataFrame(out.toArrow(), out.schema)
        return out
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


VORTEX_BLOOM_ORACLE = """
SELECT
  CAST(o_orderkey * 7 AS BIGINT) AS sparse_key,
  CAST(o_orderkey AS BIGINT) AS o_orderkey,
  o_orderstatus
FROM orders
WHERE o_orderkey * 7 IN (700, 7007, 7010, 77777)
"""


@query("vortex_bloom_pruned_scan", oracle=VORTEX_BLOOM_ORACLE, tags=("vortex", "io"))
def vortex_bloom_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY orders with a SPARSE surrogate key (orderkey×7 — only one
    in seven values in each chunk's span exists) → IN-list point scan.
    Zone maps cannot refute in-span probes on a sparse key; the
    footer's adaptive integer bloom filters can (pruning counts pinned
    in tests/test_vortex_format.py::TestIntBloom). This driver row
    proves the bloom path end-to-end: the probe list mixes present
    multiples of 7 (700, 7007), an in-span non-multiple only a bloom
    can refute (7010), and an out-of-span key (77777 at small SFs) —
    and the surviving rows hash-match the parquet-direct oracle."""
    register(spark)
    path = _fresh_dir("bl")
    try:
        load(spark, sf_dir, "orders").select(
            (F.col("o_orderkey") * 7).cast("bigint").alias("sparse_key"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_orderstatus",
        ).write.format("vortex").mode("append").option("chunk_rows", 2048).save(path)
        back = spark.read.format("vortex").option("pushdown", "true").load(path)
        out = back.filter(F.col("sparse_key").isin(700, 7007, 7010, 77777))
        out = spark.createDataFrame(out.toArrow(), out.schema)
        return out
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


VORTEX_NESTED_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(SUM(CAST(o_custkey AS BIGINT)) AS BIGINT) AS sum_cust,
  MIN(o_orderdate) AS min_date
FROM orders
WHERE o_orderpriority = '1-URGENT'
"""


@query("vortex_nested_roundtrip_scan", oracle=VORTEX_NESTED_ORACLE, tags=("vortex", "io", "nested"))
def vortex_nested_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested STRUCT/LIST/MAP through the vortex container (round 5 —
    SURVEY §1.2 stretch parity with the format's struct layouts):
    orders re-shaped into a struct column (priority + exact price
    cents + order date), a list column and a map column, written
    priority-clustered, then scanned back with a PUSHED predicate on
    the struct leaf ``st.priority`` (nested-leaf zone maps prune
    non-matching chunks — vortex_format._encode_nested) and flattened
    into scalar aggregates. The oracle computes the identical numbers
    straight from parquet, so child-encoder fidelity (int bitpack /
    string dict under a struct), offset reassembly, and nested
    pushdown are all hash-checked. Output is flat scalars per the
    catalog contract (no complex types reach the driver canonicalizer)."""
    register(spark)
    path = _fresh_dir("ne")
    try:
        (
            load(spark, sf_dir, "orders")
            # priority-clustered WITHOUT a global single-threaded sort:
            # HASH partition on the future struct leaf + sort within —
            # chunks stay priority-homogeneous (selective st.priority
            # zone maps) while the sort+write runs on every core.
            # Hash, not range: repartitionByRange adds a sampling job
            # over the source just to pick bounds (~5 s of this
            # entry's cold gate time), and per-chunk homogeneity only
            # needs same-key co-location, not global order
            .repartition(4, "o_orderpriority")
            .sortWithinPartitions("o_orderpriority")
            .select(
                F.col("o_orderkey"),
                F.struct(
                    F.col("o_orderpriority").alias("priority"),
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("bigint")
                    .alias("price_cents"),
                    F.col("o_orderdate").alias("odate"),
                ).alias("st"),
                F.array(F.col("o_custkey").cast("bigint")).alias("custs"),
                F.create_map(
                    F.col("o_orderstatus"), (F.col("o_custkey") % 10).cast("bigint")
                ).alias("mp"),
            )
            .write.format("vortex")
            .mode("append")
            .option("chunk_rows", 4096)
            .save(path)
        )
        back = spark.read.format("vortex").option("pushdown", "true").load(path)
        out = back.filter(F.col("st.priority") == "1-URGENT").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("st.price_cents")).alias("sum_cents"),
            F.sum(F.element_at("custs", 1)).alias("sum_cust"),
            F.min(F.col("st.odate")).alias("min_date"),
        )
        out = spark.createDataFrame(out.toArrow(), out.schema)
        return out
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


VORTEX_S3_ORACLE = """
SELECT
  o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
WHERE o_orderkey % 4 = 0
GROUP BY o_orderstatus
"""


@query("vortex_s3_roundtrip_scan", oracle=VORTEX_S3_ORACLE, tags=("vortex", "io", "s3"))
def vortex_s3_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 object-store driver row: the FULL Spark loop over ``s3://``
    against the in-process SigV4-RECOMPUTING memory server
    (sources/s3_memserver.py — an independent server-side
    implementation of the signing spec that 403s any mismatch, not an
    echo of the client). orders → ``.option("s3_endpoint", …)``
    DataSource write (streaming multipart PUTs) → glob + footer-first
    ranged-GET read back in separate Python worker processes (each
    re-registers the store from its pickled options) → pushed-filter
    aggregate, hash-checked against the parquet-direct DuckDB oracle.
    Loopback only; the same wire format drives MinIO/AWS (COVERAGE.md
    §A3 smoke)."""
    from .s3_memserver import start_memserver

    register(spark)
    srv, endpoint = start_memserver("dvs-driver-access", "dvs-driver-secret")
    opts = {
        "s3_endpoint": endpoint,
        "s3_access_key": "dvs-driver-access",
        "s3_secret_key": "dvs-driver-secret",
    }
    try:
        w = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 4 == 0)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .write.format("vortex")
            .mode("append")
            .option("chunk_rows", 4096)
        )
        for k, v in opts.items():
            w = w.option(k, v)
        w.save("s3://dvs/orders.vortex")
        r = spark.read.format("vortex").option("pushdown", "true")
        for k, v in opts.items():
            r = r.option(k, v)
        back = r.load("s3://dvs/orders.vortex")
        out = back.groupBy("o_orderstatus").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("sum_cents"),
        )
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        srv.shutdown()
        srv.server_close()


# --- incremental (tiered) compaction entry ----------------------------------

COMPACT_INCR_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@query(
    "vortex_incremental_compaction",
    oracle=COMPACT_INCR_ORACLE,
    tags=("vortex", "io", "streaming"),
)
def vortex_incremental_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental compaction round-trip (VERDICT r7 next-round #8a):
    orders lands in three batch dirs; after batch 2 a compaction pass
    folds batches 1-2 into sorted segment 0; batch 3 lands; a SECOND
    pass folds ONLY batch 3 into segment 1 (the incremental property —
    segment 0 is not re-read or re-written, pinned in
    tests/test_streaming.py); the tiered read (segments + any
    uncompacted batches) is then aggregated. The oracle aggregates
    the parquet source, so any row lost, duplicated, or corrupted
    across land → compact → compact → read breaks the hash. Checksum
    includes an exact key sum — a double-read of a consumed batch dir
    (the crash-safety hazard the watermark exists for) would double it."""
    register(spark)
    from ..streaming.sinks import (
        compact_dataset_incremental,
        overwrite_batch_atomic,
        read_vortex_dataset_tiered,
    )

    path = _fresh_dir("ci")
    try:
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        thirds = orders.withColumn("__m", F.col("o_orderkey") % 3)
        overwrite_batch_atomic(thirds.filter(F.col("__m") == 0).drop("__m"), path, 1)
        overwrite_batch_atomic(thirds.filter(F.col("__m") == 1).drop("__m"), path, 2)
        compact_dataset_incremental(spark, path, sort_cols=["o_orderkey"], chunk_rows=4096)
        overwrite_batch_atomic(thirds.filter(F.col("__m") == 2).drop("__m"), path, 3)
        compact_dataset_incremental(spark, path, sort_cols=["o_orderkey"], chunk_rows=4096)
        back = read_vortex_dataset_tiered(spark, path)
        out = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("sum_key"),
            (
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
                ).cast("double")
                / 100.0
            ).alias("total_price"),
        )
        # Materialize before the scratch dir disappears: the driver may
        # collect lazily after this function returns.
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
