"""Join catalog entries (SURVEY.md §2B "Joins" — every flavor the
reference product exposes through DuckDB v1.5.5).

Scale notes inline per entry; the common rules: dimension sides are
broadcast (no shuffle of the fact table beyond its own keys), fact-fact
joins shuffle both sides on the join key and rely on AQE for skew
splitting, and the as-of join avoids range-explosion entirely (see
operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from ..operators.asof import asof_join
from ..session import _local_frame
from .tpch import dec

INNER_ORACLE = """
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 250000
"""


@query("join_inner_equi", oracle=INNER_ORACLE, tags=("join",))
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi hash join; customer side broadcast (dimension)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    c = load(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


LEFT_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders
  ON c_custkey = o_custkey AND o_totalprice > 400000
WHERE c_custkey % 3 = 0
"""


@query("join_left_outer", oracle=LEFT_ORACLE, tags=("join",))
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with an extra ON-clause predicate (kept in the
    join condition, NOT the WHERE — different semantics)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    o = load(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000), "left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


RIGHT_ORACLE = """
SELECT s_suppkey, s_name, n_name
FROM nation RIGHT JOIN supplier ON n_nationkey = s_nationkey
WHERE s_suppkey % 2 = 0
"""


@query("join_right_outer", oracle=RIGHT_ORACLE, tags=("join",))
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (nation may miss → null n_name)."""
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 2 == 0)
    return n.join(s, n.n_nationkey == s.s_nationkey, "right").select(
        "s_suppkey", "s_name", "n_name"
    )


FULL_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
  FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
),
s AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
  FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey
)
SELECT
  COALESCE(c.nationkey, s.nationkey) AS nationkey,
  c.n_customers,
  s.n_suppliers
FROM c FULL JOIN s ON c.nationkey = s.nationkey
"""


@query("join_full_outer", oracle=FULL_ORACLE, tags=("join",))
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (either side may be missing)."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.c_nk == s.s_nk, "full").select(
        F.coalesce(c.c_nk, s.s_nk).alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 350000)
"""


@query("join_semi", oracle=SEMI_ORACLE, tags=("join",))
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS). No row multiplication — probe-only."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
"""


@query("join_anti", oracle=ANTI_ORACLE, tags=("join",))
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS) — customers with no high-value
    orders (the unfiltered variant is empty at sf0.01: every customer
    has at least one order)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


CROSS_ORACLE = """
SELECT r_name, t.o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) t
"""


@query("join_cross", oracle=CROSS_ORACLE, tags=("join",))
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two small relations (broadcast nested loop)."""
    r = load(spark, sf_dir, "region").select("r_name")
    st = load(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(st)


RANGE_ORACLE = """
SELECT o_orderkey, l_linenumber, CAST(o_orderdate AS VARCHAR) AS order_date,
       CAST(l_shipdate AS VARCHAR) AS ship_date
FROM orders JOIN lineitem
  ON o_orderkey = l_orderkey
 AND l_shipdate > o_orderdate + INTERVAL 100 DAY
WHERE o_orderkey % 50 = 0
"""


@query("join_range_inequality", oracle=RANGE_ORACLE, tags=("join",))
def join_range_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + inequality residual (DuckDB IEJoin territory). The
    equi key carries the shuffle; the range predicate is a post-probe
    filter — no nested-loop blowup."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.date_add(o.o_orderdate, 100)),
        )
        .select(
            "o_orderkey",
            "l_linenumber",
            F.col("o_orderdate").cast("string").alias("order_date"),
            F.col("l_shipdate").cast("string").alias("ship_date"),
        )
    )


ASOF_ORACLE = """
WITH marks AS (
  SELECT user_id, ts, max(value) AS signup_value
  FROM events
  WHERE event_type = 'signup'
  GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id, CAST(e.ts AS VARCHAR) AS ts_str, e.event_type,
       m.signup_value
FROM events e
ASOF LEFT JOIN marks m ON e.user_id = m.user_id AND e.ts >= m.ts
"""


@query("join_asof_backward", oracle=ASOF_ORACLE, tags=("join", "asof"))
def join_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the value of the user's most
    recent signup at-or-before it. Oracle is DuckDB's native ASOF LEFT
    JOIN; Spark side is the union+window operator (operators/asof.py)
    — one shuffle on user_id, no range explosion."""
    ev = load(spark, sf_dir, "events")
    marks = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        marks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        direction="backward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts_str"),
        "event_type",
        "signup_value",
    )


SELF_ORACLE = """
SELECT a.s_suppkey AS suppkey_a, b.s_suppkey AS suppkey_b, a.s_nationkey AS nationkey
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
"""


@query("join_self_pairs", oracle=SELF_ORACLE, tags=("join",))
def join_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join producing unordered pairs within a group (the building
    block of pairwise dedup/similarity ops — see operators/dedup.py)."""
    s = load(spark, sf_dir, "supplier")
    a = s.select(F.col("s_suppkey").alias("suppkey_a"), F.col("s_nationkey").alias("nationkey"))
    b = s.select(F.col("s_suppkey").alias("suppkey_b"), F.col("s_nationkey").alias("nationkey_b"))
    return (
        a.join(b, (a.nationkey == b.nationkey_b) & (a.suppkey_a < b.suppkey_b))
        .select("suppkey_a", "suppkey_b", "nationkey")
    )


ASOF_FWD_ORACLE = """
WITH marks AS (
  SELECT user_id, ts, max(value) AS next_purchase_value
  FROM events
  WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id, CAST(e.ts AS VARCHAR) AS ts_str, e.event_type,
       m.next_purchase_value
FROM events e
ASOF LEFT JOIN marks m ON e.user_id = m.user_id AND e.ts <= m.ts
"""


@query("join_asof_forward", oracle=ASOF_FWD_ORACLE, tags=("join", "asof"))
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event picks up the user's NEXT
    purchase at-or-after it (DuckDB ASOF with ``<=``) — same
    union+window operator, descending sort direction."""
    ev = load(spark, sf_dir, "events")
    marks = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("next_purchase_value"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        marks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts_str"),
        "event_type",
        "next_purchase_value",
    )


NULL_SAFE_ORACLE = """
WITH o AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS prio_key
  FROM orders
), d AS (
  SELECT DISTINCT o_orderpriority AS prio_key FROM orders
  UNION ALL SELECT NULL
)
SELECT d.prio_key, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM d LEFT JOIN o ON o.prio_key IS NOT DISTINCT FROM d.prio_key
GROUP BY d.prio_key
"""


@query("join_null_safe_equi", oracle=NULL_SAFE_ORACLE, tags=("join",))
def join_null_safe_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (Spark ``<=>`` ≡ DuckDB ``IS NOT DISTINCT
    FROM``): NULL keys match each other instead of vanishing. Catalyst
    treats EqualNullSafe as an equi-condition, so this stays a hash
    join, NOT a nested loop.

    Scale shape: an outer hash join must BUILD on the non-preserved
    side, which here is the fact — so the fact is pre-aggregated to
    one row per key (partial+final count) and the null-safe join runs
    dim ⋈ bounded aggregate. The r11 audit caught the previous
    join-then-count form broadcasting the raw fact projection (the
    only legal hash build side for the outer join — corpus-sized, a
    shape that cannot run at 100 TB). Aggregate-then-join computes the
    identical counts. At scale the NULL bucket is one key and can skew
    the aggregate — salt it like any hot key if the null share is
    large."""
    o = load(spark, sf_dir, "orders")
    keyed = o.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ).alias("fact_prio"),
    )
    counts = keyed.groupBy("fact_prio").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    dim = (
        o.select(F.col("o_orderpriority").alias("prio_key")).distinct()
        .unionAll(_local_frame(o.sparkSession, [(None,)], "prio_key string"))
    )
    return (
        dim.join(counts, F.col("fact_prio").eqNullSafe(F.col("prio_key")), "left")
        .groupBy("prio_key")
        .agg(F.sum(F.coalesce(F.col("n_matched"), F.lit(0))).alias("n_orders"))
    )


ASOF_TOL_ORACLE = """
WITH marks AS (
  SELECT user_id, ts, max(value) AS signup_value
  FROM events
  WHERE event_type = 'signup'
  GROUP BY user_id, ts
), j AS (
  SELECT e.event_id, e.user_id, e.ts, e.event_type, m.signup_value, m.ts AS mts
  FROM events e
  ASOF LEFT JOIN marks m ON e.user_id = m.user_id AND e.ts >= m.ts
)
SELECT
  event_id,
  user_id,
  CAST(ts AS VARCHAR) AS ts_str,
  event_type,
  CASE WHEN mts IS NOT NULL AND epoch_us(ts) - epoch_us(mts) <= 604800000000
       THEN signup_value END AS signup_value
FROM j
"""


@query("join_asof_tolerance", oracle=ASOF_TOL_ORACLE, tags=("join", "asof"))
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 7-day tolerance (pandas merge_asof semantics):
    matches older than the tolerance become NULL. The mask is applied
    after the union+window fill, so the plan is identical to the plain
    as-of join — one shuffle on the key, no range explosion."""
    ev = load(spark, sf_dir, "events")
    marks = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        marks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        direction="backward",
        tolerance_us=7 * 24 * 3600 * 1_000_000,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts_str"),
        "event_type",
        "signup_value",
    )


POSITIONAL_ORACLE = """
WITH a AS (
  SELECT n_name, row_number() OVER (ORDER BY n_nationkey) AS rn
  FROM nation
), b AS (
  SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS rn
  FROM region
)
SELECT a.rn AS pos, a.n_name, b.r_name
FROM a LEFT JOIN b USING (rn)
"""


@query("join_positional", oracle=POSITIONAL_ORACLE, tags=("join",))
def join_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB POSITIONAL JOIN (row-aligned zip of two relations).
    Physical row order is undefined in a distributed engine, so the
    position is made explicit: row_number over a total order on each
    side, then an equi join on it — semantics identical whenever the
    order keys are unique, and deterministic under any partitioning
    (which raw positional alignment is not)."""
    from pyspark.sql import Window as W

    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    a = n.select(
        "n_name", F.row_number().over(W.orderBy("n_nationkey")).alias("rn")
    )
    b = r.select(
        "r_name", F.row_number().over(W.orderBy("r_regionkey")).alias("rn")
    )
    return a.join(b, "rn", "left").select(F.col("rn").alias("pos"), "n_name", "r_name")


SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey,
         CAST(DATE '1990-01-01' AS TIMESTAMP) AS valid_from,
         c_mktsegment || '#v1' AS segment_v
  FROM customer
  UNION ALL
  SELECT c_custkey,
         CAST(DATE '1996-06-01' + to_days(CAST(c_custkey % 700 AS INT)) AS TIMESTAMP),
         c_mktsegment || '#v2'
  FROM customer
)
SELECT o.o_orderkey, o.o_custkey, d.segment_v
FROM orders o
ASOF LEFT JOIN dim d
  ON o.o_custkey = d.c_custkey AND o.o_orderdate >= d.valid_from
"""


@query("join_scd2_temporal", oracle=SCD2_ORACLE, tags=("join", "asof"))
def join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (SCD type 2) temporal join: each fact
    row picks the dimension VERSION in effect on its date — the
    warehouse op behind every point-in-time-correct report. The
    versioned dimension (two validity windows per customer, split at
    a key-derived date) joins via the same union+window as-of operator
    as the event joins: effective-dated versions are exactly a
    backward as-of on valid_from, with no need to carry valid_to at
    all (the next version's start closes the previous window —
    half-open [from, next_from) semantics by construction).

    Scale: one shuffle on the dimension key, linear in facts +
    versions — versus the naive BETWEEN range join that explodes to
    facts × versions per key before filtering. Oracle is DuckDB's
    native ASOF LEFT JOIN over the identical version set."""
    cust = load(spark, sf_dir, "customer")
    v1 = cust.select(
        "c_custkey",
        F.lit("1990-01-01").cast("date").cast("timestamp").alias("valid_from"),
        F.concat(F.col("c_mktsegment"), F.lit("#v1")).alias("segment_v"),
    )
    v2 = cust.select(
        "c_custkey",
        F.date_add(F.lit("1996-06-01").cast("date"), (F.col("c_custkey") % 700).cast("int"))
        .cast("timestamp")
        .alias("valid_from"),
        F.concat(F.col("c_mktsegment"), F.lit("#v2")).alias("segment_v"),
    )
    dim = v1.unionByName(v2)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_orderdate"
    )
    joined = asof_join(
        o, dim, on=["c_custkey"], left_ts="o_orderdate", right_ts="valid_from",
        direction="backward",
    )
    return joined.select(
        "o_orderkey", F.col("c_custkey").alias("o_custkey"), "segment_v"
    )
