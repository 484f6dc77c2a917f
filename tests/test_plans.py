"""plans/ utilities: salted skew handling equals unsalted results;
recursive_cte loop semantics (UNION ALL + distinct fixpoint, cycles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.plans.recursive import recursive_cte
from duckdb_vortex_spark.plans.skew import salted_aggregate, salted_broadcast_left

from .conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_aggregate_matches_plain(spark):
    li = load(spark, SF_DIR, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sq"),
        F.count("l_orderkey").alias("n"),
        F.min("l_shipdate").alias("lo"),
        F.max("l_shipdate").alias("hi"),
    )
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "sq": ("l_quantity", "sum"),
            "n": ("l_orderkey", "count"),
            "lo": ("l_shipdate", "min"),
            "hi": ("l_shipdate", "max"),
        },
        n_salts=16,
    )
    assert _rows(plain) == _rows(salted)


def test_salted_aggregate_spreads_hot_key(spark):
    """The phase-1 shuffle key has ~n_salts× the cardinality for a
    single hot key — verified by counting distinct (key, salt) pairs."""
    df = spark.range(10000).select(F.lit("HOT").alias("k"), F.col("id").alias("v"))
    from duckdb_vortex_spark.plans.skew import _content_salt

    n = df.select(_content_salt(["v"], 16).alias("s")).distinct().count()
    assert n == 16


def test_salted_broadcast_left_matches_plain(spark):
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    p = load(spark, SF_DIR, "part").select("p_partkey", "p_name")
    plain = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_partkey", "p_name"
    )
    salted = salted_broadcast_left(
        li.withColumnRenamed("l_partkey", "p_partkey"), p, "p_partkey", n_salts=8
    ).select("l_orderkey", F.col("p_partkey").alias("l_partkey"), "p_name")
    assert _rows(plain) == _rows(salted)


def test_salted_broadcast_left_left_join_matches_plain(spark):
    """``how="left"`` is in the honored set: each big row carries
    exactly ONE salt, so unmatched big rows null-extend exactly once —
    row-identical to the plain left join (including keys absent from
    the small side)."""
    big = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (9, "orphan")], ["k", "payload"]
    )
    small = spark.createDataFrame([(1, "one"), (2, "two"), (3, "unused")], ["k", "name"])
    plain = big.join(small, "k", "left")
    salted = salted_broadcast_left(big, small, "k", n_salts=4, how="left")
    assert _rows(plain) == _rows(salted)
    # semi/anti live entirely on the big side — also honored
    for how in ("left_semi", "left_anti"):
        assert _rows(big.join(small, "k", how)) == _rows(
            salted_broadcast_left(big, small, "k", n_salts=4, how=how)
        )


def test_salted_broadcast_left_salt_modes_spread_and_determinism(spark):
    """r15 (ADVICE r14): the DEFAULT salt is deterministic content
    hashing — stable under task retry, the property the shuffle's
    row→partition mapping needs — which means a hot key of
    byte-identical rows collapses onto one salt (self-review r15: that
    gap is FUNDAMENTAL — any deterministic per-row function assigns
    equal rows equal salts, so the round's first-cut ``unique_col=``
    escape was vacuous and was removed; a row that HAS identity
    spreads under the default already). ``row_unique=True`` is the
    explicit opt-in for identity-less duplicates. BOTH modes are
    pinned row-identical to the plain join (not just count-equal) —
    the small side is replicated across all salts."""
    from duckdb_vortex_spark.plans.skew import _content_salt

    big = spark.range(20_000).select(
        F.col("id").alias("rid"), F.lit(1).alias("k"), F.lit("x").alias("p")
    )
    small = spark.createDataFrame([(1, "one")], ["k", "name"])
    plain = _rows(big.join(small, "k"))
    for kw in ({}, {"row_unique": True}):
        assert _rows(salted_broadcast_left(big, small, "k", n_salts=8, **kw)) == plain

    dup = big.drop("rid")  # byte-identical rows
    # default: deterministic, so duplicates collapse (the documented gap)
    assert dup.select(
        _content_salt(["k", "p"], 8).alias("s")
    ).distinct().count() == 1
    # a row id in the DATA spreads under the default salt — the
    # preferred escape needs no parameter at all
    spread = big.select(_content_salt(["rid", "k", "p"], 8).alias("s"))
    assert spread.distinct().count() == 8
    a = sorted(r["s"] for r in spread.collect())
    b = sorted(r["s"] for r in spread.collect())
    assert a == b, "content salt must be deterministic across runs"
    # row_unique opt-in: spreads without a key column
    assert dup.select(
        _content_salt(["k", "p"], 8, row_unique=True).alias("s")
    ).distinct().count() > 1


def test_salted_broadcast_left_rejects_unhonorable_how(spark):
    """VERDICT r13 wrong #1: right/full joins against the replicated
    small side would emit n_salts-1 spurious null-extended clones per
    small-side row — the API must refuse them loudly instead of
    silently returning wrong answers."""
    big = spark.createDataFrame([(1, "a")], ["k", "payload"])
    small = spark.createDataFrame([(1, "one"), (3, "unused")], ["k", "name"])
    for how in ("right", "full", "full_outer", "right_outer", "outer", "cross"):
        with pytest.raises(ValueError, match="cannot honor"):
            salted_broadcast_left(big, small, "k", n_salts=4, how=how)


def _cycle(spark):
    """(seed, step) walking the cyclic edges a→b→c→a from a."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    seed = spark.createDataFrame([("a",)], ["node"])

    def step(frontier):
        return frontier.join(edges, frontier.node == edges.src).select(
            F.col("dst").alias("node")
        )

    return seed, step


def test_recursive_distinct_terminates_on_cycle(spark):
    """UNION-distinct recursion must reach a fixpoint on cyclic edges
    (a→b→c→a) instead of looping to max_iterations."""
    out = recursive_cte(*_cycle(spark), distinct=True, max_iterations=10)
    assert _rows(out) == [("a",), ("b",), ("c",)]


def test_recursive_raises_when_frontier_outlives_cap(spark):
    """UNION ALL recursion over the same cycle never empties its
    frontier: the last allowed round still produces rows, so the loop
    raises, naming itself and its cap, instead of returning a
    truncated result."""
    with pytest.raises(RuntimeError, match="recursive_cte.*max_iterations=5"):
        recursive_cte(*_cycle(spark), distinct=False, max_iterations=5)


@pytest.mark.parametrize("depth", [5, 25])
def test_recursive_union_all_depth(spark, depth):
    """A depth of 25 runs past any fixed checkpoint cadence: the
    result is the flat union of every round's checkpoint."""
    seed = spark.createDataFrame([(0,)], ["n"])

    def step(frontier):
        return frontier.filter(F.col("n") < depth).select((F.col("n") + 1).alias("n"))

    out = recursive_cte(seed, step)
    assert _rows(out) == [(i,) for i in range(depth + 1)]


def test_recursive_distinct_returns_duplicate_seed_row_once(spark):
    """UNION-distinct recursion is a set: a row the seed holds twice
    (and the step produces again) is in the result once."""
    seed = spark.createDataFrame([(0,), (0,), (1,)], ["n"])

    def step(frontier):
        return frontier.filter(F.col("n") < 3).select((F.col("n") + 1).alias("n"))

    out = recursive_cte(seed, step, distinct=True)
    assert _rows(out) == [(0,), (1,), (2,), (3,)]


def test_lint_plan_flags_cartesian_and_passes_clean(spark):
    from duckdb_vortex_spark.plans.lint import assert_plan_clean, lint_plan

    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    clean = a.join(b, a["id"] == b["id2"])
    assert lint_plan(clean) == []
    assert_plan_clean(clean)

    dirty = a.crossJoin(b)
    rules = {f.rule for f in lint_plan(dirty)}
    assert rules & {"cartesian-product", "nested-loop-join"}
    assert lint_plan(dirty, allow=("cartesian-product", "nested-loop-join")) == []


def test_triangle_counts_on_known_graphs(spark):
    """K4 (every node in C(3,2)=3 triangles), a square with one
    diagonal (two triangles sharing the diagonal), and a
    triangle-free star (empty result)."""
    from duckdb_vortex_spark.plans.graph import triangle_counts

    mk = lambda rows: spark.createDataFrame(rows, "pa bigint, pb bigint")
    k4 = mk([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    got = {r["part_id"]: r["n_triangles"] for r in triangle_counts(k4).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    sq = mk([(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)])  # diagonal 1-3
    got = {r["part_id"]: r["n_triangles"] for r in triangle_counts(sq).collect()}
    assert got == {1: 2, 2: 1, 3: 2, 4: 1}
    star = mk([(1, 2), (1, 3), (1, 4), (1, 5)])
    assert triangle_counts(star).count() == 0


def test_fact_broadcast_findings_parsing():
    """Pure-string edge cases of the r11 fact-broadcast rule: the
    codegen ``*(n) `` prefix must not hide a data filter, join-key
    IsNotNull-only filters must not count as one, and reducing
    operators between scan and broadcast clear the flag. (The
    end-to-end form runs on all 250 catalog plans in
    test_catalog_plan_lint.)"""
    from duckdb_vortex_spark.plans.lint import (
        _has_data_filter,
        _is_reduced,
        broadcast_subtrees,
    )

    # codegen prefix + real predicate => data filter detected
    sub = (
        "+- BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]\n"
        "   +- *(1) Filter (isnotnull(vec_id#0L) AND ((vec_id#0L % 20) = 0))\n"
        "      +- FileScan parquet [vec_id#0L] ... embeddings.parquet"
    )
    assert _has_data_filter(sub)

    # IsNotNull-only (what every join injects) is NOT a data filter
    sub = (
        "+- BroadcastExchange HashedRelationBroadcastMode, [plan_id=2]\n"
        "   +- Filter (isnotnull(l_orderkey#1L) AND isnotnull(l_suppkey#2L))\n"
        "      +- FileScan parquet [l_orderkey#1L] ... lineitem.parquet"
    )
    assert not _has_data_filter(sub)
    assert not _is_reduced(sub)

    # aggregate between scan and broadcast => reduced
    assert _is_reduced(sub + "\n   +- HashAggregate(keys=[x], functions=[count(1)])")

    # subtree extraction stops at the sibling back-dedent
    plan = (
        "Top\n"
        "+- Join\n"
        "   :- BroadcastExchange mode, [plan_id=3]\n"
        "   :  +- FileScan parquet ... orders.parquet\n"
        "   +- FileScan parquet ... lineitem.parquet"
    )
    subs = broadcast_subtrees(plan)
    assert len(subs) == 1
    assert "orders.parquet" in subs[0]
    assert "lineitem.parquet" not in subs[0]


def test_fact_broadcast_sibling_filter_does_not_exonerate():
    """ADVICE r12 false-negative hole: an unreduced fact scan joined
    with a FILTERED dimension inside the same broadcast subtree must
    still flag — the dim's filter sits on a sibling branch, not on the
    fact scan's ancestor path, so it does not reduce the fact rows
    entering the hash table."""
    from duckdb_vortex_spark.plans.lint import fact_broadcast_findings

    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- BroadcastHashJoin [k#0L], [k#9L], Inner, BuildLeft\n"
        "   :- BroadcastExchange HashedRelationBroadcastMode, [plan_id=9]\n"
        "   :  +- *(3) BroadcastHashJoin [l_partkey#2L], [p_partkey#9L], Inner, BuildRight\n"
        "   :     :- *(3) Filter isnotnull(l_partkey#2L)\n"
        "   :     :  +- FileScan parquet [l_partkey#2L] Location: InMemoryFileIndex(1 paths)[file:/data/lineitem.parquet]\n"
        "   :     +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=5]\n"
        "   :        +- *(1) Filter (isnotnull(p_partkey#9L) AND (p_size#10 = 15))\n"
        "   :           +- FileScan parquet [p_partkey#9L,p_size#10] Location: InMemoryFileIndex(1 paths)[file:/data/part.parquet]\n"
        "   +- FileScan parquet [k#9L] Location: InMemoryFileIndex(1 paths)[file:/data/events.parquet]"
    )
    assert fact_broadcast_findings(None, ("lineitem",), plan=plan) == ["lineitem"]
    # a filter ON the fact's own path still clears it
    cleared = plan.replace(
        "Filter isnotnull(l_partkey#2L)",
        "Filter (isnotnull(l_partkey#2L) AND (l_quantity#3 > 40.0))",
    )
    assert fact_broadcast_findings(None, ("lineitem",), plan=cleared) == []
    # a reducing op on a SIBLING branch must not exonerate either
    sib_agg = plan.replace(
        "Filter (isnotnull(p_partkey#9L) AND (p_size#10 = 15))",
        "HashAggregate(keys=[p_partkey#9L], functions=[count(1)])",
    )
    assert fact_broadcast_findings(None, ("lineitem",), plan=sib_agg) == ["lineitem"]
    # ... while the same aggregate on the fact's own ancestor path does
    own_agg = plan.replace(
        "Filter isnotnull(l_partkey#2L)",
        "HashAggregate(keys=[l_partkey#2L], functions=[count(1)])",
    )
    assert fact_broadcast_findings(None, ("lineitem",), plan=own_agg) == []


def test_heuristic_broadcast_findings(tmp_path):
    """The table-name-free variant (VERDICT r11 next #7): flags a
    broadcast build scanning a >= min_bytes source unreduced, honors
    path-scoped filters, and conservatively flags truncated
    locations whose size it cannot stat."""
    from duckdb_vortex_spark.plans.lint import heuristic_broadcast_findings

    big = tmp_path / "big.parquet"
    big.write_bytes(b"x" * 4096)
    small = tmp_path / "small.parquet"
    small.write_bytes(b"x" * 10)

    def mk(path, filt="Filter isnotnull(k#0L)"):
        return (
            "+- BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]\n"
            f"   +- *(1) {filt}\n"
            f"      +- FileScan parquet [k#0L] Location: InMemoryFileIndex"
            f"(1 paths)[file:{path}]"
        )

    # unreduced big source over threshold -> flagged with its path
    assert heuristic_broadcast_findings(None, min_bytes=1024, plan=mk(big)) == [str(big)]
    # under threshold -> clean (the documented miss direction)
    assert heuristic_broadcast_findings(None, min_bytes=1024, plan=mk(small)) == []
    # data filter on the path clears it
    filtered = mk(big, filt="Filter (isnotnull(k#0L) AND (k#0L > 5))")
    assert heuristic_broadcast_findings(None, min_bytes=1024, plan=filtered) == []
    # truncated location (no Location: match) -> conservative snippet flag
    trunc = (
        "+- BroadcastExchange HashedRelationBroadcastMode, [plan_id=2]\n"
        "   +- FileScan parquet [k#0L] Batched: true, ..."
    )
    hits = heuristic_broadcast_findings(None, min_bytes=1024, plan=trunc)
    assert len(hits) == 1 and hits[0].startswith("FileScan")
    # ADVICE r12: truncation INSIDE the brackets (Spark's default
    # maxMetadataStringLength=100 chops the path list mid-entry) —
    # every unstat-able or '...'-bearing entry flags conservatively,
    # it must NOT silently stat to size 0 and pass
    mid_trunc = mk(f"{big}, file:/root/testd...")
    hits = heuristic_broadcast_findings(None, min_bytes=1024, plan=mid_trunc)
    assert str(big) in hits
    assert any("unknown-size" in h for h in hits), hits
    # a chopped final path that no longer exists on disk -> same flag
    gone = mk(tmp_path / "never_written.parquet")
    hits = heuristic_broadcast_findings(None, min_bytes=1024, plan=gone)
    assert len(hits) == 1 and "unknown-size" in hits[0]


def test_lint_final_plan_catches_aqe_broadcast_conversion(spark, tmp_path):
    """r13 (VERDICT r12 #3): `lint_final_plan(df)` is the one-call
    form of the docstring recipe — execute, then lint the
    isFinalPlan=true adaptive plan with every rule. The synthetic
    reproduces the exact gap: static broadcast disabled (initial plan
    = shuffle join, initial-plan lint clean), AQE's runtime threshold
    generous (final plan converts to broadcast) — the static lint
    passes and ONLY the final-plan lint flags the conversion."""
    from duckdb_vortex_spark.plans.lint import (
        formatted_plan,
        heuristic_broadcast_findings,
        lint_final_plan,
    )

    left = tmp_path / "left.parquet"
    right = tmp_path / "right.parquet"
    spark.range(0, 20_000).selectExpr("id AS k", "id * 2 AS v").write.parquet(str(left))
    spark.range(0, 20_000).selectExpr("id AS k", "id * 3 AS w").write.parquet(str(right))
    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", None
        ),
        "spark.sql.maxMetadataStringLength": conf.get(
            "spark.sql.maxMetadataStringLength"
        ),
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
        # long pytest tmp paths get truncated out of Location at the
        # default 100 — which the size heuristic (correctly,
        # ADVICE r12) flags as unknown-size; widen so the clean-plan
        # leg below actually measures sizes
        conf.set("spark.sql.maxMetadataStringLength", "2000")
        df = spark.read.parquet(str(left)).join(
            spark.read.parquet(str(right)), "k"
        )
        initial = formatted_plan(df)
        assert "isFinalPlan=false" in initial
        assert heuristic_broadcast_findings(None, min_bytes=1, plan=initial) == [], (
            "static lint must be clean — broadcast is disabled statically"
        )
        hits = lint_final_plan(df, min_bytes=1)
        assert "isFinalPlan=true" in formatted_plan(df)
        assert any("large-unreduced-broadcast" in h for h in hits), (
            f"AQE broadcast conversion must be flagged, got {hits}\n"
            f"{formatted_plan(df)[:2000]}"
        )
        # and with a generous threshold the same call reads clean
        assert lint_final_plan(df, min_bytes=1 << 40) == []
        # the named fact-table rule rides the same final plan: naming
        # the broadcast side's table flags it even at generous size
        hits_fact = lint_final_plan(
            df, fact_tables=("left", "right"), min_bytes=1 << 40
        )
        assert any(h.startswith("fact-broadcast:") for h in hits_fact), hits_fact
    finally:
        for k, v in saved.items():
            if v:
                conf.set(k, v)
            else:
                conf.unset(k)


def test_re_scan_escaped_and_anchored():
    """ADVICE r12: the table name is regex-escaped and must be a whole
    path component — a future table named 'order' must not alias into
    'orders.parquet' paths, and dots in names stay literal."""
    from duckdb_vortex_spark.plans.lint import re_scan

    line = (
        "+- FileScan parquet [o_orderkey#0L] Location: "
        "InMemoryFileIndex(1 paths)[file:/data/orders.parquet]"
    )
    assert re_scan(line, "orders")
    assert not re_scan(line, "order")
    assert not re_scan(line, "rders")
    assert not re_scan("FileScan parquet [x#0] file:/d/ordersXparquet]", "orders")
    # pushed-filter text mentioning the name is not a scan of it
    assert not re_scan(
        "+- FileScan parquet [x#0] PushedFilters: [IsNotNull(orders_ref)] "
        "Location: InMemoryFileIndex(1 paths)[file:/data/part.parquet]",
        "orders",
    )


def test_salted_broadcast_left_row_unique_is_keyword_only_opt_in(spark):
    """r15: the nondeterministic salt must never engage implicitly —
    the default call path carries no monotonically_increasing_id in
    its plan, the opt-in does."""
    big = spark.createDataFrame([(1, "a")], ["k", "payload"])
    small = spark.createDataFrame([(1, "one")], ["k", "name"])
    from duckdb_vortex_spark.plans.lint import formatted_plan

    default_plan = formatted_plan(salted_broadcast_left(big, small, "k"))
    assert "monotonically_increasing_id" not in default_plan
    opted = formatted_plan(
        salted_broadcast_left(big, small, "k", row_unique=True)
    )
    assert "monotonically_increasing_id" in opted
