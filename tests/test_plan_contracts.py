"""Physical-plan contracts: the scale properties SURVEY.md §4 claims
(pushdown, pruning, broadcast dimension joins, codegen) must be
visible in the executed plans — these tests fail if a refactor
regresses an operator to a slow plan shape, independent of result
correctness."""

from __future__ import annotations

import pytest

from duckdb_vortex_spark import catalog
from duckdb_vortex_spark.plans.lint import _is_reduced, broadcast_subtrees, re_scan

from .conftest import SF_DIR
from .test_catalog_oracle import entry_plan_findings

ENTRIES = catalog.entries()


def _plan(spark, name: str) -> str:
    return (
        ENTRIES[name]
        .builder(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q6_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    # date + discount + quantity predicates reach the parquet scan
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # column pruning: only the 4 referenced lineitem columns are read
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_orderkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_tpch_joins_broadcast_dimensions(spark):
    # q5/q10: every non-lineitem side is dimension-sized (q5's orders
    # is one-year-filtered, q10's three-month — both measured FASTER
    # broadcast than merge at the 8x replica), so no shuffle join may
    # appear. q3's orders keeps ~1/3 of the table — fact-sized — and
    # is PINNED to a co-partitioned merge join (r11: broadcasting it
    # was slower at 8x and the wrong shape at cluster scale), while its
    # customer side must still broadcast.
    for name in (
        "tpch_q5_local_supplier_volume",
        "tpch_q10_returned_items",
    ):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name  # dims must not shuffle lineitem
    plan = _plan(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan  # customer dim still broadcasts
    assert "SortMergeJoin" in plan  # the fact-fact orders join shuffles


def test_tpch_fact_fact_joins_never_broadcast_orders(spark):
    # q7/q9/q12/q21 join lineitem with (near-)unfiltered orders: both
    # sides are fact tables, so the join must be a co-partitioned
    # shuffle join even though the LOCAL broadcast threshold would
    # happily build a hash table from sf0.1's 11 MB orders file. A
    # BroadcastHashJoin keyed on o_orderkey here is the r11 regression
    # this test exists to catch (measured 25-30 % slower at the 8x
    # replica and un-runnable at 100 TB).
    for name in (
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q12_late_shipment_priority",
        "tpch_q21_waiting_supplier",
    ):
        plan = _plan(spark, name)
        assert "SortMergeJoin [l_orderkey" in plan or "SortMergeJoin [o_orderkey" in plan, name
    # q4: a LEFT SEMI hash join can only BUILD on lineitem, and column
    # pruning keeps the 2-col slice under the broadcast threshold even
    # at 8x (a 4.8M-row build, r11 audit) — pinned to a merge semi join.
    plan = _plan(spark, "tpch_q4_order_priority")
    assert "SortMergeJoin" in plan and "LeftSemi" in plan
    assert "BroadcastHashJoin" not in plan
    # q18: the final lineitem join must build from the HAVING>300
    # survivors (bounded), never from lineitem — lineitem appears only
    # as a streamed probe side and inside its own aggregate.
    plan = _plan(spark, "tpch_q18_large_volume_customer")
    assert "BroadcastHashJoin [o_orderkey" in plan
    for sub in broadcast_subtrees(plan):
        assert not re_scan(sub, "lineitem") or _is_reduced(sub), (
            "q18 broadcast subtree scans lineitem unreduced"
        )


def test_window_one_pass_shapes_r12(spark):
    """The r12 aggregate-joined-back sweep replaced same-key
    agg+join-back branches with window functions (q21's order-level
    counts, q2's per-part min, q17's correlated avg, the dataset
    card's dup counts). Pin the one-pass shapes so a refactor cannot
    silently regress to the double-execution form the x16 stage
    breakdown measured at ~1.1 s of q21's 2.5 s:

    - q21: exactly ONE SortMergeJoin (the fact⋈fact join — the
      per_sup⋈ag self-join is gone) and a Window node.
    - q2: no SMJ at all (dims broadcast; mins is a window, not a
      joined-back aggregate).
    - q17: ONE hash exchange total (the window clustering) — the old
      full-lineitem aggregate branch would add a second.
    - dataset card: no join of any kind (window + rollup only).
    """
    p = _plan(spark, "tpch_q21_waiting_supplier")
    assert p.count("SortMergeJoin") == 1 and "Window" in p
    p = _plan(spark, "tpch_q2_min_cost_supplier")
    assert p.count("SortMergeJoin") == 0 and "Window" in p
    p = _plan(spark, "tpch_q17_small_quantity")
    assert p.count("Exchange hashpartitioning") == 1 and "Window" in p
    p = _plan(spark, "pipeline_dataset_card")
    assert "Join" not in p and "Window" in p


def test_q1_partial_aggregation(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    # partial aggregation before the shuffle (map-side combine): the
    # shuffle carries one partial row per (flag, status) per task, not
    # the raw lineitem rows
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_exact_dedup_single_shuffle(spark):
    plan = _plan(spark, "dedup_exact_content_hash")
    # one hash-shuffle for the groupBy; no joins, no sorts
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_asof_join_no_cartesian(spark):
    plan = _plan(spark, "join_asof_backward")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_topk_partial_rank_pushdown(spark):
    """Spark inserts a per-partition rank-limit (WindowGroupLimit)
    below the shuffle for row_number <= k filters."""
    plan = _plan(spark, "window_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_vortex_scan_prunes_columns(spark, tmp_path):
    from duckdb_vortex_spark.sources.vortex import register

    register(spark)
    df = catalog.load(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation.vortex")
    df.write.format("vortex").mode("append").save(path)
    got = spark.read.format("vortex").load(path).select("n_name")
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the pruned schema (only n_name) is what crosses the Python source
    assert got.columns == ["n_name"]
    assert "n_comment" not in plan.split("ReadSchema")[-1] if "ReadSchema" in plan else True


@pytest.mark.parametrize("name", sorted(ENTRIES))
def test_plan_lint(name, spark, linted):
    """Every catalog entry's physical plan is free of accidental
    cartesian products, nested-loop joins and row-at-a-time Python
    evaluation: the lint of its one build in this session
    (``test_catalog_oracle.entry_plan_findings``)."""
    findings = entry_plan_findings(spark, linted, name)
    assert not findings, f"{name}: {findings}"


def test_runtime_bloom_filter_injection(spark):
    """Runtime row-level filtering (the 100 TB shuffle-join saver):
    with a selective filter on one join side, Catalyst injects a
    bloom_filter_agg on the creation side and BloomFilterMightContain
    on the probe side, pruning probe rows BEFORE the shuffle. Local
    testdata sits under the default application-side threshold (10 GB)
    so the test pins the behavior with the threshold floored — on a
    real cluster the defaults trigger it for exactly the scans where
    it pays."""
    from pyspark.sql import functions as F

    from duckdb_vortex_spark.catalog import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, SF_DIR, "lineitem")
        orders = load(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan or "BloomFilterMightContain" in plan.replace(
            "might_contain", "BloomFilterMightContain"
        ), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_span_trim_no_gram_join(spark):
    """Round-5 contract: text_duplicate_span_trim computes (count,
    canonical) as WINDOW functions over the gram partition — the
    groupBy+join-back shape it replaced silently plan-shifts from
    broadcast to sort-merge past the AQE threshold (the measured 5.0x
    slow-tier factor, scripts/breakdown_span_trim.py). The dup-start
    derivation must stay join-free: the only joins allowed in the
    whole plan are the (doc_id, pos) anti-join and the final doc_id
    rebuild join; no join may have the gram/shingle key."""
    plan = _plan(spark, "text_duplicate_span_trim")
    assert "Window" in plan
    # no equi-join keyed on the gram column, in either join strategy
    for frag in plan.split("Join"):
        assert "gram#" not in frag.split("\n")[0], "join keyed on gram"


def test_cross_doc_overlap_window_df(spark):
    """Round-5 contract: doc-frequency via window over the gram
    partition (no join-back), and the final join ships only scalar
    per-doc columns (n_grams computed map-side) — the grams array must
    never be a join input."""
    plan = _plan(spark, "text_cross_doc_ngram_overlap")
    assert "Window" in plan
    for frag in plan.split("Join"):
        head = frag.split("\n")[0]
        assert "gram#" not in head, "join keyed on gram"
        assert "grams#" not in head, "gram array shipped through a join"


def test_neardup_decontam_eval_side_broadcasts(spark):
    """Fuzzy decontamination's 100 TB contract: the eval index (band
    buckets) and eval shingle arrays are BROADCAST — the corpus-sized
    training side is never sort-merge-joined on a bucket key."""
    import re

    plan = _plan(spark, "contamination_neardup_eval")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # bucket join + shingle-verify join both broadcast the eval side
    assert plan.count("BroadcastHashJoin") >= 2
    assert not re.search(r"SortMergeJoin \[band", plan)
