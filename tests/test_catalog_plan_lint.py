"""Catalog-wide scale audit: every registered entry's initial physical
plan is clean of the scale killers that ``test_catalog_oracle`` lints on
the entry's one build, and the hint-pinned fact joins stay pinned in
the final adaptive plan."""

from __future__ import annotations

import pytest

from duckdb_vortex_spark import catalog
from duckdb_vortex_spark.plans.lint import fact_broadcast_findings

from .conftest import SF_DIR, cache_is_empty
from .test_catalog_oracle import FACT_TABLES, entry_plan_findings

ENTRIES = catalog.entries()


@pytest.mark.parametrize("name", sorted(ENTRIES))
def test_catalog_entry_plan_clean(name, spark, linted):
    """The entry's plan lint, read from its one build in this session
    (``test_catalog_oracle.entry_plan_findings``)."""
    findings = entry_plan_findings(spark, linted, name)
    assert not findings, f"{name}: {findings}"


# The catalog lint reads the INITIAL adaptive plan (ADVICE r12: under
# AQE an unpinned shuffle join can still convert to a broadcast join at
# runtime once actual shuffle sizes are known — and small-SF test data
# maximizes that risk, since everything measures tiny). The catalog's defense is explicit hints, which AQE re-planning
# honors; this spot check EXECUTES the hint-pinned fact-join entries
# and re-lints their FINAL plans (isFinalPlan=true) so a Spark upgrade
# that stops honoring a hint at re-plan time fails CI instead of
# silently un-pinning every merge-pinned join.
FINAL_PLAN_SPOT = (
    "tpch_q21_waiting_supplier",
    "tpch_q12_late_shipment_priority",
    "tpch_q4_order_priority",
    "tpch_q3_shipping_priority",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_neardup_pairs",
    "contamination_neardup_eval",
)


@pytest.mark.parametrize("name", FINAL_PLAN_SPOT)
def test_final_adaptive_plan_keeps_fact_joins_pinned(name, spark):
    from duckdb_vortex_spark.plans.lint import formatted_plan

    df = ENTRIES[name].builder(spark, SF_DIR)
    df.collect()  # finalize THIS DataFrame's QueryExecution
    plan = formatted_plan(df)
    assert "isFinalPlan=true" in plan, "expected an executed adaptive plan"
    hits = fact_broadcast_findings(df, FACT_TABLES, plan=plan)
    assert not hits, (
        f"{name}: AQE re-planning moved fact table(s) {hits} onto a "
        "broadcast build side at runtime — the hint pin did not survive"
    )
    assert cache_is_empty(spark), f"{name} left a cached frame in the session"
