"""Catalog-wide scale audit: EVERY registered entry's physical plan is
linted for the three scale killers (CartesianProduct,
BroadcastNestedLoopJoin, row-at-a-time Python). Exceptions must be
declared here with a reason — an undeclared nested loop appearing in
any of the 150+ entries fails the suite, so a plan regression cannot
land silently."""

from __future__ import annotations

import pytest

from duckdb_vortex_spark import catalog
from duckdb_vortex_spark.plans.lint import fact_broadcast_findings, lint_plan

from .conftest import SF_DIR

# entry -> (allowed rules, why that's deliberate)
ALLOWED: dict[str, tuple[tuple[str, ...], str]] = {
    "join_cross": (
        ("cartesian-product", "nested-loop-join"),
        "the entry IS the cross-join operator, over two tiny dims",
    ),
    "string_levenshtein_pairs": (
        ("nested-loop-join", "cartesian-product"),
        "edit-distance theta join; pre-filtered to a bounded block",
    ),
    "retrieval_hybrid_rrf": (
        ("nested-loop-join",),
        "one bounded BNLJ: the full outer fuse of two top-20 lists "
        "(40 rows total)",
    ),
    "dedup_ngram_jaccard_pairs": (
        ("nested-loop-join",),
        "exact Jaccard verify confined to oracle scale; the scale path "
        "is MinHash-LSH candidate generation",
    ),
    "dedup_containment_pairs": (
        ("nested-loop-join",),
        "ordered-pair containment verify on the same bounded fixture; "
        "scale path reuses MinHash candidates with this predicate",
    ),
    "sketch_count_min_estimate": (
        ("nested-loop-join",),
        "|keys|×4 probe rows against the 256-row broadcast sketch — "
        "constant-size build side at any corpus size",
    ),
    "similarity_neardup_pairs": (
        ("nested-loop-join",),
        "exact cosine pair verify at oracle scale; scale path is "
        "LSH/IVF candidate generation",
    ),
    "tpch_q11_important_stock": (
        ("nested-loop-join",),
        "1-ROW broadcast (global total for the HAVING threshold) — a "
        "scalar subquery, constant-size build side at any SF",
    ),
    "tpch_q22_global_sales_opportunity": (
        ("nested-loop-join",),
        "1-ROW broadcast (global avg acctbal) — scalar subquery, "
        "constant-size build side at any SF",
    ),
    "text_bigram_lift": (
        ("nested-loop-join",),
        "1-ROW broadcast (corpus token total kept in-plan so the "
        "tokenize subtree runs once) — constant-size build side",
    ),
    "pipeline_source_mixture_weights": (
        ("nested-loop-join",),
        "1-ROW broadcast (corpus token total + smoothing normalizer) — "
        "scalar aggregate, constant-size build side at any SF",
    ),
    "sample_temperature_mixture": (
        ("nested-loop-join",),
        "inherits pipeline_source_mixture_weights' 1-ROW totals "
        "broadcast in its rate subtree — constant-size build side",
    ),
    "basket_brand_affinity": (
        ("nested-loop-join",),
        "1-ROW broadcast (order total for the lift denominator) — "
        "constant-size build side at any SF",
    ),
    "stream_hll_distinct_events": (
        ("nested-loop-join",),
        "1-ROW broadcast (64-register estimate joined to the exact "
        "count) — constant-size build side at any event volume",
    ),
    "sketch_hll_distinct": (
        ("nested-loop-join",),
        "1-ROW broadcast (the 64-register HLL estimate joined to the "
        "exact count for the error-bound boolean) — constant-size "
        "build side at any SF",
    ),
    "sketch_hll_daily_cumulative": (
        ("nested-loop-join",),
        "64-ROW bucket-grid broadcast (days × fixed 64 registers) — "
        "constant-size build side at any event volume",
    ),
    "stats_drift_chi_square": (
        ("nested-loop-join",),
        "1-ROW extent + 1-ROW cohort-totals broadcasts over the 64-row "
        "cell table — constant-size build sides at any SF",
    ),
    "sketch_hll_set_intersection": (
        ("nested-loop-join",),
        "1-ROW exact-overlap audit × 1-ROW pivoted-estimates broadcast "
        "— both sides constant-size at any event volume",
    ),
    "stats_drift_ks": (
        ("nested-loop-join",),
        "1-ROW cohort-totals broadcast over the distinct-value ECDF "
        "table — constant-size build side at any SF",
    ),
    "text_bm25_topk": (
        ("nested-loop-join",),
        "1-ROW corpus-stats broadcast (n_docs, tot_len kept in-plan) — "
        "constant-size build side at any corpus size",
    ),
    "sketch_histogram_grouped_quantiles": (
        ("nested-loop-join",),
        "≤(groups×256)-row sketch × 2 quantile probes — every build "
        "side is constant-size regardless of corpus",
    ),
    "sketch_histogram_quantile": (
        ("nested-loop-join",),
        "1-ROW extent broadcast + ≤1024-row sketch × 3 quantile probes "
        "— every build side is constant-size regardless of corpus",
    ),
}

ENTRIES = catalog.entries()


# Tables that scale with the corpus: an UNREDUCED scan of one of these
# on a BroadcastHashJoin build side is the r11 q21-class bug (Spark
# estimates the PROJECTED size, so a pruned slice of a huge table
# auto-broadcasts locally long after the table itself could never be
# resident). Declare deliberate exceptions here with a reason.
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
FACT_BCAST_OK: dict[str, str] = {}


@pytest.mark.parametrize("name", sorted(ENTRIES))
def test_catalog_entry_plan_clean(name, spark):
    allow, _why = ALLOWED.get(name, ((), ""))
    df = ENTRIES[name].builder(spark, SF_DIR)
    findings = lint_plan(df, allow=allow)
    assert not findings, (
        f"{name}: {[f.rule for f in findings]} — declare in ALLOWED with a "
        "reason if deliberate"
    )
    if name not in FACT_BCAST_OK:
        hits = fact_broadcast_findings(df, FACT_TABLES)
        assert not hits, (
            f"{name}: fact table(s) {hits} scanned unreduced on a broadcast "
            "build side — pin the join (merge/shuffle_hash hint, or broadcast "
            "the bounded side) or declare in FACT_BCAST_OK with a reason"
        )


# The parametrized rule above lints the INITIAL adaptive plan (ADVICE
# r12: under AQE an unpinned shuffle join can still convert to a
# broadcast join at runtime once actual shuffle sizes are known — and
# small-SF test data maximizes that risk, since everything measures
# tiny). The catalog's defense is explicit hints, which AQE re-planning
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
    spark.catalog.clearCache()  # the dedup entries persist() signatures
