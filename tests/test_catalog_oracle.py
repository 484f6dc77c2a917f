"""The central correctness gate, run locally: one check per catalog
entry, on one build. The build's Spark jobs are held to the entry's
budget; its initial physical plan is linted for the scale killers
(CartesianProduct, BroadcastNestedLoopJoin, row-at-a-time Python, a fact
table unreduced on a broadcast build side); its result is executed on
Spark AND DuckDB over the same parquet tables and compared exactly
(driver-gate semantics, see conftest); and it must leave no cached
frame behind. A lint exception must be declared in ``ALLOWED`` with a
reason, so a plan regression in any entry cannot land silently."""

from __future__ import annotations

import pytest

from duckdb_vortex_spark import catalog
from duckdb_vortex_spark.plans.lint import fact_broadcast_findings, lint_plan

from .conftest import SF_DIR, assert_matches_oracle, cache_is_empty, run_counting_jobs

ENTRIES = catalog.entries()

# entry -> (most Spark jobs its builder may run at sf0.001, why it runs
# any). Every entry not listed builds its DataFrame with no job.
BUILD_JOBS: dict[str, tuple[int, str]] = {
    # fixpoint loops: plans.recursive.fixpoint_rounds under
    # connected_components / recursive_cte
    "pipeline_fuzzy_curation_manifest": (
        28,
        "connected-components rounds over MinHash pairs, one materialization per round",
    ),
    "dedup_minhash_keep_canonical": (
        26,
        "connected-components rounds over MinHash pairs, one materialization per round",
    ),
    "dedup_connected_components": (44, "connected-components rounds, one materialization per round"),
    "graph_bfs_hops": (33, "recursive_cte rounds, one materialization per round"),
    "structure_recursive_cte": (27, "recursive_cte rounds, one materialization per round"),
    "graph_pagerank_bipartite": (22, "three iterations, one eager localCheckpoint each"),
    # streaming chains: micro-batches land in VTX1 stores at build
    "stream_incremental_ingest_pipeline": (70, "two chain batches: gates, store writes, manifest"),
    "stream_incremental_decontam": (
        57,
        "micro-batches through the decontam gate and its stores (55 or 57 from run to run)",
    ),
    "stream_incremental_neardup": (42, "micro-batches through the near-dup gate and its stores"),
    "stream_incremental_semdedup": (24, "micro-batches through the semantic gate and its index"),
    "vortex_incremental_compaction": (11, "streamed VTX1 segments written, then compacted"),
    # indexes built and probed at build
    "retrieval_ann_tuning_curve": (
        32,
        "builds two indexes, probes each at three n_probe; each checkpointed probe runs its cogroup's stages",
    ),
    "similarity_adc_stored_codes": (4, "codebook collect, then the PQ codes copied to VTX1"),
    # the entry writes its input (VTX1, a table, a text file) at build
    "vortex_zorder_pruned_scan": (7, "z-ordered VTX1 copy written, result built through Arrow"),
    "vortex_copy_roundtrip_agg": (5, "VTX1 copy written, result built through Arrow"),
    "vortex_ree_clustered_scan": (5, "clustered VTX1 copy written, result built through Arrow"),
    "vortex_nested_roundtrip_scan": (4, "nested VTX1 copy written, result built through Arrow"),
    "vortex_s3_roundtrip_scan": (3, "VTX1 copy written, result built through Arrow"),
    "vortex_typed_roundtrip_checksum": (3, "VTX1 copy written, result built through Arrow"),
    "vortex_bloom_pruned_scan": (2, "VTX1 copy written, result built through Arrow"),
    "ddl_insert_append_table": (5, "CTAS and INSERT write the table, result built through Arrow"),
    "bucketed_join_colocated_agg": (4, "both bucketed tables written with saveAsTable"),
    "read_json_typed_roundtrip": (4, "JSON fixture written, result built through Arrow"),
    "read_csv_typed_roundtrip": (2, "CSV fixture written, result built through Arrow"),
    # an eager scalar or checkpoint sizes or bounds the plan
    "text_corpus_stats": (3, "vocabulary size is an eager distinct count"),
    "text_tfidf_sparse_topk": (2, "document count for the idf is eager"),
    "dedup_containment_pairs": (
        3,
        "document count sizes the bounded verify block; lazy lineage cut runs its "
        "frame's exchange stage",
    ),
    "dedup_ngram_jaccard_pairs": (
        3,
        "document count sizes the bounded verify block; lazy lineage cut runs its "
        "frame's exchange stage",
    ),
    "dedup_simhash_neardup_pairs": (2, "lazy lineage cut runs its frame's exchange stage"),
    "dedup_minhash_lsh_pairs": (1, "lazy lineage cut runs its frame's exchange stage"),
    "contamination_neardup_eval": (2, "eval index is an eager localCheckpoint"),
    # one collect: the codebook rows reach the driver
    "dedup_semantic_cluster": (1, "sample_centroids collects the codebook"),
    "dedup_semantic_cluster_two_level": (1, "sample_centroids collects the codebook"),
    "similarity_assign_two_level": (1, "sample_centroids collects the codebook"),
    "similarity_ivf_ann": (1, "sample_centroids collects the codebook"),
    "similarity_ivfpq_ann": (1, "sample_centroids collects the codebook"),
    "similarity_knn_join_cogrouped": (1, "sample_centroids collects the codebook"),
    "similarity_pq_adc_topk": (1, "sample_centroids collects the PQ codebooks"),
    "similarity_pq_codes": (1, "sample_centroids collects the PQ codebooks"),
}


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

# Tables that scale with the corpus: an UNREDUCED scan of one of these
# on a BroadcastHashJoin build side is the r11 q21-class bug (Spark
# estimates the PROJECTED size, so a pruned slice of a huge table
# auto-broadcasts locally long after the table itself could never be
# resident).
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def plan_findings(name, df) -> list[str]:
    """The lint findings of ``df``'s initial plan, built by entry
    ``name``: each marker rule its ``ALLOWED`` row does not allow, and
    each fact table scanned unreduced on a broadcast build side."""
    allow, _why = ALLOWED.get(name, ((), ""))
    return [
        f"{f.rule}: declare in ALLOWED with a reason if deliberate"
        for f in lint_plan(df, allow=allow)
    ] + [
        f"fact table {t} scanned unreduced on a broadcast build side: pin the "
        "join (merge/shuffle_hash hint, or broadcast the bounded side)"
        for t in fact_broadcast_findings(df, FACT_TABLES)
    ]


def entry_plan_findings(spark, linted, name) -> list[str]:
    """The lint findings of entry ``name``: those ``test_catalog_entry``
    recorded in ``linted`` from its build, or, where that check did not
    run (the slow tier, a ``-k`` selection), those of a build of its
    own."""
    if name not in linted:
        linted[name] = plan_findings(name, ENTRIES[name].builder(spark, SF_DIR))
    return linted[name]


@pytest.fixture(scope="module")
def bound_tables(spark):
    """Bind every driver table once, so a builder's job count does not
    depend on whether an earlier test already loaded its tables."""
    catalog.register_views(spark, SF_DIR)


def _assert_flat_schema(name, df):
    """No catalog entry may output Array/Map/Struct columns: the DRIVER
    canonicalizer (pandas sort_values over all columns) dies on
    unhashable lists — `similarity_pq_codes` was the round-4 red row
    for exactly this, masked locally because conftest stringifies
    values before sorting. Flat output keeps local-green == driver-green."""
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"[{name}] outputs complex-typed columns {complex_cols}; the driver "
        "canonicalizer cannot sort them — emit scalar columns instead"
    )


@pytest.mark.parametrize("name", sorted(ENTRIES))
def test_catalog_entry(name, spark, oracle, bound_tables, linted):
    e = ENTRIES[name]
    df, jobs = run_counting_jobs(spark, lambda: e.builder(spark, SF_DIR))
    budget, _why = BUILD_JOBS.get(name, (0, "builds with no job"))
    assert jobs <= budget, (
        f"[{name}] the builder ran {jobs} Spark jobs, its budget is {budget}"
    )
    findings = linted[name] = plan_findings(name, df)
    assert not findings, f"[{name}] plan lint: {findings}"
    _assert_flat_schema(name, df)
    if e.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors driver's weak gate
    else:
        assert_matches_oracle(df, oracle, e.oracle, name=name)
    assert cache_is_empty(spark), f"[{name}] left a cached frame in the session"


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.count() > 0


def test_contract_shape():
    import __spark_entry__ as se

    qs, os_ = se.queries(), se.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())
