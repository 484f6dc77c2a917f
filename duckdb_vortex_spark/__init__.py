"""duckdb_vortex_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the
vortex-data/duckdb-vortex DuckDB extension (reference: /root/reference)
as an idiomatic Apache Spark package:

- ``catalog``    — the oracle-checked relational operator catalog
                   (SURVEY.md §2B surface).
- ``sources``    — a "vortex"-semantics Spark Python DataSource
                   (schema-from-footer bind, partitioned scan, column
                   pruning, filter pushdown, compressed columnar write;
                   SURVEY.md §2A rows A1-A9).
- ``operators``  — LLM-data-pipeline operators designed for 100 TB
                   scale: dedup (exact / MinHash-LSH / SimHash / n-gram
                   Jaccard), similarity search, text analysis,
                   multimodal binary columns (SURVEY.md §2C).
- ``streaming``  — Structured Streaming patterns over the events table.

Nothing here is ported from the reference's C++/Rust; the engine layer
is Spark SQL / Catalyst, exactly as DuckDB is the engine layer there
(see /root/reference/src/vortex_extension.cpp:9-11 for how thin the
shim is).
"""

__version__ = "0.1.0"


def version() -> str:
    """Extension self-version, parity with ``vortex_version()``
    (/root/reference/src/vortex_extension.cpp:48-50)."""
    return __version__


_EXPORTS = {
    # session / registration
    "get_spark": ("duckdb_vortex_spark.session", "get_spark"),
    "register_vortex": ("duckdb_vortex_spark.sources.vortex", "register"),
    "write_sorted": ("duckdb_vortex_spark.sources.vortex", "write_sorted"),
    # relational extension operators
    "asof_join": ("duckdb_vortex_spark.operators.asof", "asof_join"),
    "recursive_cte": ("duckdb_vortex_spark.plans.recursive", "recursive_cte"),
    "salted_aggregate": ("duckdb_vortex_spark.plans.skew", "salted_aggregate"),
    "lint_plan": ("duckdb_vortex_spark.plans.lint", "lint_plan"),
    "assert_plan_clean": ("duckdb_vortex_spark.plans.lint", "assert_plan_clean"),
    "salted_broadcast_left": ("duckdb_vortex_spark.plans.skew", "salted_broadcast_left"),
    # LLM-pipeline operators
    "exact_dedup": ("duckdb_vortex_spark.operators.dedup", "exact_dedup"),
    "minhash_lsh_pairs": ("duckdb_vortex_spark.operators.dedup", "minhash_lsh_pairs"),
    "minhash_dedup_keep": ("duckdb_vortex_spark.operators.dedup", "minhash_dedup_keep"),
    "connected_components": ("duckdb_vortex_spark.operators.dedup", "connected_components"),
    "simhash": ("duckdb_vortex_spark.operators.dedup", "simhash"),
    "topk_bruteforce": ("duckdb_vortex_spark.operators.similarity", "topk_bruteforce"),
    "lsh_topk": ("duckdb_vortex_spark.operators.similarity", "lsh_topk"),
    "ivf_topk": ("duckdb_vortex_spark.operators.similarity", "ivf_topk"),
    "ivf_index": ("duckdb_vortex_spark.operators.similarity", "ivf_index"),
    "lloyd_refine": ("duckdb_vortex_spark.operators.similarity", "lloyd_refine"),
    "ivf_probe": ("duckdb_vortex_spark.operators.similarity", "ivf_probe"),
    "ivfpq_topk": ("duckdb_vortex_spark.operators.similarity", "ivfpq_topk"),
    "ivfpq_index": ("duckdb_vortex_spark.operators.similarity", "ivfpq_index"),
    "ivfpq_probe": ("duckdb_vortex_spark.operators.similarity", "ivfpq_probe"),
    "write_ivf_index": ("duckdb_vortex_spark.operators.similarity", "write_ivf_index"),
    "read_ivf_index": ("duckdb_vortex_spark.operators.similarity", "read_ivf_index"),
    "write_ivfpq_index": (
        "duckdb_vortex_spark.operators.similarity",
        "write_ivfpq_index",
    ),
    "read_ivfpq_index": (
        "duckdb_vortex_spark.operators.similarity",
        "read_ivfpq_index",
    ),
    "window_counts_hot_isolated": (
        "duckdb_vortex_spark.plans.skew",
        "window_counts_hot_isolated",
    ),
    "lint_final_plan": ("duckdb_vortex_spark.plans.lint", "lint_final_plan"),
    "run_slt_file": ("duckdb_vortex_spark.compat.slt", "run_slt_file"),
    "chunk_documents": ("duckdb_vortex_spark.operators.chunking", "chunk_documents"),
    "normalize_embeddings": ("duckdb_vortex_spark.operators.chunking", "normalize_embeddings"),
    "extract_features": ("duckdb_vortex_spark.operators.multimodal", "extract_features"),
    "prepare_training_data": ("duckdb_vortex_spark.operators.pipeline", "prepare_training_data"),
    "cross_source_shared_shingles": (
        "duckdb_vortex_spark.operators.contamination",
        "cross_source_shared_shingles",
    ),
    "register_s3": ("duckdb_vortex_spark.sources.object_store", "register_s3"),
    "S3FS": ("duckdb_vortex_spark.sources.object_store", "S3FS"),
    # streaming
    "tumbling_counts": ("duckdb_vortex_spark.streaming.windows", "tumbling_counts"),
    "sliding_counts": ("duckdb_vortex_spark.streaming.windows", "sliding_counts"),
    "session_windows": ("duckdb_vortex_spark.streaming.windows", "session_windows"),
    "enriched_segment_windows": (
        "duckdb_vortex_spark.streaming.windows",
        "enriched_segment_windows",
    ),
    "running_user_totals": ("duckdb_vortex_spark.streaming.stateful", "running_user_totals"),
    "sessionize_users": ("duckdb_vortex_spark.streaming.stateful", "sessionize_users"),
}

__all__ = ["version", "get_spark", *sorted(_EXPORTS)]


def __getattr__(name: str):
    """Lazy top-level API: importing the package stays cheap (no
    SparkSession, no pandas) until an operator is actually used."""
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}") from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)
