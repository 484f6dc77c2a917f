"""Frames built from driver-local rows start no Python worker.

``createDataFrame`` of a Python list (or of ``collect()`` output) puts a
PythonRDD in the frame's lineage: the first action over it runs its
rows through Python workers, from a worker pool of its own. The
package builds such frames through Arrow instead (`session._local_frame`,
or ``createDataFrame(df.toArrow(), df.schema)``), which the JVM
parallelizes."""

from __future__ import annotations

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.similarity import sample_centroids
from duckdb_vortex_spark.session import _local_frame
from duckdb_vortex_spark.sources.vortex_entries import vortex_copy_roundtrip_agg

from .conftest import SF_DIR


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_sample_centroids_lineage_has_no_python_rdd(spark):
    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 16)
    assert "PythonRDD" not in _lineage(centroids), _lineage(centroids)
    # the codebook's schema and rows are those of the collected sample
    assert centroids.schema.simpleString() == "struct<cluster_id:int,centroid:array<float>>"
    assert [r["cluster_id"] for r in centroids.collect()] == list(range(16))


def test_vtx1_entry_lineage_has_no_python_rdd(spark):
    out = vortex_copy_roundtrip_agg(spark, SF_DIR)
    assert "PythonRDD" not in _lineage(out), _lineage(out)


def test_local_frame_keeps_nulls_and_schema(spark):
    """A null vector and a null element stay null (the pandas path
    would make the element NaN), and an empty frame keeps its schema."""
    df = _local_frame(spark, [(0, [1.5, None]), (1, None)], "cluster_id int, centroid array<float>")
    assert df.schema.simpleString() == "struct<cluster_id:int,centroid:array<float>>"
    assert sorted(map(tuple, df.collect())) == [(0, [1.5, None]), (1, None)]
    empty = _local_frame(spark, [], "a bigint, b string")
    assert empty.schema.simpleString() == "struct<a:bigint,b:string>"
    assert empty.count() == 0
