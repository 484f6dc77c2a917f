"""The HOF reference cosine: JVM higher-order-function column
expressions that fold a dot product left to right over doubles.

The package scores every exact cosine on its numpy kernel
(`operators.similarity._fold`); the kernel-versus-HOF pins compare it
with these expressions, bit for bit. ``_norm`` is the package's own L2
norm (`operators.chunking._norm`), re-exported here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from duckdb_vortex_spark.operators.chunking import _norm

__all__ = ["_dot", "_norm", "cosine"]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Null for a zero norm, as DuckDB's division gives."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))
