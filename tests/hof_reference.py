"""The HOF reference for the vector kernel: JVM higher-order-function
column expressions that fold left to right over doubles.

The package runs all vector arithmetic on its numpy kernel
(`operators.similarity._fold`): exact cosines, PQ distance tables and
LSH signatures. The kernel-versus-HOF pins compare it with these
expressions, bit for bit, null and NaN results included. ``_norm`` is
the package's own L2 norm (`operators.chunking._norm`), re-exported
here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from duckdb_vortex_spark.operators.chunking import _norm

__all__ = ["_dot", "_norm", "adversarial_embeddings", "cosine", "lsh_signature", "pq_d2_table"]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Null for a zero norm, as DuckDB's division gives."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def pq_d2_table(vec: Column, book: Column, s: int, dsub: int) -> Column:
    """The squared L2 distances of subspace ``s`` of ``vec`` to every
    entry of ``book`` (an array<array<double>> column): one fold of
    squared differences per entry. A subspace short of ``dsub`` elements
    or holding a null gives null distances, as ``zip_with`` pads with
    null."""
    sub = F.slice(vec, s * dsub + 1, dsub)
    return F.transform(
        book,
        lambda c: F.aggregate(
            F.zip_with(sub, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda a, b: a + b,
        ),
    )


def lsh_signature(vec: Column, planes: Column, t: int) -> Column:
    """LSH table ``t``'s signature of ``vec`` against ``planes`` (an
    array<array<double>> column): ``t:`` and one bit per hyperplane, 1
    where the dot is above 0. A null dot gives a null bit, which
    ``concat_ws`` skips."""
    bits = F.transform(planes, lambda pl: (_dot(vec, pl) > 0).cast("int").cast("string"))
    return F.concat(F.lit(f"{t}:"), F.concat_ws("", bits))


def adversarial_embeddings(emb):
    """``emb`` (vec_id, embedding array<float>, 64 dims) plus the rows a
    kernel-versus-HOF pin must agree on: a null vector, a null element,
    a NaN element, vectors shorter and longer than 64 elements, and an
    all-zero vector (ids 900001 to 900006)."""
    b = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    rows = [
        (900001, None),
        (900002, b[:5] + [None] + b[6:]),
        (900003, b[:40] + [float("nan")] + b[41:]),
        (900004, b[:40]),
        (900005, b + [0.5] * 6),
        (900006, [0.0] * 64),
    ]
    extra = emb.sparkSession.createDataFrame(rows, "vec_id long, embedding array<float>")
    return emb.select("vec_id", "embedding").unionByName(extra)
