"""Document chunking + embedding-column transforms for training-data
pipelines (SURVEY.md §2C north-star extras).

Chunking is the canonical pre-embedding step of an LLM data pipeline:
split each document into overlapping token windows. Implemented as
pure column algebra (sequence → transform → posexplode) — JVM-side,
no Python in the row path, embarrassingly parallel, so a 100 TB corpus
chunks at scan speed with zero shuffles.

Embedding transforms (L2-normalize, int8 quantize, mean-pool) are the
standard vector-pipeline plumbing for the similarity operators in
operators/similarity.py; all are per-row higher-order-function
expressions with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from .text import tokens

# --- token-window chunking ----------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping ``chunk_tokens``-token
    windows starting every ``stride`` tokens. Output one row per chunk:
    (id, chunk_id, chunk_text, n_tokens). Windows always start within
    the document, so every doc yields ≥ 1 chunk and the final window
    may be short (the tokenizer-training convention)."""
    toks = tokens(text_col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks), F.lit(1)),
        F.lit(stride),
    )
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s, chunk_tokens), " ")
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "chunk_text",
        F.size(F.split("chunk_text", r"\s+")).cast("bigint").alias("n_tokens"),
    )


_DUCK_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x != '')"

CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
c AS (
  SELECT
    doc_id,
    generate_subscripts(range(1, greatest(len(toks), 1) + 1, 48), 1) - 1 AS chunk_id,
    unnest(list_transform(range(1, greatest(len(toks), 1) + 1, 48),
           s -> array_to_string(list_slice(toks, s, s + 63), ' '))) AS chunk_text
  FROM t
)
SELECT
  doc_id,
  CAST(chunk_id AS BIGINT) AS chunk_id,
  chunk_text,
  CAST(len(string_split_regex(chunk_text, '\\s+')) AS BIGINT) AS n_tokens
FROM c
"""


@query("text_chunk_windows", oracle=CHUNK_ORACLE, tags=("text", "llm", "chunking"))
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token windows every 48 tokens (16-token overlap) over the
    documents corpus."""
    return chunk_documents(load(spark, sf_dir, "documents"), 64, 48)


# --- embedding transforms ------------------------------------------------


def _norm(a: Column) -> Column:
    """A vector's L2 norm, folded left to right over doubles."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def normalize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L2-normalize: unit vectors make cosine = dot product, which
    halves the work in the similarity operators."""
    v = F.col(vec_col)
    return df.withColumn(
        vec_col, F.transform(v, lambda x: x.cast("double") / _norm(v))
    )


def quantize_int8(vec: Column, scale: float = 127.0) -> Column:
    """Symmetric int8 quantization of a unit-normalized vector —
    the standard 4× storage shrink before ANN index build. Values are
    clamped to [-127, 127]."""
    return F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("double") * scale, 0).cast("int")),
        ),
    )


EMB_NORM_ORACLE = """
WITH n AS (
  SELECT
    vec_id,
    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
    embedding
  FROM embeddings
  WHERE vec_id % 10 = 0
)
SELECT
  vec_id,
  CAST(round(list_sum(list_transform(embedding,
       x -> CAST(x AS DOUBLE) / nrm * CAST(x AS DOUBLE) / nrm)), 6) AS DOUBLE) AS unit_norm_sq,
  array_to_string(list_transform(embedding, x -> CAST(greatest(-127, least(127,
       CAST(round(CAST(x AS DOUBLE) / nrm * 127, 0) AS INT))) AS INT)), ',') AS q8_csv
FROM n
"""


@query("embedding_normalize_quantize", oracle=EMB_NORM_ORACLE, tags=("similarity", "llm"))
def embedding_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize then int8-quantize; surfaces the squared norm of
    the normalized vector (≡ 1.0) as the checkable scalar plus the
    quantized vector serialized to CSV (raw int arrays repr
    differently across engine→pandas paths; strings hash stably)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    unit = F.transform("embedding", lambda x: x.cast("double") / _norm(F.col("embedding")))
    return (
        emb.select("vec_id", unit.alias("u"))
        .select(
            "vec_id",
            F.round(
                F.aggregate("u", F.lit(0.0), lambda acc, x: acc + x * x), 6
            ).alias("unit_norm_sq"),
            F.array_join(quantize_int8(F.col("u")), ",").alias("q8_csv"),
        )
    )


MEANPOOL_ORACLE = """
SELECT
  vec_id % 50 AS group_id,
  CAST(i AS BIGINT) AS dim_idx,
  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
    / COUNT(*) / 1000000.0 AS mean_val
FROM embeddings CROSS JOIN range(1, 9) AS t(i)
GROUP BY 1, 2
"""


@query("embedding_mean_pool", oracle=MEANPOOL_ORACLE, tags=("similarity", "llm", "agg"))
def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pool embeddings per group (the segment→document pooling
    step), emitted as (group, dimension, mean) rows over the 8-dim
    pooled prefix. Element values are quantized to micro-units before
    summing (exact long arithmetic, order-independent) and the mean is
    derived with the identical int→double ops in both engines, so the
    element-wise pooling is fully oracle-checked — the earlier
    float-avg form was shuffle-order-dependent and could only get a
    rows-only check. Full-vector equality vs numpy stays pinned in
    pytest."""
    emb = load(spark, sf_dir, "embeddings")
    dim = 8  # pooled prefix — enough to verify the construction
    q = F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5)).cast("bigint")
    return (
        emb.select(
            (F.col("vec_id") % 50).alias("group_id"),
            F.posexplode(F.slice("embedding", 1, dim)).alias("pos", "x"),
        )
        .groupBy("group_id", (F.col("pos") + 1).cast("bigint").alias("dim_idx"))
        .agg(
            (F.sum(q).cast("double") / F.count("*") / 1000000.0).alias("mean_val")
        )
    )
