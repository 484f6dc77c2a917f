"""Hybrid retrieval: sparse BM25 + dense cosine, fused by RRF.

The RAG-era retrieval stack runs BOTH a lexical ranker (BM25 over an
inverted index) and a dense ranker (embedding cosine ANN) and merges
the two lists with Reciprocal-Rank Fusion (Cormack, Clarke &
Buettcher, SIGIR 2009): score(d) = Σ_lists 1/(k + rank_list(d)),
k = 60. RRF needs only RANKS — no score calibration between the
incomparable BM25 and cosine scales — which is exactly why it's the
production default.

Scale design (100 TB corpus): each leg is its own already-shipped
bounded plan — BM25 is the inverted-index shape (query-term filter at
the scan, vocabulary-bounded df broadcast, rank-limit top-k; see
`text_bm25_topk`), the dense leg is pluggable (brute force here at
oracle tier; `similarity_ivf_ann` / `similarity_ivfpq_ann` are the
corpus-scale paths — fusion only consumes (id, rank), so swapping the
ANN tier does not change this operator). The fusion itself touches
2·k_each rows: a full outer join of two top-k lists plus one ordered
limit — driver-free, constant-size, trivially broadcastable.

Determinism: ranks are row_numbers over (quantized-integer BM25 desc,
id) and (cosine desc, id) — both bit-identical cross-engine (BM25 is
µ-quantized BIGINT; cosine is the same fixed IEEE sequence the
similarity oracles pin). RRF contributions are quantized to µ-units
per (list, rank) BEFORE the sum — floor(1e6/(60+r) + 0.5) — so the
fused score is an exact BIGINT and the final ordering has no float
tie ambiguity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load, query
from .similarity import (
    _sql_cos,
    ivf_index,
    ivf_probe,
    ivfpq_index,
    ivfpq_probe,
    topk_bruteforce,
)
from .text import bm25_doc_scores


def _rrf_mu(rank_col: F.Column, k: int = 60) -> F.Column:
    """µ-quantized RRF contribution for one list: 0 when the doc is
    absent (rank 0 encodes absence)."""
    return F.when(
        rank_col > 0,
        F.floor(F.lit(1000000.0) / (F.lit(float(k)) + rank_col.cast("double")) + F.lit(0.5)).cast(
            "bigint"
        ),
    ).otherwise(F.lit(0).cast("bigint"))


def hybrid_rrf(
    lex_ranked: DataFrame,
    dense_ranked: DataFrame,
    k_final: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Fuse two (doc_id, rank) top-k lists with Reciprocal-Rank
    Fusion. Absent-from-list is encoded as rank 0 after the outer
    join and contributes nothing. Output: doc_id, lex_rank,
    dense_rank (0 = not retrieved by that leg), rrf_mu (exact BIGINT,
    µ-quantized), ordered by (rrf_mu desc, doc_id) limit ``k_final``."""
    lex = lex_ranked.select("doc_id", F.col("rank").alias("lex_rank"))
    den = dense_ranked.select("doc_id", F.col("rank").alias("dense_rank"))
    fused = (
        lex.join(den, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("bigint").alias("lex_rank"),
            F.coalesce("dense_rank", F.lit(0)).cast("bigint").alias("dense_rank"),
        )
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            (
                _rrf_mu(F.col("lex_rank"), rrf_k)
                + _rrf_mu(F.col("dense_rank"), rrf_k)
            ).alias("rrf_mu"),
        )
    )
    return fused.orderBy(F.col("rrf_mu").desc(), "doc_id").limit(k_final)


HYBRID_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS t
  FROM documents
), L AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM t
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_len
  FROM L
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM t)
  WHERE tok IN ('join', 'hash', 'scan', 'filter')
  GROUP BY doc_id, tok
), dft AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
), bm AS (
  SELECT tf.doc_id, CAST(SUM(CAST(floor(
      (CAST(22 * tf.tf * s.tot_len AS DOUBLE)
        / CAST(10 * tf.tf * s.tot_len + 3 * s.tot_len + 9 * L.dl * s.n_docs AS DOUBLE))
      * (CAST(2 * (s.n_docs - d.df) + 1 AS DOUBLE) / CAST(2 * d.df + 1 AS DOUBLE))
      * 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS bm25_q
  FROM tf
  JOIN dft d USING (tok)
  JOIN L USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
), lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25_q DESC, doc_id) AS BIGINT) AS lex_rank
  FROM bm WHERE doc_id <> 0
  ORDER BY bm25_q DESC, doc_id LIMIT 20
), qv AS (
  SELECT embedding AS v FROM embeddings WHERE vec_id = 0
), cos AS (
  SELECT c.vec_id AS doc_id,
    {_sql_cos("q.v", "c.embedding")} AS cos_sim
  FROM qv q, embeddings c WHERE c.vec_id <> 0
), dense AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS dense_rank
  FROM cos ORDER BY cos_sim DESC, doc_id LIMIT 20
), fused AS (
  SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
         COALESCE(lex.lex_rank, 0) AS lex_rank,
         COALESCE(dense.dense_rank, 0) AS dense_rank
  FROM lex FULL JOIN dense ON lex.doc_id = dense.doc_id
)
SELECT doc_id, lex_rank, dense_rank,
  CAST(
    (CASE WHEN lex_rank > 0
          THEN CAST(floor(1000000.0e0 / (60.0e0 + CAST(lex_rank AS DOUBLE)) + 0.5e0) AS BIGINT)
          ELSE 0 END)
    + (CASE WHEN dense_rank > 0
            THEN CAST(floor(1000000.0e0 / (60.0e0 + CAST(dense_rank AS DOUBLE)) + 0.5e0) AS BIGINT)
            ELSE 0 END)
  AS BIGINT) AS rrf_mu
FROM fused
ORDER BY rrf_mu DESC, doc_id
LIMIT 10
"""


@query(
    "retrieval_hybrid_rrf",
    oracle=HYBRID_ORACLE,
    tags=("similarity", "text", "llm"),
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval for query document 0: BM25 top-20 on its
    salient terms (the entry's fixed 4-term query, standing in for a
    sparse encoder) fused with exact-cosine top-20 against its
    embedding (vec_id aligns 1:1 with doc_id in the corpus) via
    RRF(k=60); the query document itself is excluded from both legs.
    Output is the fused top-10 with per-leg rank attribution — the
    shape a reranker or evaluation harness consumes."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    # Top-20 via orderBy+limit (TakeOrderedAndProject — rank-limit
    # pushdown, no global sort), THEN rank: the single-partition
    # row_number window only ever sees the 20 surviving rows.
    wq = W.orderBy(F.col("bm25_q").desc(), "doc_id")
    lex = (
        bm25_doc_scores(docs, ("join", "hash", "scan", "filter"))
        .filter(F.col("doc_id") != 0)
        .orderBy(F.col("bm25_q").desc(), "doc_id")
        .limit(20)
        .withColumn("rank", F.row_number().over(wq).cast("bigint"))
        .select("doc_id", "rank")
    )
    dense = (
        topk_bruteforce(emb.filter(F.col("vec_id") == 0), emb, k=20)
        .select(F.col("cand_id").alias("doc_id"), F.col("rnk").alias("rank"))
    )
    return hybrid_rrf(lex, dense, k_final=10, rrf_k=60)


# --- retrieval evaluation metrics -----------------------------------------

KNN_EVAL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS qlab
  FROM embeddings WHERE vec_id % 20 = 0
),
scored AS (
  SELECT
    q.query_id, q.qlab, c.vec_id AS cand_id, c.label AS clab,
    {_sql_cos("q.qv", "c.embedding")} AS cos_sim
  FROM q JOIN embeddings c ON c.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, qlab, clab,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT query_id,
       CAST(any_value(qlab) AS BIGINT) AS label,
       CAST(COUNT(*) FILTER (clab = qlab) AS BIGINT) AS n_rel_at_10,
       CAST(COALESCE(MIN(rnk) FILTER (clab = qlab), 0) AS BIGINT) AS first_rel_rank,
       CAST(COALESCE(CAST(floor(1000000.0e0
              / CAST(MIN(rnk) FILTER (clab = qlab) AS DOUBLE) + 0.5e0) AS BIGINT), 0)
            AS BIGINT) AS mrr_mu
FROM ranked
WHERE rnk <= 10
GROUP BY query_id
"""


@query(
    "retrieval_knn_eval",
    oracle=KNN_EVAL_ORACLE,
    tags=("similarity", "llm", "agg"),
)
def retrieval_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EVALUATION over the labeled embedding corpus: for the
    5% query sample, exact-cosine top-10, relevance = candidate label
    equals query label, per-query recall numerator (n_rel_at_10),
    first relevant rank (0 = none) and µ-quantized reciprocal rank —
    the metric table an ANN-tuning loop aggregates into recall@k /
    MRR. Per-query rows (not a single mean) so the same entry feeds
    per-class breakdowns; the aggregation is one exact integer sum.

    Scale: metric computation is a bounded decoration of the top-k
    list — |Q|·k rows joined to the label table; the ranker is
    pluggable exactly as in `retrieval_hybrid_rrf` (swap
    `topk_bruteforce` for the IVF paths; the metrics consume only
    (query_id, cand_id, rnk))."""
    emb = load(spark, sf_dir, "embeddings")
    lab = emb.select("vec_id", "label")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    topk = topk_bruteforce(queries, emb, k=10)
    # Label decoration broadcasts the TOP-K side (|Q|·k rows, bounded
    # by construction) and streams the corpus-sized label map — the
    # r11 audit caught the previous form broadcasting the (vec_id,
    # label) map itself, which scales with the corpus and cannot be
    # resident at 100 TB. Two map-side passes over the label table,
    # zero shuffles of it.
    j = F.broadcast(
        F.broadcast(topk).join(
            queries.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")),
            "query_id",
        )
    ).join(
        lab.withColumnRenamed("vec_id", "cand_id").withColumnRenamed(
            "label", "clab"
        ),
        "cand_id",
    )
    rel_rank = F.min(F.when(F.col("clab") == F.col("qlab"), F.col("rnk"))).alias(
        "_fr"
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.any_value("qlab").cast("bigint").alias("label"),
            F.sum((F.col("clab") == F.col("qlab")).cast("bigint"))
            .cast("bigint")
            .alias("n_rel_at_10"),
            rel_rank,
        )
        .select(
            "query_id",
            "label",
            "n_rel_at_10",
            F.coalesce(F.col("_fr"), F.lit(0)).cast("bigint").alias("first_rel_rank"),
            F.coalesce(
                F.floor(
                    F.lit(1000000.0) / F.col("_fr").cast("double") + F.lit(0.5)
                ).cast("bigint"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("mrr_mu"),
        )
    )


# --- grouped recall curves (the eval-dashboard slice) -----------------------

RECALL_CURVE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS qlab
  FROM embeddings WHERE vec_id % 20 = 0
),
scored AS (
  SELECT
    q.query_id, q.qlab, c.label AS clab, c.vec_id AS cand_id,
    {_sql_cos("q.qv", "c.embedding")} AS cos_sim
  FROM q JOIN embeddings c ON c.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, qlab, clab,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rnk
  FROM scored
),
ks AS (SELECT CAST(unnest([1, 3, 5, 10]) AS BIGINT) AS k),
per_query AS (
  SELECT r.query_id, r.qlab, ks.k,
         CAST(COUNT(*) FILTER (r.clab = r.qlab AND r.rnk <= ks.k) AS BIGINT) AS hits
  FROM ranked r CROSS JOIN ks
  WHERE r.rnk <= 10
  GROUP BY r.query_id, r.qlab, ks.k
)
SELECT CAST(qlab AS BIGINT) AS label, k,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS hits,
       CAST((SUM(hits) * 1000000) // (k * COUNT(*)) AS BIGINT) AS precision_mu
FROM per_query
GROUP BY qlab, k
"""


@query(
    "retrieval_recall_curve_by_label",
    oracle=RECALL_CURVE_ORACLE,
    tags=("similarity", "llm", "agg"),
)
def retrieval_recall_curve_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED/windowed form of `retrieval_knn_eval` (VERDICT r7
    next-round #8b): per query LABEL and cutoff k ∈ {1, 3, 5, 10},
    query count, total relevant hits within the top-k, and
    exact-integer mean precision@k (µ-quantized: hits·10⁶ DIV
    (k·n_queries)) — the recall/precision CURVE an eval dashboard
    plots per source to decide ANN parameters per slice rather than
    globally.

    Scale: one pass more than `retrieval_knn_eval` — the top-k list
    (|Q|·10 rows) is exploded by the 4 cutoffs and double-aggregated
    ((query, k) then (label, k)); both aggregates are exact BIGINT
    sums on bounded inputs, and the ranker stays pluggable (the curve
    consumes only (query_id, cand_id, rnk))."""
    emb = load(spark, sf_dir, "embeddings")
    lab = emb.select("vec_id", "label")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    topk = topk_bruteforce(queries, emb, k=10)
    # Same label-decoration shape as `retrieval_knn_eval`: broadcast
    # the bounded top-k side, stream the corpus-sized label map (r11
    # audit — the map must never be the broadcast build side).
    j = (
        F.broadcast(
            F.broadcast(topk).join(
                queries.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")),
                "query_id",
            )
        )
        .join(
            lab.withColumnRenamed("vec_id", "cand_id").withColumnRenamed(
                "label", "clab"
            ),
            "cand_id",
        )
        .select(
            "query_id",
            "qlab",
            "rnk",
            (F.col("clab") == F.col("qlab")).alias("rel"),
            F.explode(
                F.array(*[F.lit(k).cast("bigint") for k in (1, 3, 5, 10)])
            ).alias("k"),
        )
    )
    per_query = j.groupBy("query_id", "qlab", "k").agg(
        F.sum((F.col("rel") & (F.col("rnk") <= F.col("k"))).cast("bigint")).alias(
            "hits"
        )
    )
    return (
        per_query.groupBy("qlab", "k")
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum("hits").cast("bigint").alias("hits"),
        )
        .select(
            F.col("qlab").cast("bigint").alias("label"),
            "k",
            "n_queries",
            "hits",
            F.expr("CAST((hits * 1000000) DIV (k * n_queries) AS BIGINT)").alias(
                "precision_mu"
            ),
        )
    )


# --- ANN parameter tuning curve (recall@k vs n_probe) -----------------------

_TUNING_PROBES = (1, 2, 4)
_TUNING_KS = (1, 10)


def _ann_tuning_oracle() -> str:
    """Replayed-codebook oracle for the tuning curve: shared
    MATERIALIZED CTEs rebuild the exact baseline, the IVF structures
    (portable-hash centroid pick, 1-probe candidate partition, probe
    ranks up to max n_probe) and the PQ codes/ADC sums bit-for-bit
    (same replays as IVF_ANN_ORACLE / IVFPQ_ORACLE,
    similarity.py:452,1283); one UNION ALL branch per
    (method, n_probe, k) then counts the ANN∩exact overlap."""
    cos_qc = _sql_cos("q.qv", "c.embedding")
    cos_ec = _sql_cos("e.embedding", "c.embedding")
    cos_pair = _sql_cos("qe.embedding", "ce.embedding")
    branches = []
    for np_ in _TUNING_PROBES:
        for k in _TUNING_KS:
            branches.append(f"""
  SELECT 'ivf' AS method, CAST({np_} AS BIGINT) AS n_probe,
         CAST({k} AS BIGINT) AS k,
         (SELECT n FROM nq) AS n_queries,
         CAST(COUNT(*) AS BIGINT) AS hits
  FROM (SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, cand_id) AS rnk
        FROM ivf_pairs WHERE probe_rn <= {np_}) a
  JOIN exact e ON e.query_id = a.query_id AND e.cand_id = a.cand_id
  WHERE a.rnk <= {k} AND e.rnk <= {k}""")
            branches.append(f"""
  SELECT 'ivfpq' AS method, CAST({np_} AS BIGINT) AS n_probe,
         CAST({k} AS BIGINT) AS k,
         (SELECT n FROM nq) AS n_queries,
         CAST(COUNT(*) AS BIGINT) AS hits
  FROM (SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_d2, cand_id) AS rnk
        FROM pq_pairs WHERE probe_rn <= {np_}) a
  JOIN exact e ON e.query_id = a.query_id AND e.cand_id = a.cand_id
  WHERE a.rnk <= {k} AND e.rnk <= {k}""")
    union = "\n  UNION ALL\n".join(branches)
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id % 20 = 0
), nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
exact AS MATERIALIZED (
  SELECT query_id, cand_id, rnk FROM (
    SELECT q.query_id, c.vec_id AS cand_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_qc} DESC, c.vec_id) AS rnk
    FROM q JOIN embeddings c ON c.vec_id != q.query_id
  ) WHERE rnk <= 10
), cent AS MATERIALIZED (
  SELECT row_number() OVER (
           ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
         ) - 1 AS cid,
         embedding
  FROM embeddings
  ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
  LIMIT 16
), csim AS MATERIALIZED (
  SELECT e.vec_id, c.cid, {cos_ec} AS csim
  FROM embeddings e CROSS JOIN cent c
), cand_asg AS MATERIALIZED (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM csim) WHERE rn = 1
), qprobe AS MATERIALIZED (
  SELECT vec_id AS query_id, cid AS cluster_id, rn AS probe_rn FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM csim WHERE vec_id % 20 = 0) WHERE rn <= {max(_TUNING_PROBES)}
), ivf_pairs AS MATERIALIZED (
  SELECT p.query_id, ca.vec_id AS cand_id, p.probe_rn,
         {cos_pair} AS cos_sim
  FROM qprobe p
  JOIN cand_asg ca ON ca.cluster_id = p.cluster_id AND ca.vec_id != p.query_id
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ce ON ce.vec_id = ca.vec_id
), dists AS MATERIALIZED (
  SELECT e.vec_id, s.s, c.cid,
         list_sum(list_transform(
           list_zip(e.embedding[s.s * 16 + 1 : s.s * 16 + 16],
                    c.embedding[s.s * 16 + 1 : s.s * 16 + 16]),
           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         )) AS d2
  FROM embeddings e
  CROSS JOIN cent c
  CROSS JOIN (VALUES (0), (1), (2), (3)) s(s)
), codes AS MATERIALIZED (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
    FROM dists
  ) WHERE rn = 1
), pq_pairs AS MATERIALIZED (
  SELECT dq.vec_id AS query_id, cd.vec_id AS cand_id,
         MIN(p.probe_rn) AS probe_rn,
         list_sum(list(dq.d2 ORDER BY dq.s)) AS approx_d2
  FROM codes cd
  JOIN cand_asg ca ON ca.vec_id = cd.vec_id
  JOIN dists dq ON dq.s = cd.s AND dq.cid = cd.cid
  JOIN qprobe p ON p.query_id = dq.vec_id AND p.cluster_id = ca.cluster_id
  WHERE dq.vec_id != cd.vec_id
  GROUP BY dq.vec_id, cd.vec_id
)
SELECT method, n_probe, k, n_queries, hits,
       CAST((hits * 1000000) // (k * n_queries) AS BIGINT) AS recall_mu
FROM ({union})
"""


@query(
    "retrieval_ann_tuning_curve",
    oracle=_ann_tuning_oracle(),
    tags=("similarity", "llm", "agg", "approx"),
)
def retrieval_ann_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN parameter TUNING curve (VERDICT r8 #3): recall@k of
    `ivf_probe` and `ivfpq_probe` (over once-built indexes) against
    the exact brute-force top-k,
    for every (method, n_probe ∈ {1,2,4}, k ∈ {1,10}) — the axis an
    operator actually tunes: `retrieval_recall_curve_by_label` answers
    "which slice is weak", this answers "what n_probe buys how much
    recall for how much scan". recall@k = |ANN top-k ∩ exact top-k| /
    (k · |Q|), exact-integer µ-quantized like the sibling curves.

    Scale: the exact baseline is the oracle-tier ground truth (a tuning
    harness computes it once on a sample): `topk_bruteforce` on the
    cell skeleton, cut by a lazy localCheckpoint and joined as the
    broadcast side — it is |Q|·k rows, but a cut cogroup carries no
    size estimate, so without the hint each join would plan a
    sort-merge join and shuffle both sides before AQE could switch it.
    Each ANN leg is the shipped bucketed plan (centroids/codebooks
    broadcast, probed-cluster scans) and the curve itself decorates 6
    top-k lists of |Q|·k rows — all counting happens on bounded frames;
    |Q| is counted once on the driver and enters every row as a
    literal. Each leg is localCheckpointed: it feeds two cutoffs, and 7
    independent subtrees under one union would otherwise make Catalyst
    re-analysis the dominant cost (the r8 lineage rule,
    incremental_pipeline.py).

    r13: each index is BUILT ONCE (ivf_index / ivfpq_index — the
    assigned corpus localCheckpointed, the PQ codes persisted by the
    barrier) and the n_probe sweep only re-probes it — the way a real
    tuning harness works (you tune probes against a stored index, you
    do not re-train centroids and re-encode the corpus per tuning
    point). Gate wall for this entry: 45 s → ~17 s at sf0.01."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    exact = (
        topk_bruteforce(queries, emb, k=10)
        .select("query_id", "cand_id", F.col("rnk").alias("e_rnk"))
        .localCheckpoint(eager=False)
    )
    ividx = ivf_index(emb, n_clusters=16)
    ividx = ividx._replace(cand=ividx.cand.localCheckpoint(eager=True))
    pqidx = ivfpq_index(emb, n_clusters=16, m=4, k_codes=16)
    n_queries = queries.count()
    out = None
    for np_ in _TUNING_PROBES:
        ivf = (
            ivf_probe(ividx, queries, k=10, n_probe=np_)
            .select("query_id", "cand_id", F.col("rnk").alias("a_rnk"))
            .localCheckpoint(eager=True)
        )
        wpq = W.partitionBy("query_id").orderBy("approx_d2", "cand_id")
        pq = (
            ivfpq_probe(pqidx, queries, k=10, n_probe=np_)
            .withColumn("a_rnk", F.row_number().over(wpq).cast("bigint"))
            .select("query_id", "cand_id", "a_rnk")
            .localCheckpoint(eager=True)
        )
        for method, ann in (("ivf", ivf), ("ivfpq", pq)):
            for k in _TUNING_KS:
                row = (
                    ann.filter(F.col("a_rnk") <= k)
                    .join(
                        F.broadcast(exact.filter(F.col("e_rnk") <= k)),
                        ["query_id", "cand_id"],
                    )
                    .agg(F.count("*").cast("bigint").alias("hits"))
                    .select(
                        F.lit(method).alias("method"),
                        F.lit(np_).cast("bigint").alias("n_probe"),
                        F.lit(k).cast("bigint").alias("k"),
                        F.lit(n_queries).cast("bigint").alias("n_queries"),
                        "hits",
                        F.expr(
                            f"CAST((hits * 1000000) DIV ({k} * {n_queries}) AS BIGINT)"
                        ).alias("recall_mu"),
                    )
                )
                out = row if out is None else out.unionByName(row)
    return out
