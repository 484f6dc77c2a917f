"""Product quantization: encoding mechanics + ADC search quality.

The driver corpus embeddings are near-orthogonal random vectors — the
WORST case for PQ (no subspace structure to exploit), so ADC recall
is judged against chance, not against clustered-data figures. The
exact properties (code ranges, determinism, error monotonicity in k)
hold on any data.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.similarity import (
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
    topk_bruteforce,
)

from .conftest import SF_DIR


def test_pq_codes_shape_and_range(spark):
    emb = load(spark, SF_DIR, "embeddings")
    books = pq_codebooks(emb, m=4, k=16)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 16
    codes = pq_encode(emb, books)
    row = codes.agg(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m"),
        F.min("qerr").alias("emin"),
    ).first()
    assert row.lo >= 0 and row.hi <= 15 and row.m == 4
    assert row.emin >= 0.0


def test_pq_sampled_vectors_encode_losslessly_per_subspace(spark):
    """A vector that IS a codebook entry quantizes to itself: the k
    hash-sampled seed vectors must have near-zero quantization error
    (exactly zero per subspace, up to the float->double cast which is
    exact)."""
    emb = load(spark, SF_DIR, "embeddings")
    books = pq_codebooks(emb, m=4, k=16)
    codes = pq_encode(emb, books)
    zero = codes.filter(F.col("qerr") == 0.0).count()
    assert zero >= 16  # at least the 16 seed vectors themselves


def test_pq_more_codes_never_hurts_error(spark):
    """Total quantization error with k=16 codes is <= error with k=4
    codes for every vector (the k=4 codebook is a prefix of k=16's
    candidate pick order is NOT guaranteed, so compare corpus sums)."""
    emb = load(spark, SF_DIR, "embeddings")
    e4 = (
        pq_encode(emb, pq_codebooks(emb, m=4, k=4))
        .agg(F.sum("qerr"))
        .first()[0]
    )
    e16 = (
        pq_encode(emb, pq_codebooks(emb, m=4, k=16))
        .agg(F.sum("qerr"))
        .first()[0]
    )
    assert e16 <= e4


def test_pq_adc_recall_beats_chance(spark):
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    base = {
        (r.query_id, r.cand_id) for r in topk_bruteforce(q, emb, k=10).collect()
    }
    books = pq_codebooks(emb, m=4, k=16)
    codes = pq_encode(emb, books)
    got = {
        (r.query_id, r.cand_id)
        for r in pq_adc_topk(q, codes, books, k=10).collect()
    }
    n = emb.count()
    recall = len(base & got) / len(base)
    # chance = k/n = 0.02 here. Two headwinds keep the bar modest:
    # near-orthogonal vectors are PQ's worst case (4 bits / 16 dims
    # destroys most of the signal), and the exact baseline ranks by
    # cosine while ADC ranks by L2 (unnormalized). Measured ~6.6x
    # chance; assert >3x to stay robust to testdata regeneration.
    assert recall > 3 * (10 / n), recall
    # the query is its own nearest neighbor and its code is its own
    # argmin, so the self pair should usually survive quantization:
    self_hits = sum(1 for (a, b) in got if a == b)
    assert self_hits >= 0.5 * q.count(), self_hits


def test_ivfpq_recall_beats_chance_and_respects_probes(spark):
    """IVF-ADC composition: recall@10 vs brute force well above chance
    (random embeddings are PQ's worst case — see module docstring),
    and every returned candidate lives in a cluster the query probed
    (the IVF constraint that makes the scan n_probe/n_clusters of the
    corpus)."""
    from duckdb_vortex_spark.operators.similarity import (
        ivf_assign,
        ivfpq_topk,
        sample_centroids,
        topk_bruteforce,
    )

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    approx = ivfpq_topk(q, emb, k=10).toPandas()
    exact = topk_bruteforce(q, emb, k=10).toPandas()
    base = set(zip(exact.query_id, exact.cand_id))
    got = set(zip(approx.query_id, approx.cand_id))
    n = emb.count()
    recall = len(base & got) / len(base)
    assert recall > 3 * (10 / n), recall

    cents = sample_centroids(emb, 16)
    cand_cl = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(emb, cents, 1).select("vec_id", "cluster_id").collect()
    }
    probed = {}
    for r in ivf_assign(q, cents, 4).select("vec_id", "cluster_id").collect():
        probed.setdefault(r["vec_id"], set()).add(r["cluster_id"])
    for qid, cid in got:
        assert cand_cl[cid] in probed[qid], (qid, cid)


def test_ivfpq_rerank_improves_recall_and_validates(spark):
    """r14 (VERDICT r13 next #2): exact re-ranking on the probe path.
    ADC distances are quantization-biased; taking top-R by ADC and
    re-ranking the R candidates by exact cosine must STRICTLY improve
    recall@10 at fixed n_probe on this corpus (random vectors = max
    quantization noise = max rerank headroom). Parameter validation is
    loud: rerank without the raw-vector table, or rerank < k, raise."""
    import pytest

    from duckdb_vortex_spark.operators.similarity import ivfpq_index, ivfpq_probe

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    base = {
        (r.query_id, r.cand_id) for r in topk_bruteforce(q, emb, k=10).collect()
    }
    idx = ivfpq_index(emb, n_clusters=16, m=4, k_codes=16)
    no_rr = {
        (r.query_id, r.cand_id)
        for r in ivfpq_probe(idx, q, k=10, n_probe=4).collect()
    }
    rr_df = ivfpq_probe(idx, q, k=10, n_probe=4, rerank=50, corpus_df=emb)
    assert rr_df.columns == ["query_id", "cand_id", "cos_sim"]
    rr_rows = rr_df.collect()
    rr = {(r.query_id, r.cand_id) for r in rr_rows}
    assert len(base & rr) > len(base & no_rr), (
        f"rerank recall {len(base & rr)}/{len(base)} must strictly beat "
        f"ADC-only {len(base & no_rr)}/{len(base)}"
    )
    # still top-k per query, and exact scores are valid cosines
    per_q: dict = {}
    for r in rr_rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        assert -1.0001 <= r.cos_sim <= 1.0001
    assert all(v <= 10 for v in per_q.values())
    with pytest.raises(ValueError, match="corpus_df"):
        ivfpq_probe(idx, q, k=10, n_probe=4, rerank=50)
    with pytest.raises(ValueError, match="must be >= k"):
        ivfpq_probe(idx, q, k=10, n_probe=4, rerank=5, corpus_df=emb)


def test_pq_code_budget_breaks_the_recall_plateau(spark):
    """VERDICT r9 next-round #3: the r9 tuning curve measured IVF-PQ
    recall@10 FLAT in n_probe at m=4/k_codes=16 — quantization error
    dominates, so the knob that matters is the code budget, not the
    probe count. Pin that spending codes actually buys recall at EQUAL
    n_probe: m=16/k_codes=64 (16 B/vec) must beat the m=4/k_codes=16
    plateau (4 B/vec), and recall must not DROP along either axis
    alone (m up at fixed k_codes, k_codes up at fixed m). Swept at
    sf0.001/sf0.01/sf0.1 in scripts/sweep_pq_params.py (SCALE.md r10
    table: 0.132 -> 0.324 at sf0.001)."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from sweep_pq_params import pq_recall_at_10

    base = pq_recall_at_10(spark, SF_DIR, m=4, k_codes=16, n_probe=4)
    more_m = pq_recall_at_10(spark, SF_DIR, m=16, k_codes=16, n_probe=4)
    best = pq_recall_at_10(spark, SF_DIR, m=16, k_codes=64, n_probe=4)
    assert best["recall_at_10"] > base["recall_at_10"], (base, best)
    assert more_m["recall_at_10"] >= base["recall_at_10"], (base, more_m)
    assert best["recall_at_10"] >= more_m["recall_at_10"], (more_m, best)
    # the trade is real: 4x the code bytes, not free
    assert best["code_bytes_per_vector"] == 4 * base["code_bytes_per_vector"]


def test_probe_broadcast_guard_falls_back_row_identical(spark):
    """r16 (ADVICE r15, medium): the probe-side F.broadcast in
    ivfpq_probe is gated on an estimated broadcast footprint. Past
    PROBE_BROADCAST_MAX_BYTES the join runs unhinted with the r5
    persist barrier restored and must return EXACTLY the same rows —
    the guard changes strategy, never results. The guard's count is
    LIMIT-bounded, so it never pays a full scan of a huge query set."""
    from duckdb_vortex_spark.operators import similarity as sim
    from duckdb_vortex_spark.operators.similarity import ivfpq_index, ivfpq_probe

    emb = load(spark, SF_DIR, "embeddings").limit(200)
    qry = emb.filter(F.col("vec_id") % 20 == 0)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pidx = ivfpq_index(emb, n_clusters=8)
    got = rows(ivfpq_probe(pidx, qry, k=5, n_probe=2))
    orig = sim.PROBE_BROADCAST_MAX_BYTES
    sim.PROBE_BROADCAST_MAX_BYTES = 1  # force the guard to fall back
    try:
        fb = rows(ivfpq_probe(pidx, qry, k=5, n_probe=2))
    finally:
        sim.PROBE_BROADCAST_MAX_BYTES = orig
    assert sim.PROBE_BROADCAST_MAX_BYTES == orig
    assert got == fb


def test_probe_bounded_count_memo(spark):
    """The guard's LIMIT-bounded count caches per query frame: an
    exact count (≤ its limit) is reusable for any bound; an over-bound
    probe is reusable for smaller bounds only."""
    from duckdb_vortex_spark.operators import similarity as sim

    df = spark.range(50).toDF("vec_id")
    assert sim._probe_bounded_count(df, 100) == 50  # exact
    assert sim._probe_bounded_count(df, 10) == 50   # memo hit (exact)
    df2 = spark.range(50).toDF("vec_id")
    assert sim._probe_bounded_count(df2, 10) == 11  # over-bound probe
    assert sim._probe_bounded_count(df2, 5) == 11   # reusable: > bound
    assert sim._probe_bounded_count(df2, 200) == 50  # re-counted exact
