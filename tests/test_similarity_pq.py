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
from .hof_reference import adversarial_embeddings, pq_d2_table


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


def _books_frame(spark, books):
    """One row holding each subspace's codebook as column b<s>."""
    cols = ", ".join(f"b{s} array<array<double>>" for s in range(len(books)))
    return spark.createDataFrame([tuple(books)], cols)


def _adversarial_books(books):
    """``books`` with, in every subspace, entry 5 a copy of entry 3 (a
    tie, which goes to code 3) and a NaN element in entry 7."""
    books = [[list(c) for c in sub] for sub in books]
    for sub in books:
        sub[5] = list(sub[3])
        sub[7][2] = float("nan")
    return books


def _hof_encode(df, books):
    """The HOF reference encoder: per subspace, the struct-min of
    (distance, code) over :func:`pq_d2_table` (nulls first, NaN last,
    ties to the lowest code), and the in-order sum of the picked
    distances."""
    m, k, dsub = len(books), len(books[0]), len(books[0][0])
    mins = [
        F.array_min(
            F.zip_with(
                pq_d2_table(F.col("embedding"), F.col(f"b{s}"), s, dsub),
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda d, i: F.struct(d.alias("d"), i.alias("i")),
            )
        ).alias(f"m{s}")
        for s in range(m)
    ]
    step = df.crossJoin(_books_frame(df.sparkSession, books)).select("vec_id", *mins)
    qerr = F.col("m0.d")
    for s in range(1, m):
        qerr = qerr + F.col(f"m{s}.d")
    codes = F.array(*[F.col(f"m{s}.i").cast("int") for s in range(m)])
    return step.select("vec_id", codes.alias("codes"), qerr.alias("qerr"))


def _hof_adc_topk(queries, codes, books, k):
    """The HOF reference ADC scan: each query's distance tables crossed
    with every candidate's codes, the in-order sum of m lookups, ranked
    by (approx_d2, cand_id)."""
    from pyspark.sql import Window

    m, dsub = len(books), len(books[0][0])
    tables = queries.crossJoin(_books_frame(queries.sparkSession, books)).select(
        F.col("vec_id").alias("query_id"),
        *[pq_d2_table(F.col("embedding"), F.col(f"b{s}"), s, dsub).alias(f"t{s}") for s in range(m)],
    )
    ad2 = F.element_at("t0", F.col("codes")[0] + 1)
    for s in range(1, m):
        ad2 = ad2 + F.element_at(f"t{s}", F.col("codes")[s] + 1)
    w = Window.partitionBy("query_id").orderBy("approx_d2", "cand_id")
    return (
        tables.crossJoin(codes.select(F.col("vec_id").alias("cand_id"), "codes"))
        .select("query_id", "cand_id", ad2.alias("approx_d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "approx_d2")
    )


def _bits(rows):
    """Rows with every double as its exact hex (NaN and null included)."""
    def canon(v):
        if isinstance(v, float):
            return v.hex()
        return tuple(v) if isinstance(v, list) else v

    return sorted(tuple(canon(v) for v in r) for r in rows)


def test_pq_encode_equals_hof_reference(spark):
    """The kernel's codes and qerr are bit-identical to the HOF
    reference encoder, on the corpus plus adversarial rows (null vector,
    null element, NaN element, short, long and all-zero vectors), for
    the sampled codebooks and for codebooks with a duplicate entry and
    a NaN element."""
    emb = load(spark, SF_DIR, "embeddings")
    df = adversarial_embeddings(emb)
    books = pq_codebooks(emb, m=4, k=16)
    for bk in (books, _adversarial_books(books)):
        got = _bits(pq_encode(df, bk).select("vec_id", "codes", "qerr").collect())
        assert got == _bits(_hof_encode(df, bk).collect())
    enc = {r[0]: r for r in _bits(pq_encode(df, _adversarial_books(books)).collect())}
    assert enc[900001][1:] == ((0, 0, 0, 0), None)  # a null vector: code 0, null error
    assert enc[900003][2] == "nan"  # a NaN element
    assert 5 not in {c for r in enc.values() for c in r[1]}  # the tie goes to code 3


def test_pq_adc_topk_equals_hof_reference(spark):
    """The kernel's ADC scan returns exactly the HOF reference scan's
    (query_id, cand_id, approx_d2) rows, bit for bit, with the
    adversarial rows among the queries and the candidates. The codes
    come from the sampled codebooks and are scored against the
    adversarial ones, so lookups of entry 7 give NaN distances beside
    numbers, and a null query's distances are all null."""
    emb = load(spark, SF_DIR, "embeddings")
    df = adversarial_embeddings(emb)
    sampled = pq_codebooks(emb, m=4, k=16)
    books = _adversarial_books(sampled)
    codes = pq_encode(df, sampled)
    q = df.filter((F.col("vec_id") % 20 == 0) | (F.col("vec_id") > 900000))
    got = _bits(pq_adc_topk(q, codes, books, k=10).collect())
    assert got == _bits(_hof_adc_topk(q, codes, books, 10).collect())
    assert {r[0] for r in got} >= set(range(900001, 900007))
