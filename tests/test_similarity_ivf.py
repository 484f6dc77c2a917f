"""IVF ANN: partition/probe mechanics + recall characteristics.

The driver corpus embeddings are near-orthogonal random vectors, so
there is no cluster structure for IVF to exploit — recall necessarily
tracks the probed data fraction (on real clustered embeddings it far
exceeds it). The honest assertions are: recall beats the probed
fraction, grows with n_probe, and the mechanics are exact (probing
all clusters == brute force)."""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.similarity import ivf_topk, topk_bruteforce

from .conftest import SF_DIR
from .hof_reference import _dot, _norm, cosine


def _pairs(df):
    return {(r.query_id, r.cand_id) for r in df.collect()}


def test_ivf_recall_beats_probed_fraction(spark):
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    base = _pairs(topk_bruteforce(q, emb, k=10))

    r4 = len(base & _pairs(ivf_topk(q, emb, k=10, n_clusters=16, n_probe=4))) / len(base)
    r8 = len(base & _pairs(ivf_topk(q, emb, k=10, n_clusters=16, n_probe=8))) / len(base)
    assert r4 > 4 / 16, r4
    assert r8 > 8 / 16, r8
    assert r8 > r4, (r4, r8)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_full_probe_equals_bruteforce(spark):
    """n_probe == n_clusters degenerates to exact search: every query
    probes every cluster, so the candidate set is the full corpus, and
    the kernel's rerank returns exactly the HOF brute force's rows,
    cos_sim and rnk included."""
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    base = _rows(topk_bruteforce(q, emb, k=5))
    assert _rows(ivf_topk(q, emb, k=5, n_clusters=8, n_probe=8)) == base


def test_ivf_corpus_partition_is_disjoint(spark):
    """Each corpus vector lands in exactly one cluster (1-probe
    assignment partitions the data — the property that makes the
    bucketed layout reusable)."""
    from duckdb_vortex_spark.operators.similarity import ivf_assign, sample_centroids

    emb = load(spark, SF_DIR, "embeddings")
    centroids = sample_centroids(emb, 8)
    assigned = ivf_assign(emb, centroids, n_probe=1)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()


def _hof_topk(q, c, k):
    """The HOF reference top-k: a cross join scored with `cosine`,
    self-matches dropped, ranked by the package's window."""
    from duckdb_vortex_spark.operators.similarity import _rank_topk

    scored = (
        q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .crossJoin(c.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    return _rank_topk(scored, k)


def test_vectorized_topk_equals_bruteforce(spark):
    """The exact top-k (block top-k on the cosine kernel) returns
    exactly the rows of a HOF reference top-k, cos_sim and rnk
    included, on the real corpus and on degenerate vectors (null,
    short, long, null element, NaN element, zero) as queries and
    candidates: the kernel folds in _dot's order, and a NaN cos_sim
    ranks first as Spark orders it."""
    emb, corpus = _degenerate_corpus(spark)
    q = corpus.filter((F.col("vec_id") % 50 == 0) | (F.col("vec_id") > 900000))
    def rows(df):
        return sorted((r.query_id, r.cand_id, _bits(r.cos_sim), r.rnk) for r in df.collect())

    assert rows(topk_bruteforce(q, corpus, k=5)) == rows(_hof_topk(q, corpus, 5))


def test_fold_is_a_left_fold():
    """Spark-free: the kernel's dots and norms are the doubles of a
    pure-Python left fold from 0.0 (Python floats are IEEE doubles), and
    its csim is dot / (norm · norm), on seeded float32 vectors."""
    import math

    import numpy as np
    import pyarrow as pa

    from duckdb_vortex_spark.operators.similarity import _csim, _vectors

    rng = np.random.default_rng(15)
    a = rng.standard_normal((7, 33)).astype(np.float32)
    b = rng.standard_normal((5, 33)).astype(np.float32)

    def fold(x, y):
        acc = 0.0
        for u, v in zip(x, y):
            acc = acc + float(u) * float(v)
        return acc

    va, vb = (_vectors(pa.array(m.tolist(), pa.list_(pa.float32()))) for m in (a, b))
    csim, null = _csim(va, vb)
    assert not null.any()
    for i, x in enumerate(a):
        assert va.norm[i] == math.sqrt(fold(x, x))
        for j, y in enumerate(b):
            want = fold(x, y) / (math.sqrt(fold(x, x)) * math.sqrt(fold(y, y)))
            assert csim[i, j].hex() == want.hex(), (i, j)


def test_ivf_vectorized_equals_hof(spark):
    """At a partial probe (3 of 8 clusters) the per-cluster kernel
    rerank returns exactly the rows — cos_sim and rnk included — of a
    HOF probe join: each query's 3 cells from the HOF assignment joined
    to the index's candidates on cluster_id, scored with _dot/_norm and
    ranked by the same window."""
    from duckdb_vortex_spark.operators.similarity import _rank_topk, ivf_index, ivf_probe

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    index = ivf_index(emb, 8)
    cells = _hof_cells(q, index.centroids, 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cluster_id"
    )
    scored = (
        cells.join(index.cand, "cluster_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    assert _rows(ivf_probe(index, q, k=5, n_probe=3)) == _rows(_rank_topk(scored, 5))


def test_vectorized_topk_chunked_query_block(spark, monkeypatch):
    """Driver-memory bound: with a query block smaller than |Q| the
    query set streams in blocks (one candidate pass per block) and the
    unioned result is identical to the single-block path."""
    from duckdb_vortex_spark.operators import similarity

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    whole = _rows(topk_bruteforce(q, emb, k=5))
    monkeypatch.setattr(similarity, "_QUERY_BLOCK", 3)
    assert _rows(topk_bruteforce(q, emb, k=5)) == whole


def test_semdedup_runs_the_assignment_once(spark):
    """Each SemDeDup entry's executed plan (sf0.001) holds exactly one
    assignment MapInArrow over one embeddings scan: the prune scores
    each cluster against itself in one grouped pass, where a cluster_id
    self-join and a keep-flag join once evaluated the assignment three
    times."""
    import re

    from duckdb_vortex_spark.catalog import entries

    for name in ("dedup_semantic_cluster", "dedup_semantic_cluster_two_level"):
        plan = entries()[name].builder(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, (name, plan)
        assert plan.count("embeddings.parquet") == 1, (name, plan)


def test_two_level_assignment_exact_at_full_probe(spark):
    """With n_probe_coarse = n_coarse every fine centroid is reachable,
    so two-level assignment must EQUAL flat ivf_assign(n_probe=1) —
    the degenerate case pins the machinery (coarse mapping, equi-join
    fan-out, argmin tie-order) against the exact oracle-checked path."""
    from duckdb_vortex_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
        sample_centroids,
    )

    emb = load(spark, SF_DIR, "embeddings")
    cents = sample_centroids(emb, 16)
    flat = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(emb, cents, 1).select("vec_id", "cluster_id").collect()
    }
    two = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign_two_level(emb, cents, n_coarse=4, n_probe_coarse=4)
        .select("vec_id", "cluster_id")
        .collect()
    }
    assert two == flat


def test_two_level_assignment_probe2_recall_and_plan(spark):
    """The production setting (n_probe_coarse=2 of 4 coarse cells):
    (a) every vector gets exactly one assignment, (b) agreement with
    flat assignment is high on the near-orthogonal synthetic
    embeddings, (c) r15: the whole assignment is a MAP-SIDE literal
    projection — no join, no exchange; no vector ever cross-joins the
    full centroid set, and the probed-cell dispatch means per-row work
    stays n_coarse + the probed cells' members."""
    from duckdb_vortex_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
        sample_centroids,
    )

    emb = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    cents = sample_centroids(emb, 16)
    two = ivf_assign_two_level(emb, cents, n_coarse=4, n_probe_coarse=2)
    rows = two.select("vec_id", "cluster_id").collect()
    assert len(rows) == n and len({r["vec_id"] for r in rows}) == n
    flat = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(emb, cents, 1).select("vec_id", "cluster_id").collect()
    }
    agree = sum(1 for r in rows if flat[r["vec_id"]] == r["cluster_id"]) / n
    assert agree >= 0.5, f"probe-2 agreement collapsed: {agree:.2f}"

    plan = two._jdf.queryExecution().executedPlan().toString()
    # r15: fully map-side — no join of any kind, no exchange
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def _second_probe_jobs(spark, probe, index, q) -> int:
    """Spark jobs submitted while building a second probe of ``index``
    on ``q``: none, because a built or loaded index holds its collected
    codebook rows."""
    import os

    probe(index, q, k=5, n_probe=2)
    sc = spark.sparkContext
    group = f"second-probe-{os.getpid()}-{id(index)}"
    sc.setJobGroup(group, group)
    try:
        probe(index, q, k=5, n_probe=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivf_index_roundtrip_probe_identical(spark, tmp_path):
    """r13 stored-index artifact: write_ivf_index partitions the
    assigned corpus by cluster_id; a reloaded index must probe
    IDENTICALLY to the in-memory one, and the cand scan must be
    partition-pruned on cluster_id (the bucketed-by-cluster layout's
    whole point). Neither index collects its codebook again per probe."""
    from duckdb_vortex_spark.catalog import load
    from duckdb_vortex_spark.operators.similarity import (
        ivf_index,
        ivf_probe,
        read_ivf_index,
        write_ivf_index,
    )

    from .conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.limit(20)
    idx = ivf_index(emb, n_clusters=8)
    want = sorted(map(tuple, ivf_probe(idx, q, k=5, n_probe=2).collect()))
    write_ivf_index(idx, str(tmp_path / "ivf"))
    idx2 = read_ivf_index(spark, str(tmp_path / "ivf"))
    got_df = ivf_probe(idx2, q, k=5, n_probe=2)
    assert sorted(map(tuple, got_df.collect())) == want
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan[:1500]
    assert idx2.rows == idx.rows
    assert _second_probe_jobs(spark, ivf_probe, idx, q) == 0
    assert _second_probe_jobs(spark, ivf_probe, idx2, q) == 0


def test_ivfpq_index_roundtrip_probe_identical(spark, tmp_path):
    """Same for the IVF-PQ artifact: parquet doubles round-trip
    exactly, so the reloaded codebooks' ADC kernel is bit-identical."""
    from duckdb_vortex_spark.catalog import load
    from duckdb_vortex_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_probe,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    from .conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.limit(20)
    idx = ivfpq_index(emb, n_clusters=8, m=4, k_codes=8)
    want = sorted(map(tuple, ivfpq_probe(idx, q, k=5, n_probe=2).collect()))
    write_ivfpq_index(idx, str(tmp_path / "pq"))
    idx2 = read_ivfpq_index(spark, str(tmp_path / "pq"))
    assert idx2.books == idx.books and idx2.rows == idx.rows
    assert _second_probe_jobs(spark, ivfpq_probe, idx, q) == 0
    assert _second_probe_jobs(spark, ivfpq_probe, idx2, q) == 0
    got = sorted(map(tuple, ivfpq_probe(idx2, q, k=5, n_probe=2).collect()))
    assert got == want
    # r14: the rerank path over the RELOADED index — the stored-artifact
    # + exact-refetch combination the 100 TB story describes (ADC
    # shortlist from partition-pruned codes, exact vectors from the raw
    # table) — must match the in-memory index bit-for-bit too
    want_rr = sorted(
        map(
            tuple,
            ivfpq_probe(idx, q, k=5, n_probe=2, rerank=20, corpus_df=emb).collect(),
        )
    )
    got_rr = sorted(
        map(
            tuple,
            ivfpq_probe(idx2, q, k=5, n_probe=2, rerank=20, corpus_df=emb).collect(),
        )
    )
    assert got_rr == want_rr


def test_ivfpq_rerank_sidecar_partition_prunes(spark, tmp_path):
    """r15 (VERDICT r14 wrong #1): the rerank fetch must be a genuine
    point-read against the stored artifact, not a full map-side pass
    over the raw vector table. write_ivfpq_index(corpus_df=...) lands
    a cluster-partitioned raw-vector sidecar; the reloaded index
    attaches it (index.vectors) and a rerank probe WITHOUT corpus_df
    (a) returns rows bit-identical to the explicit-corpus_df path and
    (b) plan-pins dynamic partition pruning on the sidecar scan — the
    (cluster_id, cand_id) broadcast join's dynamicpruning subquery
    restricts the scan to the shortlist's clusters."""
    from duckdb_vortex_spark.catalog import load
    from duckdb_vortex_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_probe,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from duckdb_vortex_spark.plans.lint import formatted_plan

    from .conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.limit(15)
    idx = ivfpq_index(emb, n_clusters=8, m=4, k_codes=8)
    write_ivfpq_index(idx, str(tmp_path / "pq"), corpus_df=emb)
    idx2 = read_ivfpq_index(spark, str(tmp_path / "pq"))
    assert idx2.vectors is not None, "sidecar must attach on reload"
    assert "cluster_id" in idx2.vectors.columns

    out = ivfpq_probe(idx2, q, k=5, n_probe=2, rerank=20)  # no corpus_df
    plan = formatted_plan(out)
    assert "dynamicpruning" in plan.lower(), (
        "the sidecar fetch must partition-prune on cluster_id:\n" + plan
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(
            tuple,
            ivfpq_probe(idx2, q, k=5, n_probe=2, rerank=20, corpus_df=emb).collect(),
        )
    )
    assert got == want, "sidecar fetch must be bit-identical to corpus_df fetch"

    # r15 self-review hardening: an EXPLICIT corpus_df carrying a
    # cluster_id column must NOT be trusted for pruning — a stale
    # label (every row 999 here) would drop every shortlist candidate
    # in a (cluster_id, cand_id) join. Results must equal the plain
    # corpus fetch.
    stale = emb.withColumn("cluster_id", F.lit(999))
    got_stale = sorted(
        map(
            tuple,
            ivfpq_probe(
                idx2, q, k=5, n_probe=2, rerank=20, corpus_df=stale
            ).collect(),
        )
    )
    assert got_stale == want, "stale caller-side cluster_id must be ignored"
    # and a sidecar WRITE from a frame that already has cluster_id
    # drops it — the index's own assignment is authoritative
    write_ivfpq_index(idx, str(tmp_path / "pq_stale"), corpus_df=stale)
    idx3 = read_ivfpq_index(spark, str(tmp_path / "pq_stale"))
    got3 = sorted(
        map(tuple, ivfpq_probe(idx3, q, k=5, n_probe=2, rerank=20).collect())
    )
    assert got3 == want

    # an artifact written WITHOUT the sidecar keeps the r14 contract:
    # vectors is None and rerank without corpus_df refuses loudly
    import pytest as _pytest

    write_ivfpq_index(idx, str(tmp_path / "pq_bare"))
    bare = read_ivfpq_index(spark, str(tmp_path / "pq_bare"))
    assert bare.vectors is None
    with _pytest.raises(ValueError, match="corpus_df"):
        ivfpq_probe(bare, q, k=5, n_probe=2, rerank=20)


def test_lloyd_refine_deterministic_and_exact_means(spark):
    """r14 (VERDICT r13 next #3): one deterministic Lloyd pass.
    Pins: (a) two refine runs from the same seed are BIT-identical
    (quantized-BIGINT element sums are order-independent, unlike a
    distributed double sum); (b) each refined centroid equals the
    quantized mean of its assigned members, recomputed independently
    in Python; (c) k rows in → k rows out (empty clusters keep their
    old centroid); (d) refine_iters=0 is the identity on ivf_index
    (catalog oracles untouched — probes bit-identical)."""
    from duckdb_vortex_spark.catalog import load
    from duckdb_vortex_spark.operators.similarity import (
        ivf_assign,
        ivf_index,
        ivf_probe,
        lloyd_refine,
        sample_centroids,
    )

    from .conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    cents = sample_centroids(emb, 16)
    r1 = sorted(
        (r["cluster_id"], tuple(r["centroid"]))
        for r in lloyd_refine(emb, cents, 1).collect()
    )
    r2 = sorted(
        (r["cluster_id"], tuple(r["centroid"]))
        for r in lloyd_refine(emb, cents, 1).collect()
    )
    assert r1 == r2, "refine must be bit-deterministic"
    assert len(r1) == 16

    # independent recompute of one cluster's quantized mean
    Q = 1_000_000
    asg = ivf_assign(emb, cents, 1).select("cluster_id", "embedding").collect()
    members: dict = {}
    for row in asg:
        members.setdefault(row["cluster_id"], []).append(row["embedding"])
    refined = dict(r1)
    import math

    for cid, vecs in sorted(members.items())[:4]:  # spot-check 4 clusters
        n = len(vecs)
        dim = len(vecs[0])
        want = [
            sum(math.floor(float(v[i]) * Q + 0.5) for v in vecs) / (Q * n)
            for i in range(dim)
        ]
        got = refined[cid]
        for w, g in zip(want, got):
            assert abs(w - g) <= 1e-6 * max(1.0, abs(w)), (cid, w, g)

    # refine_iters=0 is the r13 default path: probes bit-identical
    q = emb.limit(10)
    a = sorted(map(tuple, ivf_probe(ivf_index(emb, 8), q, k=5, n_probe=2).collect()))
    b = sorted(
        map(
            tuple,
            ivf_probe(ivf_index(emb, 8, refine_iters=0), q, k=5, n_probe=2).collect(),
        )
    )
    assert a == b
    # and a refined index still probes: k rows per query, all clusters live
    ridx = ivf_index(emb, 8, refine_iters=1)
    out = ivf_probe(ridx, q, k=5, n_probe=2)
    counts = out.groupBy("query_id").count().collect()
    assert counts and all(c["count"] <= 5 for c in counts)


def test_lloyd_refine_skips_invalid_embeddings(spark):
    """r15 hardening (ADVICE r14): rows with null, dim-mismatched, or
    null-element embeddings assign to no cluster and are SKIPPED —
    null crashed ``idx_to_cid[None]``, short vectors crashed the sums
    loop's vec[i], and null elements silently biased cluster 0's mean;
    the refined means must equal a refine over only the valid rows,
    and equal the quantized means of the HOF reference assignment."""
    import math

    from duckdb_vortex_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, None),               # null embedding
        (4, [1.0, 0.0]),         # dim-mismatched (zip_with null-pads)
        # null ELEMENT (r15 self-review): every csim nulls, so the row
        # would sort to the lowest cluster_id — inflating its count
        # while the element sums skip nulls, silently biasing cluster
        # 0's mean. Must be skipped like the others.
        (5, [None, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "cluster_id int, centroid array<double>",
    )
    refined = sim.lloyd_refine(df, cents, 1)
    valid = df.filter("vec_id <= 2")
    want = sorted(
        (r["cluster_id"], tuple(r["centroid"]))
        for r in sim.lloyd_refine(valid, cents, 1).collect()
    )
    got = sorted(
        (r["cluster_id"], tuple(r["centroid"])) for r in refined.collect()
    )
    assert got == want, "null/mismatched rows must not shift any mean"

    Q = 1_000_000
    members: dict = {}
    for r in _hof_cells(valid, cents, 1).collect():
        members.setdefault(r["cluster_id"], []).append(r["embedding"])
    ref = sorted(
        (cid, tuple(sum(math.floor(v[i] * Q + 0.5) for v in vs) / (Q * len(vs)) for i in range(4)))
        for cid, vs in members.items()
    )
    assert got == ref


def _hof_cells(df, cents, n_probe, id_col="vec_id", vec_col="embedding"):
    """The HOF reference for ivf_assign: a cross join scored with
    _dot/_norm, ranked by row_number over (coalesce(-csim, +Inf),
    cluster_id)."""
    from pyspark.sql import Window

    v = df.select(id_col, vec_col, _norm(F.col(vec_col)).alias("vnorm"))
    c = cents.select("cluster_id", "centroid", _norm(F.col("centroid")).alias("cn"))
    csim = F.try_divide(_dot(F.col(vec_col), F.col("centroid")), F.col("vnorm") * F.col("cn"))
    w = Window.partitionBy(id_col).orderBy(F.coalesce(-csim, F.lit(float("inf"))), "cluster_id")
    return (
        v.crossJoin(c)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_probe)
        .select(id_col, vec_col, "vnorm", "cluster_id")
    )


def _bits(x):
    """A double as its exact value (hex), NaN as one token."""
    return None if x is None else "nan" if x != x else float(x).hex()


def _cell_rows(df):
    return sorted(
        (
            r["vec_id"],
            None if r["embedding"] is None else tuple(map(_bits, r["embedding"])),
            _bits(r["vnorm"]),
            r["cluster_id"],
        )
        for r in df.collect()
    )


def _assert_map_side(df):
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    for op in ("Exchange", "Join", "Aggregate", "Window"):
        assert op not in plan, plan


def _degenerate_corpus(spark):
    """The sf0.001 embeddings plus one row of each degenerate kind."""
    emb = load(spark, SF_DIR, "embeddings")
    degenerate = spark.createDataFrame(
        [
            (900001, None, 0),                   # null vector
            (900002, [1.0] * 3, 0),              # short
            (900003, [0.5] * 65, 0),             # long
            (900004, [1.0] * 63 + [None], 0),    # null element
            (900005, [float("nan")] + [1.0] * 63, 0),  # NaN element
            (900006, [0.0] * 64, 0),             # zero vector
        ],
        emb.schema,
    )
    return emb, emb.unionByName(degenerate)


def _assert_matches_hof(corpus, cents, n_probes):
    """ivf_assign is row-identical to the HOF reference at each n_probe,
    map-side, and each vector's 1-probe cell is among its multi-probe
    cells."""
    from duckdb_vortex_spark.operators.similarity import ivf_assign

    first = {}
    for n_probe in n_probes:
        got = ivf_assign(corpus, cents, n_probe=n_probe)
        rows = _cell_rows(got)
        assert len(rows) == corpus.count() * n_probe
        assert rows == _cell_rows(_hof_cells(corpus, cents, n_probe)), n_probe
        _assert_map_side(got)
        if n_probe == 1:
            first = {r[0]: r[3] for r in rows}
        else:
            assert all(first[r[0]] in {c[3] for c in rows if c[0] == r[0]} for r in rows)


def test_ivf_assign_literal_path_equals_join_form(spark):
    """The map-side assignment (one cosine-kernel pass, where a literal
    SQL kernel once ran) is ROW-IDENTICAL — every column, vnorm bits
    included, and the (coalesce(-csim, +Inf), cluster_id) order — to
    the join form (crossJoin + row_number window over _dot/_norm), at
    n_probe 1, 2 and 4, on the real corpus and on degenerate vectors
    (null, short, long, null element, NaN element, zero). The pass has
    no exchange, join, aggregate or window."""
    from duckdb_vortex_spark.operators.similarity import sample_centroids

    emb, corpus = _degenerate_corpus(spark)
    _assert_matches_hof(corpus, sample_centroids(emb, 8), (1, 2, 4))


def test_ivf_assign_nonfinite_centroid_falls_back(spark):
    """A NaN, Inf, null-element, zero or duplicate centroid is computed
    through by the one kernel — no second path — with the rows of the
    join form at n_probe 1, 2 and 4, on the real corpus and the
    degenerate vectors: a null element or a zero norm gives that
    centroid a null csim, ordered after every number. The two-level
    assignment's driver-side fine→coarse map computes a null-element
    centroid through the same way: same cells as ivf_assign."""
    from duckdb_vortex_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
        sample_centroids,
    )

    emb, corpus = _degenerate_corpus(spark)
    sample = [(r["cluster_id"], list(r["centroid"])) for r in sample_centroids(emb, 8).collect()]
    odd = [
        (8, [float("nan")] * 64),
        (9, [float("inf")] + [0.5] * 63),
        (10, [None] + [0.5] * 63),
        (11, [0.0] * 64),
        (12, sample[3][1]),  # duplicate of cluster 3
    ]
    cents = spark.createDataFrame(sample + odd, "cluster_id int, centroid array<float>")
    _assert_matches_hof(corpus, cents, (1, 2, 4))

    null_elem = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [None, 1.0])], "cluster_id int, centroid array<double>"
    )
    emb2 = emb.select("vec_id", F.slice("embedding", 1, 2).alias("embedding"))
    assert _cell_rows(ivf_assign_two_level(emb2, null_elem)) == _cell_rows(
        ivf_assign(emb2, null_elem, 1)
    )


def test_zero_norm_cosine_is_null(spark):
    """A zero vector or a zero centroid has no cosine: the csim is null,
    as DuckDB's 0.0/0.0 is, where Spark's ANSI division raised
    DIVIDE_BY_ZERO. The zero vector assigns to the lowest cluster ids,
    and topk_bruteforce ranks it with a null cos_sim."""
    from duckdb_vortex_spark.operators.similarity import ivf_assign, topk_bruteforce

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0])],
        "cluster_id int, centroid array<double>",
    )
    for n_probe, want in ((1, {(1, 2), (2, 0), (3, 1)}),
                          (2, {(1, 2), (1, 1), (2, 0), (2, 1), (3, 1), (3, 2)})):
        got = ivf_assign(vecs, cents, n_probe=n_probe)
        assert {(r["vec_id"], r["cluster_id"]) for r in got.collect()} == want
    top = {(r["query_id"], r["cand_id"]): r["cos_sim"] for r in topk_bruteforce(vecs, vecs, k=2).collect()}
    assert top[(1, 2)] is None and top[(2, 1)] is None and top[(1, 3)] == 0.0


def test_two_level_kernel_equals_hof_reference(spark):
    """The two-level assignment (phase 1 top cells of the reps, phase 2
    the best of the probed cells' members, both on the cosine kernel in
    one map-side pass) is ROW-IDENTICAL — every column, vnorm bits, and
    the (coalesce(-csim, +Inf), id) tie rules of the fine→coarse map and
    both phases — to a HOF reference (cross join + window, then an
    equi-join on the coarse cell + window), on the real corpus and the
    degenerate vectors, at n_probe_coarse 1, 2 and 4. No exchange, join,
    aggregate or window."""
    from duckdb_vortex_spark.operators.similarity import (
        ivf_assign_two_level,
        sample_centroids,
    )

    from pyspark.sql import Window

    emb, corpus = _degenerate_corpus(spark)
    cents = sample_centroids(emb, 16)
    reps = cents.filter("cluster_id < 4")
    home = _hof_cells(
        cents.select(F.col("cluster_id").alias("vec_id"), F.col("centroid").alias("embedding")),
        reps, 1,
    ).select(F.col("vec_id").alias("fine"), F.col("cluster_id").alias("coarse"))
    members = cents.join(home, cents.cluster_id == home.fine).drop("fine")
    csim = F.try_divide(
        _dot(F.col("embedding"), F.col("centroid")), F.col("vnorm") * _norm(F.col("centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.coalesce(-csim, F.lit(float("inf"))), "cluster_id")
    for p in (1, 2, 4):
        want = (
            _hof_cells(corpus, reps, p)
            .withColumnRenamed("cluster_id", "coarse")
            .join(members, "coarse")
            .withColumn("__r", F.row_number().over(w))
            .filter("__r = 1")
            .select("vec_id", "embedding", "vnorm", "cluster_id")
        )
        got = ivf_assign_two_level(corpus, cents, n_coarse=4, n_probe_coarse=p)
        assert _cell_rows(got) == _cell_rows(want), p
        _assert_map_side(got)
