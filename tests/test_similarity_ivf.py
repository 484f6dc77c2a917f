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


def test_ivf_full_probe_equals_bruteforce(spark):
    """n_probe == n_clusters degenerates to exact search: every query
    probes every cluster, so the candidate set is the full corpus."""
    emb = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    base = _pairs(topk_bruteforce(q, emb, k=5))
    full = _pairs(ivf_topk(q, emb, k=5, n_clusters=4, n_probe=4))
    assert full == base


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


def test_vectorized_topk_equals_bruteforce(spark):
    """The Arrow/numpy exact path returns the same (query, cand) sets
    as the HOF brute force (cos values identical up to fp assoc.)."""
    from duckdb_vortex_spark.operators.similarity import topk_vectorized

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    base = _pairs(topk_bruteforce(q, emb, k=5))
    fast = _pairs(topk_vectorized(q, emb, k=5))
    assert fast == base


def test_ivf_vectorized_equals_hof(spark):
    """Per-cluster BLAS probe scoring selects the same (query, cand)
    top-k sets as the HOF probe join (identical candidate sets and
    exact cosine on both paths)."""
    from duckdb_vortex_spark.operators.similarity import ivf_topk_vectorized

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    a = _pairs(ivf_topk(q, emb, k=5, n_clusters=8, n_probe=3))
    b = _pairs(ivf_topk_vectorized(q, emb, k=5, n_clusters=8, n_probe=3))
    assert a == b


def test_vectorized_topk_chunked_query_block(spark):
    """Driver-memory bound: with max_query_block smaller than |Q| the
    query set streams in blocks (one candidate pass per block) and the
    unioned result is identical to the single-block path."""
    from duckdb_vortex_spark.operators.similarity import topk_vectorized

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    whole = _pairs(topk_vectorized(q, emb, k=5))
    chunked = _pairs(topk_vectorized(q, emb, k=5, max_query_block=3))
    assert chunked == whole


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


def test_lloyd_refine_null_embeddings_and_literal_budget(spark):
    """r15 hardening (ADVICE r14 + VERDICT r14 wrong #2):
    (a) rows with null, dim-mismatched, or null-element embeddings
    assign to no cluster and are SKIPPED — null crashed
    ``idx_to_cid[None]``, short vectors crashed the sums loop's
    vec[i], and null elements silently biased cluster 0's mean; the
    refined means must equal a refine over only the valid rows;
    (b) when k*(dim+1) exceeds LLOYD_LITERAL_BUDGET the assignment
    falls back to the join form and the refined centroids are the
    same."""
    from duckdb_vortex_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, None),               # null embedding
        (4, [1.0, 0.0]),         # dim-mismatched (zip_with null-pads)
        # null ELEMENT (r15 self-review): every csim nulls, and a
        # struct with d=NULL compares SMALLEST, so the argmin would
        # FORCE-assign this row to cluster index 0 — inflating its
        # count while the element sums skip nulls, silently biasing
        # cluster 0's mean. Must be skipped like the others.
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

    # (b) past the plan-size budget (k*(dim+1)=2*5=10 > a patched 8)
    # the assignment runs on the join fallback: same centroids
    orig = sim.LLOYD_LITERAL_BUDGET
    sim.LLOYD_LITERAL_BUDGET = 8
    try:
        over = sorted(
            (r["cluster_id"], tuple(r["centroid"]))
            for r in sim.lloyd_refine(df, cents, 1).collect()
        )
    finally:
        sim.LLOYD_LITERAL_BUDGET = orig
    assert over == got
    # real constant untouched and generous enough for the repo's sizes
    assert sim.LLOYD_LITERAL_BUDGET == 65_536


def test_ivf_assign_literal_path_equals_join_form(spark):
    """r15 optimization pin: the map-side centroid-literal 1-probe
    assignment (no crossJoin, no groupBy exchange) is ROW-IDENTICAL —
    every column, including vnorm bits and the cluster_id tie rule —
    to the join fallback (crossJoin + row_number window, the
    over-budget path), on the real corpus AND on degenerate rows (null
    vector, short vector, null element): both forms assign every
    degenerate row to the lowest cluster_id, since all csims go null
    and the order falls through to the index/cluster tie-break."""
    from duckdb_vortex_spark.operators import similarity
    from duckdb_vortex_spark.operators.similarity import (
        LLOYD_LITERAL_BUDGET,
        ivf_assign,
        sample_centroids,
    )

    emb = load(spark, SF_DIR, "embeddings")
    degenerate = spark.createDataFrame(
        [
            (900001, None, 0),
            (900002, [1.0] * 3, 0),
            (900003, [1.0] * 63 + [None], 0),
        ],
        emb.schema,
    )
    corpus = emb.unionByName(degenerate)
    cents = sample_centroids(emb, 8)

    lit = ivf_assign(corpus, cents, n_probe=1)
    # force the join fallback by shrinking the budget
    orig = similarity.LLOYD_LITERAL_BUDGET
    similarity.LLOYD_LITERAL_BUDGET = 0
    try:
        join_form = ivf_assign(corpus, cents, n_probe=1)
    finally:
        similarity.LLOYD_LITERAL_BUDGET = orig
    assert LLOYD_LITERAL_BUDGET == orig

    def rows(df):
        return sorted(
            (r["vec_id"], tuple(r["embedding"] or []), r["vnorm"], r["cluster_id"])
            for r in df.collect()
        )

    a, b = rows(lit), rows(join_form)
    assert len(a) == corpus.count()
    assert a == b
    # the literal plan is genuinely map-side: no exchange anywhere
    plan = lit._sc._jvm.PythonSQLUtils.explainString(
        lit._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    assert "SortAggregate" not in plan, plan


def test_ivf_assign_multiprobe_literal_equals_window_form(spark):
    """r16 optimization pin (VERDICT r15 next #4): the map-side
    n_probe>1 assignment (literal csims → slice(array_sort) top-cells
    → explode; no crossJoin, no per-id row_number window exchange) is
    ROW-IDENTICAL — every column, vnorm bits, the (csim desc,
    cluster_id asc) order rule — to the crossJoin+window join
    fallback (the over-budget path). Degenerate
    coverage: null vector, short vector, null-element vector — all
    csims go null TOGETHER (per-row, every centroid), and both forms
    fall through to the lowest cluster_ids. A per-centroid null (only
    reachable via a zero-norm centroid) cannot occur: under Spark 4's
    default ANSI mode the division THROWS identically in both forms,
    so all-null-or-all-finite is exhaustive; the literal sort key
    still maps a null to +Inf (coalesce) = the window's `csim DESC`
    NULLS LAST placement, belt-and-suspenders."""
    from duckdb_vortex_spark.operators import similarity
    from duckdb_vortex_spark.operators.similarity import (
        LLOYD_LITERAL_BUDGET,
        ivf_assign,
        sample_centroids,
    )

    emb = load(spark, SF_DIR, "embeddings")
    degenerate = spark.createDataFrame(
        [
            (900001, None, 0),
            (900002, [1.0] * 3, 0),
            (900003, [1.0] * 63 + [None], 0),
        ],
        emb.schema,
    )
    corpus = emb.unionByName(degenerate)
    cents = sample_centroids(emb, 7)

    for n_probe in (2, 4, 99):  # 99 > |C|: slice returns all cells
        lit = ivf_assign(corpus, cents, n_probe=n_probe)
        orig = similarity.LLOYD_LITERAL_BUDGET
        similarity.LLOYD_LITERAL_BUDGET = 0
        try:
            window_form = ivf_assign(corpus, cents, n_probe=n_probe)
        finally:
            similarity.LLOYD_LITERAL_BUDGET = orig
        assert LLOYD_LITERAL_BUDGET == orig

        def rows(df):
            return sorted(
                (r["vec_id"], tuple(r["embedding"] or []), r["vnorm"], r["cluster_id"])
                for r in df.collect()
            )

        a, b = rows(lit), rows(window_form)
        assert len(a) == corpus.count() * min(n_probe, 7)
        assert a == b, f"n_probe={n_probe}"
        # genuinely map-side: no exchange, no join, no window anywhere
        plan = lit._sc._jvm.PythonSQLUtils.explainString(
            lit._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan, plan
        assert "Window" not in plan, plan
        assert "Join" not in plan, plan


def test_ivf_assign_nonfinite_centroid_falls_back(spark):
    """ADVICE r15: repr'd non-finite doubles ('nanD'/'infD') are not
    parseable Spark SQL literals, and a null element has no literal,
    so a NaN/Inf/null centroid value must route BOTH literal paths
    (1-probe argmin, multi-probe slice) to the join fallback —
    computing through, same rows as a budget-forced fallback —
    instead of raising. The fallback orders every n_probe by one key,
    so each vector's 1-probe cell is among its 2-probe cells. The
    two-level assignment's driver-side fine→coarse map falls back the
    same way on a null element: same cells as ivf_assign."""
    from duckdb_vortex_spark.operators import similarity
    from duckdb_vortex_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
    )

    emb = load(spark, SF_DIR, "embeddings").limit(50)
    tables = {
        "nonfinite": [
            (0, [1.0] * 64),
            (1, [float("nan")] * 64),
            (2, [float("inf")] + [0.5] * 63),
        ],
        "null_element": [
            (0, [1.0] * 64),
            (1, [None] + [0.5] * 63),
            (2, [0.5] * 63 + [-1.0]),
        ],
    }

    def rows(df):
        return sorted((r["vec_id"], r["cluster_id"]) for r in df.collect())

    for name, table in tables.items():
        cents = spark.createDataFrame(table, "cluster_id int, centroid array<double>")
        got = {}
        for n_probe in (1, 2):
            got[n_probe] = rows(ivf_assign(emb, cents, n_probe=n_probe))  # no raise
            orig = similarity.LLOYD_LITERAL_BUDGET
            similarity.LLOYD_LITERAL_BUDGET = 0
            try:
                want = ivf_assign(emb, cents, n_probe=n_probe)
            finally:
                similarity.LLOYD_LITERAL_BUDGET = orig
            assert got[n_probe] == rows(want), (name, n_probe)
        assert len(got[1]) == 50, name
        assert set(got[1]) <= set(got[2]), name

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [None, 1.0])], "cluster_id int, centroid array<double>"
    )
    emb2 = emb.select("vec_id", F.slice("embedding", 1, 2).alias("embedding"))
    assert rows(ivf_assign_two_level(emb2, cents)) == rows(ivf_assign(emb2, cents, 1))


def test_two_level_literal_path_equals_join_form(spark):
    """r15 optimization pin: the fully map-side two-level assignment
    (phase 1 rep-scoring + phase 2 CASE-dispatched probed-cell argmin,
    both from centroid literals — no crossJoin window, no equi-join,
    no groupBy exchange) is ROW-IDENTICAL — every column, vnorm bits,
    and the (csim desc, id asc) tie rules of BOTH phases — to the
    join fallback (crossJoin window, then equi-join window: the
    over-budget path), on the real corpus AND on degenerate
    rows (null vector, short vector, null element: all csims go null,
    both forms fall through to the lowest probed-cell fine id)."""
    from duckdb_vortex_spark.operators import similarity
    from duckdb_vortex_spark.operators.similarity import (
        LLOYD_LITERAL_BUDGET,
        ivf_assign_two_level,
        sample_centroids,
    )

    emb = load(spark, SF_DIR, "embeddings")
    degenerate = spark.createDataFrame(
        [
            (900001, None, 0),
            (900002, [1.0] * 3, 0),
            (900003, [1.0] * 63 + [None], 0),
        ],
        emb.schema,
    )
    corpus = emb.unionByName(degenerate)
    cents = sample_centroids(emb, 16)

    lit = ivf_assign_two_level(corpus, cents, n_coarse=4, n_probe_coarse=2)
    # force the join fallback (window, then equi-join + window)
    orig = similarity.LLOYD_LITERAL_BUDGET
    similarity.LLOYD_LITERAL_BUDGET = 0
    try:
        join_form = ivf_assign_two_level(
            corpus, cents, n_coarse=4, n_probe_coarse=2
        )
    finally:
        similarity.LLOYD_LITERAL_BUDGET = orig
    assert LLOYD_LITERAL_BUDGET == orig

    def rows(df):
        return sorted(
            (r["vec_id"], tuple(r["embedding"] or []), r["vnorm"], r["cluster_id"])
            for r in df.collect()
        )

    a, b = rows(lit), rows(join_form)
    assert len(a) == corpus.count()
    assert a == b
    # genuinely map-side: no exchange, no join, no aggregate anywhere
    plan = lit._sc._jvm.PythonSQLUtils.explainString(
        lit._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Aggregate" not in plan, plan
