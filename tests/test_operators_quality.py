"""Quality properties of the operators the oracle can't check exactly:
LSH ANN recall, approx_count_distinct error, multimodal decode
correctness, simhash locality, asof edge semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.asof import asof_join
from duckdb_vortex_spark.operators.dedup import simhash
from duckdb_vortex_spark.operators.multimodal import documents_as_media, extract_features
from duckdb_vortex_spark.operators.similarity import lsh_topk, topk_bruteforce

from .conftest import SF_DIR
from .hof_reference import adversarial_embeddings, lsh_signature


def test_lsh_ann_finds_near_duplicates(spark):
    """The ANN path's primary contract: genuinely-near vectors
    (cos ≈ 0.99, the dedup/near-dup use case) are retrieved with high
    recall at default parameters."""
    import numpy as np

    rows = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 50).collect()
    rng = np.random.default_rng(7)
    perturbed = [
        (int(r.vec_id) + 100000, (np.array(r.embedding) + rng.normal(0, 0.02, 64)).tolist())
        for r in rows
    ]
    base = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]
    emb = spark.createDataFrame(base + perturbed, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 100000)
    found = {
        (r.query_id, r.cand_id) for r in lsh_topk(q, emb, k=5).collect()
    }
    hits = sum(1 for qid, _ in [(b[0], None) for b in base] if (qid, qid + 100000) in found)
    recall = hits / len(base)
    assert recall >= 0.9, f"near-dup LSH recall too low: {recall:.3f}"


def test_lsh_ann_recall_weak_neighbors(spark):
    """On the raw corpus (avg top-10 cosine ≈ 0.29 — weak structure),
    recall needs shorter signatures + more tables; asserts the tuning
    knobs work as the theory says (p_match = 1-(1-p^planes)^tables)."""
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    exact = {(r.query_id, r.cand_id) for r in topk_bruteforce(q, emb, k=10).collect()}
    approx = {
        (r.query_id, r.cand_id)
        for r in lsh_topk(q, emb, k=10, n_planes=3, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall:.3f}"


def test_lsh_signatures_equal_hof_reference(spark):
    """The kernel's LSH signatures equal the HOF reference signatures,
    (vec_id, sig) pair for pair, on the corpus plus adversarial rows: a
    NaN dot sets its bit (NaN sorts above 0), and a null vector, a null
    element or a length other than 64 leaves the bare ``t:`` prefix."""
    import numpy as np

    from duckdb_vortex_spark.operators.similarity import _hyperplane, _signatures

    planes = np.array([[_hyperplane(64, p, t) for p in range(8)] for t in range(4)])
    df = adversarial_embeddings(load(spark, SF_DIR, "embeddings"))
    got = sorted(tuple(r) for r in _signatures(df, planes).select("vec_id", "sig").collect())
    pcols = ", ".join(f"p{t} array<array<double>>" for t in range(4))
    pdf = spark.createDataFrame([tuple(planes.tolist())], pcols)
    sigs = F.array(*[lsh_signature(F.col("embedding"), F.col(f"p{t}"), t) for t in range(4)])
    want = sorted(tuple(r) for r in df.crossJoin(pdf).select("vec_id", F.explode(sigs)).collect())
    assert got == want
    by_id = dict(got)
    assert by_id[900001] == by_id[900002] == by_id[900004] == by_id[900005] == "3:"
    assert by_id[900006] == "3:00000000"


def test_approx_count_distinct_error(spark):
    li = load(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.1


def test_multimodal_features(spark):
    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 50)
    media = documents_as_media(docs)
    feats = {r.doc_id: r for r in extract_features(media).collect()}
    for row in docs.select("doc_id", "text").collect():
        f = feats[row.doc_id]
        body = row.text.encode("utf-8")
        assert f.width == len(row.text)
        assert f.height == 1
        assert f.n_bytes == len(body) + 8
        assert f.byte_min == min(body)
        assert f.byte_max == max(body)
        assert abs(f.byte_mean - sum(body) / len(body)) < 1e-9


def test_multimodal_unknown_codec_raises(spark):
    from duckdb_vortex_spark.operators.multimodal import _decode_payload

    # JPEG is implemented as of round 3 — truncated payloads now fail
    # loudly with ValueError; the NotImplementedError seam remains for
    # codecs genuinely needing native libs (MP3/video containers).
    with pytest.raises(ValueError):
        _decode_payload("image/jpeg", b"\xff\xd8\xff")
    with pytest.raises(NotImplementedError):
        _decode_payload("video/mp4", b"\x00\x00\x00\x18ftypmp42")


def test_simhash_locality(spark):
    # identical token sets -> identical signature
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "dog lazy the over jumps fox brown quick the"),  # shuffled
            (3, "completely different words appear in this one sentence"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_asof_forward_and_edges(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k long, ts long, payload string"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 50, 500.0)], "k long, ts long, v double"
    )
    back = {
        (r.k, r.ts): r.v
        for r in asof_join(left, right, ["k"], "ts", "ts", "backward").collect()
    }
    # inclusive at equality; no prior row -> null
    assert back[(1, 10)] == 100.0
    assert back[(1, 20)] == 150.0
    assert back[(2, 5)] is None
    fwd = {
        (r.k, r.ts): r.v
        for r in asof_join(left, right, ["k"], "ts", "ts", "forward").collect()
    }
    assert fwd[(1, 10)] == 100.0
    assert fwd[(1, 20)] is None
    assert fwd[(2, 5)] == 500.0


def test_simhash_neardup_pigeonhole_complete(spark):
    """Band join must find EVERY pair with Hamming ≤ 3 (pigeonhole is
    a guarantee, not a probability): compare against the brute-force
    pair set on a corpus slice, and identical docs sit at distance 0.
    Block-pair keys over 6 blocks stay complete up to Hamming 4, so
    the ≤ 4 pair set is a superset of the ≤ 3 one; Hamming 5 is
    refused."""
    from duckdb_vortex_spark.catalog import load
    from duckdb_vortex_spark.operators.dedup import simhash, simhash_neardup_pairs
    from pyspark.sql import functions as F

    from .conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").limit(200)
    # duplicate a doc under a new id: must appear at hamming 0
    dup = docs.limit(1).select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    corpus = docs.union(dup)

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_neardup_pairs(corpus, max_hamming=3).collect()
    }
    sig = simhash(corpus).collect()
    want = {}
    for i, a in enumerate(sig):
        for b in sig[i + 1 :]:
            d = bin((a.simhash ^ b.simhash) & (2**64 - 1)).count("1")
            if d <= 3:
                k = (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id))
                want[k] = d
    assert got == want
    orig_id = dup.collect()[0].doc_id - 10_000_000
    assert got.get((orig_id, orig_id + 10_000_000)) == 0
    h4 = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(corpus, max_hamming=4).collect()
    }
    assert set(got) <= h4
    with pytest.raises(ValueError):
        simhash_neardup_pairs(corpus, max_hamming=5)


def test_approx_percentile_error_bound(spark):
    """A7 sketch parity: approx_percentile lands within 1% relative
    error of the exact percentile on lineitem prices (both engines use
    mergeable quantile sketches; exact value equality is impossible by
    design, bounded error is the contract)."""
    li = load(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.01


def test_span_trim_invariants(spark):
    """ExactSubstr trim invariants: token accounting is exact, clean
    docs pass through verbatim, and every fully-duplicated doc's text
    survives in exactly one (canonical) copy."""
    from duckdb_vortex_spark.catalog import entries

    out = entries()["text_duplicate_span_trim"].builder(spark, SF_DIR).toPandas()
    docs = load(spark, SF_DIR, "documents").toPandas().set_index("doc_id")
    assert (out.removed_frac >= 0).all() and (out.removed_frac <= 1).all()
    for _, r in out.iterrows():
        kept_words = [w for w in r.trimmed_text.split(" ") if w != ""]
        assert len(kept_words) == r.n_words - r.n_removed, r.doc_id
        if r.n_removed == 0:
            orig = [w for w in docs.loc[r.doc_id].text.split() if w != ""]
            assert kept_words == orig, r.doc_id
    # exact-duplicate groups: md5-identical texts keep exactly one
    # full copy (the canonical), the rest trim to (near) nothing
    import hashlib

    h = docs.text.map(lambda t: hashlib.md5(t.encode()).hexdigest())
    for _, grp in docs.assign(h=h).groupby("h"):
        if len(grp) < 2:
            continue
        sub = out[out.doc_id.isin(grp.index)]
        full = (sub.n_removed == 0).sum()
        assert full == 1, f"dup group kept {full} full copies"


_PATH = [(i, i + 1) for i in range(119)]  # 0-1-2-...-119
_CLIQUE = [(1000, 1001), (1001, 1002), (1000, 1002)]

# Graphs that stress min-label propagation, each an undirected pair list.
_CC_GRAPHS = {
    # diameter 119: plain 1-hop propagation would need 119 rounds, past
    # the 50-round cap; a disjoint 3-clique keeps its own minimum
    "path_and_clique": _PATH + _CLIQUE,
    # the same path listed from its far end, every pair (larger, smaller)
    "descending_path": [(i + 1, i) for i in reversed(range(119))],
    # every leaf's minimum reaches the others only through the hub
    "star_hub_largest": [(500, i) for i in range(40)],
    "clique": [(a, b) for a in range(10, 18) for b in range(a + 1, 18)],
    "duplicates_and_self_loop": [(3, 4), (4, 3), (3, 4), (4, 5), (5, 5), (9, 9), (4, 4)],
    # two interleaved paths: evens and odds never meet
    "two_components": [(i, i + 2) for i in range(38)],
}


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")


@pytest.mark.parametrize("graph", sorted(_CC_GRAPHS))
def test_connected_components_long_path_converges(spark, graph):
    """Pointer jumping (r6) converges in O(log diameter) rounds, and
    every node's component equals the driver union-find reference's
    (the minimum id of its component) on each adversarial graph."""
    from duckdb_vortex_spark.operators.dedup import connected_components

    from .graph_reference import union_find_components

    got = connected_components(_edges(spark, _CC_GRAPHS[graph])).collect()
    assert len(got) == len({r.node for r in got})
    assert {r.node: r.component for r in got} == union_find_components(_CC_GRAPHS[graph])


def test_connected_components_job_budget(spark):
    """One materialization per round: the 120-node path builds with at
    most the jobs measured on the one-helper loop (its rounds, the
    edge-list and seed checkpoints), with no convergence join."""
    from duckdb_vortex_spark.operators.dedup import connected_components

    from .conftest import run_counting_jobs

    _, jobs = run_counting_jobs(spark, lambda: connected_components(_edges(spark, _PATH)))
    assert jobs <= 66, jobs  # 87 with the parent's convergence join


def test_connected_components_raises_at_cap(spark, monkeypatch):
    """Labels still changing in the last allowed round are an
    unconverged result: the kernel raises, naming itself and its cap,
    instead of returning split components."""
    from duckdb_vortex_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="connected_components.*CC_MAX_ROUNDS=1"):
        dedup.connected_components(_edges(spark, _CC_GRAPHS["path_and_clique"]))


def test_minhash_expr_form_identical(spark):
    """The generated-SQL fast path in minhash_signatures/band_buckets
    (r8: one F.expr round trip instead of ~300 py4j Column calls,
    ~0.5 s of driver time per signatures call) must be BIT-identical
    to the Column-loop form it replaced: SQL integer literals are
    IntegerType exactly like F.lit(i), so every xxhash64 — and
    therefore every candidate set downstream — is unchanged."""
    from duckdb_vortex_spark.operators.dedup import (
        band_buckets,
        minhash_signatures,
        shingle_table,
    )

    d = load(spark, SF_DIR, "documents").limit(200)
    new_sig = minhash_signatures(d, "text", "doc_id", 32, 3)

    sh = shingle_table(d, "text", "doc_id", 3)
    init = F.array(*[F.lit(2**63 - 1).cast("bigint") for _ in range(32)])
    mh = F.aggregate(
        "sh",
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(32)]),
            lambda x, y: F.least(x, y),
        ),
    )
    old_sig = sh.select("id", mh.alias("mh"))

    got = {r["id"]: r["mh"] for r in new_sig.select("id", "mh").collect()}
    want = {r["id"]: r["mh"] for r in old_sig.collect()}
    assert got == want

    bk = F.array(
        *[
            F.xxhash64(*[F.element_at("mh", b * 2 + j + 1) for j in range(2)])
            for b in range(16)
        ]
    )
    old_bands = old_sig.select("id", F.posexplode(bk).alias("band", "h"))
    got_b = sorted(map(tuple, band_buckets(new_sig.select("id", "mh"), 32, 2).collect()))
    want_b = sorted(map(tuple, old_bands.collect()))
    assert got_b == want_b


def test_token_shingle_expr_forms_identical(spark):
    """The generated-SQL fast paths in tokens()/shingles_from_tokens()
    (r8: one F.expr round trip for plain-identifier inputs) must be
    BIT-identical to the Column/lambda forms they shortcut."""
    from duckdb_vortex_spark.operators.dedup import shingles_from_tokens
    from duckdb_vortex_spark.operators.text import tokens

    d = load(spark, SF_DIR, "documents").limit(200)
    # tokens: fast path (str) vs slow path (Column)
    fast = d.select("doc_id", tokens("text").alias("t"))
    slow = d.select("doc_id", tokens(F.col("text")).alias("t"))
    assert {r["doc_id"]: r["t"] for r in fast.collect()} == {
        r["doc_id"]: r["t"] for r in slow.collect()
    }
    # shingles: fast path (name) vs slow path (Column), both n=3 and n=5
    base = d.select("doc_id", tokens("text").alias("toks"))
    for n in (3, 5):
        f = base.select("doc_id", shingles_from_tokens("toks", n).alias("sh"))
        s = base.select(
            "doc_id", shingles_from_tokens(F.col("toks"), n).alias("sh")
        )
        assert {r["doc_id"]: r["sh"] for r in f.collect()} == {
            r["doc_id"]: r["sh"] for r in s.collect()
        }, f"n={n}"


def test_token_shingle_fast_path_keyword_column_names(spark):
    """str.isidentifier() admits SQL keywords ('order', 'from'), which
    the pre-r9 unquoted interpolation turned into ParseExceptions where
    the Column form worked (ADVICE r8). The backtick-quoted generated
    SQL must handle them and stay bit-identical to the Column form."""
    from duckdb_vortex_spark.operators.dedup import shingles_from_tokens
    from duckdb_vortex_spark.operators.text import tokens

    d = (
        load(spark, SF_DIR, "documents")
        .limit(50)
        .select("doc_id", F.col("text").alias("order"))
    )
    fast = d.select("doc_id", tokens("order").alias("t"))
    slow = d.select("doc_id", tokens(F.col("order")).alias("t"))
    assert {r["doc_id"]: r["t"] for r in fast.collect()} == {
        r["doc_id"]: r["t"] for r in slow.collect()
    }
    base = d.select("doc_id", tokens("order").alias("from"))
    f = base.select("doc_id", shingles_from_tokens("from", 3).alias("sh"))
    s = base.select("doc_id", shingles_from_tokens(F.col("from"), 3).alias("sh"))
    assert {r["doc_id"]: r["sh"] for r in f.collect()} == {
        r["doc_id"]: r["sh"] for r in s.collect()
    }
