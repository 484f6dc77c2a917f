"""Scale-stress slow tier (VERDICT r2 item 6): run the scale-critical
LLM operators on a synthetic 10x corpus and measure (a) wall-clock
scaling vs the 1x run and (b) the skew metrics the 100 TB arguments
rest on (max/median bucket or cluster size). Asserts NO superlinear
blowup: a quadratic operator would scale ~100x here; the bound is a
generous 30x to absorb shared-box noise while still failing O(n^2).

Env-gated: set SPARK_GRAFT_SLOW=1 (and optionally SPARK_GRAFT_SF_DIR,
default sf0.1 — ~6k docs -> 60k at 10x). Measured numbers are
recorded in SCALE.md ("Slow-tier measurements").

Synthesis: 10 replicas of each base table with key offsets; document
TEXT is per-replica alphabet-rotated (translate) so replicas are
DISTINCT documents — the dup/near-dup rate per replica stays equal to
the base corpus instead of every doc becoming a 10-clique, which
would inflate the true pair OUTPUT quadratically and measure the
data, not the operator. Embeddings get a replica-scaled first
coordinate bump (cosine-relevant but tiny) for the same reason.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.operators.contamination import cross_source_shared_shingles
from duckdb_vortex_spark.operators.dedup import minhash_lsh_pairs
from duckdb_vortex_spark.operators.similarity import ivf_topk, sample_centroids
from duckdb_vortex_spark.operators.asof import asof_join
from duckdb_vortex_spark.operators.timeseries import time_bucket_gapfill

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SLOW"),
    reason="slow tier: set SPARK_GRAFT_SLOW=1",
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = 10
SLACK = 3.0  # per-unit-work tolerance on a noisy shared box
_ABC = "abcdefghijklmnopqrstuvwxyz"


def _replicate_docs(spark, k: int):
    base = load(spark, SF_DIR, "documents")
    n = base.count()
    parts = []
    for i in range(k):
        rot = _ABC[i:] + _ABC[:i]
        parts.append(
            base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.translate(F.col("text"), _ABC, rot).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, n


def _replicate_embeddings(spark, k: int):
    base = load(spark, SF_DIR, "embeddings")
    parts = []
    for i in range(k):
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, j: F.when(j == 0, x + F.lit(i * 1e-3)).otherwise(x),
                ).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _replicate_events(spark, k: int):
    base = load(spark, SF_DIR, "events")
    parts = []
    for i in range(k):
        parts.append(
            base.select(
                (F.col("event_id") + F.lit(i * 100_000_000)).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {i} SECONDS")).alias("ts"),
                (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _timed(fn) -> tuple[float, int]:
    """Warm-up run + median of 3 timed runs.

    Round 4: single-shot timing booked one-time costs (codegen of the
    10-branch union plan, first-touch task scheduling for 10x more
    tasks, page-cache faults) as "scaling" — sessionize_gap measured
    3.2x cold but 1.2x warm-median, and the bench harness had the same
    estimator disease (see CHANGES_r4.md §1/§2). Factors recorded in
    SCALE.md are steady-state plan-execution scaling, which is the
    quantity the 100 TB arguments actually rest on."""
    n = fn()  # warm-up: plan + codegen + page cache
    ts = []
    for _ in range(3):
        t0 = time.monotonic()
        n = fn()
        ts.append(time.monotonic() - t0)
    return sorted(ts)[1], n


def _report(name: str, t1: float, t10: float, extra: str = "") -> None:
    factor = t10 / max(t1, 1e-9)
    print(
        f"\nSCALE-STRESS {name}: 1x={t1:.2f}s 10x={t10:.2f}s "
        f"factor={factor:.1f}x (bound {REPLICAS * SLACK:.0f}x) {extra}"
    )
    assert factor <= REPLICAS * SLACK, (
        f"{name}: superlinear blowup {factor:.1f}x > {REPLICAS * SLACK}x"
    )


def test_minhash_lsh_10x(spark):
    d1, _ = _replicate_docs(spark, 1)
    d10, _ = _replicate_docs(spark, REPLICAS)
    t1, n1 = _timed(lambda: minhash_lsh_pairs(d1, threshold=0.8).count())
    t10, n10 = _timed(lambda: minhash_lsh_pairs(d10, threshold=0.8).count())
    # skew: band-bucket sizes of the 10x run (pre-cap), the Σ bucket²
    # bound the module docstring claims
    from duckdb_vortex_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(d10, "text", "doc_id", 32, 3)
    buckets = sig.select(
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.element_at("mh", b * 2 + 1), F.element_at("mh", b * 2 + 2)
                    )
                    for b in range(16)
                ]
            )
        ).alias("band", "h")
    )
    stats = (
        buckets.groupBy("band", "h")
        .agg(F.count("*").alias("bn"))
        .agg(
            F.max("bn").alias("mx"),
            F.expr("percentile_approx(bn, 0.5)").alias("md"),
            F.sum(F.col("bn") * F.col("bn")).alias("sum_sq"),
        )
        .first()
    )
    _report(
        "minhash_lsh_pairs",
        t1,
        t10,
        f"pairs 1x={n1} 10x={n10}; bucket max={stats.mx} median={stats.md} "
        f"sum_sq={stats.sum_sq}",
    )
    # pair output should scale ~linearly with replicas (replicas are
    # distinct docs): allow 2x headroom over exact linear
    assert n10 <= n1 * REPLICAS * 2


def test_simhash_block_pair_candidate_mass_linear(spark):
    """Contiguous 4×16-bit SimHash bands key the corpus into a FIXED
    ≤65k-bucket space per table, so Σ C(bucket,2) candidate mass — and
    the verify join behind it — grows quadratically with docs
    (r12 measured 18.5× wall for 8× docs). The block-pair keys of
    `simhash_neardup_pairs` (6 shift/mask blocks of the 64-bit
    signature, C(6,2)=15 concatenated ≤22-bit keys) must hold both the
    candidate mass and the wall ~linear in the corpus, at 6× replicas —
    the regime where the old scheme was already blowing up. The mass
    bound is the deterministic one on a noisy box; the contiguous mass
    is printed alongside so the gap is recorded, not asserted (it only
    diverges at corpus sizes this tier won't pay for)."""
    from itertools import combinations

    from duckdb_vortex_spark.operators.dedup import (
        simhash,
        simhash_neardup_pairs,
    )

    K = 6
    blocks = [(0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)]

    def _blk(off: int, w: int):
        return F.shiftrightunsigned("simhash", off).bitwiseAND(F.lit((1 << w) - 1))

    bp_vals = F.array(
        *[
            F.shiftleft(_blk(oi, wi), wj).bitwiseOR(_blk(oj, wj))
            for (oi, wi), (oj, wj) in combinations(blocks, 2)
        ]
    )
    ct_vals = F.array(
        *[
            F.shiftrightunsigned("simhash", b * 16).bitwiseAND(F.lit((1 << 16) - 1))
            for b in range(4)
        ]
    )

    def cand_mass(docs, band_vals) -> int:
        row = (
            simhash(docs)
            .select(F.posexplode(band_vals).alias("band", "h"))
            .groupBy("band", "h")
            .agg(F.count("*").alias("bn"))
            .agg(F.sum(F.col("bn") * (F.col("bn") - 1) / 2).alias("m"))
            .first()
        )
        return int(row.m or 0)

    d1, _ = _replicate_docs(spark, 1)
    dk, _ = _replicate_docs(spark, K)
    m1, mk = cand_mass(d1, bp_vals), cand_mass(dk, bp_vals)
    c1, ck = cand_mass(d1, ct_vals), cand_mass(dk, ct_vals)
    t1, n1 = _timed(lambda: simhash_neardup_pairs(d1).count())
    tk, nk = _timed(lambda: simhash_neardup_pairs(dk).count())
    print(
        f"\nSCALE-STRESS simhash_block_pair: mass 1x={m1} {K}x={mk} "
        f"(contiguous {c1}->{ck}) wall 1x={t1:.2f}s {K}x={tk:.2f}s "
        f"factor={tk / max(t1, 1e-9):.1f}x pairs {n1}->{nk}"
    )
    assert mk <= m1 * K * SLACK + 1000, (
        f"block-pair candidate mass superlinear: {m1} -> {mk} at {K}x"
    )
    assert tk / max(t1, 1e-9) <= K * SLACK


def test_ivf_ann_10x(spark):
    e1 = _replicate_embeddings(spark, 1)
    e10 = _replicate_embeddings(spark, REPLICAS)
    q1 = e1.limit(50)
    t1, n1 = _timed(lambda: ivf_topk(q1, e1, k=10).count())
    t10, n10 = _timed(lambda: ivf_topk(q1, e10, k=10).count())
    cent = sample_centroids(e10, n_clusters=16)
    from duckdb_vortex_spark.operators.similarity import ivf_assign

    sizes = (
        ivf_assign(e10, cent, n_probe=1)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("cn"))
        .agg(F.max("cn").alias("mx"), F.expr("percentile_approx(cn, 0.5)").alias("md"))
        .first()
    )
    _report(
        "ivf_ann",
        t1,
        t10,
        f"rows 1x={n1} 10x={n10}; cluster max={sizes.mx} median={sizes.md} "
        f"skew={sizes.mx / max(sizes.md, 1):.2f}",
    )


def test_contamination_10x(spark):
    d1, _ = _replicate_docs(spark, 1)
    d10, _ = _replicate_docs(spark, REPLICAS)
    t1, _ = _timed(lambda: cross_source_shared_shingles(d1).count())
    t10, _ = _timed(lambda: cross_source_shared_shingles(d10).count())
    _report("contamination_matrix", t1, t10)


def test_asof_10x(spark):
    ev1 = _replicate_events(spark, 1)
    ev10 = _replicate_events(spark, REPLICAS)

    def run(ev):
        left = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
        right = (
            ev.filter(F.col("event_type") != "click")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("v"))
        )
        return asof_join(left, right, ["user_id"], "ts", "ts").count()

    t1, _ = _timed(lambda: run(ev1))
    t10, _ = _timed(lambda: run(ev10))
    _report("asof_join", t1, t10)


def test_gapfill_10x(spark):
    ev1 = _replicate_events(spark, 1)
    ev10 = _replicate_events(spark, REPLICAS)
    t1, _ = _timed(lambda: time_bucket_gapfill(ev1).count())
    t10, _ = _timed(lambda: time_bucket_gapfill(ev10).count())
    _report("time_bucket_gapfill", t1, t10)


def test_pq_encode_10x(spark):
    """PQ encoding is map-side only — scaling must track input size
    exactly (no shuffle to misbehave)."""
    from duckdb_vortex_spark.operators.similarity import pq_codebooks, pq_encode

    e1 = _replicate_embeddings(spark, 1)
    e10 = _replicate_embeddings(spark, REPLICAS)
    books = pq_codebooks(e1, m=4, k=16)
    t1, n1 = _timed(lambda: pq_encode(e1, books).count())
    t10, n10 = _timed(lambda: pq_encode(e10, books).count())
    _report("pq_encode", t1, t10, f"rows 1x={n1} 10x={n10}")
    assert n10 == n1 * REPLICAS


def test_cross_doc_overlap_10x(spark):
    """Inverted-index shape: one shingle-key shuffle carrying counts,
    never doc lists — cost tracks total distinct shingles. Mirrors the
    shipped round-5 plan: tokenize-once exchange barrier (the missing
    barrier was 2.7x of the old 1x time) and window doc-frequency (no
    broadcast->sort-merge shift past the AQE threshold)."""
    from pyspark.sql import Window as W2
    from pyspark.sql import functions as F2

    def run(d):
        from duckdb_vortex_spark.operators.text import tokens

        t = d.select("doc_id", tokens("text").alias("toks")).repartition(
            spark.sparkContext.defaultParallelism
        )
        words = t.select("doc_id", F2.posexplode("toks").alias("p", "tok"))
        wdoc = W2.partitionBy("doc_id").orderBy("p")
        posting = (
            words.select(
                "doc_id",
                F2.concat_ws(
                    " ", "tok",
                    F2.lead("tok", 1).over(wdoc), F2.lead("tok", 2).over(wdoc),
                    F2.lead("tok", 3).over(wdoc), F2.lead("tok", 4).over(wdoc),
                ).alias("gram"),
                F2.lead("tok", 4).over(wdoc).alias("__l4"),
            )
            .filter(F2.col("__l4").isNotNull())
            .drop("__l4")
            .dropDuplicates(["doc_id", "gram"])
        )
        wg = W2.partitionBy("gram")
        return (
            posting.select("doc_id", F2.count("*").over(wg).alias("n_docs"))
            .filter(F2.col("n_docs") >= 2)
            .groupBy("doc_id")
            .agg(F2.count("*").alias("n_shared"))
            .count()
        )

    d1, _ = _replicate_docs(spark, 1)
    d10, _ = _replicate_docs(spark, REPLICAS)
    t1, _ = _timed(lambda: run(d1))
    t10, _ = _timed(lambda: run(d10))
    _report("cross_doc_ngram_overlap", t1, t10)


def test_sessionize_10x(spark):
    from duckdb_vortex_spark.operators.timeseries import sessionize

    ev1 = _replicate_events(spark, 1)
    ev10 = _replicate_events(spark, REPLICAS)
    t1, _ = _timed(lambda: sessionize(ev1).count())
    t10, _ = _timed(lambda: sessionize(ev10).count())
    _report("sessionize_gap", t1, t10)


def test_ivfpq_10x(spark):
    """IVF-ADC: the candidate scan is cluster-pruned (n_probe/n_clusters
    of the codes per query) — 10x corpus with FIXED queries must scale
    ~linearly in corpus size, and per-cluster code counts must stay
    balanced enough that no task owns the scan."""
    from duckdb_vortex_spark.operators.similarity import (
        ivf_assign,
        ivfpq_topk,
        sample_centroids,
    )

    e1 = _replicate_embeddings(spark, 1)
    e10 = _replicate_embeddings(spark, REPLICAS)
    q = e1.filter(F.col("vec_id") % 20 == 0).limit(50)
    t1, n1 = _timed(lambda: ivfpq_topk(q, e1, k=10).count())
    t10, n10 = _timed(lambda: ivfpq_topk(q, e10, k=10).count())
    cents = sample_centroids(e10, 16)
    sizes = sorted(
        r["n"]
        for r in ivf_assign(e10, cents, 1)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    skew = sizes[-1] / max(sizes[len(sizes) // 2], 1)
    _report("ivfpq_ann", t1, t10, f"max/median cluster={skew:.1f}")
    assert skew < 20.0, f"one cluster owns the scan: {sizes}"


def test_span_trim_10x(spark):
    """ExactSubstr trimming: inverted-index shape — one gram-key
    shuffle carrying (count, canonical), bounded 5x coverage
    expansion; cost tracks total tokens, independent of duplication
    degree (alphabet-rotated replicas keep per-replica dup rates at
    the base level)."""
    from duckdb_vortex_spark.operators.text import tokens

    def run(d):
        toks = tokens("text")
        # tokenize-once exchange barrier + lead-window gram
        # construction, matching the shipped round-5 plan
        t = d.select("doc_id", toks.alias("toks")).repartition(
            spark.sparkContext.defaultParallelism
        )
        from pyspark.sql import Window as W

        words = t.select("doc_id", F.posexplode("toks").alias("pos0", "tok")).select(
            "doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok"
        )
        wdoc = W.partitionBy("doc_id").orderBy("pos")
        starts = (
            words.select(
                "doc_id",
                F.col("pos").alias("p"),
                F.concat_ws(
                    " ", "tok",
                    F.lead("tok", 1).over(wdoc), F.lead("tok", 2).over(wdoc),
                    F.lead("tok", 3).over(wdoc), F.lead("tok", 4).over(wdoc),
                ).alias("gram"),
                F.lead("tok", 4).over(wdoc).alias("__l4"),
            )
            .filter(F.col("__l4").isNotNull())
            .drop("__l4")
        )
        # window over the gram partition, matching the shipped plan
        # (round 5: the groupBy + join-back shape plan-shifted from
        # broadcast to sort-merge past the AQE threshold — the whole
        # 5.0x factor; the window computes (count, canonical) in the
        # one gram-key exchange with no second scan)
        from pyspark.sql import Window as W

        wgram = W.partitionBy("gram")
        dup = (
            starts.select(
                "doc_id",
                "p",
                F.count("*").over(wgram).alias("n"),
                F.min(F.struct(F.col("doc_id").alias("d"), F.col("p").alias("p")))
                .over(wgram)
                .alias("canon"),
            )
            .filter(
                (F.col("n") >= 2)
                & ~(
                    (F.col("doc_id") == F.col("canon.d"))
                    & (F.col("p") == F.col("canon.p"))
                )
            )
            .select(
                "doc_id",
                F.explode(F.sequence(F.col("p"), F.col("p") + 4)).alias("pos"),
            )
        )
        return dup.count()

    d1, _ = _replicate_docs(spark, 1)
    d10, _ = _replicate_docs(spark, REPLICAS)
    t1, _ = _timed(lambda: run(d1))
    t10, _ = _timed(lambda: run(d10))
    _report("duplicate_span_trim", t1, t10)


def test_semdedup_10x(spark):
    """SemDeDup greedy within-cluster pruning: pair work is
    Σ|cluster|², so the honest linear-scaling claim requires cluster
    count ∝ corpus size (the paper's regime: fixed expected cluster
    SIZE, 50k clusters for LAION). With k=16 at 1x and k=160 at 10x,
    per-cluster population stays constant and total pair work grows
    10x, not 100x. Skew evidence: max/median cluster size."""
    from duckdb_vortex_spark.operators.similarity import ivf_assign, sample_centroids

    from .hof_reference import _dot

    def run(e, k):
        cl = ivf_assign(e, sample_centroids(e, k), 1).select(
            "vec_id", "embedding", "vnorm", "cluster_id"
        )
        a = cl.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
            F.col("vnorm").alias("na"), "cluster_id",
        )
        b = cl.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
            F.col("vnorm").alias("nb"), "cluster_id",
        )
        rm = (
            a.join(b, "cluster_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter((_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) >= 0.30)
            .select(F.col("id_b").alias("vec_id"))
            .distinct()
        )
        return cl.join(rm, "vec_id", "left_anti").count()

    e1 = _replicate_embeddings(spark, 1)
    e10 = _replicate_embeddings(spark, REPLICAS)
    t1, _ = _timed(lambda: run(e1, 16))
    t10, _ = _timed(lambda: run(e10, 160))
    sizes = sorted(
        r["n"]
        for r in ivf_assign(e10, sample_centroids(e10, 160), 1)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    sum_sq = sum(s * s for s in sizes)
    skew = sizes[-1] / max(sizes[len(sizes) // 2], 1)
    _report(
        "semdedup_cluster_prune", t1, t10,
        f"max/median cluster={skew:.1f} sum_sq={sum_sq}",
    )
    assert skew < 20.0, f"one cluster owns the pair join: {sizes[-5:]}"


def test_bm25_10x(spark):
    """BM25 scoring: inverted-index shape — tokenize, filter to query
    terms AT THE SCAN, per-(doc,term) counts, broadcast df, rank-limit
    top-10. Cost tracks total tokens; the alphabet rotation changes
    which replicas contain the query terms, but the per-replica scan
    and shuffle volume is what's measured."""
    from duckdb_vortex_spark.operators.text import tokens

    def run(d):
        t = d.select("doc_id", tokens("text").alias("t"))
        lens = t.select("doc_id", F.size("t").cast("bigint").alias("dl"))
        stats = lens.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("tot_len"),
        )
        base = t.select(
            "doc_id", F.size("t").cast("bigint").alias("dl"), F.explode("t").alias("tok")
        )
        tf = (
            base.filter(F.col("tok").isin("join", "hash", "scan", "filter"))
            .groupBy("doc_id", "dl", "tok")
            .agg(F.count("*").cast("bigint").alias("tf"))
        )
        dft = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
        sat = F.lit(22) * F.col("tf") * F.col("tot_len")
        satden = (
            F.lit(10) * F.col("tf") * F.col("tot_len")
            + F.lit(3) * F.col("tot_len")
            + F.lit(9) * F.col("dl") * F.col("n_docs")
        )
        idfn = F.lit(2) * (F.col("n_docs") - F.col("df")) + F.lit(1)
        idfd = F.lit(2) * F.col("df") + F.lit(1)
        tsq = F.floor(
            (sat.cast("double") / satden.cast("double"))
            * (idfn.cast("double") / idfd.cast("double"))
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("bigint")
        return (
            tf.join(F.broadcast(dft), "tok")
            .crossJoin(F.broadcast(stats))
            .select("doc_id", tsq.alias("tsq"))
            .groupBy("doc_id")
            .agg(F.sum("tsq").cast("bigint").alias("bm25_q"))
            .orderBy(F.col("bm25_q").desc(), "doc_id")
            .limit(10)
            .count()
        )

    d1, _ = _replicate_docs(spark, 1)
    d10, _ = _replicate_docs(spark, REPLICAS)
    t1, _ = _timed(lambda: run(d1))
    t10, _ = _timed(lambda: run(d10))
    _report("bm25_topk", t1, t10)


def test_corpus_to_shards_10x(spark):
    """r7 flagship: the full curation chain (quality → dedup →
    decontam → pack → shard) at 10×. The chain's shuffles are keyed on
    content_key, shingle, and (source, pack_group) — none has a key
    whose population grows faster than input, so the composition must
    scale like its worst stage, not their product. Skew evidence: the
    packing window's (source, pack_group) partition sizes — the only
    per-key SORT in the plan — must stay balanced (pack_group is an
    md5 bucket, so max/median ≈ 1)."""
    from duckdb_vortex_spark.operators.pipeline import corpus_to_shards

    d1, _ = _replicate_docs(spark, 1)
    d10, _ = _replicate_docs(spark, REPLICAS)
    # 8-gram decontamination (the realistic GPT-3/PaLM-style setting;
    # the entry's 3-gram default is for oracle parity with
    # contamination_eval_removal): at sf0.1 the synthetic corpus
    # shares so many 3-grams that ANY-overlap removal empties the
    # manifest to 2 rows, which would leave the packing/shard stages
    # untested at 10x
    run = lambda d: corpus_to_shards(d, decontam_ngram=8)
    t1, n1 = _timed(lambda: run(d1).count())
    t10, n10 = _timed(lambda: run(d10).count())
    sizes = sorted(
        r["n"]
        for r in run(d10)
        .groupBy("source", "pack_group")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    skew = sizes[-1] / max(sizes[len(sizes) // 2], 1)
    _report(
        "pipeline_corpus_to_shards", t1, t10,
        f"manifest rows 1x={n1} 10x={n10}; pack partition max/median={skew:.2f}",
    )
    assert skew < 3.0, f"packing sort partition skewed: {sizes[-5:]}"
    # replicas are distinct texts (alphabet-rotated), so survivorship
    # must scale ~10x — a dedup that collapses replicas or a decontam
    # that nukes them would silently hollow the test
    assert n10 >= 5 * n1, (n1, n10)


def test_neardup_decontam_10x(spark):
    """Fuzzy decontamination with the eval side FIXED (the real
    regime: benchmarks don't grow with the corpus) and the training
    side 10x. The broadcast-eval-index design must scale linearly in
    the train side — candidate count is linear because the eval bucket
    table is constant."""
    from duckdb_vortex_spark.operators.contamination import neardup_decontaminate

    d1, _ = _replicate_docs(spark, 1)
    d10, _ = _replicate_docs(spark, REPLICAS)
    ev = load(spark, SF_DIR, "documents").filter(F.col("source") == "src0")
    t1, n1 = _timed(
        lambda: neardup_decontaminate(
            d1.filter(F.col("source") != "src0"), ev
        ).count()
    )
    t10, n10 = _timed(
        lambda: neardup_decontaminate(
            d10.filter(F.col("source") != "src0"), ev
        ).count()
    )
    _report("neardup_decontam", t1, t10, f"rows 1x={n1} 10x={n10}")
