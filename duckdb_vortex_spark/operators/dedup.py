"""Deduplication operators for training-data pipelines (SURVEY.md §2C):
exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard.

All are DataFrame→DataFrame functions built from JVM-side column
algebra (no Python UDFs in any hot path). Scale design per operator:

- **exact**: one hash-shuffle on the content fingerprint; map-side
  partial aggregation. The canonical 100 TB shape.
- **MinHash+LSH**: signature computation is per-row (no shuffle);
  candidate generation explodes k buckets per doc and self-joins per
  bucket — cost is Σ bucket² , controlled by shingling (rarer keys) and
  a bucket-size cap (hot-bucket guard) rather than O(n²) brute force.
- **SimHash**: per-row 64-bit signature; near-dup candidates via
  exact match on block-pair keys (same join shape as LSH).
- **n-gram Jaccard**: exact pairwise verification used on candidate
  pairs; brute-force variant only for oracle-sized data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, query
from ..plans.recursive import fixpoint_rounds
from .text import tokens

# --- shared shingling ---------------------------------------------------


def shingles(col, n: int = 3) -> Column:
    """Distinct n-token shingles (word n-grams joined by single space).
    Documents shorter than n tokens contribute their full token string
    as one shingle so they still participate in dedup.

    PERF: the tokenization expression is inlined into the per-index
    lambda by Catalyst (no CSE into lambdas), i.e. split+filter runs
    once per *shingle*, not once per row. Fine for one-shot use; for
    hot paths, materialize the token array first (a lineage cut,
    ``localCheckpoint``, or an exchange boundary) and call
    :func:`shingles_from_tokens` on the resulting attribute — ~5× faster
    on the documents corpus."""
    return shingles_from_tokens(tokens(col), n)


def shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Shingles from an already-computed token-array column. When
    ``toks`` is a bound attribute (a real column, not an expression
    tree) the array is computed once per row and the per-index lambda
    only slices it.

    A plain column NAME takes the generated-SQL fast path (~25 py4j
    round trips → 1, same driver-time fix as minhash_signatures, r8);
    both forms build the identical expression tree (pinned by
    tests/test_operators_quality.py::
    test_token_shingle_expr_forms_identical). Backtick-quoted like
    ``tokens()`` so SQL-keyword / non-ASCII identifiers parse
    (ADVICE r8)."""
    if isinstance(toks, str) and toks.isidentifier():
        return F.expr(
            f"array_distinct(CASE WHEN size(`{toks}`) >= {n} THEN "
            f"transform(sequence(1, size(`{toks}`) - {n - 1}), "
            f"i -> array_join(slice(`{toks}`, i, {n}), ' ')) "
            f"ELSE array(array_join(`{toks}`, ' ')) END)"
        )
    full = F.array(F.array_join(toks, " "))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(full))


def shingle_table(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, sh) with tokenization BOUND behind a round-robin exchange
    barrier before the per-index shingle lambda slices it — the
    standard fix for the interpreted-HOF recompute trap (no CSE into
    lambdas: ``shingles(text_col)`` inlines split+filter once per
    shingle index). Measured at sf0.1: 3.07 s raw-expression select →
    0.32 s via this shape (round 5), on top of the earlier 5× measured
    in contamination/span-trim. Every shingle-consuming operator
    routes through here."""
    t = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
    t = t.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return t.select("id", shingles_from_tokens("__toks", n).alias("sh"))


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / union


def _with_jaccard(pairs: DataFrame, sh_a: str = "sh_a", sh_b: str = "sh_b") -> DataFrame:
    """(doc_a, doc_b, jaccard) from a pair frame carrying both shingle
    arrays. Two projections so ``array_intersect`` — the dominant
    per-pair cost (hash-set build over ~300 strings) — is a bound
    column evaluated ONCE; the inline ``_jaccard`` form references the
    intersect expression three times and, with no CSE across the
    references, evaluates it three times per pair (measured 3×: 10.6 s
    → 3.7 s on the bounded brute-force fixture at sf0.01)."""
    sized = pairs.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect(sh_a, sh_b)).cast("double").alias("__i"),
        F.size(sh_a).alias("__na"),
        F.size(sh_b).alias("__nb"),
    )
    j = F.col("__i") / (
        (F.col("__na") + F.col("__nb")).cast("double") - F.col("__i")
    )
    return sized.select("doc_a", "doc_b", j.alias("jaccard"))


# DuckDB mirror of shingles()+jaccard for oracles.
_DUCK_SHINGLES = """
CASE WHEN len({toks}) >= 3
     THEN list_distinct(list_transform(range(1, len({toks}) - 1),
                        i -> array_to_string(list_slice({toks}, i, i + 2), ' ')))
     ELSE [array_to_string({toks}, ' ')]
END
"""


def _duck_shingles(toks_expr: str) -> str:
    return _DUCK_SHINGLES.format(toks=toks_expr)


_DUCK_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x != '')"


# --- exact dedup ---------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups on the canonical token-set hash: catches
    byte-identical AND word-order-shuffled duplicates. Returns one row
    per content group: canonical (min) id, group size."""
    key = F.md5(F.array_join(F.sort_array(F.array_distinct(tokens(text_col))), " "))
    return (
        df.select(F.col(id_col), key.alias("content_key"))
        .groupBy("content_key")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


EXACT_ORACLE = f"""
SELECT
  md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS content_key,
  min(doc_id) AS keep_id,
  COUNT(*) AS n_dups
FROM documents
GROUP BY 1
"""


@query("dedup_exact_content_hash", oracle=EXACT_ORACLE, tags=("dedup", "llm", "flagship"))
def dedup_exact_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (token-set canonical form)."""
    return exact_dedup(load(spark, sf_dir, "documents"))


# --- n-gram Jaccard ------------------------------------------------------


def ngram_jaccard_pairs_bruteforce(
    df: DataFrame, threshold: float, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ threshold, O(n²) — correct at
    any size but only *affordable* as the verifier on candidate pairs
    or on oracle-scale corpora; the scale path is minhash_lsh_pairs.

    The shingle table's lineage is cut (``localCheckpoint``): the
    optimizer otherwise inlines the tokenize+shingle expression past the
    theta join and recomputes it once per PAIR instead of once per doc
    (interpreted HOFs, no CSE) — measured 2× on the bounded fixture.
    Built via :func:`shingle_table` so the cut pays tokenize once per
    row, not once per shingle index (round 5: 3.07 → 0.32 s/sf0.1). The
    cut is lazy and its blocks live as long as the returned frame."""
    sh = shingle_table(df, text_col, id_col, n).localCheckpoint(eager=False)
    a = sh.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return _with_jaccard(a.join(b, F.col("doc_a") < F.col("doc_b"))).filter(
        F.col("jaccard") >= threshold
    )


NGRAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS id, {_duck_shingles(_DUCK_TOKS)} AS sh
  FROM documents
  WHERE doc_id % CAST(ceil((SELECT COUNT(*) FROM documents) / 320.0) AS BIGINT) = 0
)
SELECT
  a.id AS doc_a,
  b.id AS doc_b,
  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
"""


@query("dedup_ngram_jaccard_pairs", oracle=NGRAM_ORACLE, tags=("dedup", "llm"))
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs (J ≥ 0.5), exact pairwise — the
    BRUTE-FORCE fixture, SF-adaptively bounded: above ~320 docs both
    engines apply the identical deterministic modulus sample
    (doc_id % ceil(N/320) = 0), keeping the O(n²) fixture at a fixed
    ≤~50k-pair budget at any corpus size (7.4 min unbounded at sf0.1;
    ~2 s bounded — the pair verify is interpreted HOF work, so the
    budget prices pairs, not rows). The full-corpus scale path is
    minhash_lsh_pairs; this entry exists to pin exact-Jaccard
    semantics."""
    d = load(spark, sf_dir, "documents")
    import math

    m = max(1, math.ceil(d.count() / 320.0))
    return ngram_jaccard_pairs_bruteforce(d.filter(F.col("doc_id") % m == 0), 0.5)


# --- MinHash + LSH -------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
) -> DataFrame:
    """(id, sh, mh): shingle set + k-minhash signature per document.

    The per-row stage of MinHash — zero shuffle, so it composes into
    both the batch pair-finder (`minhash_lsh_pairs`) and the
    decontamination index builders. Column expressions only: the
    shingles are bound behind `shingle_table`'s exchange and one
    aggregate pass hashes them (`minhash`), the same hash family as the
    streaming LSH index (`streaming.incremental_neardup.lsh_signatures`)."""
    sh = shingle_table(df, text_col, id_col, n)
    return sh.select("id", "sh", minhash("sh", num_hashes).alias("mh"))


def minhash(sh: str, num_hashes: int = 32) -> Column:
    """The k-minhash signature of the shingle-array column ``sh``.

    One generated-SQL expression instead of a Python loop of Column
    calls: the loop form (F.array of num_hashes F.xxhash64 columns
    inside the fold lambda) cost ~250 py4j round trips per call —
    profiled at ~0.5 s of DRIVER time per minhash_signatures call,
    ~1/3 of contamination_neardup_eval's bench median (r8). The SQL
    string parses JVM-side in one round trip and produces the
    identical expression tree: integer literals `{i}` are
    IntegerType exactly like F.lit(i), so every xxhash64 value — and
    therefore every signature, band key, and candidate set — is
    bit-identical to the loop form (pinned by
    tests/test_operators_quality.py::test_minhash_expr_form_identical)."""
    hashes = ", ".join(f"xxhash64(s, {i})" for i in range(num_hashes))
    return F.expr(
        f"aggregate(`{sh}`, array_repeat(CAST(9223372036854775807 AS BIGINT), {num_hashes}), "
        f"(acc, s) -> zip_with(acc, array({hashes}), (x, y) -> least(x, y)))"
    )


def band_buckets(
    sig: DataFrame, num_hashes: int = 32, rows_per_band: int = 2
) -> DataFrame:
    """(id, band, h): classic LSH banding — hash each run of
    ``rows_per_band`` consecutive minhashes into one bucket key.
    Candidate pairs are docs sharing any (band, h); per-row explode,
    no shuffle until the consumer joins on the key."""
    return sig.select(
        "id", F.posexplode(band_keys("mh", num_hashes, rows_per_band)).alias("band", "h")
    )


def band_keys(mh: str, num_hashes: int = 32, rows_per_band: int = 2) -> Column:
    """The array of LSH band keys of the signature column ``mh``: key
    ``b`` hashes minhashes ``b * rows_per_band`` onward, so a band's
    position in the array is its band number.

    Generated-SQL form for the same reason as `minhash`: the
    Column-loop built n_bands * (rows_per_band + 1) py4j calls (~50
    round trips, ~0.1 s driver time per call); one expr string parses
    in one. element_at/xxhash64 arities and argument types are
    unchanged, so band keys are bit-identical."""
    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    keys = ", ".join(
        "xxhash64("
        + ", ".join(
            f"element_at(`{mh}`, {b * rows_per_band + j + 1})" for j in range(rows_per_band)
        )
        + ")"
        for b in range(num_hashes // rows_per_band)
    )
    return F.expr(f"array({keys})")


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int = 1000,
    rows_per_band: int = 2,
) -> DataFrame:
    """Near-dup pairs via MinHash+LSH with exact-Jaccard verification.

    Pipeline: shingle → k minhash signatures (per-row, zero shuffle) →
    band buckets of ``rows_per_band`` consecutive minhashes hashed
    into one key (b = k/r bands; candidate probability 1-(1-J^r)^b —
    r=2, k=32 gives recall 1-(1-0.64)^16 ≈ 1-7e-8 at J=0.8 while
    cutting coincidental single-hash collisions quadratically) →
    per-bucket self-join for candidates (hot buckets capped at
    ``max_bucket`` docs — a bucket that large is a stop-shingle
    artifact, not a dup cluster) → exact shingle-Jaccard verification
    ≥ threshold, so the output has NO false positives; recall is the
    LSH catch probability above.
    """
    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    # All k minhashes in ONE pass that references the shingle array
    # exactly once. The naive per-hash form (k ×
    # array_min(transform(sh, …))) is 10× slower: CollapseProject
    # inlines the whole shingling expression into each of the k
    # minhash expressions, so tokenize+shingle work runs k times/row.
    sig = minhash_signatures(df, text_col, id_col, num_hashes, n)
    # The signature table feeds three consumers (bucketing, and both
    # sides of the verify join); cut its lineage so shingling+hashing
    # runs once — at 100 TB this is the classic two-phase layout where
    # the signature table would be written out before the join phase.
    sig = sig.localCheckpoint(eager=False)
    buckets = band_buckets(sig, num_hashes, rows_per_band)
    bucket_sizes = buckets.groupBy("band", "h").agg(F.count("*").alias("bn"))
    # Every (band, h)-keyed join below is pinned shuffle_hash: the
    # banded table AND the per-bucket size table both scale with the
    # corpus (#docs × n_bands rows / #distinct buckets), so neither
    # may sit on a broadcast build side — the r12 path-scoped lint
    # caught the local threshold broadcasting the full banded table
    # into the bucket self-join (the sibling-branch hole ADVICE r12
    # predicted: the capped-size branch's aggregate exonerated the
    # whole subtree). Shuffle on the bucket key is the documented
    # shape ("per-bucket self-join"); hash over merge because bucket
    # keys need no sort and hot buckets are already capped.
    buckets = buckets.join(
        bucket_sizes.filter(F.col("bn") <= max_bucket).hint("shuffle_hash"),
        ["band", "h"],
    )
    a = buckets.select(F.col("band"), F.col("h"), F.col("id").alias("doc_a"))
    b = buckets.select(F.col("band"), F.col("h"), F.col("id").alias("doc_b"))
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sh_a = sig.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sig.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # Verification joins build from the CANDIDATE side (bounded by the
    # collision count) and stream the corpus-sized signature table —
    # the r11 audit caught the local threshold doing the opposite:
    # broadcasting the full (id, shingles) table TWICE, the one
    # structure that cannot be resident at 100 TB. shuffle_hash keyed
    # on the doc id: sig is high-cardinality and skew-free, candidates
    # hash small per partition, no sort of the shingle arrays.
    enriched = cand.hint("shuffle_hash").join(sh_a, "doc_a")
    pairs = enriched.hint("shuffle_hash").join(sh_b, "doc_b")
    return _with_jaccard(pairs).filter(F.col("jaccard") >= threshold)


MINHASH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS id, {_duck_shingles(_DUCK_TOKS)} AS sh
  FROM documents
)
SELECT
  a.id AS doc_a,
  b.id AS doc_b,
  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
"""


@query("dedup_minhash_lsh_pairs", oracle=MINHASH_ORACLE, tags=("dedup", "llm", "flagship"))
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs at J ≥ 0.8, verified exactly.

    Oracle is the brute-force pair set: the LSH output equals it
    whenever no true pair is missed (miss probability ≤ (1-0.8)^16 ≈
    7e-12 per pair) — the oracle checks recall, the verify step
    guarantees precision."""
    return minhash_lsh_pairs(load(spark, sf_dir, "documents"), threshold=0.8)


# --- cluster + keep-canonical (the full dedup pipeline) -------------------

# Label-propagation rounds `connected_components` may run before it
# raises: O(log diameter) rounds converge any corpus-sized path well
# inside it. A module constant, not a parameter; tests lower it.
CC_MAX_ROUNDS = 50


def connected_components(edges: DataFrame, node_col_a: str = "doc_a", node_col_b: str = "doc_b") -> DataFrame:
    """Connected components over an undirected pair list by iterative
    min-label propagation WITH pointer jumping: every node's label
    converges to the minimum node id in its component. Returns
    (node, component).

    Scale: each iteration is two joins + a groupBy on the edge list
    (shuffle on node id). Plain 1-hop min-propagation needs diameter
    rounds — a 300-doc duplicate CHAIN (each doc near-identical to
    the next) would need 300 Spark jobs and blow any iteration cap.
    The pointer-jumping step (label ← label-of-label, the classic
    Shiloach-Vishkin / hash-to-min halving) doubles the distance a
    minimum travels per round, so convergence is O(log diameter):
    ~9 rounds for that 300-chain, ~30 for a corpus-sized path. The
    rounds run on ``plans.recursive.fixpoint_rounds``: each round is
    checkpointed once and carries every node's label from the start of
    the round (``prev``), so the stop test is a filter on that
    checkpoint. The symmetric edge list is checkpointed before the node
    set is derived from it, so the upstream pair plan runs once. Raises
    ``RuntimeError`` if labels still change in round ``CC_MAX_ROUNDS``:
    unconverged labels would split components silently.
    """
    sym = (
        edges.select(F.col(node_col_a).alias("a"), F.col(node_col_b).alias("b"))
        .union(edges.select(F.col(node_col_b).alias("a"), F.col(node_col_a).alias("b")))
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()

    def propagate(rounds: list[DataFrame]) -> DataFrame:
        labels = rounds[-1].select("node", F.col("component").alias("prev"))
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(sym.a.alias("node2"))
            .agg(F.min("prev").alias("nbr_min"))
        )
        hopped = labels.join(
            neighbor_min, labels.node == F.col("node2"), "left"
        ).select(
            "node",
            "prev",
            F.least(F.col("prev"), F.coalesce(F.col("nbr_min"), F.col("prev"))).alias("component"),
        )
        # pointer jump: component ← component's own component. Labels
        # always point INTO the same component (they start as self and
        # only ever move to a neighbor's current label), so composing
        # two label hops stays inside the component while doubling how
        # far the minimum has propagated.
        parent = hopped.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        return hopped.join(parent, hopped.component == F.col("p_node"), "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
            ).alias("component"),
            "prev",
        )

    rounds = fixpoint_rounds(
        nodes.withColumn("component", F.col("node")),
        propagate,
        F.col("component") != F.col("prev"),
        CC_MAX_ROUNDS,
        "connected_components: labels still changing after CC_MAX_ROUNDS",
    )
    return rounds[-1].select("node", "component")


def minhash_dedup_keep(df: DataFrame, threshold: float = 0.8, **kwargs) -> DataFrame:
    """The end-to-end near-dedup pipeline: LSH pairs → connected
    components → keep the minimum doc_id per component. Returns every
    doc with its canonical id and a keep flag — filter ``is_kept`` to
    materialize the deduplicated corpus."""
    id_col = kwargs.get("id_col", "doc_id")
    pairs = minhash_lsh_pairs(df, threshold=threshold, **kwargs)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    return (
        df.select(F.col(id_col))
        .join(comp, F.col(id_col) == comp.node, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("canonical_id"),
        )
        .withColumn("is_kept", F.col(id_col) == F.col("canonical_id"))
    )


KEEP_ORACLE = f"""
WITH RECURSIVE
sh AS (
  SELECT doc_id AS id, {_duck_shingles(_DUCK_TOKS)} AS sh
  FROM documents
),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS r FROM documents
  UNION
  SELECT reach.node, edges.b
  FROM reach JOIN edges ON edges.a = reach.r
)
SELECT
  node AS doc_id,
  MIN(r) AS canonical_id,
  node = MIN(r) AS is_kept
FROM reach
GROUP BY node
"""


@query("dedup_minhash_keep_canonical", oracle=KEEP_ORACLE, tags=("dedup", "llm", "flagship"))
def dedup_minhash_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline: near-dup clusters (LSH → components) with
    the min-id doc kept per cluster; the DuckDB oracle recomputes the
    same clusters with a recursive transitive closure over brute-force
    Jaccard pairs."""
    return minhash_dedup_keep(load(spark, sf_dir, "documents"), threshold=0.8)


CC_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS k
  FROM documents
),
grp AS (
  SELECT k, min(doc_id) AS component, count(*) AS n FROM g GROUP BY k
)
SELECT g.doc_id AS node, grp.component AS component
FROM g JOIN grp USING (k)
WHERE grp.n >= 2
"""


@query("dedup_connected_components", oracle=CC_ORACLE, tags=("dedup", "llm", "graph"))
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster resolution as an explicit driver entry (VERDICT r5
    #6): connected components over a pair list, labeled with each
    component's minimum doc id.

    The edge list is built as a PATH through every exact-duplicate
    group (consecutive doc_ids under the token-set content key, via a
    ``lead`` window) — deliberately the worst case for label
    propagation: the corpus has a 29-doc group at sf0.01, so the
    minimum must travel 28 hops, which only converges inside the
    iteration cap because of the pointer-jumping step (O(log d)
    rounds). The oracle is closed-form — a path through a group keeps
    the group connected, so component == min(doc_id) per content key,
    no recursion needed — which makes the multi-hop iterative path
    hash-checkable at driver strictness."""
    docs = load(spark, sf_dir, "documents")
    key = F.md5(F.array_join(F.sort_array(F.array_distinct(tokens("text"))), " "))
    w = Window.partitionBy("k").orderBy("doc_id")
    edges = (
        docs.select("doc_id", key.alias("k"))
        .withColumn("nxt", F.lead("doc_id").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("doc_a"), F.col("nxt").alias("doc_b"))
    )
    return connected_components(edges).orderBy("node")


# --- SimHash -------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id_col, simhash): 64-bit SimHash over distinct tokens, as a
    bigint. Near-dups have small Hamming distance between signatures.

    Bit source: md5, a hash primitive Spark and DuckDB share, so an
    external engine reproduces the signature bit for bit
    (`dedup_simhash_signatures`). A token's 64 bits are md5's first 16
    hex digits read as one signed long: bit k is bit k % 4 of hex digit
    15 - k // 4, so the signature's 16-digit hex rendering is the
    per-digit construction the DuckDB oracle builds.

    Shape (round 4): explode distinct tokens, hash each token ONCE, and
    take the 64 bit-sums as integer SUM aggregates over one doc-key
    shuffle — whole-stage codegen end to end, and the shape that
    survives 100 TB (one shuffle keyed by doc, constant 64-column
    state). The previous column form ran 64 interpreted
    ``F.aggregate`` passes per row, each re-running tokenization and
    the hash over every token. Zero-token documents (explode drops
    them) rejoin with signature 0, the all-zero signature DuckDB gives
    an empty token list."""
    toks = F.array_distinct(tokens(text_col))
    t = df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("tok")).withColumn(
        "__h", F.expr("CAST(conv(substr(md5(tok), 1, 16), 16, -10) AS BIGINT)")
    )
    # expressions as SQL strings: building 64 aggregates through the
    # Column API costs ~500 py4j round trips (~1.5 s of driver-side
    # plan construction per query); F.expr is one call per aggregate
    aggs = [
        F.expr(f"CAST(SUM(((__h >> {j}) & 1) * 2 - 1) AS BIGINT)").alias(f"__s{j}")
        for j in range(64)
    ]
    assemble = " + ".join(
        f"CAST(__s{j} > 0 AS BIGINT) * {2**j if j < 63 else -(2**63)}"
        for j in range(64)
    )
    sigs = (
        t.groupBy("__id")
        .agg(*aggs)
        .select("__id", F.expr(f"CAST({assemble} AS BIGINT)").alias("simhash"))
    )
    ids = df.select(F.col(id_col).alias("__id"))
    # corpus ⋈ corpus zero-token rejoin: the aggregated signature side
    # still scales with the corpus, so pin shuffle_hash on the id
    # rather than let the local threshold broadcast it (r12 lint)
    return (
        ids.join(sigs.hint("shuffle_hash"), "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("simhash", F.lit(0).cast("bigint")).alias("simhash"),
        )
    )


def _simhash_hex_duck() -> str:
    toks = f"list_distinct({_DUCK_TOKS})"
    digits = []
    for d in range(16):
        bit_terms = []
        for j in range(4):
            s = (
                f"list_sum(list_transform({toks}, t -> "
                f"(((strpos('0123456789abcdef', substr(md5(t), {d + 1}, 1)) - 1) // {2**j}) % 2) * 2 - 1))"
            )
            bit_terms.append(f"(CASE WHEN {s} > 0 THEN {2**j} ELSE 0 END)")
        digit = " + ".join(bit_terms)
        digits.append(f"substr('0123456789abcdef', ({digit}) + 1, 1)")
    return " || ".join(digits)


SIMHASH_ORACLE = f"""
SELECT doc_id, {_simhash_hex_duck()} AS simhash_hex
FROM documents
"""


@query("dedup_simhash_signatures", oracle=SIMHASH_ORACLE, tags=("dedup", "llm", "hash"))
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (`simhash`) rendered as 16 lowercase hex
    digits, verified bit-for-bit against the same md5-bit construction
    in DuckDB."""
    return simhash(load(spark, sf_dir, "documents")).select(
        "doc_id", F.expr("lower(lpad(hex(simhash), 16, '0'))").alias("simhash_hex")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair whose SimHash signatures
    differ in at most ``max_hamming`` bits.

    Candidates by BLOCK-PAIR keying (Manku, Jain & Das Sarma, WWW 2007
    §3): split the 64-bit signature into 6 blocks (11,11,11,11,10,10
    bits via shift/mask) and key each of the C(6,2)=15 tables on the
    CONCATENATION of two blocks (20–22-bit keys). Pigeonhole: ≤4 bit
    errors damage ≤4 blocks, so ≥2 blocks survive intact and some PAIR
    of intact blocks agrees — recall 1.0 for
    max_hamming ≤ n_blocks−2 = 4. Then an exact ``bit_count(xor)``
    verify on the two signatures, so the output has no false positives.
    Same shuffle shape as MinHash LSH: per-row signatures, band-bucket
    equi-join, cheap exact verify (two longs per pair, no arrays
    shipped).

    Why block pairs: contiguous 4×16-bit bands key on a FIXED
    ≤65k-value space per table, so bucket occupancy — and the
    Σ bucket² candidate mass behind the verify join — grows
    QUADRATICALLY with the corpus (r12 measured 18× wall for 8× docs).
    The block-pair keys' larger key space holds it ~linear (SCALE.md);
    15 exploded rows/doc instead of 4 is the linear price."""
    # (offset, width) in bits, LSB-first; widths sum to 64
    blocks = [(0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)]
    if max_hamming > len(blocks) - 2:
        raise ValueError("block-pair pigeonhole needs max_hamming <= n_blocks - 2")
    from itertools import combinations

    def _blk(off: int, w: int) -> Column:
        return F.shiftrightunsigned("simhash", off).bitwiseAND(F.lit((1 << w) - 1))

    # concatenate two blocks into one ≤22-bit long: hi << w_lo | lo
    band_vals = F.array(
        *[
            F.shiftleft(_blk(oi, wi), wj).bitwiseOR(_blk(oj, wj))
            for (oi, wi), (oj, wj) in combinations(blocks, 2)
        ]
    )
    # the signature table feeds the bucketing and both verify joins: cut
    # its lineage so the hashing runs once
    sig = simhash(df, text_col, id_col).withColumnRenamed(id_col, "id")
    sig = sig.localCheckpoint(eager=False)
    buckets = sig.select("id", F.posexplode(band_vals).alias("band", "h"))
    a = buckets.select("band", "h", F.col("id").alias("doc_a"))
    b = buckets.select("band", "h", F.col("id").alias("doc_b"))
    # Same pins as minhash_lsh_pairs (r12 path-scoped lint finding):
    # the banded table is corpus-sized — the bucket self-join shuffles
    # on the bucket key, and the verify joins build from the BOUNDED
    # candidate set, streaming the corpus-sized signature table.
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(F.col("id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sig.select(F.col("id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        cand.hint("shuffle_hash").join(sa, "doc_a")
        .hint("shuffle_hash").join(sb, "doc_b")
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("bigint")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_pairs_oracle(max_hamming: int = 3, n_bands: int = 4) -> str:
    width = 16 // n_bands
    sig_expr = _simhash_hex_duck()
    band_exprs = ", ".join(
        f"substr(sig, {b * width + 1}, {width})" for b in range(n_bands)
    )
    ham = (
        "list_sum(list_transform(range(1, 17), i -> "
        "bit_count(xor(strpos('0123456789abcdef', substr(sig_a, CAST(i AS INT), 1)) - 1, "
        "strpos('0123456789abcdef', substr(sig_b, CAST(i AS INT), 1)) - 1))))"
    )
    return f"""
WITH s AS (
  SELECT doc_id, {sig_expr} AS sig FROM documents
), b AS (
  SELECT doc_id, sig, unnest([{band_exprs}]) AS h,
         unnest(range({n_bands})) AS band
  FROM s
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         a.sig AS sig_a, c.sig AS sig_b
  FROM b a JOIN b c ON a.band = c.band AND a.h = c.h AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
FROM cand
WHERE {ham} <= {max_hamming}
"""


@query(
    "dedup_simhash_neardup_pairs",
    oracle=_simhash_pairs_oracle(),
    tags=("dedup", "llm", "hash"),
)
def dedup_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3, block-pair keys): exact
    recall by pigeonhole, bit-count verify. Fully oracle-checked: DuckDB
    builds the same md5-bit signatures and finds candidates with a
    DIFFERENT complete generator (contiguous 4×16-bit bands), so equal
    results pin both the signatures and the recall."""
    return simhash_neardup_pairs(load(spark, sf_dir, "documents"))


# --- asymmetric containment (quote / subset detection) --------------------

CONTAINMENT_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS id, {_duck_shingles(_DUCK_TOKS)} AS sh
  FROM documents
  WHERE doc_id % CAST(ceil((SELECT COUNT(*) FROM documents) / 320.0) AS BIGINT) = 0
)
SELECT
  a.id AS doc_a,
  b.id AS doc_b,
  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS containment
FROM sh a JOIN sh b ON a.id != b.id
WHERE len(a.sh) > 0
  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.8
"""


@query("dedup_containment_pairs", oracle=CONTAINMENT_ORACLE, tags=("dedup", "llm"))
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment |A∩B| / |A| ≥ 0.8 over ordered
    pairs: catches a document that is mostly CONTAINED in another
    (quotes, excerpts, nested duplicates) even when symmetric Jaccard
    is low because the container is much longer — the containment
    variant of near-dedup (Broder 1997 distinguishes resemblance vs
    containment). Same deterministic modulus budget and single-eval
    intersect as the Jaccard fixture; the scale path reuses MinHash
    bucket candidates with this as the verify predicate."""
    import math

    d = load(spark, sf_dir, "documents")
    m = max(1, math.ceil(d.count() / 320.0))
    sh = shingle_table(d.filter(F.col("doc_id") % m == 0), "text", "doc_id", 3)
    sh = sh.localCheckpoint(eager=False)
    a = sh.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    sized = (
        a.join(b, F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double").alias("__i"),
            F.size("sh_a").alias("__na"),
        )
        .filter(F.col("__na") > 0)
    )
    return sized.select(
        "doc_a", "doc_b", (F.col("__i") / F.col("__na")).alias("containment")
    ).filter(F.col("containment") >= 0.8)
