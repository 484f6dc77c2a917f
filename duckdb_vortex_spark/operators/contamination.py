"""Cross-corpus contamination detection (SURVEY.md §2C north-star).

The train/test-overlap question every large-scale training pipeline
has to answer: which corpus partitions (here: ``documents.source``)
share verbatim n-gram content? Implemented as shingle inverted-index
self-join — the same join shape as MinHash-LSH candidate generation
(dedup.py), but aggregated to the corpus-pair level instead of the
document level.

Scale design (100 TB): the exploded (source, shingle) index is built
map-side and deduplicated with one hash shuffle keyed by shingle;
hot "stop shingles" (present in more than ``max_sources`` partitions)
are dropped *before* the self-join — they carry no contamination
signal and are exactly the keys that would skew the join (a shingle
in k sources contributes k² candidate rows). The surviving join is
bounded by rare keys, and the final aggregate is one pair-keyed
hash agg over at most |sources|² rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from .dedup import (
    _DUCK_TOKS,
    _duck_shingles,
    _with_jaccard,
    band_buckets,
    minhash_signatures,
    shingle_table,
    shingles_from_tokens,
)
from .text import tokens


def cross_source_shared_shingles(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    max_sources: int = 10,
) -> DataFrame:
    """Per pair of groups: count of distinct n-gram shingles present in
    both — the corpus-level contamination matrix."""
    # One shuffle, no self-join: group by shingle collecting its source
    # SET (collect_set dedups, so no pre-distinct pass), drop stop
    # shingles, then expand each shingle's ordered source pairs
    # map-side. Each shingle row contributes every pair exactly once,
    # so a plain count IS the distinct-shingle count — the previous
    # formulation (inverted-index self-join + countDistinct) computed
    # the same matrix with 5 shuffles and a pair-explosion join.
    # Tokenize ONCE per row behind an EXCHANGE barrier: Catalyst inlines
    # expression trees into per-index lambdas (no CSE), so building
    # shingles straight off tokens(text) re-runs split+filter per
    # shingle — 5× slower (see shingles() docstring). A round-robin
    # repartition materializes the tokenized projection into shuffle
    # files (compute-once) WITHOUT pinning the full tokenized corpus in
    # executor memory the way persist() does — at 100 TB the persist is
    # a standing memory tax, the exchange is streamed local disk.
    spark = df.sparkSession
    tk = df.select(
        F.col(group_col).alias("src"), tokens(text_col).alias("toks")
    ).repartition(spark.sparkContext.defaultParallelism)
    sh = tk.select(
        "src", F.explode(shingles_from_tokens("toks", n)).alias("sh")
    )
    sets = (
        sh.groupBy("sh")
        .agg(F.collect_set("src").alias("srcs"))
        .filter((F.size("srcs") >= 2) & (F.size("srcs") <= max_sources))
    )
    s = F.array_sort(F.col("srcs"))
    pairs = F.flatten(
        F.transform(
            s,
            lambda x, i: F.transform(
                F.slice(s, i + 2, F.size(s)),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count("*").alias("n_shared"))
    )


CONTAMINATION_ORACLE = f"""
WITH t AS (
  SELECT source, {_duck_shingles(_DUCK_TOKS)} AS sh FROM documents
), e AS (
  SELECT DISTINCT source AS src, unnest(sh) AS s FROM t
), f AS (
  SELECT s FROM e GROUP BY s HAVING COUNT(DISTINCT src) <= 10
), g AS (
  SELECT e.src, e.s FROM e JOIN f USING (s)
)
SELECT a.src AS src_a, b.src AS src_b, COUNT(DISTINCT a.s) AS n_shared
FROM g a JOIN g b ON a.s = b.s AND a.src < b.src
GROUP BY 1, 2
"""


@query(
    "contamination_cross_source",
    oracle=CONTAMINATION_ORACLE,
    tags=("dedup", "llm", "join"),
)
def contamination_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination matrix over the documents corpus: distinct
    3-gram shingles shared per source pair, stop-shingle-filtered
    (see module docstring for the skew analysis)."""
    d = load(spark, sf_dir, "documents")
    return cross_source_shared_shingles(d, "source", "text", n=3, max_sources=10)


# --- benchmark decontamination (removal) ----------------------------------

DECONTAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {_duck_shingles(_DUCK_TOKS)} AS sh FROM documents
), eval_sh AS (
  SELECT DISTINCT unnest(sh) AS s FROM t WHERE source = 'src0'
), train AS (
  SELECT doc_id, source, unnest(sh) AS s FROM t WHERE source <> 'src0'
), hits AS (
  SELECT tr.doc_id, COUNT(DISTINCT tr.s) AS n_shared
  FROM train tr JOIN eval_sh e ON e.s = tr.s
  GROUP BY tr.doc_id
)
SELECT t.doc_id, t.source,
       CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_shingles,
       h.doc_id IS NULL AS is_kept
FROM t LEFT JOIN hits h ON h.doc_id = t.doc_id
WHERE t.source <> 'src0'
"""


@query(
    "contamination_eval_removal",
    oracle=DECONTAM_ORACLE,
    tags=("llm", "dedup", "join"),
)
def contamination_eval_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION as a removal op (the GPT-3 appendix-C
    / PaLM procedure): any training document sharing at least one
    3-gram shingle with the held-out set (source 'src0' stands in for
    the benchmark) is flagged out of the corpus; the shared-shingle
    count rides along for auditability. Complements
    contamination_cross_source, which SCORES source pairs — this one
    produces the cleaned training corpus against a designated eval
    set.

    Scale: eval sets are small by nature, so the eval shingle set is
    the classic broadcast side (here it flows through a hash join on
    the shingle key — one shuffle of the training shingles, no
    pairwise work); training docs never join each other. At 100 TB
    the eval shingle set (~10⁵ rows) broadcasts and the whole op is
    map-side."""
    d = load(spark, sf_dir, "documents")
    spark_ctx = d.sparkSession
    tk = d.select("doc_id", "source", tokens("text").alias("toks")).repartition(
        spark_ctx.sparkContext.defaultParallelism
    )
    sh = tk.select(
        "doc_id", "source", F.explode(shingles_from_tokens("toks", 3)).alias("s")
    )
    eval_sh = sh.filter(F.col("source") == "src0").select("s").distinct()
    train = sh.filter(F.col("source") != "src0")
    hits = (
        train.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared"))
        .withColumnRenamed("doc_id", "hit_id")
    )
    base = tk.filter(F.col("source") != "src0").select("doc_id", "source")
    return base.join(hits, base.doc_id == F.col("hit_id"), "left").select(
        "doc_id",
        "source",
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared_shingles"),
        F.col("hit_id").isNull().alias("is_kept"),
    )


# --- fuzzy (near-dup) decontamination -------------------------------------


def neardup_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 32,
    n: int = 3,
    rows_per_band: int = 2,
) -> DataFrame:
    """FUZZY benchmark decontamination: flag every training document
    whose shingle-Jaccard similarity to ANY eval document reaches
    ``threshold``. Exact n-gram removal (`contamination_eval_removal`)
    misses lightly-edited eval leakage — paraphrased prompts, reflowed
    whitespace, a swapped sentence; MinHash-LSH against the eval set
    catches those (the Llama/GPT-4-report style "near-dedup vs the
    benchmark" pass). Returns (id, max_jaccard, is_kept) — one row per
    training document, ``max_jaccard`` = 0.0 when nothing matched.

    100 TB shape: eval sets are tiny and the corpus is not, so nothing
    corpus-sized is persisted or joined pairwise —
      * eval signatures are computed once, PERSISTED (the index is
        eval-set-sized — small by nature), and BROADCAST twice (band
        buckets for candidates, shingle arrays for verification).
        Without the persist the eval tokenize+minhash subtree ran
        inside BOTH broadcast-build jobs, racing the corpus-sized main
        DAG for task slots — measured at sf0.1 (r8, n=10 warm):
        median 0.77 s spread 2.2 unpinned → median 0.65 s spread 0.16
        pinned, which also names the r7 BENCH_SPREADS 0.98-spread
        finding: broadcast-build jobs recomputing the eval subtree
        under thread contention, not any keyed stage;
      * training signatures feed the broadcast bucket join without a
        key shuffle — the one corpus-sized exchange is shingle_table's
        round-robin tokenize-once barrier (streamed shuffle files, not
        a keyed repartition; see its docstring for why the barrier
        beats recompute), after which candidate generation is map-side;
      * exact verification re-shingles ONLY candidate training docs
        (semi-join prune before the shingle explode), joined against
        the broadcast eval shingle arrays;
    the only KEYED shuffles are the candidate-pair distinct and the
    final per-doc max — both bounded by the (rare) collision count,
    not the corpus. LSH miss probability per true pair at J >= 0.8 is
    (1 - 0.8^2)^16 ~ 8e-8, same banding regime as
    `dedup_minhash_lsh_pairs`."""
    # Eager localCheckpoint, not persist(): same barrier (the eval
    # tokenize+minhash subtree runs exactly once, both broadcast builds
    # read the materialized blocks — the r8 spread fix), but the blocks
    # are NOT registered in the CacheManager, so once the caller drops
    # the returned frame the ContextCleaner reclaims them. A bare
    # persist() here leaked one cached eval-index per call in long
    # sessions (ADVICE r8); the index is eval-set-sized, so the eager
    # materialization job is trivial.
    esig = minhash_signatures(
        eval_df, text_col, id_col, num_hashes, n
    ).localCheckpoint(eager=True)
    return decontaminate_against_index(
        train,
        esig,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        n=n,
        rows_per_band=rows_per_band,
    )


def decontaminate_against_index(
    train: DataFrame,
    esig: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 32,
    n: int = 3,
    rows_per_band: int = 2,
) -> DataFrame:
    """`neardup_decontaminate` against a PRECOMPUTED eval signature
    index ``esig = (id, sh, mh)`` — the build-once/search-many form the
    incremental ingest gate uses (`streaming.incremental_decontam`
    lands the index as a vortex dataset once and reloads it per
    micro-batch). Same candidate/verify plan; the eval tokenize+minhash
    subtree is simply absent."""
    ebuck = band_buckets(esig, num_hashes, rows_per_band).withColumnRenamed(
        "id", "doc_b"
    )
    tsig = minhash_signatures(train, text_col, id_col, num_hashes, n)
    tbuck = band_buckets(tsig.select("id", "mh"), num_hashes, rows_per_band)
    cand = (
        tbuck.join(F.broadcast(ebuck.select("band", "h", "doc_b")), ["band", "h"])
        .select(F.col("id").alias("doc_a"), "doc_b")
        .distinct()
    )
    cand_train = train.join(
        cand.select(F.col("doc_a").alias(id_col)).distinct(), id_col, "left_semi"
    )
    tsh = shingle_table(cand_train, text_col, id_col, n).select(
        F.col("id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    esh = esig.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    hits = (
        _with_jaccard(cand.join(tsh, "doc_a").join(F.broadcast(esh), "doc_b"))
        .filter(F.col("jaccard") >= threshold)
        .groupBy("doc_a")
        .agg(F.max("jaccard").alias("max_jaccard"))
    )
    return train.select(F.col(id_col).alias("id")).join(
        hits, F.col("id") == F.col("doc_a"), "left"
    ).select(
        "id",
        F.coalesce(F.col("max_jaccard"), F.lit(0.0)).alias("max_jaccard"),
        F.col("doc_a").isNull().alias("is_kept"),
    )


NEARDUP_DECONTAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {_duck_shingles(_DUCK_TOKS)} AS sh FROM documents
), hits AS (
  SELECT a.doc_id, MAX(
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         ) AS mj
  FROM t a JOIN t b ON b.source = 'src0' AND a.source <> 'src0'
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
  GROUP BY a.doc_id
)
SELECT t.doc_id, t.source,
       COALESCE(h.mj, 0.0) AS max_jaccard,
       h.doc_id IS NULL AS is_kept
FROM t LEFT JOIN hits h USING (doc_id)
WHERE t.source <> 'src0'
"""


@query(
    "contamination_neardup_eval",
    oracle=NEARDUP_DECONTAM_ORACLE,
    tags=("llm", "dedup", "join"),
)
def contamination_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination of the training corpus against the
    designated eval source 'src0': MinHash-LSH candidates vs the
    broadcast eval index, exact Jaccard >= 0.8 verification on
    candidates only (see `neardup_decontaminate` for the 100 TB
    analysis). Oracle is the brute-force train x eval Jaccard join.
    Complements `contamination_eval_removal` (exact shingle overlap):
    the two flags differ exactly on lightly-edited leakage."""
    d = load(spark, sf_dir, "documents")
    out = neardup_decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        threshold=0.8,
    )
    # corpus ⋈ corpus re-attachment of `source`: BOTH sides are one
    # row per training doc, so this must shuffle on the id — the r11
    # audit caught the local threshold broadcasting the (doc_id,
    # source) map, which is corpus-sized and cannot be resident at
    # 100 TB. shuffle_hash over merge: the 64-bit id key is
    # high-cardinality and skew-free, so the per-partition hash build
    # is bounded and neither side pays a sort (A/B at sf0.1: 1.17 vs
    # 1.22 vs 1.24 s unpinned — equal within noise, shape is the point).
    src = d.select("doc_id", "source").hint("shuffle_hash")
    return out.join(src, out.id == src.doc_id).select(
        "doc_id", "source", "max_jaccard", "is_kept"
    )
