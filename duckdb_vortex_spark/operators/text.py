"""Text-analysis operators for training-data pipelines (SURVEY.md §2C
north-star): language ID, quality scoring, token counting, document
fingerprinting. All pure ``pyspark.sql.functions`` column expressions —
JVM-side, whole-stage-codegen'd, zero Python in the hot path — so they
scale to any corpus size as embarrassingly-parallel per-row transforms.

Each operator is both a reusable DataFrame→DataFrame function and a
catalog entry with a DuckDB oracle over the ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load, query

# Stopwords for the quality heuristic: tiny, fixed, English-ish. The
# point is the Spark plumbing (set-membership ratio over tokens), not
# linguistic fidelity.
_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(col) -> Column:
    """Whitespace tokenization; empty strings filtered (parity with
    DuckDB string_split + list_filter).

    Plain-identifier inputs take the generated-SQL fast path: the
    Column/lambda form costs ~15 py4j round trips and tokens() is in
    nearly every text/dedup plan build (same driver-time fix as
    minhash_signatures, r8 — one expr string parses JVM-side in one
    trip). Both forms produce the identical expression tree
    (split pattern '\\\\s+' in SQL text == the raw-string regex;
    pinned by tests/test_operators_quality.py::
    test_token_shingle_expr_forms_identical). The identifier is
    backtick-quoted in the generated SQL: ``str.isidentifier()`` admits
    SQL keywords ('order', 'from') and non-ASCII identifier chars that
    would otherwise fail to parse where the Column form works
    (ADVICE r8); backticks can't appear in a Python identifier, so no
    escaping is needed."""
    if isinstance(col, str) and col.isidentifier():
        return F.expr(f"filter(split(`{col}`, '\\\\s+'), t -> t != '')")
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("bigint")


def word_token_count(col) -> Column:
    """BPE-ish token proxy: count word pieces + standalone punctuation.

    A real BPE vocab isn't in this container; the regex splits on word
    boundaries the way subword tokenizers pre-tokenize, giving a
    deterministic, cheap token-count estimate."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.filter(F.split(c, r"[^0-9A-Za-z]+"), lambda t: t != "")
    ).cast("bigint")


def stopword_ratio(col) -> Column:
    toks = tokens(col)
    stop = F.filter(toks, lambda t: F.lower(t).isin(*_STOPWORDS))
    return (
        F.size(stop).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double")
    )


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def mean_token_len(col) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword
    presence + moderate punctuation + sane mean token length. Formula
    chosen to be exactly expressible in ANSI SQL for the oracle."""
    c = F.col(col) if isinstance(col, str) else col
    len_ok = (F.length(c) >= 100) & (F.length(c) <= 20000)
    stop_ok = stopword_ratio(c) > 0.05
    punct_ok = punct_ratio(c) < 0.2
    tok_ok = mean_token_len(c).between(2.0, 12.0)
    return (
        len_ok.cast("int")
        + stop_ok.cast("int")
        + punct_ok.cast("int")
        + tok_ok.cast("int")
    ).cast("double") / 4.0


def lang_id(col) -> Column:
    """N-gram-heuristic language ID over a closed tag set.

    Deterministic rule cascade on character classes and frequent-word
    hits; returns 'en' / 'xx' (unknown). The testdata corpus is
    synthetic English-ish text, so the interesting property is the
    plumbing: a pure-column cascade a real char-n-gram model would
    slot into (weights as a broadcast map)."""
    c = F.col(col) if isinstance(col, str) else col
    en_hits = F.size(
        F.filter(tokens(c), lambda t: F.lower(t).isin("the", "and", "of", "to", "is"))
    )
    non_ascii = F.length(F.regexp_replace(c, r"[\x00-\x7F]", ""))
    return (
        F.when(non_ascii > F.length(c) * 0.3, "xx")
        .when(en_hits >= 2, "en")
        .otherwise("xx")
    )


def fingerprint(col) -> Column:
    """Document fingerprint: 64-bit hash of the normalized text
    (lowercased, whitespace-collapsed) — the exact-dedup key. xxhash64
    is Spark-native; the oracle uses an md5-prefix equivalent, so the
    catalog entry fingerprints via md5 for cross-engine checkability
    while this helper stays on the faster xxhash64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(_normalized(c))


def _normalized(c: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def md5_fingerprint(col) -> Column:
    """Cross-engine-checkable fingerprint (md5 of normalized text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(_normalized(c))


# --- catalog entries ----------------------------------------------------

TOKEN_ORACLE = """
SELECT
  doc_id,
  len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_tokens,
  len(list_filter(string_split_regex(text, '[^0-9A-Za-z]+'), x -> x != '')) AS n_word_tokens,
  length(text) AS n_chars_computed
FROM documents
"""


@query("text_token_count", oracle=TOKEN_ORACLE, tags=("text", "llm"))
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        word_token_count("text").alias("n_word_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
    )


QUALITY_ORACLE = """
WITH t AS (
  SELECT
    doc_id,
    text,
    list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks,
    length(text) AS n_chars
  FROM documents
),
m AS (
  SELECT
    doc_id,
    n_chars,
    len(toks) AS n_toks,
    len(list_filter(toks, x -> lower(x) IN ('the','a','an','and','or','of','to','in','is','it')))
      AS n_stop,
    length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nonpunct,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS tok_len_sum
  FROM t
)
SELECT
  doc_id,
  CAST(n_stop AS DOUBLE) / greatest(n_toks, 1) AS stopword_ratio,
  CAST(n_chars - n_nonpunct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
  tok_len_sum / greatest(n_toks, 1) AS mean_token_len,
  CAST(
    CAST(n_chars BETWEEN 100 AND 20000 AS INTEGER)
    + CAST(CAST(n_stop AS DOUBLE) / greatest(n_toks, 1) > 0.05 AS INTEGER)
    + CAST(CAST(n_chars - n_nonpunct AS DOUBLE) / greatest(n_chars, 1) < 0.2 AS INTEGER)
    + CAST(tok_len_sum / greatest(n_toks, 1) BETWEEN 2.0 AND 12.0 AS INTEGER)
  AS DOUBLE) / 4.0 AS quality
FROM m
"""


@query("text_quality_score", oracle=QUALITY_ORACLE, tags=("text", "llm", "flagship"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword/token-shape bands
    composed into a [0,1] score. Pure column algebra → codegen."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        stopword_ratio("text").alias("stopword_ratio"),
        punct_ratio("text").alias("punct_ratio"),
        mean_token_len("text").alias("mean_token_len"),
        quality_score("text").alias("quality"),
    )


LANG_ORACLE = """
SELECT
  doc_id,
  lang,
  CASE
    WHEN length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) > length(text) * 0.3 THEN 'xx'
    WHEN len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x != ''),
             x -> lower(x) IN ('the','and','of','to','is'))) >= 2 THEN 'en'
    ELSE 'xx'
  END AS lang_pred
FROM documents
"""


@query("text_language_id", oracle=LANG_ORACLE, tags=("text", "llm"))
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (frequent-word + non-ASCII-ratio cascade)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


FINGERPRINT_ORACLE = """
SELECT
  doc_id,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


@query("text_fingerprint", oracle=FINGERPRINT_ORACLE, tags=("text", "llm", "hash"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (the exact-dedup key)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", md5_fingerprint("text").alias("fingerprint"))


CORPUS_STATS_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
  FROM documents
)
SELECT
  COUNT(*) AS n_docs,
  CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
  (SELECT COUNT(DISTINCT lower(tok)) FROM (SELECT unnest(toks) AS tok FROM t)) AS vocab_size,
  CAST(quantile_cont(len(toks), 0.5) AS DOUBLE) AS p50_tokens,
  CAST(quantile_cont(len(toks), 0.9) AS DOUBLE) AS p90_tokens,
  CAST(MAX(len(toks)) AS BIGINT) AS max_tokens
FROM t
"""


@query("text_corpus_stats", oracle=CORPUS_STATS_ORACLE, tags=("text", "llm", "agg"))
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile: doc/token totals, case-folded vocabulary size,
    exact token-count quantiles — the summary every training-data
    pipeline computes before filtering decisions.

    Scale: token counts per doc are map-only; the vocabulary distinct
    is the one real shuffle (explode → distinct), and the exact
    percentiles aggregate a single long column. At 100 TB vocab_size
    would switch to approx_count_distinct (HLL, no shuffle of raw
    tokens) — kept exact here for the oracle."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint(eager=False)
    counts = toks.select(F.size("toks").cast("bigint").alias("n"))
    vocab = (
        toks.select(F.explode("toks").alias("tok"))
        .select(F.lower("tok").alias("tok"))
        .distinct()
        .count()
    )
    return counts.agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.lit(vocab).cast("bigint").alias("vocab_size"),
        F.percentile("n", F.lit(0.5)).alias("p50_tokens"),
        F.percentile("n", F.lit(0.9)).alias("p90_tokens"),
        F.max("n").alias("max_tokens"),
    )


# --- PII redaction (training-data hygiene) -------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_RE = "https?://[A-Za-z0-9./_-]+"

PII_ORACLE = f"""
WITH p AS (
  SELECT
    doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or https://site'
         || CAST(doc_id % 97 AS VARCHAR) || '.example.com/page now' AS pii_text
  FROM documents
)
SELECT
  doc_id,
  CAST(len(regexp_extract_all(pii_text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(pii_text, '{_URL_RE}')) AS BIGINT) AS n_urls,
  md5(regexp_replace(regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{_URL_RE}', '<URL>', 'g')) AS redacted_md5
FROM p
"""


@query("text_pii_redaction", oracle=PII_ORACLE, tags=("text", "llm"))
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails/URLs with pure JVM-side
    regexp column expressions (no Python in the hot path — the 100 TB
    shape is a per-row map with zero shuffle).

    The corpus is synthetic and PII-free, so a deterministic
    email+URL suffix derived from doc_id is appended first; the
    oracle applies the identical construction and patterns (regex
    subset chosen to behave identically under Java regex and RE2).
    Output carries md5 of the redacted text, not the text itself.
    """
    d = load(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or https://site"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(".example.com/page now"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(pii, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(pii, F.lit(_EMAIL_RE), F.lit(0))).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(pii, F.lit(_URL_RE), F.lit(0))).cast("bigint").alias("n_urls"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --- repetition ratio (quality signal) -----------------------------------

NGRAM_RATIO_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))
              ELSE CAST([] AS VARCHAR[])
         END AS tri
  FROM t
)
SELECT
  doc_id,
  CAST(len(tri) AS BIGINT) AS n_trigrams,
  CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct,
  CASE WHEN len(tri) > 0
       THEN 1 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri)
       ELSE 0.0
  END AS repetition
FROM g
"""


@query("text_distinct_ngram_ratio", oracle=NGRAM_RATIO_ORACLE, tags=("text", "llm"))
def text_distinct_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal: 1 − (distinct trigrams / total
    trigrams) per document. High values flag boilerplate / template
    spam — a standard pretraining-corpus filter. Per-row column
    functions over a token array BOUND behind a round-robin exchange
    barrier: without it the per-index trigram lambda inlines
    tokenization once per position (interpreted-HOF recompute trap) —
    measured 5.68 → 0.32 s at sf0.1 (round 5). One barrier exchange,
    then linear map-side work."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks")).repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.array_join(F.slice(F.col("toks"), i, 3), " "),
    )
    tri = F.when(F.size("toks") >= 3, grams).otherwise(F.array().cast("array<string>"))
    n_tri = F.size(tri).cast("bigint")
    n_dis = F.size(F.array_distinct(tri)).cast("bigint")
    return t.select(
        "doc_id",
        n_tri.alias("n_trigrams"),
        n_dis.alias("n_distinct"),
        F.when(n_tri > 0, F.lit(1) - n_dis.cast("double") / n_tri)
        .otherwise(F.lit(0.0))
        .alias("repetition"),
    )


# --- token document frequency --------------------------------------------

DOC_FREQ_ORACLE = """
SELECT tok, COUNT(*) AS df
FROM (
  SELECT unnest(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))) AS tok
  FROM documents
)
GROUP BY tok
HAVING COUNT(*) >= 2
"""


@query("text_token_doc_frequency", oracle=DOC_FREQ_ORACLE, tags=("text", "llm", "agg"))
def text_token_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per token (stopword discovery / IDF input):
    per-doc distinct tokens exploded, then one hash aggregate. The
    explode happens map-side; the shuffle carries (token, partial
    count) — vocabulary-sized, not corpus-sized, so this is the same
    plan at 100 TB."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.array_distinct(tokens("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
    )


# --- collocations ---------------------------------------------------------

BIGRAM_LIFT_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS t
  FROM documents
), uni AS (
  SELECT unnest(t) AS tok FROM toks
), ucnt AS (
  SELECT tok, COUNT(*) AS n FROM uni GROUP BY tok
), tot AS (
  SELECT COUNT(*) AS n_tot FROM uni
), big AS (
  SELECT t[i] AS a, t[i+1] AS b
  FROM toks, unnest(range(1, len(t))) AS r(i)
), bcnt AS (
  SELECT a, b, COUNT(*) AS n_ab FROM big GROUP BY a, b
)
SELECT
  bcnt.a, bcnt.b,
  bcnt.n_ab,
  CAST(bcnt.n_ab AS DOUBLE) * (SELECT n_tot FROM tot)
    / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) AS lift
FROM bcnt
JOIN ucnt ua ON ua.tok = bcnt.a
JOIN ucnt ub ON ub.tok = bcnt.b
WHERE bcnt.n_ab >= 5
"""


@query("text_bigram_lift", oracle=BIGRAM_LIFT_ORACLE, tags=("text", "llm"))
def text_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent-bigram counts with lift
    n_ab·N/(n_a·n_b) — the association measure under PMI, kept as the
    raw RATIO (not its log) so both engines compute the identical
    division sequence over exact integer counts; libm's log differs in
    ulps across engines, a ratio does not.

    Scale: one explode+groupBy for unigrams, one for bigrams (both
    map-side-combining hash aggs), then two broadcast-size joins of
    the bigram table against the unigram counts — vocabulary-bounded,
    corpus-size-independent join sides. The corpus token total stays
    INSIDE the plan as a 1-row broadcast cross join off the unigram
    aggregate (no driver `.collect()`), so the tokenize+count subtree
    executes exactly once — a mid-build scalar collect would force a
    second full corpus pass at 100 TB."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(tokens("text").alias("t"))
    uni = toks.select(F.explode("t").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count("*").alias("n"))
    tot = ucnt.agg(F.sum("n").alias("n_tot"))
    big = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    bcnt = big.groupBy("a", "b").agg(F.count("*").alias("n_ab")).filter(F.col("n_ab") >= 5)
    ua = ucnt.select(F.col("tok").alias("a"), F.col("n").alias("n_a"))
    ub = ucnt.select(F.col("tok").alias("b"), F.col("n").alias("n_b"))
    return (
        bcnt.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n_ab",
            (
                F.col("n_ab").cast("double") * F.col("n_tot").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


# --- sparse retrieval (TF-IDF) --------------------------------------------

TFIDF_TOPK_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS t
  FROM documents
), terms AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS term
  FROM t, unnest(range(1, len(t))) AS r(i)
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
  HAVING COUNT(*) * 10 <= (SELECT n_docs FROM n)
), w AS (
  SELECT tf.doc_id, tf.term,
    CAST(floor(CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / df.df * 1000 + 0.5)
      AS BIGINT) AS wq
  FROM tf JOIN df USING (term)
), norms AS (
  SELECT doc_id, SUM(wq * wq) AS nq FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.wq * b.wq) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT d.doc_a, d.doc_b,
    CAST(d.dot AS DOUBLE)
      / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cosine
  FROM dots d
  JOIN norms na ON na.doc_id = d.doc_a
  JOIN norms nb ON nb.doc_id = d.doc_b
)
SELECT doc_a, doc_b, cosine
FROM scored
QUALIFY row_number() OVER (
  PARTITION BY doc_a ORDER BY cosine DESC, doc_b) = 1
"""


@query("text_tfidf_sparse_topk", oracle=TFIDF_TOPK_ORACLE, tags=("text", "similarity", "llm"))
def text_tfidf_sparse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse (TF-IDF) retrieval: for each document, its most similar
    other document by weighted-bigram cosine — the inverted-index
    counterpart to the dense-embedding ANN family.

    Exactness across engines: weights quantize to BIGINT
    (floor(tf·N/df·1000+.5)), so dot products and squared norms are
    exact integer sums (order-free); the only float ops are the final
    sqrt (IEEE-correctly-rounded) and one division, evaluated in the
    identical sequence by both engines.

    Scale: candidate generation is the inverted-index self-join — work
    is Σ_term df², BOUNDED by the 10%-df stop-term cap (the classic
    sparse-retrieval skew guard: a term in k docs costs k², so caps on
    df are caps on join fan-out); everything else is map-side hash
    aggs and a vocabulary-bounded broadcast of the df table."""
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()
    # raw adjacent bigrams WITH multiplicity (dedup.shingles_from_tokens
    # is distinct-set semantics — wrong for term frequency)
    t = tokens("text")
    m = F.greatest(F.size(t) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(t, 1, m), F.slice(t, 2, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    tf = (
        d.select("doc_id", F.explode(bigrams).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") * 10 <= F.lit(n_docs))
    )
    w = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        F.floor(
            F.col("tf").cast("double") * F.lit(n_docs) / F.col("df") * F.lit(1000)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("wq"),
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wq") * F.col("wq")).alias("nq"))
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("wq").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("wq").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nq").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nq").alias("nb"))
    # The norm decoration builds from the BOUNDED pair set and shuffles
    # the per-DOCUMENT norm table on the doc key (r12 q21-family
    # sweep): the previous explicit F.broadcast(na/nb) shipped a
    # corpus-sized table — aggregated, so the fact-broadcast lint's
    # reduction heuristic clears it, but per-doc norms cannot be
    # resident at 100 TB. Interleaved A/B at sf0.1: 17.2 -> 20.3 s
    # median (~+15% locally for the two extra bounded shuffles) — the
    # r11 rule applies: the pin binds at scale, where the broadcast
    # shape simply stops running. (A carry-the-norm-through-the-pair-
    # aggregate window variant was also A/B'd and rejected: ~20 s too,
    # with the doc_id window sort replacing the joins it saved.)
    scored = (
        dots.hint("shuffle_hash").join(na, "doc_a")
        .hint("shuffle_hash").join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
            ).alias("cosine"),
        )
    )
    win = W.partitionBy("doc_a").orderBy(F.col("cosine").desc(), F.col("doc_b"))
    return (
        scored.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- corpus LM scoring (perplexity-filter shape) --------------------------

LM_SCORE_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS t
  FROM documents
), big AS (
  SELECT doc_id, t[i] AS a, t[i+1] AS b
  FROM t, unnest(range(1, len(t))) AS r(i)
), bcnt AS (
  SELECT a, b, COUNT(*) AS n_ab FROM big GROUP BY a, b
), ucnt AS (
  SELECT a, SUM(n_ab) AS n_a FROM bcnt GROUP BY a
), probs AS (
  SELECT bcnt.a, bcnt.b,
    CAST(floor(CAST(bcnt.n_ab AS DOUBLE) / ucnt.n_a * 1000000 + 0.5) AS BIGINT)
      AS p_q
  FROM bcnt JOIN ucnt USING (a)
)
SELECT
  big.doc_id,
  COUNT(*) AS n_bigrams,
  CAST(SUM(p.p_q) AS DOUBLE) / 1000000.0 / COUNT(*) AS mean_prob,
  CAST(SUM(p.p_q) AS DOUBLE) / 1000000.0 / COUNT(*) < 0.02 AS is_outlier
FROM big JOIN probs p ON big.a = p.a AND big.b = p.b
GROUP BY big.doc_id
"""


def lm_scores(d: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-LM document scoring (the perplexity-filter shape from
    CCNet-style pipelines): train a bigram model ON the corpus itself
    (P(b|a) = n_ab / n_a), score each document by its mean transition
    probability, and flag low-probability outliers — the docs whose
    word sequences the corpus model finds surprising.

    Mean probability stands in for perplexity so the score stays
    RATIONAL: probabilities quantize to BIGINT before the per-doc sum
    (exact, order-free), and only one final division runs in floats —
    log/exp (libm, ulp-divergent across engines) never appear. At
    scale the model is vocabulary²-bounded and broadcasts; scoring is
    one map-side join + per-doc aggregate.

    Returns (doc_id, n_bigrams, mean_prob, is_outlier)."""
    t = tokens(text_col)
    m = F.greatest(F.size(t) - 1, F.lit(0))
    big = d.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.zip_with(
                F.slice(t, 1, m), F.slice(t, 2, m), lambda x, y: F.struct(x.alias("a"), y.alias("b"))
            )
        ).alias("g"),
    ).select("doc_id", "g.a", "g.b")
    bcnt = big.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    ucnt = bcnt.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    probs = bcnt.join(ucnt, "a").select(
        "a",
        "b",
        F.floor(F.col("n_ab").cast("double") / F.col("n_a") * F.lit(1000000) + F.lit(0.5))
        .cast("bigint")
        .alias("p_q"),
    )
    mean_prob = F.sum("p_q").cast("double") / F.lit(1000000.0) / F.count("*")
    return (
        big.join(F.broadcast(probs), ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            mean_prob.alias("mean_prob"),
            (mean_prob < 0.02).alias("is_outlier"),
        )
    )


@query("text_lm_score_filter", oracle=LM_SCORE_ORACLE, tags=("text", "llm"))
def text_lm_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry for :func:`lm_scores` over the documents corpus."""
    return lm_scores(load(spark, sf_dir, "documents"))


# --- top n-gram coverage (Gopher-style repetition rules) ------------------

TOP_NGRAM_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> array_to_string(list_slice(toks, i, i + 1), ' '))
              ELSE CAST([] AS VARCHAR[])
         END AS bi
  FROM t
), wc AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM g) GROUP BY doc_id, tok
), bc AS (
  SELECT doc_id, gram, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(bi) AS gram FROM g) GROUP BY doc_id, gram
), m AS (
  SELECT g.doc_id,
         len(g.toks) AS n_tokens,
         COALESCE((SELECT MAX(c) FROM wc WHERE wc.doc_id = g.doc_id), 0) AS top_word_n,
         len(g.bi) AS n_bigrams,
         COALESCE((SELECT MAX(c) FROM bc WHERE bc.doc_id = g.doc_id), 0) AS top_bigram_n
  FROM g
)
SELECT
  doc_id,
  CAST(top_word_n AS DOUBLE) / greatest(n_tokens, 1) AS top_word_frac,
  CAST(top_bigram_n AS DOUBLE) / greatest(n_bigrams, 1) AS top_bigram_frac,
  (CAST(top_word_n AS DOUBLE) / greatest(n_tokens, 1) <= 0.20
   AND CAST(top_bigram_n AS DOUBLE) / greatest(n_bigrams, 1) <= 0.18) AS keep
FROM m
"""


def _max_run_count(arr: Column) -> Column:
    """Occurrence count of the most frequent element: sort, then one
    O(n) fold tracking (prev, current run, best run) — the max sorted
    run length IS the max multiplicity. Replaces the per-distinct
    filter-scan form, which is O(n²) interpreted-lambda work per row
    (measured 22.8 s vs ~1 s over 500 docs at sf0.01)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(F.array_sort(arr), init, step, lambda acc: acc["best"])


@query("text_top_ngram_coverage", oracle=TOP_NGRAM_ORACLE, tags=("text", "llm"))
def text_top_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    fraction of the document covered by its single most frequent word
    and by its most frequent bigram; documents dominated by one token
    or one phrase are template spam / boilerplate. Complements
    text_distinct_ngram_ratio (which measures GLOBAL trigram
    diversity; this measures PEAK concentration — a doc can have high
    distinct ratio yet one runaway phrase).

    Scale: per-row column algebra, zero shuffle, linear in corpus
    size; the per-doc cost is one sort + one fold over the token
    array (:func:`_max_run_count`). The oracle computes the same
    multiplicities relationally (unnest + GROUP BY)."""
    d = load(spark, sf_dir, "documents")
    # token array bound behind an exchange barrier: the per-index
    # bigram lambda would otherwise inline tokenize+lower per position
    # (interpreted-HOF recompute trap, round-5 audit)
    t = d.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    ).repartition(spark.sparkContext.defaultParallelism)
    toks = F.col("toks")
    bi_raw = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.array_join(F.slice(toks, i, 2), " "),
    )
    bi = F.when(F.size(toks) >= 2, bi_raw).otherwise(F.array().cast("array<string>"))
    base = t.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        _max_run_count(toks).alias("top_word_n"),
        F.size(bi).alias("n_bigrams"),
        _max_run_count(bi).alias("top_bigram_n"),
    )
    twf = F.col("top_word_n").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
    tbf = F.col("top_bigram_n").cast("double") / F.greatest(F.col("n_bigrams"), F.lit(1))
    return base.select(
        "doc_id",
        twf.alias("top_word_frac"),
        tbf.alias("top_bigram_frac"),
        ((twf <= 0.20) & (tbf <= 0.18)).alias("keep"),
    )



# --- cross-document n-gram overlap (span-level dup signal) ----------------

CROSS_DOC_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5
              THEN list_distinct(list_transform(range(1, len(toks) - 3),
                   i -> array_to_string(list_slice(toks, i, i + 4), ' ')))
              ELSE CAST([] AS VARCHAR[])
         END AS grams
  FROM t
), posting AS (
  SELECT unnest(grams) AS gram, doc_id FROM g
), df AS (
  SELECT gram, COUNT(*) AS n_docs FROM posting GROUP BY gram
), per_doc AS (
  SELECT p.doc_id,
         COUNT(*) AS n_grams,
         COUNT(*) FILTER (WHERE d.n_docs >= 2) AS n_shared
  FROM posting p JOIN df d USING (gram)
  GROUP BY p.doc_id
)
SELECT
  g.doc_id,
  COALESCE(p.n_grams, 0) AS n_grams,
  COALESCE(p.n_shared, 0) AS n_shared,
  CASE WHEN COALESCE(p.n_grams, 0) > 0
       THEN CAST(p.n_shared AS DOUBLE) / p.n_grams
       ELSE 0.0 END AS shared_frac
FROM g LEFT JOIN per_doc p USING (doc_id)
"""


@query("text_cross_doc_ngram_overlap", oracle=CROSS_DOC_ORACLE, tags=("text", "dedup", "llm"))
def text_cross_doc_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): per document, the
    fraction of its distinct 5-gram shingles that also occur in at
    least one OTHER document. High shared_frac marks docs that are
    mostly copied passages even when no whole-document near-dup fires
    — the complement of doc-level MinHash.

    Scale: explode distinct shingles → ONE shuffle on the shingle key
    computing document frequency as a window over the gram partition
    → count per doc on the doc key. No pairwise anything — cost is
    O(total distinct shingles), the same inverted-index shape as
    text_token_doc_frequency, independent of how duplicated the corpus
    is (a shingle row carries a count, never a doc list).

    PERF (round 5, all A/B same-session at sf0.1, identical sums —
    this operator went 17.9 → 1.2 s in three steps):
    (1) tokenize-once exchange barrier (the interpreted-HOF recompute
    trap: CollapseProject inlined ``tokens(text)`` into the per-index
    gram lambda) — 17.9 → 6.6 s. (2) doc-frequency as a window over
    the gram partition instead of groupBy+join-back (which
    plan-shifts broadcast→sort-merge past the AQE threshold — the
    span-trim 5.0× cause). (3) gram CONSTRUCTION via posexplode +
    window ``lead`` (concat of the next four tokens over the doc
    partition) instead of an interpreted per-index ``transform``
    lambda: grams are built entirely inside whole-stage codegen —
    6.8 → 1.2 s. The doc-key sort the lead window needs is the same
    exchange the barrier already pays; per-doc DISTINCT becomes
    dropDuplicates on (doc, gram)."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks")).repartition(
        spark.sparkContext.defaultParallelism
    )
    words = t.select("doc_id", F.posexplode("toks").alias("p", "tok"))
    wdoc = W.partitionBy("doc_id").orderBy("p")
    gram = F.concat_ws(
        " ",
        "tok",
        F.lead("tok", 1).over(wdoc),
        F.lead("tok", 2).over(wdoc),
        F.lead("tok", 3).over(wdoc),
        F.lead("tok", 4).over(wdoc),
    )
    posting = (
        words.select(
            "doc_id",
            gram.alias("gram"),
            F.lead("tok", 4).over(wdoc).alias("__l4"),
        )
        .filter(F.col("__l4").isNotNull())  # only full 5-grams
        .drop("__l4")
        .dropDuplicates(["doc_id", "gram"])
    )
    wgram = W.partitionBy("gram")
    # r15 (guide §2.4): n_grams and n_shared come out of ONE doc-key
    # aggregate over the windowed postings, instead of two separate
    # aggregation branches (slim + shared) joined back one at a time —
    # the prior shape built the tokenize → doc-window → dedup leg
    # TWICE (the slim branch bypassed the gram window, so its subtree
    # canonicalized differently and nothing was reused), plus paid an
    # extra broadcast join. sum(is_shared) == count-after-filter
    # row-for-row: a posting either has gram doc-frequency >= 2 or it
    # does not.
    combined = (
        posting.select(
            "doc_id",
            F.when(F.count("*").over(wgram) >= 2, 1).otherwise(0).alias("is_shared"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum("is_shared").alias("n_shared"),
        )
    )
    base = t.select("doc_id")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0).cast("bigint"))
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0))
    return base.join(combined, "doc_id", "left").select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_shared.alias("n_shared"),
        F.when(n_grams > 0, n_shared.cast("double") / n_grams)
        .otherwise(F.lit(0.0))
        .alias("shared_frac"),
    )


# --- exact-substring span trimming (ExactSubstr dedup) ----------------------

SPAN_TRIM_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
  FROM documents
), words AS (
  SELECT doc_id, CAST(r.i AS BIGINT) AS pos, toks[r.i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
), starts AS (
  SELECT doc_id, CAST(r.i AS BIGINT) AS p,
         array_to_string(list_slice(toks, r.i, r.i + 4), ' ') AS gram
  FROM t, unnest(range(1, CASE WHEN len(toks) >= 5 THEN len(toks) - 3 ELSE 1 END)) AS r(i)
), gc AS (
  SELECT gram, COUNT(*) AS n,
         MIN({'d': doc_id, 'p': p}) AS canon
  FROM starts GROUP BY gram
), dup_starts AS (
  SELECT s.doc_id, s.p
  FROM starts s JOIN gc USING (gram)
  WHERE gc.n >= 2 AND NOT (s.doc_id = gc.canon.d AND s.p = gc.canon.p)
), rm AS (
  SELECT DISTINCT doc_id, CAST(p + r.o AS BIGINT) AS pos
  FROM dup_starts, unnest(range(0, 5)) AS r(o)
), kept AS (
  SELECT w.doc_id, w.pos, w.tok
  FROM words w ANTI JOIN rm ON rm.doc_id = w.doc_id AND rm.pos = w.pos
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
  FROM kept GROUP BY doc_id
), nw AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words FROM t
)
SELECT nw.doc_id,
       nw.n_words,
       CAST(nw.n_words - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(a.trimmed_text, '') AS trimmed_text,
       CASE WHEN nw.n_words > 0
            THEN CAST(nw.n_words - COALESCE(a.n_kept, 0) AS DOUBLE) / nw.n_words
            ELSE 0.0 END AS removed_frac
FROM nw LEFT JOIN agg a USING (doc_id)
"""


@query("text_duplicate_span_trim", oracle=SPAN_TRIM_ORACLE, tags=("text", "dedup", "llm"))
def text_duplicate_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022 §4.1): every 5-gram
    occurrence that is not the canonical (lexicographically first
    (doc, pos)) occurrence of its gram gets its 5-token span cut from
    the document; the trimmed token stream is reassembled in order.
    Unlike text_cross_doc_ngram_overlap (which only SCORES span
    duplication), this emits the cleaned corpus: duplicated passages
    survive exactly once, whole-document duplicates collapse to one
    copy, and partially-copied docs keep their novel text.

    Scale: inverted-index shape end-to-end — explode 5-gram start
    positions (one row per token, same as any shingle pass), ONE
    shuffle on the gram key computing (count, canonical) as window
    functions over the gram partition (round 5: replaced groupBy +
    join-back, whose broadcast→sort-merge plan shift past the AQE
    threshold was the measured 5.0× slow-tier cause), a bounded 5x
    position expansion for covered tokens, anti-join on (doc, pos),
    and one doc-key aggregate to rebuild text. No pairwise work
    anywhere; cost is O(total tokens), independent of duplication
    degree. The canonical pick is MIN(struct(doc, pos)) —
    associative, partitioning-independent, identical in the oracle.

    The tokenized projection sits behind a round-robin exchange
    barrier (same pattern as contamination_*): without it,
    CollapseProject inlines tokens(text) into the per-index gram
    lambda and split+filter re-runs once per 5-gram START, not once
    per row (the interpreted-HOF no-CSE trap); with it, tokenization
    is computed once into shuffle files and — because the three
    consumers (gram starts, the word table, per-doc sizes) share the
    identical exchange subtree — ReuseExchange reads those files
    three times instead of scanning parquet three times. Measured
    A/B in one session at sf0.1 (noop sink, warm medians): 3.1–3.4 s
    without the barrier → 1.8–2.1 s with it."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    t = d.select("doc_id", toks.alias("toks")).repartition(
        spark.sparkContext.defaultParallelism
    )
    words = t.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    # 5-gram starts via window `lead` over the doc partition — pure
    # whole-stage codegen (round 5: replaced the interpreted per-index
    # `transform` lambda, same rows, measured faster; the doc-key sort
    # is amortized against the exchange the barrier already pays and
    # `words` is the shared source for both the gram starts and the
    # anti-join token table)
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    starts = (
        words.select(
            "doc_id",
            F.col("pos").alias("p"),
            F.concat_ws(
                " ",
                "tok",
                F.lead("tok", 1).over(wdoc),
                F.lead("tok", 2).over(wdoc),
                F.lead("tok", 3).over(wdoc),
                F.lead("tok", 4).over(wdoc),
            ).alias("gram"),
            F.lead("tok", 4).over(wdoc).alias("__l4"),
        )
        .filter(F.col("__l4").isNotNull())  # only full 5-grams
        .drop("__l4")
    )
    # (count, canonical) per gram as WINDOW functions over the gram
    # partition — NOT groupBy + join-back. The join-back shape is
    # scale-treacherous: at small inputs AQE broadcasts the gram
    # table and it looks free, past the broadcast threshold it falls
    # to sort-merge (a second full shuffle + sort of starts) — the
    # round-5 stage breakdown measured that plan shift as the whole
    # 5.0× slow-tier factor (stage delta 0.21 s → 3.30 s at 10×).
    # The window computes both values in ONE gram-key exchange + sort
    # with no second scan: same rows (A/B-verified), 1.16 → 0.76 s at
    # 1×, 5.20 → 1.74 s at 10× (scripts/breakdown_span_trim.py).
    wgram = W.partitionBy("gram")
    dup_starts = (
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
            & ~((F.col("doc_id") == F.col("canon.d")) & (F.col("p") == F.col("canon.p")))
        )
        .select("doc_id", "p")
    )
    # no distinct(): LEFT ANTI tolerates duplicate probe rows
    # (overlapping spans), and deduping (doc, pos) here would cost a
    # full extra shuffle of the 5x-expanded positions — measured the
    # single worst stage of the 10x slow tier
    rm = dup_starts.select(
        "doc_id", F.explode(F.sequence(F.col("p"), F.col("p") + 4)).alias("pos")
    )
    kept = words.join(rm, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("trimmed_text"),
    )
    nw = t.select("doc_id", F.size("toks").cast("bigint").alias("n_words"))
    n_removed = (F.col("n_words") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("bigint")
    return nw.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_words",
        n_removed.alias("n_removed"),
        F.coalesce(F.col("trimmed_text"), F.lit("")).alias("trimmed_text"),
        F.when(F.col("n_words") > 0, n_removed.cast("double") / F.col("n_words"))
        .otherwise(F.lit(0.0))
        .alias("removed_frac"),
    )


# --- BM25 retrieval -------------------------------------------------------

BM25_ORACLE = r"""
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
), scored AS (
  SELECT tf.doc_id,
    CAST(floor(
      (CAST(22 * tf.tf * s.tot_len AS DOUBLE)
        / CAST(10 * tf.tf * s.tot_len + 3 * s.tot_len + 9 * L.dl * s.n_docs AS DOUBLE))
      * (CAST(2 * (s.n_docs - d.df) + 1 AS DOUBLE) / CAST(2 * d.df + 1 AS DOUBLE))
      * 1000000.0e0 + 0.5e0) AS BIGINT) AS tsq
  FROM tf
  JOIN dft d USING (tok)
  JOIN L USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id, CAST(SUM(tsq) AS BIGINT) AS bm25_q,
  CAST(CAST(SUM(tsq) AS BIGINT) AS DOUBLE) / 1000000.0e0 AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25_q DESC, doc_id
LIMIT 10
"""


def bm25_doc_scores(d: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, bm25_q): µ-quantized BM25 score sum per document
    matching any query term — the scoring core of `text_bm25_topk`,
    shared with hybrid retrieval (`operators/retrieval.py`). See the
    entry docstring for the libm-free integer-ratio derivation; the
    expressions here are byte-for-byte the ones the entry's oracle
    mirrors, so any consumer inherits cross-engine bit-identity."""
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
        base.filter(F.col("tok").isin(*terms))
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
    scored = (
        tf.join(F.broadcast(dft), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", tsq.alias("tsq"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tsq").cast("bigint").alias("bm25_q")
    )


@query("text_bm25_topk", oracle=BM25_ORACLE, tags=("text", "similarity", "llm"))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-10 documents for a fixed 4-term query —
    the lexical-ranking standard (Robertson & Zaragoza 2009) joining
    the TF-IDF entry to complete the sparse-retrieval pair.

    Libm-free exactness: k1=1.2, b=0.75 clear to integers by
    multiplying the saturation term through by 10·avgdl·n_docs —
    tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) becomes
    22·tf·tot_len / (10·tf·tot_len + 3·tot_len + 9·dl·n_docs), an
    exact BIGINT ratio; the Robertson idf is kept as the RAW ratio
    (N−df+.5)/(df+.5) = (2(N−df)+1)/(2df+1) rather than its log (the
    repo-wide no-libm rule; log is monotone per term, so each term's
    saturation shape is preserved). Each term score is exactly two
    IEEE divisions and one multiply in a fixed sequence, quantized to
    µ-units BEFORE the per-doc sum, so the ranking is bit-identical
    across engines and partitionings.

    Scale: corpus stats (n_docs, avgdl) are one dedicated aggregate —
    at 100 TB they are computed once per corpus snapshot and cached,
    not per query; they rejoin as a 1-row broadcast. Scoring itself is
    the inverted-index shape: tokenize → filter to query terms AT THE
    SCAN (non-matching tokens never shuffle) → per-(doc,term) counts →
    vocabulary-bounded df broadcast; the top-10 is a rank-limit
    pushdown (TakeOrderedAndProject), never a global sort."""
    d = load(spark, sf_dir, "documents")
    return (
        bm25_doc_scores(d, ("join", "hash", "scan", "filter"))
        .select(
            "doc_id",
            "bm25_q",
            (F.col("bm25_q").cast("double") / F.lit(1000000.0)).alias("bm25"),
        )
        .orderBy(F.col("bm25_q").desc(), "doc_id")
        .limit(10)
    )


# --- RAKE keyphrases ------------------------------------------------------

_RAKE_STOPS = "', '".join(_STOPWORDS)

RAKE_ORACLE = rf"""
WITH pos AS (
  SELECT doc_id, r.i AS pos, t[r.i] AS tok
  FROM (
    SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS t
    FROM documents
  ), unnest(range(1, len(t) + 1)) AS r(i)
), nonstop AS (
  SELECT doc_id, pos, lower(tok) AS tok,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM pos WHERE lower(tok) NOT IN ('{_RAKE_STOPS}')
), sized AS (
  SELECT doc_id, grp, pos, tok,
    CAST(COUNT(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS plen
  FROM nonstop
), wstats AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(SUM(plen) AS BIGINT) AS deg
  FROM sized GROUP BY tok
), scored AS (
  SELECT s.doc_id, s.grp,
    string_agg(s.tok, ' ' ORDER BY s.pos) AS phrase,
    CAST(MAX(s.plen) AS BIGINT) AS n_words,
    CAST(SUM((w.deg * 1000000) // w.freq) AS BIGINT) AS score_q
  FROM sized s JOIN wstats w USING (tok)
  GROUP BY s.doc_id, s.grp
)
SELECT phrase, n_words, score_q, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM scored
GROUP BY phrase, n_words, score_q
ORDER BY score_q DESC, phrase
LIMIT 15
"""


@query("text_rake_keyphrases", oracle=RAKE_ORACLE, tags=("text", "llm"))
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (the gaps-and-islands
    pattern over the token stream), each word scores deg/freq —
    degree counts co-occurrence inside candidate phrases — and a
    phrase scores the sum of its words. The unsupervised
    keyword-extraction standard, here as one declarative plan.

    Exactness: ZERO floats — word scores are (deg·10^6) DIV freq over
    exact BIGINT corpus counts, phrase scores are integer sums, and
    the top-15 ordering (score desc, phrase asc) is total. Identical
    phrases collapse across documents; their score is a function of
    the words alone, so the collapse is well-defined.

    Scale: one doc-key window pass finds islands (pos −
    row_number(non-stop) is constant exactly within a run — no
    iteration), word stats are a vocabulary-bounded aggregate that
    rejoins as a broadcast, and the final top-15 is a rank-limit
    pushdown. The token stream shuffles once on doc_id and once on
    the word key — both unavoidable; nothing is quadratic."""
    d = load(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), F.lower("tok").alias("tok"))
    w_doc = W.partitionBy("doc_id").orderBy("pos")
    nonstop = pos.filter(~F.col("tok").isin(*_STOPWORDS)).select(
        "doc_id",
        "pos",
        "tok",
        (F.col("pos") - F.row_number().over(w_doc)).alias("grp"),
    )
    w_phrase = W.partitionBy("doc_id", "grp")
    sized = nonstop.select(
        "doc_id", "grp", "pos", "tok", F.count("*").over(w_phrase).cast("bigint").alias("plen")
    )
    wstats = sized.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    scored = (
        sized.join(F.broadcast(wstats), "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.max("plen").cast("bigint").alias("n_words"),
            F.sum(F.expr("(deg * 1000000) DIV freq")).cast("bigint").alias("score_q"),
        )
    )
    return (
        scored.groupBy("phrase", "n_words", "score_q")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("score_q").desc(), "phrase")
        .limit(15)
    )
