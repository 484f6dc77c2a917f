"""Similarity search over embedding columns (SURVEY.md §2C):
exact cosine top-k as the baseline, plus LSH-, IVF- and PQ-bucketed
approximate variants as the scale paths.

Embeddings are ``array<float>`` columns. All vector arithmetic runs on
one numpy kernel (``_fold``) in Arrow-batched Python workers: every
exact cosine (pair scores, top-k, IVF assignment and rerank, SemDeDup),
the PQ distance tables behind encoding and ADC scoring, and the LSH
hyperplane signatures. It folds each dot product left to right over
doubles, the order of DuckDB's sequential ``list_sum`` reduction, so
its results are bit-identical to the oracles' and the entries are
oracle-checkable. Codebooks and hyperplanes ride in the workers'
closures as numpy arrays, never as plan literals.

Scale design:
- the exact, IVF and ADC top-k share one skeleton: a local top-k per
  cell (``_cells``, a cogroup scored on the kernel), then one global
  window. The IVF probes visit a query's n_probe cells; the exact
  top-k and the ADC scan visit all of them, over hash buckets of the
  candidates.
- the exact top-k is O(|Q|·|C|) — used for small query sets and as
  the verifier/recall-oracle for the approximate paths.
- the LSH path buckets vectors by random-hyperplane sign signatures
  (signatures per-row, no shuffle; probes only same-bucket candidates).
  At 100 TB the candidate join shuffles on the bucket key; recall is
  tuned by (n_planes, n_tables).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..catalog import load, query
from ..session import _local_frame


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best of ``scored`` (query_id, cand_id,
    cos_sim): cos_sim desc, ties by cand_id, ranked as a bigint."""
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


def _sql_cos(a: str, b: str) -> str:
    """DuckDB cosine over two list expressions, folded in the same
    left-to-right double sequence as the cosine kernel (:func:`_fold`) —
    proven bit-identical by the exact top-k entry's driver hash match.
    NULL where the kernel gives null: a null vector, a null element, or
    two different lengths (``list_sum`` would skip the NULL products
    that ``list_zip`` pads with)."""

    def sq(v: str) -> str:
        return f"list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

    return (
        f"CASE WHEN len({a}) = len({b}) AND list_count({a}) = len({a}) AND list_count({b}) = len({b}) "
        f"THEN list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        f"/ (sqrt({sq(a)}) * sqrt({sq(b)})) END"
    )


def topk_bruteforce(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded),
    ranked by cos_sim desc, ties by candidate id: (query_id, cand_id,
    cos_sim, rnk).

    The cell skeleton of the IVF probes with every cell probed: the
    candidates hash into one bucket per shuffle partition and every
    query visits every bucket (:func:`_all_buckets`). Each bucket
    scores its queries against its candidates on the cosine kernel
    (:func:`_rerank`) and keeps each query's local top-k; the global
    window then ranks |buckets|·k rows per query — the standard
    two-phase top-k. Nothing reaches the driver, and a bucket holds
    |Q| query rows and |C|/|buckets| candidates. For |Q| approaching
    |corpus| the IVF probe (:func:`ivf_topk`) visits n_probe cells per
    query instead of all of them."""
    qry, cand = _all_buckets(
        queries_df.select(F.col(id_col).cast("bigint").alias("query_id"), F.col(vec_col).alias("qv")),
        candidates_df.select(F.col(id_col).cast("bigint").alias("cand_id"), F.col(vec_col).alias("cv")),
    )
    return _rank_topk(_cells(qry, cand, _rerank(k), [StructField("cos_sim", DoubleType())]), k)


TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 20 = 0
),
scored AS (
  SELECT
    q.query_id,
    c.vec_id AS cand_id,
    {_sql_cos("q.qv", "c.embedding")} AS cos_sim
  FROM q JOIN embeddings c ON c.vec_id != q.query_id
)
SELECT query_id, cand_id, cos_sim, rnk
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rnk
  FROM scored
) t
WHERE rnk <= 10
"""


@query("similarity_topk_bruteforce", oracle=TOPK_ORACLE, tags=("similarity", "llm", "flagship"))
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for a 5% query sample against the full
    embedding table."""
    emb = load(spark, sf_dir, "embeddings")
    return topk_bruteforce(emb.filter(F.col("vec_id") % 20 == 0), emb, k=10)


def _hyperplane(dim: int, plane: int, table: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: components
    derived from a hash of (table, plane, dim index). Deterministic so
    signatures are reproducible across runs and executors — no RNG
    state shipped to workers."""
    import hashlib

    comps = []
    for d in range(dim):
        h = hashlib.md5(f"{table}:{plane}:{d}".encode()).digest()
        v = int.from_bytes(h[:8], "big", signed=True) / 2**63
        comps.append(v)
    return comps


def lsh_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucketing, probe only
    same-bucket candidates, exact cosine re-rank within the bucket.

    Recall vs brute force is a function of (n_planes, n_tables);
    tests/test_similarity.py asserts it on the driver corpus. At scale
    each table's bucket join is a shuffle on (table, signature) — no
    cross join anywhere."""
    import numpy as np

    planes = np.array(
        [[_hyperplane(dim, p, t) for p in range(n_planes)] for t in range(n_tables)]
    )
    q = _signatures(
        queries_df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")), planes
    )
    c = _signatures(
        candidates_df.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")), planes
    )
    # The bucket join SHUFFLES on sig, as the docstring promises (the
    # local threshold would broadcast the corpus-side signatures, the
    # wrong 100-TB shape); shuffle_hash on the query side makes the
    # per-partition build the |Q|-share of each sig partition.
    cand = (
        q.hint("shuffle_hash")
        .join(c, "sig")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "qv", "cand_id", "cv")
        .distinct()
    )
    return _rank_topk(_pair_cos(cand, "qv", "cv"), k)


def _lsh_ann_oracle(n_planes: int = 8, n_tables: int = 4, dim: int = 64, k: int = 10) -> str:
    """DuckDB oracle running the IDENTICAL LSH algorithm: the
    hyperplanes are deterministic md5-derived floats computed driver-
    side, inlined here as literals (repr round-trips doubles exactly)
    and carried by the signature kernel's closure, and the dot-product
    fold order matches the kernel's, so every signature bit — and
    therefore every bucket, candidate, and ranked result — agrees
    across engines."""

    def dot(vec: str, plane: list[float]) -> str:
        lits = ", ".join(repr(v) for v in plane)
        return (
            f"list_sum(list_transform(list_zip({vec}, [{lits}]), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        )

    sigs = []
    for t in range(n_tables):
        bits = " || ".join(
            f"(CASE WHEN {dot('embedding', _hyperplane(dim, p, t))} > 0 "
            f"THEN '1' ELSE '0' END)"
            for p in range(n_planes)
        )
        sigs.append(f"'{t}:' || {bits}")
    sig_list = ",\n    ".join(sigs)
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, unnest([
    {sig_list}
  ]) AS sig
  FROM embeddings
), qs AS (
  SELECT vec_id AS query_id, embedding AS qv, sig FROM sigs WHERE vec_id % 20 = 0
), cs AS (
  SELECT vec_id AS cand_id, embedding AS cv, sig FROM sigs
), cand AS (
  SELECT DISTINCT query_id, qv, cand_id, cv
  FROM qs JOIN cs USING (sig)
  WHERE cand_id != query_id
), scored AS (
  SELECT query_id, cand_id, {_sql_cos("qv", "cv")} AS cos_sim FROM cand
)
SELECT query_id, cand_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk FROM scored)
WHERE rnk <= {k}
"""


@query(
    "similarity_lsh_ann",
    oracle=_lsh_ann_oracle(),
    tags=("similarity", "llm", "approx"),
)
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (the 100 TB scale path).
    FULLY oracle-checked (upgraded from rows-only): the hyperplanes
    are deterministic literals shared with the oracle SQL and the
    whole bucket→probe→re-rank pipeline is deterministic (kernel
    signatures, the cosine kernel's re-rank), so
    DuckDB reproduces the exact ranked output. Recall vs the exact
    baseline is additionally asserted in pytest."""
    emb = load(spark, sf_dir, "embeddings")
    return lsh_topk(emb.filter(F.col("vec_id") % 20 == 0), emb, k=10)


# --- IVF (inverted-file) ANN ---------------------------------------------


def _centroid_hash(id_col: Column) -> Column:
    """Engine-portable deterministic sample key: a Knuth-style
    multiplicative hash in plain BIGINT arithmetic — ``((id % 2^32) *
    1000003) % 2^32`` — expressible identically in any SQL engine
    (unlike xxhash64), so an external oracle can reproduce the exact
    centroid pick. Range-bounded first so the product never overflows
    a signed 64-bit int."""
    return ((id_col % F.lit(4294967296)) * F.lit(1000003)) % F.lit(4294967296)


def sample_centroids(
    df: DataFrame, n_clusters: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid sample: hash-order the corpus (portable
    multiplicative hash — see _centroid_hash), take the first
    ``n_clusters``. orderBy+limit executes as a distributed top-K
    (TakeOrderedAndProject) — per-partition heaps, no global sort, no
    single-partition window — and the K winning rows collect to the
    driver, which is fine because centroids are small by definition
    (they get broadcast right back out). cluster_id = rank in
    (hash, id) order, so the mapping is itself reproducible. The rows
    become a frame through Arrow (`session._local_frame`), so
    materializing the codebook starts no Python worker."""
    rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(_centroid_hash(F.col(id_col)), F.col(id_col))
        .limit(n_clusters)
        .collect()
    )
    return _local_frame(
        df.sparkSession,
        [(i, r[1]) for i, r in enumerate(rows)],
        f"cluster_id int, centroid array<{dict(df.dtypes)[vec_col].split('<')[1]}",
    )


# --- the vector kernel -----------------------------------------------------
#
# One numpy fold serves all vector arithmetic of the package in
# Arrow-batched Python workers (numpy and pyarrow only): every exact
# cosine — the exact top-k, IVF assignment (flat and two-level), the IVF
# rerank, the pair scores of the LSH rerank, the near-dup pairs and the
# IVF-PQ rerank, SemDeDup's prune and the streaming semantic gate — the
# PQ distance tables of encoding and ADC scoring, and the LSH
# hyperplane dots. It is vectorized over rows and sequential over
# dimensions: ``acc = acc + a[i] * b[i]`` from 0.0 is the order of a SQL
# left fold over the zipped elements (DuckDB's ``list_sum``, the HOF
# reference in tests/hof_reference.py), and numpy's float64 multiply,
# add, subtract, divide and sqrt are each correctly rounded, so every
# csim is the double ``dot(a, b) / (norm(a) * norm(b))`` of that fold
# and every PQ distance the double of its squared-difference fold. A
# zero denominator gives a null csim, as DuckDB's division does.

_BLOCK_CELLS = 1 << 18  # rows × columns of one kernel block


def _fold(a, b):
    """Σ a[i] * b[i] over the leading (dimension) axis, a left fold from
    0.0; the trailing axes broadcast."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    for x, y in zip(a, b):
        acc += x * y
    return acc


class _Vecs(NamedTuple):
    """Vectors as the kernel reads them. ``x`` is (width, rows) float64,
    dimension-major for the fold, each row zero-padded past its length;
    ``gap`` (same shape) marks a null element or a position past the
    row's length. ``len`` is each row's length, -1 for a null vector.
    ``null`` marks a null vector or one with a null element, ``ok`` the
    other rows, and ``norm`` is each row's own norm (null where ``null``
    is). Two rows have a cosine only if both are ok and of one length,
    as a ``zip_with`` fold pads a length mismatch with null. The padding
    leaves the fold exact: an accumulator that starts at +0.0 is never
    -0.0, so adding 0.0 * 0.0 never changes it."""

    x: object
    gap: object
    len: object
    ok: object
    norm: object
    null: object

    def take(self, r) -> "_Vecs":
        return _Vecs(self.x[:, r], self.gap[:, r], *(f[r] for f in self[2:]))


def _vectors(arr) -> _Vecs:
    """The :class:`_Vecs` of an Arrow list array, as wide as its
    longest row."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(arr)
    lens = pc.list_value_length(arr).fill_null(-1).to_numpy()
    offs = arr.offsets.to_numpy()[:n]  # positions in arr.values
    vals = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
    enull = arr.values.is_null().to_numpy(zero_copy_only=False)
    x = np.zeros((int(lens.max(initial=0)), n))
    gap = np.ones(x.shape, bool)
    norm = np.full(n, np.nan)
    null = lens < 0
    for length in np.unique(lens[lens >= 0]):
        r = np.nonzero(lens == length)[0]
        g = offs[r][:, None] + np.arange(length)
        xl = vals[g].T
        norm[r] = np.sqrt(_fold(xl, xl))
        null[r] = enull[g].any(axis=1)
        x[:length, r] = xl
        gap[:length, r] = enull[g].T
    return _Vecs(x, gap, lens, ~null, norm, null)


def _book(rows: list[tuple[int, list[float]]]):
    """A codebook's cluster ids (ascending, as `codebook_rows` sorts
    them) and its :class:`_Vecs`."""
    import numpy as np
    import pyarrow as pa

    dims = {len(v) for _, v in rows}
    if len(dims) > 1:
        raise ValueError(f"centroids of different dimensions: {sorted(dims)}")
    vecs = pa.array([v for _, v in rows], pa.list_(pa.float64()))
    return np.array([cid for cid, _ in rows], dtype=np.int64), _vectors(vecs)


def _cos(a: _Vecs, b: _Vecs):
    """(csim, null) of each row of ``a`` against the row of ``b`` it
    broadcasts with. A csim is null where either side is null, the
    lengths differ or the denominator is zero."""
    import numpy as np

    with np.errstate(all="ignore"):
        den = a.norm * b.norm
        csim = _fold(a.x, b.x) / den
    return csim, ~(a.ok & b.ok) | (a.len != b.len) | (den == 0)


def _csim(a: _Vecs, b: _Vecs):
    """(csim, null): every row of ``a`` against every row of ``b``."""
    return _cos(_Vecs(*(f[..., None] for f in a)), b)


def _pair_cos(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """``pairs`` with its vector columns ``a`` and ``b`` replaced by
    their cosine, ``cos_sim``, row by row in one map-side pass."""
    rest = [f for f in pairs.schema if f.name not in (a, b)]
    names = [f.name for f in rest] + ["cos_sim"]

    def score(batches):
        import pyarrow as pa

        for batch in batches:
            csim, null = _cos(_vectors(batch.column(a)), _vectors(batch.column(b)))
            cols = [batch.column(f.name) for f in rest]
            yield pa.RecordBatch.from_arrays([*cols, pa.array(csim, mask=null)], names=names)

    return pairs.mapInArrow(score, StructType([*rest, StructField("cos_sim", DoubleType())]))


def _reached(a_ids, a_cids, a: _Vecs, b_ids, b_cids, b: _Vecs, threshold: float):
    """Mask over the rows of ``b``: some row of ``a`` in the same
    cluster (``*_cids``) with a smaller id has a csim at or above
    ``threshold``. A NaN csim reaches every threshold, as Spark and
    DuckDB order NaN above every number; a null csim reaches none.
    Scored cluster by cluster, in row blocks of ``b``."""
    import numpy as np

    hit = np.zeros(len(b_ids), bool)
    for c in np.intersect1d(a_cids, b_cids):
        ra, rb = np.nonzero(a_cids == c)[0], np.nonzero(b_cids == c)[0]
        ca, ids = a.take(ra), a_ids[ra]
        step = max(1, _BLOCK_CELLS // len(ra))
        for s in range(0, len(rb), step):
            blk = rb[s : s + step]
            csim, null = _csim(b.take(blk), ca)
            with np.errstate(invalid="ignore"):
                reach = ~(null | (csim < threshold)) & (ids < b_ids[blk, None])
            hit[blk] = reach.any(axis=1)
    return hit


def _key(csim, null):
    """The assignment's sort key, coalesce(-csim, +Inf). Negation is the
    exact order-reversing map (1 - csim is not)."""
    import numpy as np

    with np.errstate(all="ignore"):
        return np.where(null, np.inf, -csim)


def _nearest(key, n: int):
    """Each row's ``n`` best columns by ``key`` ascending, NaN last as
    Spark sorts it, ties to the lower column. With the columns in
    cluster_id order that is (csim desc, cluster_id asc), so a row's
    1-probe cell is always its first multi-probe cell."""
    import numpy as np

    return np.argsort(key, axis=1, kind="stable")[:, : max(n, 0)]


def _topk(c_ids, cls, val, k: int):
    """(row, column) of each row's ``k`` first candidate columns by
    (cls, val, cand_id) ascending. ``val`` is read only where ``cls`` is
    1 (a number); a ``cls`` of 3 drops the pair."""
    import numpy as np

    with np.errstate(invalid="ignore"):
        val = np.where(cls == 1, val, 0.0)
    order = np.lexsort((np.broadcast_to(c_ids, val.shape), val, cls), axis=-1)[:, :k]
    rows = np.repeat(np.arange(len(val)), order.shape[1])
    cols = order.ravel()
    keep = cls[rows, cols] < 3
    return rows[keep], cols[keep]


def _assign_pass(df, centroids, id_col, vec_col, width, pick) -> DataFrame:
    """One map-side ``mapInArrow`` pass over (id, vec): each row with its
    vnorm, once per cluster id that ``pick`` gives it. pick(block) →
    (row indexes, cluster ids) for a :class:`_Vecs` block of at most
    _BLOCK_CELLS / ``width`` rows."""
    cid = centroids.schema["cluster_id"]
    cid_type = to_arrow_type(cid.dataType)
    schema = StructType(
        [df.schema[id_col], df.schema[vec_col], StructField("vnorm", DoubleType()), cid]
    )
    step = max(1, _BLOCK_CELLS // max(1, width))

    def assign(batches):
        import pyarrow as pa

        for batch in batches:
            v = _vectors(batch.column(1))
            for s in range(0, batch.num_rows, step):
                at, cids = pick(v.take(slice(s, s + step)))
                at = at + s
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(0).take(at),
                        batch.column(1).take(at),
                        pa.array(v.norm[at], mask=v.null[at]),
                        pa.array(cids, cid_type),
                    ],
                    names=[*batch.schema.names, "vnorm", "cluster_id"],
                )

    return df.select(id_col, vec_col).mapInArrow(assign, schema)


def _scored_topk(q_ids, qv: _Vecs, c_ids, cv: _Vecs, k: int):
    """Record batches (query_id, cand_id, cos_sim) of each query's local
    top ``k`` candidates in `_rank_topk`'s order — cos_sim desc with NaN
    first (Spark sorts NaN above every value) and null last, then
    cand_id — scored in query-row blocks. Self-matches are dropped."""
    import numpy as np
    import pyarrow as pa

    step = max(1, _BLOCK_CELLS // max(1, len(c_ids)))
    for s in range(0, len(q_ids), step):
        blk = slice(s, s + step)
        csim, null = _csim(qv.take(blk), cv)
        cls = np.where(null, 2, np.where(np.isnan(csim), 0, 1))
        cls[q_ids[blk, None] == c_ids] = 3
        r, col = _topk(c_ids, cls, -csim, k)
        yield pa.RecordBatch.from_arrays(
            [pa.array(q_ids[blk][r]), pa.array(c_ids[col]), pa.array(csim[r, col], mask=null[r, col])],
            names=["query_id", "cand_id", "cos_sim"],
        )


def _pq_d2(v: _Vecs, books):
    """(tables, null) of product quantization: ``tables[s, row, c]`` is
    the squared L2 distance of the row's subspace s to entry c of
    subspace s's codebook, the fold ``_fold(d, d)`` of d = x_s − c_s, for
    ``books`` an (m, k, dsub) array. ``null[s, row]`` marks a subspace
    that a ``zip_with`` fold nulls: a null vector, a null element in the
    subspace, or a vector too short to fill it. Elements past m·dsub are
    never read."""
    import numpy as np

    m, k, dsub = books.shape
    w = min(len(v.x), m * dsub)
    x = np.zeros((m * dsub, v.x.shape[1]))
    gap = np.ones(x.shape, bool)
    x[:w], gap[:w] = v.x[:w], v.gap[:w]
    tables = np.empty((m, x.shape[1], k))
    with np.errstate(all="ignore"):
        for s in range(m):
            d = x[s * dsub : (s + 1) * dsub, :, None] - books[s].T[:, None, :]
            tables[s] = _fold(d, d)
    return tables, gap.reshape(m, dsub, -1).any(axis=1)


def _adc(books, k: int, self_ok: bool):
    """The cell function of the PQ scans: one cell's queries (query_id,
    qv) against its candidates (cand_id, codes, cluster_id), each
    query's local top ``k`` as (query_id, cand_id, cluster_id,
    approx_d2). approx_d2 is the in-order sum over s = 0..m-1 of the
    query's distance table (:func:`_pq_d2`) at the candidate's code s,
    null where a table is; the order is the probes' window, approx_d2
    asc with null first and NaN last, then cand_id. ``self_ok`` keeps a
    query's pair with itself."""
    import numpy as np

    books = np.array(books, dtype=np.float64)
    m, n_codes = books.shape[:2]

    def score(q, c):
        import pyarrow as pa

        q_ids, c_ids, cells = (
            t.column(n).to_numpy() for t, n in ((q, "query_id"), (c, "cand_id"), (c, "cluster_id"))
        )
        codes = c.column("codes").combine_chunks().flatten().to_numpy().reshape(len(c_ids), m)
        qv = _vectors(q.column("qv").combine_chunks())
        qt, ct = q.schema.field("query_id").type, c.schema.field("cand_id").type
        schema = pa.schema([("query_id", qt), ("cand_id", ct), ("cluster_id", pa.int64()), ("approx_d2", pa.float64())])
        out = []
        step = max(1, _BLOCK_CELLS // max(len(c_ids), m * n_codes))
        for s in range(0, len(q_ids), step):
            blk = slice(s, s + step)
            tables, null = _pq_d2(qv.take(blk), books)
            null = null.any(axis=0)[:, None]
            d2 = tables[0][:, codes[:, 0]]
            for j in range(1, m):
                d2 = d2 + tables[j][:, codes[:, j]]
            cls = np.where(null, 0, np.where(np.isnan(d2), 2, 1))
            if not self_ok:
                cls[q_ids[blk, None] == c_ids] = 3
            r, col = _topk(c_ids, cls, d2, k)
            cols = [
                pa.array(q_ids[blk][r], qt), pa.array(c_ids[col], ct),
                pa.array(cells[col], pa.int64()), pa.array(d2[r, col], mask=null[r, 0]),
            ]
            out.append(pa.RecordBatch.from_arrays(cols, schema=schema))
        return pa.Table.from_batches(out, schema)

    return score


def _cells(qry: DataFrame, cand: DataFrame, score, fields: list) -> DataFrame:
    """The cell skeleton of the probes and the ADC scan: queries
    (query_id, qv, cluster_id) cogrouped with candidates (cand_id, …,
    cluster_id) on a bigint cluster_id; ``score(q, c)`` turns one cell
    into (query_id, cand_id, *fields) rows, each query's local top-k.
    A candidate lives in one cell and a query visits distinct cells, so
    no pair is scored twice and a global window over the survivors
    ranks exactly."""
    qry, cand = (t.withColumn("cluster_id", F.col("cluster_id").cast("bigint")) for t in (qry, cand))
    schema = StructType([qry.schema["query_id"], cand.schema["cand_id"], *fields])
    return qry.groupBy("cluster_id").cogroup(cand.groupBy("cluster_id")).applyInArrow(score, schema)


def _all_buckets(qry: DataFrame, cand: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The all-cells layout of the exact scans for :func:`_cells`: the
    candidates (cand_id, …) hash on cand_id into one bucket per shuffle
    partition, and every query row (query_id, qv) is exploded into
    every bucket, so each pair is scored in exactly one cell."""
    n = int(qry.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        qry.withColumn("cluster_id", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))),
        cand.withColumn("cluster_id", F.pmod(F.xxhash64("cand_id"), F.lit(n))),
    )


def _signatures(df: DataFrame, planes) -> DataFrame:
    """(id, vec, sig) rows of an (id, vec) frame in one map-side pass,
    one row per LSH table t of ``planes`` (a (tables, planes, dim)
    array): sig is ``t:`` and one bit per hyperplane, 1 where the
    vector's fold with it is above 0 — a NaN dot included, as Spark and
    DuckDB order NaN above every number. A null vector, a null element
    or a length other than dim nulls every dot, and a null bit is
    skipped, as ``concat_ws`` skips it: the sig is ``t:`` alone."""
    import numpy as np

    n_tables, n_planes, dim = planes.shape
    flat = planes.reshape(-1, dim).T  # (dim, tables · planes)
    step = max(1, _BLOCK_CELLS // flat.shape[1])

    def sign(batches):
        import pyarrow as pa

        for batch in batches:
            v = _vectors(batch.column(1))
            for s in range(0, batch.num_rows, step):
                b = v.take(slice(s, s + step))
                dots = _fold(b.x[:, :, None], flat[:, None, :])
                with np.errstate(invalid="ignore"):
                    bits = np.where((dots > 0) | np.isnan(dots), "1", "0")
                bits = bits.reshape(-1, n_tables, n_planes)
                bits[~b.ok | (b.len != dim)] = ""
                at = np.repeat(np.arange(s, s + len(bits)), n_tables)
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(0).take(at),
                        batch.column(1).take(at),
                        pa.array([f"{t}:{''.join(r)}" for row in bits for t, r in enumerate(row)]),
                    ],
                    names=[*batch.schema.names, "sig"],
                )

    return df.mapInArrow(sign, StructType([*df.schema, StructField("sig", StringType())]))


def lloyd_refine(
    df: DataFrame,
    centroids: DataFrame,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd iteration(s) over a centroid table
    (VERDICT r13 next #3): assign every vector to its nearest centroid
    (map-side), replace each centroid with its cluster's mean, keep the
    old centroid for empty clusters.

    Hash-sampled centroids are the recall floor of the whole IVF
    family; one refine pass moves them toward the data's actual
    density at the cost of one aggregate pass per iteration. The
    assignment is :func:`ivf_assign` on the rows collected here, one
    map-side pass with the centroids in the kernel's closure (no join,
    no per-id aggregation, at any k × dim), so the only exchange per
    iteration is the groupBy(cluster) of k×(dim+1) algebraic partials.

    Determinism: element sums run in quantized BIGINT arithmetic
    (floor(x·10^6 + 0.5), exact long addition — order-independent,
    unlike a distributed double sum), divided back once per element.
    Same inputs → bit-identical centroids on any partitioning, so a
    refined index is as replayable as the hash-sampled one. Between
    iterations the centroid frame is re-collected so the kernel always
    reads the STORED values (float32 columns round-trip through their
    exact cast, keeping iteration N+1 consistent with what a
    written/reloaded index would hold).

    Rows whose embedding is null, dim-mismatched, or carries null
    elements are skipped (they previously crashed the build with a
    null group, an array-index overflow, or — for null elements —
    silently biased cluster 0's mean). ``id_col`` values are expected
    unique (see :func:`ivf_assign`).
    """
    Q = 1_000_000
    vec_t = dict(centroids.dtypes)["centroid"]

    for _ in range(iters):
        rows = codebook_rows(centroids)
        if not rows:
            raise ValueError("lloyd_refine needs a non-empty centroid table")
        dim = len(rows[0][1])
        # Invalid embeddings crash or bias the build (ADVICE r14 + r15
        # self-review): a short vector makes the sums loop's vec[i]
        # throw INVALID_ARRAY_INDEX, and a null or null-element vector
        # nulls every csim, which ties it to the lowest cluster_id —
        # inflating that cluster's count while the element sums skip
        # nulls: a silently biased mean. Participation therefore
        # requires exactly the centroids' dim AND no null elements.
        valid = df.filter(
            F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) == dim)
            & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        )
        sums = (
            ivf_assign(valid, centroids, 1, id_col, vec_col, rows=rows)
            .groupBy("cluster_id")
            .agg(
                F.count("*").alias("__n"),
                *[
                    F.sum(
                        F.floor(F.col(vec_col)[i].cast("double") * Q + F.lit(0.5)).cast(
                            "bigint"
                        )
                    ).alias(f"__s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new = dict(rows)  # empty clusters keep their old centroid
        for r in sums:
            n = r["__n"]
            new[r["cluster_id"]] = [r[f"__s{i}"] / (Q * n) for i in range(dim)]
        centroids = _local_frame(
            df.sparkSession,
            [(cid, new[cid]) for cid in sorted(new)],
            f"cluster_id int, centroid {vec_t}",
        )
    return centroids


def codebook_rows(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """The (cluster_id, centroid) rows of a codebook, sorted by
    cluster_id: what `ivf_assign`'s kernel carries in its closure. A
    null element stays None, and gives that centroid a null csim."""
    return sorted(
        (r["cluster_id"], [None if x is None else float(x) for x in r["centroid"]])
        for r in centroids.select("cluster_id", "centroid").collect()
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows: list | None = None,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by
    cosine (csim desc, cluster_id asc): (id, vec, vnorm, cluster_id),
    one row per cell. ``rows`` is `codebook_rows` of ``centroids`` when
    the caller already holds them (a static codebook collected once);
    otherwise they are collected here, one Spark job per call.

    One map-side ``mapInArrow`` pass, no join and no exchange: the
    centroids ride in the cosine kernel's closure (:func:`_fold`). A
    csim is null for a null vector, one whose length differs from the
    centroids', one with a null element, against a centroid with a null
    element, or for a zero norm on either side; the sort key
    coalesce(-csim, +Inf) puts a null after every number and a NaN
    last. vnorm is the row's own L2 norm, null for a null vector or
    element."""
    import numpy as np

    cids, book = _book(codebook_rows(centroids) if rows is None else rows)

    def pick(v: _Vecs):
        top = _nearest(_key(*_csim(v, book)), n_probe)
        return np.repeat(np.arange(top.shape[0]), top.shape[1]), cids[top].ravel()

    return _assign_pass(df, centroids, id_col, vec_col, len(cids), pick)


class IvfIndex(NamedTuple):
    """A built IVF index: the small centroid TABLE (a DataFrame of
    (cluster_id, centroid) — ADVICE r13: this is a frame, not a Python
    list; write_ivf_index writes it as the parquet sidecar) + the
    corpus assigned to its nearest cluster + the centroid rows
    collected once, which every probe hands its kernel without a Spark
    job. Build ONCE with :func:`ivf_index`, probe many times with
    :func:`ivf_probe` — sweeping ``n_probe``/``k`` must not re-train
    centroids or re-assign the corpus (at 100 TB the assigned frame is a
    persisted bucketed-by-cluster table; re-deriving it per tuning point
    is the recompute this split exists to forbid — r13, measured 45 s →
    ~17 s on the driver-gate tuning-curve entry)."""

    centroids: DataFrame  # (cluster_id, centroid) — k rows
    cand: DataFrame  # (cand_id, cv, cluster_id)
    rows: list  # codebook_rows(centroids), collected once at build or load


def ivf_index(
    candidates_df: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> IvfIndex:
    """Build the IVF index: deterministic centroid sample → nearest-
    centroid partition of the corpus (1 probe).

    ``refine_iters=N`` runs N deterministic Lloyd passes over the
    sampled centroids before assignment (:func:`lloyd_refine`) —
    better-centered clusters raise recall at fixed n_probe for one
    extra aggregate pass per iteration at BUILD time only (measured
    table in SCALE.md). Default 0 preserves the hash-sample behavior
    (and every catalog oracle)."""
    centroids = sample_centroids(candidates_df, n_clusters, id_col, vec_col)
    if refine_iters:
        centroids = lloyd_refine(
            candidates_df, centroids, refine_iters, id_col, vec_col
        )
    rows = codebook_rows(centroids)
    cand = ivf_assign(candidates_df, centroids, 1, id_col, vec_col, rows=rows).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "cluster_id"
    )
    return IvfIndex(centroids, cand, rows)


def ivf_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: :func:`ivf_index` + :func:`ivf_probe`
    in one call (build-per-call form for one-shot queries).

    The 100 TB shape: centroids in the kernel's closure; the corpus
    shuffles ONCE on cluster_id (and would be written
    bucketed-by-cluster for reuse); each query touches
    n_probe/n_clusters of the data instead of all of it. Recall vs
    brute force asserted in tests."""
    return ivf_probe(
        ivf_index(candidates_df, n_clusters, id_col, vec_col),
        queries_df, k=k, n_probe=n_probe, id_col=id_col, vec_col=vec_col,
    )


def ivf_probe(
    index: IvfIndex,
    queries_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a built IVF index: queries probe their ``n_probe``
    nearest clusters → exact cosine re-rank within probed clusters.

    Each probed cell scores its queries against its candidates on the
    cosine kernel and keeps each query's local top ``k`` (:func:`_cells`);
    the global window then ranks the n_probe·k survivors per query. The
    cogroup exchanges the candidate frame on cluster_id, which a
    broadcast of the query side would avoid; it was still the cheaper
    plan on every shape measured (SCALE.md)."""
    local = _cells(
        _probe_queries(index, queries_df, n_probe, id_col, vec_col),
        index.cand,
        _rerank(k),
        [StructField("cos_sim", DoubleType())],
    )
    return _rank_topk(local, k)


def _probe_queries(index, queries_df: DataFrame, n_probe: int, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qv, cluster_id): each query in its ``n_probe``
    nearest cells of ``index`` (an :class:`IvfIndex` or
    :class:`IvfPqIndex`), assigned on the index's collected codebook."""
    return ivf_assign(
        queries_df, index.centroids, n_probe, id_col, vec_col, rows=index.rows
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cluster_id")


def _rerank(k: int):
    """The cell function of :func:`ivf_probe`: one cluster's queries
    (query_id, qv, cluster_id) against its candidates (cand_id, cv,
    cluster_id), each query's local top ``k`` by the kernel's csim."""

    def score(q, c):
        import pyarrow as pa

        q_ids = q.column("query_id").combine_chunks()
        c_ids = c.column("cand_id").combine_chunks()
        schema = pa.schema([("query_id", q_ids.type), ("cand_id", c_ids.type), ("cos_sim", pa.float64())])
        qv, cv = (_vectors(t.column(v).combine_chunks()) for t, v in ((q, "qv"), (c, "cv")))
        return pa.Table.from_batches(
            list(_scored_topk(q_ids.to_numpy(), qv, c_ids.to_numpy(), cv, k)), schema
        )

    return score


IVF_ANN_ORACLE = f"""
WITH h AS (
  SELECT vec_id, embedding,
         ((vec_id % 4294967296) * 1000003) % 4294967296 AS hk
  FROM embeddings
), c AS (
  SELECT row_number() OVER (ORDER BY hk, vec_id) - 1 AS cluster_id,
         embedding AS centroid
  FROM h
  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= 16
), asg AS (
  SELECT v.vec_id, v.embedding, c.cluster_id,
         {_sql_cos("v.embedding", "c.centroid")} AS csim
  FROM embeddings v CROSS JOIN c
), cand AS (
  SELECT vec_id AS cand_id, embedding AS cv, cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cluster_id) AS r FROM asg)
  WHERE r = 1
), qry AS (
  SELECT vec_id AS query_id, embedding AS qv, cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cluster_id) AS r
        FROM asg WHERE vec_id % 20 = 0)
  WHERE r <= 4
), scored AS (
  SELECT q.query_id, cand.cand_id,
         {_sql_cos("q.qv", "cand.cv")} AS cos_sim
  FROM qry q JOIN cand
    ON q.cluster_id = cand.cluster_id AND cand.cand_id != q.query_id
)
SELECT query_id, cand_id
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk FROM scored)
WHERE rnk <= 10
"""


@query(
    "similarity_ivf_ann",
    oracle=IVF_ANN_ORACLE,
    tags=("similarity", "llm", "approx"),
)
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate top-10 (the bucketed-corpus scale
    path, complementing the LSH variant): :func:`ivf_topk`, whose
    per-cluster rerank runs on the cosine kernel.

    FULLY oracle-checked (upgraded from rows-only): centroid selection
    is a portable multiplicative hash and every later step (1-probe
    assignment, 4-probe query fan-out, in-cluster exact cosine, global
    top-10) is deterministic, so DuckDB runs the IDENTICAL algorithm.
    Output is the pair set (query_id, cand_id)."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(emb.filter(F.col("vec_id") % 20 == 0), emb, k=10).select(
        "query_id", "cand_id"
    )


KNN_JOIN_ORACLE = f"""
WITH h AS (
  SELECT vec_id, embedding,
         ((vec_id % 4294967296) * 1000003) % 4294967296 AS hk
  FROM embeddings
), c AS (
  SELECT row_number() OVER (ORDER BY hk, vec_id) - 1 AS cluster_id,
         embedding AS centroid
  FROM h
  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= 16
), asg AS (
  SELECT v.vec_id, v.embedding, c.cluster_id,
         {_sql_cos("v.embedding", "c.centroid")} AS csim
  FROM embeddings v CROSS JOIN c
), cand AS (
  SELECT vec_id AS cand_id, embedding AS cv, cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cluster_id) AS r FROM asg)
  WHERE r = 1
), qry AS (
  SELECT vec_id AS query_id, embedding AS qv, cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cluster_id) AS r FROM asg)
  WHERE r <= 4
), scored AS (
  SELECT q.query_id, cand.cand_id,
         {_sql_cos("q.qv", "cand.cv")} AS cos_sim
  FROM qry q JOIN cand
    ON q.cluster_id = cand.cluster_id AND cand.cand_id != q.query_id
)
SELECT query_id, cand_id
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk FROM scored)
WHERE rnk <= 5
"""


@query(
    "similarity_knn_join_cogrouped",
    oracle=KNN_JOIN_ORACLE,
    tags=("similarity", "llm", "approx"),
)
def similarity_knn_join_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF kNN-JOIN: every corpus vector is a query (|Q| == corpus —
    the self-join shape a SemDeDup-style pipeline runs, and the
    documented intended tool once |Q| stops being a small probe set;
    VERDICT r5 #6 promoted it to a driver entry). :func:`ivf_topk`'s
    cogroup task scores ONE cluster's queries against that cluster's
    candidates on the cosine kernel, in row blocks, so resident memory
    per task is bounded by the cluster and clusters run in parallel —
    nothing global is quadratic and nothing collects to the driver.

    FULLY oracle-checked like similarity_ivf_ann: portable
    multiplicative-hash centroids, deterministic 1-probe assignment /
    4-probe fan-out / exact in-cluster cosine / global top-5, so
    DuckDB replays the identical algorithm; output is the pair set."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb, k=5).select("query_id", "cand_id")


PAIRS_ORACLE = f"""
WITH pairs AS (
  SELECT
    a.vec_id AS id_a,
    b.vec_id AS id_b,
    {_sql_cos("a.embedding", "b.embedding")} AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.30
"""


@query("similarity_neardup_pairs", oracle=PAIRS_ORACLE, tags=("similarity", "dedup", "llm"))
def similarity_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.30 — the synthetic
    embeddings are near-orthogonal, max pairwise cos ≈ 0.41, so a
    production-style 0.95 threshold would test nothing) over a 10%
    sample — the embedding-space analogue of MinHash dedup."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "va", "vb")
    return _pair_cos(pairs, "va", "vb").filter(F.col("cos_sim") >= 0.30)


# --- label-centroid cosine matrix ----------------------------------------

CENTROID_SIM_ORACLE = """
WITH pe AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding) AS v
  FROM embeddings
), q AS (
  SELECT CAST(label AS BIGINT) AS label, dim,
         CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS vi
  FROM pe
), s AS (
  SELECT label, dim, CAST(SUM(vi) AS BIGINT) AS si FROM q GROUP BY 1, 2
), n AS (
  SELECT label, CAST(SUM(si * si) AS BIGINT) AS n2 FROM s GROUP BY 1
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(SUM(a.si * b.si) AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_sim
FROM s a
JOIN s b ON a.dim = b.dim AND a.label < b.label
JOIN n na ON na.label = a.label
JOIN n nb ON nb.label = b.label
GROUP BY a.label, b.label, na.n2, nb.n2
"""


@query("similarity_label_centroid_matrix", oracle=CENTROID_SIM_ORACLE, tags=("similarity", "llm"))
def similarity_label_centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label mean embeddings,
    computed exactly in a distributed-deterministic way:

    - cosine is scale-invariant, so per-label SUM vectors replace mean
      vectors (no division, no float accumulation order);
    - components are quantized to integers (floor(v·1000)) *before*
      aggregation, so every sum is exact BIGINT arithmetic — the result
      is bit-identical regardless of partitioning, and Σ(Σvi)² stays
      < 2^63 through sf10 at this quantization;
    - the long (label, dim) form keeps the shuffle key-count at
      |labels|·dims rows — independent of corpus size — and the final
      pair join touches 64·|labels|² rows at most.
    """
    e = load(spark, sf_dir, "embeddings")
    pe = e.select(
        F.col("label").cast("bigint").alias("label"),
        F.posexplode("embedding").alias("dim0", "v"),
    )
    q = pe.select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * 1000).cast("bigint").alias("vi"),
    )
    s = q.groupBy("label", "dim").agg(F.sum("vi").alias("si"))
    n = s.groupBy("label").agg(F.sum(F.col("si") * F.col("si")).alias("n2"))
    a = s.select(F.col("label").alias("label_a"), "dim", F.col("si").alias("sa"))
    b = s.select(F.col("label").alias("label_b"), F.col("dim").alias("dim_b"), F.col("si").alias("sb"))
    dot = (
        a.join(b, (F.col("dim") == F.col("dim_b")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    na = n.select(F.col("label").alias("label_a"), F.col("n2").alias("n2a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("n2").alias("n2b"))
    return (
        dot.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            "label_a",
            "label_b",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double")))
            ).alias("cos_sim"),
        )
    )


TOPK_PAIRS_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 20 = 0
),
scored AS (
  SELECT
    q.query_id,
    c.vec_id AS cand_id,
    {_sql_cos("q.qv", "c.embedding")} AS cos_sim
  FROM q JOIN embeddings c ON c.vec_id != q.query_id
)
SELECT query_id, cand_id
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
  FROM scored
) t
WHERE rnk <= 10
"""


@query(
    "similarity_topk_vectorized",
    oracle=TOPK_PAIRS_ORACLE,
    tags=("similarity", "llm", "udf"),
)
def similarity_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 as the top-k pair set (query_id, cand_id):
    :func:`topk_bruteforce`, oracle-checked on the pairs alone. Its row
    equality with a HOF reference top-k, cos_sim and rnk included, is
    pinned in tests/test_similarity_ivf.py."""
    emb = load(spark, sf_dir, "embeddings")
    return topk_bruteforce(emb.filter(F.col("vec_id") % 20 == 0), emb, k=10).select(
        "query_id", "cand_id"
    )


# --- product quantization (PQ) -------------------------------------------

# Named points on the measured code-budget/recall curve (r10 sweep,
# SCALE.md "PQ code budget vs recall"; recall@10 vs exact at sf0.1,
# n_probe=4, 64-dim embeddings — monotone in both axes at every sf):
#
#   profile      m   k_codes  bytes/vec  recall@10   use when
#   PQ_COMPACT   4   16       4          0.052       memory-floor scans;
#                                                    oracle-parity entries
#   PQ_QUALITY   16  64       16         0.278       the default answer —
#                                                    5.3× the recall, still
#                                                    16× below raw (256 B)
#
# The bare-API defaults below are PQ_QUALITY (VERDICT r10 wrong #3: a
# user copying the old m=4/k_codes=16 default got the measured recall
# plateau). Catalog entries pin PQ_COMPACT explicitly — their DuckDB
# oracles replay the exact parameters, and the compact point keeps the
# oracle's m-way cross join cheap — with docstrings pointing here.
PQ_COMPACT = {"m": 4, "k_codes": 16}
PQ_QUALITY = {"m": 16, "k_codes": 64}


def pq_codebooks(
    df: DataFrame,
    m: int = PQ_QUALITY["m"],
    k: int = PQ_QUALITY["k_codes"],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: the same portable-hash-ordered
    first-``k`` vectors that seed IVF (sample_centroids) supply the
    per-subspace codebooks — subspace s's centroids are the s-th
    slices of those k vectors. Returns [m][k][dsub] floats.

    Like IVF's centroid pick, the sample is a distributed top-K
    (TakeOrderedAndProject) and the k×dim result collects to the
    driver only to ride back out in the kernel's closure —
    constant-size at any corpus scale."""
    cent = (
        centroids if centroids is not None
        else sample_centroids(df, k, id_col=id_col, vec_col=vec_col)
    ).collect()
    dim = len(cent[0]["centroid"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [[float(x) for x in r["centroid"][s * dsub : (s + 1) * dsub]] for r in cent]
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector as m sub-quantizer codes (nearest codebook
    entry per subspace by squared L2, ties to the lowest code) plus
    the total quantization error. 64 float dims compress to m=4 bytes
    — the memory layout that lets an ANN index hold 100 TB of vectors
    in RAM (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011).

    One map-side ``mapInArrow`` pass, zero shuffle at any scale: the
    codebooks ride in the kernel's closure and each block's distance
    tables come from :func:`_pq_d2`. A code is the argmin over the k
    entries as Spark orders doubles (NaN above every number, ties to
    the lowest code); a null subspace (see :func:`_pq_d2`) takes code 0
    and nulls ``qerr``, the in-order sum of the m picked distances. All
    arithmetic is double in a fixed order, so an external SQL engine
    reproduces codes AND error bit-for-bit."""
    import numpy as np

    books = np.array(codebooks, dtype=np.float64)
    m, k, _ = books.shape
    cols = [id_col, *passthrough]
    schema = StructType(
        [
            *(df.schema[c] for c in cols),
            StructField("codes", ArrayType(IntegerType())),
            StructField("qerr", DoubleType()),
        ]
    )
    step = max(1, _BLOCK_CELLS // (m * k))

    def encode(batches):
        import pyarrow as pa

        for batch in batches:
            v = _vectors(batch.column(vec_col))
            for s in range(0, batch.num_rows, step):
                tables, null = _pq_d2(v.take(slice(s, s + step)), books)
                n = tables.shape[1]
                code = _nearest(tables.reshape(-1, k), 1).reshape(m, n)
                code[null] = 0
                err = np.take_along_axis(tables, code[..., None], axis=2)[..., 0]
                qerr = err[0]
                for e in err[1:]:
                    qerr = qerr + e
                offsets = pa.array(np.arange(0, (n + 1) * m, m), pa.int32())
                yield pa.RecordBatch.from_arrays(
                    [
                        *(batch.column(c).slice(s, n) for c in cols),
                        pa.ListArray.from_arrays(offsets, pa.array(code.T.ravel(), pa.int32())),
                        pa.array(qerr, mask=null.any(axis=0)),
                    ],
                    names=[*cols, "codes", "qerr"],
                )

    return df.select(*cols, vec_col).mapInArrow(encode, schema)


# The oracle runs the IDENTICAL algorithm in SQL: portable-hash
# centroid pick, per-subspace squared-L2 argmin (ties to lowest code),
# in-order error sum — every double computed in the same order.
PQ_ORACLE = """
WITH cent AS (
  SELECT
    row_number() OVER (
      ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
    ) - 1 AS cid,
    embedding
  FROM embeddings
  ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
  LIMIT 16
), dists AS (
  SELECT
    e.vec_id,
    s.s,
    c.cid,
    list_sum(list_transform(
      list_zip(e.embedding[s.s * 16 + 1 : s.s * 16 + 16],
               c.embedding[s.s * 16 + 1 : s.s * 16 + 16]),
      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
    )) AS d2
  FROM embeddings e
  CROSS JOIN cent c
  CROSS JOIN (VALUES (0), (1), (2), (3)) s(s)
), best AS (
  SELECT vec_id, s, cid, d2,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
  FROM dists
)
SELECT
  vec_id,
  CAST(max(CASE WHEN s = 0 THEN cid END) AS INTEGER) AS c0,
  CAST(max(CASE WHEN s = 1 THEN cid END) AS INTEGER) AS c1,
  CAST(max(CASE WHEN s = 2 THEN cid END) AS INTEGER) AS c2,
  CAST(max(CASE WHEN s = 3 THEN cid END) AS INTEGER) AS c3,
  list_sum(list(d2 ORDER BY s)) AS qerr
FROM best
WHERE rn = 1
GROUP BY vec_id
"""


@query("similarity_pq_codes", oracle=PQ_ORACLE, tags=("similarity", "llm", "approx"))
def similarity_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the embeddings corpus (m=4
    subspaces × k=16 codes): each 64-dim float vector becomes 4 small
    codes + its quantization error. Completes the ANN family —
    brute-force (exact), LSH (hash prefilter), IVF (bucketed), PQ
    (compressed storage); at scale PQ codes are what the IVF clusters
    store. See :func:`pq_encode` for the scale/exactness design.

    Output is SCALAR columns ``c0..c3 INT`` (not the internal
    ``codes`` array): the driver's canonicalizer sorts a pandas frame
    by every column and dies on unhashable Python lists (the round-4
    red row). Catalog contract: no entry emits Array/Map/Struct —
    enforced for every entry in tests/test_catalog_oracle.py."""
    emb = load(spark, sf_dir, "embeddings")
    enc = pq_encode(emb, pq_codebooks(emb, m=4, k=16))
    return enc.select(
        "vec_id",
        *[enc["codes"][i].alias(f"c{i}") for i in range(4)],
        "qerr",
    )


def pq_adc_topk(
    queries_df: DataFrame,
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k: each full-precision
    query builds an m×k distance TABLE against the codebooks, then scans
    candidates' codes summing m table lookups — the PQ search kernel
    (Jégou et al. 2011 §IV). Self pairs are scored like any other.

    Scale shape: ADC *is* a linear scan over compressed codes; its win
    is the 64× memory compression (4 bytes vs 256), not scan avoidance.
    The codes shuffle once into hash buckets (one per shuffle
    partition) and every query visits every bucket (:func:`_all_buckets`,
    as in :func:`topk_bruteforce`): the cell skeleton of the IVF probes
    (:func:`_cells`) with all cells probed, scored on the same kernel
    (:func:`_adc`), so no pair is formed as a row. At
    100 TB the codes live inside IVF clusters (IVF-ADC,
    :func:`ivfpq_probe`): the same kernel runs per probed cluster only.
    Top-k per query is a window over the per-bucket survivors."""
    qry, cand = _all_buckets(
        queries_df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        codes_df.select(F.col(id_col).alias("cand_id"), "codes"),
    )
    scored = _cells(
        qry, cand, _adc(codebooks, k, self_ok=True),
        [StructField("cluster_id", LongType()), StructField("approx_d2", DoubleType())],
    )
    return _adc_first(scored, k).select("query_id", "cand_id", "approx_d2")


def _adc_first(scored: DataFrame, n: int) -> DataFrame:
    """Each query's ``n`` first rows of ``scored`` by (approx_d2,
    cand_id): the global window over the cells' survivors."""
    w = W.partitionBy("query_id").orderBy("approx_d2", "cand_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)


PQ_ADC_ORACLE = """
WITH cent AS (
  SELECT
    row_number() OVER (
      ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
    ) - 1 AS cid,
    embedding
  FROM embeddings
  ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
  LIMIT 16
), dists AS (
  SELECT
    e.vec_id,
    s.s,
    c.cid,
    list_sum(list_transform(
      list_zip(e.embedding[s.s * 16 + 1 : s.s * 16 + 16],
               c.embedding[s.s * 16 + 1 : s.s * 16 + 16]),
      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
    )) AS d2
  FROM embeddings e
  CROSS JOIN cent c
  CROSS JOIN (VALUES (0), (1), (2), (3)) s(s)
), codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
    FROM dists
  ) WHERE rn = 1
), scan AS (
  SELECT dq.vec_id AS query_id, cd.vec_id AS cand_id,
         list_sum(list(dq.d2 ORDER BY dq.s)) AS approx_d2
  FROM codes cd
  JOIN dists dq ON dq.s = cd.s AND dq.cid = cd.cid
  WHERE dq.vec_id % 20 = 0
  GROUP BY dq.vec_id, cd.vec_id
)
SELECT query_id, cand_id, approx_d2 FROM (
  SELECT query_id, cand_id, approx_d2,
         row_number() OVER (PARTITION BY query_id ORDER BY approx_d2, cand_id) AS rn
  FROM scan
) WHERE rn <= 10
"""


@query("similarity_pq_adc_topk", oracle=PQ_ADC_ORACLE, tags=("similarity", "llm", "approx"))
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC approximate top-10 over PQ codes (queries = every 20th
    vector). Fully oracle-checked: codebook pick, encoding, distance
    tables, and the in-order lookup sum are all deterministic doubles,
    so DuckDB reproduces approx_d2 bit-for-bit via its own join-form
    of the same algorithm."""
    emb = load(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, m=4, k=16)
    codes = pq_encode(emb, books)
    return pq_adc_topk(emb.filter(F.col("vec_id") % 20 == 0), codes, books, k=10)


class IvfPqIndex(NamedTuple):
    """A built IVF-PQ index: the centroid TABLE (DataFrame — ADVICE
    r13: the centroids are a (cluster_id, centroid) frame that
    write_ivfpq_index writes as a parquet sidecar), the [m][k][dsub]
    codebooks, the corpus encoded to PQ codes and cluster-assigned (a
    lazy frame, like :class:`IvfIndex`'s), and the centroid rows collected once,
    which every probe hands the assignment kernel without a Spark job. Build
    ONCE (:func:`ivfpq_index`), probe many times (:func:`ivfpq_probe`)
    — the encoded-codes frame IS the stored index (4 B/vector, the
    point of PQ); re-encoding it per tuning point is the recompute the
    split forbids (r13)."""

    centroids: DataFrame  # (cluster_id, centroid) — k rows, broadcast-sized
    books: list  # [m][k][dsub] floats — the ADC kernel's closure
    cand: DataFrame  # (cand_id, cluster_id, codes)
    rows: list  # codebook_rows(centroids), collected once at build or load
    # Optional raw-vector sidecar: the corpus vectors with their
    # cluster_id, partitioned by it (write_ivfpq_index(corpus_df=...)),
    # so rerank's exact-vector fetch partition-prunes to the shortlist.
    vectors: DataFrame | None = None


def ivfpq_index(
    corpus_df: DataFrame,
    n_clusters: int = 16,
    m: int = PQ_QUALITY["m"],
    k_codes: int = PQ_QUALITY["k_codes"],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> IvfPqIndex:
    """Build the IVF-PQ index: centroids, per-subspace codebooks, and
    the corpus encoded + cluster-assigned (two map-side kernel passes).

    ``refine_iters=N`` Lloyd-refines the COARSE quantizer only (the
    IVF centroids — :func:`lloyd_refine`); the PQ codebooks keep the
    raw hash-sampled seed vectors, since refining them is a different
    axis (sub-vector quantization error) with its own sweep
    (scripts/sweep_pq_params.py). Default 0 = r13 behavior and every
    catalog oracle."""
    sample = sample_centroids(corpus_df, n_clusters, id_col, vec_col)
    centroids = (
        lloyd_refine(corpus_df, sample, refine_iters, id_col, vec_col)
        if refine_iters
        else sample
    )
    # the SAME collected sample seeds both structures when
    # n_clusters == k_codes: one distributed top-K pass, not two —
    # and encoding runs directly on the assigned frame (cluster_id as
    # a passthrough), removing the id-key join entirely
    books = pq_codebooks(
        corpus_df, m=m, k=k_codes, id_col=id_col, vec_col=vec_col,
        centroids=sample if k_codes == n_clusters else None,
    )
    rows = codebook_rows(centroids)
    cand = pq_encode(
        ivf_assign(corpus_df, centroids, 1, id_col, vec_col, rows=rows),
        books, id_col, vec_col, passthrough=("cluster_id",),
    ).select(F.col(id_col).alias("cand_id"), "cluster_id", "codes")
    return IvfPqIndex(centroids, books, cand, rows)


def ivfpq_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    m: int = PQ_QUALITY["m"],
    k_codes: int = PQ_QUALITY["k_codes"],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-ADC composition (Jégou et al. 2011 §V — the production ANN
    layout): :func:`ivfpq_index` + :func:`ivfpq_probe` in one call.

    This is the 100 TB shape end-to-end: centroids + codebooks ride
    in the kernel's closure; the corpus shuffles once on cluster_id (and
    would persist bucketed-by-cluster for reuse); per query the scan
    cost is n_probe/n_clusters of the codes — 4 bytes per candidate —
    instead of a full-precision linear scan. pq_adc_topk is the
    degenerate n_probe = n_clusters case."""
    return ivfpq_probe(
        ivfpq_index(corpus_df, n_clusters, m, k_codes, id_col, vec_col),
        queries_df, k=k, n_probe=n_probe, id_col=id_col, vec_col=vec_col,
    )


def ivfpq_probe(
    index: IvfPqIndex,
    queries_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    corpus_df: DataFrame | None = None,
) -> DataFrame:
    """Probe a built IVF-PQ index: a query probes its ``n_probe``
    nearest clusters and runs the ADC kernel only over those
    clusters\' codes — :func:`ivf_probe`'s cell skeleton
    (:func:`_cells`) with the ADC score (:func:`_adc`) in place of the
    cosine: each cell keeps each query's local top ``rerank or k`` with
    self-matches dropped, then the global window ranks.

    ``rerank=R`` (VERDICT r13 next #2) adds the production refinement
    step (Jégou et al. 2011 §V.C): ADC distances are biased by
    quantization, so take the top ``R >= k`` candidates by ADC, fetch
    their EXACT vectors from ``corpus_df`` by id, and return the top
    ``k`` by exact cosine. Output schema changes accordingly:
    ``(query_id, cand_id, approx_d2)`` without rerank,
    ``(query_id, cand_id, cos_sim)`` with — the two orderings are
    different metrics and must not be conflated.

    Scale shape of the fetch: the ADC shortlist is |Q|·R rows — BOUNDED by construction — and
    carries each candidate's ``cluster_id``. When the raw-vector
    table is cluster-partitioned (``index.vectors`` — the sidecar
    ``write_ivfpq_index(..., corpus_df=...)`` lands, used
    automatically when ``corpus_df`` is omitted), the broadcast
    fetch joins on ``(cluster_id, cand_id)`` and dynamic partition
    pruning restricts the scan to the shortlist's clusters: a genuine
    point-read against the stored artifact (plan-pinned —
    ``dynamicpruning`` on the vectors scan in
    tests/test_similarity_ivf.py). An EXPLICIT ``corpus_df`` always
    fetches by ``cand_id`` alone — one map-side pass over the corpus,
    filtered after the scan, no shuffle of corpus-sized data — even
    if it happens to carry a ``cluster_id`` column: a caller-side
    label is not trusted to match THIS index's assignment (a stale
    one would silently drop shortlist candidates in the two-key
    join). Pruning engages only for the index's own sidecar. The query
    vectors are broadcast-attached the same way. The only exchange the
    fetch adds is the final top-k window's hash-partition of the
    BOUNDED |Q|·R exact frame; the rerank itself is |Q|·R exact
    cosines, row by row on the cosine kernel.
    """
    if rerank:
        # partition-pruned fetch only against the index's own sidecar,
        # the one frame whose cluster labels are this index's
        pruned = corpus_df is None or corpus_df is index.vectors
        if corpus_df is None:
            corpus_df = index.vectors  # cluster-partitioned sidecar
        pruned = pruned and corpus_df is not None
        if corpus_df is None:
            raise ValueError(
                "rerank=R needs exact vectors for the ADC shortlist — "
                "the PQ index stores only 4 B/vec codes. Pass "
                "corpus_df (the raw-vector table), or build the index "
                "artifact with write_ivfpq_index(..., corpus_df=...) "
                "so the reloaded index carries its cluster-partitioned "
                "vector sidecar (index.vectors)"
            )
        if rerank < k:
            raise ValueError(f"rerank={rerank} must be >= k={k}")
    scored = _cells(
        _probe_queries(index, queries_df, n_probe, id_col, vec_col),
        index.cand,
        _adc(index.books, rerank or k, self_ok=False),
        [StructField("cluster_id", LongType()), StructField("approx_d2", DoubleType())],
    )
    ranked = _adc_first(scored, rerank or k)
    if not rerank:
        return ranked.select("query_id", "cand_id", "approx_d2")
    # cluster_id rides along: each candidate lives in exactly one
    # cluster, so the shortlist's clusters are exactly what the
    # exact-vector fetch needs to prune a cluster-partitioned table.
    shortlist = ranked.select("query_id", "cand_id", "cluster_id")
    cv = corpus_df.select(
        *(["cluster_id"] if pruned else []),
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
    )
    qv = queries_df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # the bounded shortlist broadcasts against the vector table, then
    # against the query vectors (see the docstring's fetch shape)
    pairs = (
        cv.join(F.broadcast(shortlist), ["cluster_id", "cand_id"] if pruned else ["cand_id"])
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "cand_id", "qv", "cv")
    )
    return _rank_topk(_pair_cos(pairs, "qv", "cv"), k).drop("rnk")


def write_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist a built IVF index as its stored artifact (r13): the
    assigned corpus written PARTITIONED BY cluster_id — the on-disk
    form of the bucketed-by-cluster layout, so a probe's cluster_id
    join prunes to its n_probe cluster directories (statically when
    the probed ids are literals, via dynamic partition pruning when
    they come from the query side) — plus the centroid table as a
    small parquet sidecar. Everything goes through the Hadoop FS
    layer (no driver-local file I/O), so the same call targets S3/HDFS
    on a real cluster. At 100 TB this artifact is built once and
    probed for months; see SCALE.md. (No raw-vector sidecar option
    here, unlike :func:`write_ivfpq_index`: IVF's ``cand`` already
    stores the full vectors + norms cluster-partitioned — probes are
    exact within probed clusters, so there is nothing to re-rank.)"""
    index.cand.write.partitionBy("cluster_id").mode("overwrite").parquet(
        f"{path}/cand"
    )
    index.centroids.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )


def read_ivf_index(spark: SparkSession, path: str) -> IvfIndex:
    """Load a :func:`write_ivf_index` artifact. The returned index
    probes identically to the in-memory one (pinned in
    tests/test_similarity_ivf.py); the cand scan is partition-pruned
    by cluster_id."""
    centroids = spark.read.parquet(f"{path}/centroids")
    return IvfIndex(
        centroids, spark.read.parquet(f"{path}/cand"), codebook_rows(centroids)
    )


def write_ivfpq_index(
    index: IvfPqIndex,
    path: str,
    corpus_df: DataFrame | None = None,
    id_col: str = "vec_id",
) -> None:
    """Persist a built IVF-PQ index: PQ codes partitioned by
    cluster_id (4 B/vector — the artifact IS the compressed corpus),
    centroids, and the codebooks flattened to (s, c, centroid) rows —
    parquet doubles round-trip exactly, so the reloaded ADC kernel is
    bit-identical.

    ``corpus_df=`` (r15, VERDICT r14 wrong #1) additionally lands the
    RAW vectors as a ``vectors/`` sidecar PARTITIONED BY cluster_id
    (each vector tagged with its IVF assignment from ``index.cand``).
    This is what makes ``ivfpq_probe(..., rerank=R)``'s exact-vector
    fetch a point-read against the stored artifact: the shortlist's
    (cluster_id, cand_id) join partition-prunes the sidecar scan to
    the probed clusters instead of re-scanning the whole raw table.
    The sidecar costs one extra copy of the corpus on disk — the
    trade a deployment makes when rerank quality is wanted at probe
    time without keeping the original table hot."""
    index.cand.write.partitionBy("cluster_id").mode("overwrite").parquet(
        f"{path}/cand"
    )
    index.centroids.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    spark = index.centroids.sparkSession
    rows = [
        (s, c, [float(x) for x in vec])
        for s, book in enumerate(index.books)
        for c, vec in enumerate(book)
    ]
    _local_frame(spark, rows, "s int, c int, centroid array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/books")
    if corpus_df is not None:
        # the index's own assignment is authoritative: a stale
        # cluster_id already on corpus_df is dropped before tagging
        (
            corpus_df.drop("cluster_id")
            .join(index.cand.select(F.col("cand_id").alias(id_col), "cluster_id"), id_col)
            .write.partitionBy("cluster_id")
            .mode("overwrite")
            .parquet(f"{path}/vectors")
        )


def read_ivfpq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    """Load a :func:`write_ivfpq_index` artifact; probes identically
    to the in-memory index (pinned in tests/test_similarity_pq.py).
    If the artifact carries a raw-vector sidecar (written with
    ``corpus_df=``), it is attached as ``index.vectors`` and rerank
    probes partition-prune against it automatically."""
    rows = spark.read.parquet(f"{path}/books").collect()
    m = max(r.s for r in rows) + 1
    k = max(r.c for r in rows) + 1
    books: list = [[None] * k for _ in range(m)]
    for r in rows:
        books[r.s][r.c] = list(r.centroid)
    try:
        vectors = spark.read.parquet(f"{path}/vectors")
    except AnalysisException as e:
        # only an absent sidecar degrades to vectors=None; one that
        # exists but fails to read (permissions, corruption) is raised
        if "PATH_NOT_FOUND" not in str(e) and "does not exist" not in str(e):
            raise
        vectors = None
    centroids = spark.read.parquet(f"{path}/centroids")
    return IvfPqIndex(
        centroids,
        books,
        spark.read.parquet(f"{path}/cand"),
        codebook_rows(centroids),
        vectors,
    )


IVFPQ_ORACLE = f"""
WITH cent AS (
  SELECT
    row_number() OVER (
      ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
    ) - 1 AS cid,
    embedding
  FROM embeddings
  ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
  LIMIT 16
), csim AS (
  SELECT e.vec_id, c.cid,
         {{cos}} AS csim
  FROM embeddings e CROSS JOIN cent c
), cand_asg AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM csim
  ) WHERE rn = 1
), qry_asg AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM csim WHERE vec_id % 20 = 0
  ) WHERE rn <= 4
), dists AS (
  SELECT
    e.vec_id,
    s.s,
    c.cid,
    list_sum(list_transform(
      list_zip(e.embedding[s.s * 16 + 1 : s.s * 16 + 16],
               c.embedding[s.s * 16 + 1 : s.s * 16 + 16]),
      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
    )) AS d2
  FROM embeddings e
  CROSS JOIN cent c
  CROSS JOIN (VALUES (0), (1), (2), (3)) s(s)
), codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
    FROM dists
  ) WHERE rn = 1
), scan AS (
  SELECT dq.vec_id AS query_id, cd.vec_id AS cand_id,
         list_sum(list(dq.d2 ORDER BY dq.s)) AS approx_d2
  FROM codes cd
  JOIN cand_asg ca ON ca.vec_id = cd.vec_id
  JOIN dists dq ON dq.s = cd.s AND dq.cid = cd.cid
  JOIN qry_asg qa ON qa.vec_id = dq.vec_id AND qa.cluster_id = ca.cluster_id
  WHERE dq.vec_id != cd.vec_id
  GROUP BY dq.vec_id, cd.vec_id
)
SELECT query_id, cand_id, approx_d2 FROM (
  SELECT query_id, cand_id, approx_d2,
         row_number() OVER (PARTITION BY query_id ORDER BY approx_d2, cand_id) AS rn
  FROM scan
) WHERE rn <= 10
""".format(cos=_sql_cos("e.embedding", "c.embedding"))


@query("similarity_ivfpq_ann", oracle=IVFPQ_ORACLE, tags=("similarity", "llm", "approx"))
def similarity_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC approximate top-10 (queries = every 20th vector): the
    composed production ANN — IVF cluster pruning × PQ compressed
    scan. The oracle reproduces centroid pick, cosine cluster
    assignment, PQ encoding, and the in-order ADC sums bit-for-bit,
    restricted to (query, candidate) pairs whose clusters the query
    probes.

    Pins the PQ_COMPACT point (m=4/k_codes=16) DELIBERATELY: the
    oracle's m-way subspace cross join replays these exact parameters
    and the entry checks plan parity, not retrieval quality. The
    bare-API default (`ivfpq_topk` with no m/k_codes) is PQ_QUALITY —
    5.3× the recall at 16 B/vec; see the profile table at the PQ
    section header and SCALE.md "PQ code budget vs recall"."""
    emb = load(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb.filter(F.col("vec_id") % 20 == 0), emb,
        k=10, n_clusters=16, n_probe=4,
        m=PQ_COMPACT["m"], k_codes=PQ_COMPACT["k_codes"],
    )


SEMDEDUP_ORACLE = f"""
WITH cent AS (
  SELECT row_number() OVER (
           ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
         ) - 1 AS cid,
         embedding
  FROM embeddings
  ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
  LIMIT 16
), asg AS (
  SELECT v.vec_id, v.embedding, c.cid,
         {{cos}} AS csim
  FROM embeddings v CROSS JOIN cent c
), cl AS (
  SELECT vec_id, embedding, cid AS cluster_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS r
    FROM asg
  ) WHERE r = 1
), rm AS (
  SELECT DISTINCT b.vec_id
  FROM cl a JOIN cl b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {{paircos}} >= 0.30
)
SELECT cl.vec_id, CAST(cl.cluster_id AS BIGINT) AS cluster_id,
       rm.vec_id IS NULL AS is_kept
FROM cl LEFT JOIN rm ON rm.vec_id = cl.vec_id
""".format(
    cos=_sql_cos("v.embedding", "c.embedding"),
    paircos=_sql_cos("a.embedding", "b.embedding"),
)


@query("dedup_semantic_cluster", oracle=SEMDEDUP_ORACLE, tags=("dedup", "similarity", "llm"))
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): embedding-space
    near-duplicates are pruned WITHIN k-means-style clusters — a row
    is removed when a lower-id member of its own cluster sits above
    the cosine threshold (one-pass greedy; the threshold is 0.30
    because the synthetic embeddings are near-orthogonal, mirroring
    similarity_neardup_pairs). Cross-cluster near-dups are invisible
    by design — exactly the approximation the paper makes to avoid
    the quadratic all-pairs pass.

    Scale: the centroid set rides in the assignment kernel's closure;
    assignment is map-side; the prune is hash-partitioned ON cluster_id
    and scores each cluster against itself, so
    total pair work is Σ|cluster|², bounded by the cluster balance
    the IVF slow tier measures (max/median 1.1) — never |corpus|².
    At 100 TB with √n clusters this is the linear-ish pass that makes
    semantic dedup feasible at all."""
    emb = load(spark, sf_dir, "embeddings")
    return _semdedup_prune(ivf_assign(emb, sample_centroids(emb, 16), 1))


def _semdedup_prune(cl: DataFrame) -> DataFrame:
    """SemDeDup's greedy prune over a 1-probe assignment ``cl``
    (vec_id, embedding, vnorm, cluster_id): a row is removed when a
    lower-id member of its own cluster reaches cosine 0.30. Returns
    (vec_id, cluster_id BIGINT, is_kept) from one pass: the rows are
    hash-partitioned on cluster_id and each cluster is scored against
    itself on the cosine kernel (:func:`_reached`), so the assignment
    runs once."""
    rows = cl.select("vec_id", "embedding", F.col("cluster_id").cast("bigint").alias("cluster_id"))
    schema = StructType(
        [rows.schema["vec_id"], rows.schema["cluster_id"], StructField("is_kept", BooleanType())]
    )

    def prune(t):
        import pyarrow as pa

        ids, cids = (t.column(c).to_numpy() for c in ("vec_id", "cluster_id"))
        v = _vectors(t.column("embedding").combine_chunks())
        kept = ~_reached(ids, cids, v, ids, cids, v, 0.30)
        return pa.table([t.column("vec_id"), t.column("cluster_id"), pa.array(kept)], names=schema.names)

    return rows.groupBy("cluster_id").applyInArrow(prune, schema)


# --- ADC search over a STORED codes artifact (VERDICT r6 #7c) -------------


@query(
    "similarity_adc_stored_codes",
    oracle=IVFPQ_ORACLE,
    tags=("similarity", "llm", "approx", "vortex"),
)
def similarity_adc_stored_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC over a STORED codes artifact: build the PQ index once
    (ivf_assign → pq_encode), COPY it to a vortex dataset, read it
    back through the vortex DataSource, and search the stored copy —
    the composition pq_adc_topk's docstring promises, now exercised
    end-to-end through real storage. Results are bit-identical to
    similarity_ivfpq_ann (same oracle): the store/load hop must be
    value-neutral for bigint ids and int-list codes (A14 list
    layouts), which is precisely what makes codes a durable index
    artifact rather than a per-session computation. The search is
    :func:`ivfpq_probe` over an :class:`IvfPqIndex` whose codes are the
    stored copy."""
    import os
    import shutil
    import tempfile

    from ..sources.vortex import register, write_sorted

    emb = load(spark, sf_dir, "embeddings")
    centroids = sample_centroids(emb, 16)
    books = pq_codebooks(emb, m=4, k=16, centroids=centroids)
    rows = codebook_rows(centroids)
    codes = pq_encode(
        ivf_assign(emb, centroids, 1, rows=rows), books, passthrough=("cluster_id",)
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "codes",
    )
    register(spark)
    path = os.path.join(tempfile.gettempdir(), f"dvs_adc_codes_{os.getpid()}.vortex")
    shutil.rmtree(path, ignore_errors=True)
    # cluster-sorted layout — the IVF inverted-list form: codes of one
    # cluster are contiguous, every chunk's cluster_id zone map is a
    # tight interval, so a probed-cluster read prunes to O(n_probe)
    # chunks (and the range-partitioned write keeps file count small)
    write_sorted(codes, path, sort_cols=["cluster_id"])
    # fresh single-consumption load → opt-in chunk pruning is safe and
    # gives the probed-cluster point reads this layout exists for
    stored = spark.read.format("vortex").option("pushdown", "true").load(path)
    index = IvfPqIndex(
        centroids, books,
        stored.select("cand_id", "cluster_id", "codes"),
        rows,
    )
    return ivfpq_probe(index, emb.filter(F.col("vec_id") % 20 == 0), k=10, n_probe=4)


# --- two-level IVF assignment (r7: the semdedup assignment-wall fix) ------


def ivf_assign_two_level(
    df: DataFrame,
    centroids: DataFrame,
    n_coarse: int | None = None,
    n_probe_coarse: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hierarchical (coarse→fine) nearest-centroid assignment: the
    designated fix for the flat-assignment wall the r7 slow-tier
    breakdown named: with cluster
    count k ∝ corpus (SemDeDup's fixed-cluster-SIZE regime), flat
    assignment does n·k cosines — the one super-linear term in the
    whole recipe. Two levels make it n·(n_coarse +
    n_probe_coarse·k/n_coarse); at n_coarse = √k that is n·√k·(1 +
    n_probe_coarse) — for LAION-scale k = 50 000 that's ~220
    cosines/vector of coarse work instead of 50 000.

    Mechanics (all centroid-side work is driver/numpy on the
    constant-size collected centroid set — the same budget
    sample_centroids already spends):

    1. coarse representatives = the first ``n_coarse`` fine centroids
       in cluster_id order (cluster_id is already hash-rank order, so
       this is a deterministic subsample);
    2. every fine centroid maps to its nearest coarse representative
       (driver-side k·n_coarse cosines, exact, ties to the lowest
       coarse id);
    3. phase 1: each vector scores the ``n_coarse`` reps and keeps its
       ``n_probe_coarse`` best cells;
    4. phase 2: each vector scores only the probed cells' fine
       members and keeps the best by (coalesce(-csim, +Inf), fine id).

    All three run on the cosine kernel (:func:`_fold`), the phases in
    one map-side pass (no join, no exchange), so the work per row is
    n_coarse + Σ|probed cells|. A row whose probed cells are all empty
    (a duplicate rep can empty a cell) gets no row, as in the oracle.

    Exactness: with ``n_probe_coarse = n_coarse`` the result is
    IDENTICAL to ``ivf_assign(df, centroids, 1)`` (every fine centroid
    is reachable); below that it is the standard IVF approximation —
    a vector whose true nearest fine centroid lives in an unprobed
    coarse cell gets its best probed-cell centroid instead. Output
    schema matches ivf_assign(n_probe=1): (id, vec, vnorm,
    cluster_id).

    Oracle parity (ADVICE r7): the DuckDB oracle replays step 2 with
    ``_sql_cos``, the same strict left fold, so its cosines are
    bit-identical, and an exact tie goes to the lowest coarse id."""
    import math

    import numpy as np

    crows = codebook_rows(centroids)
    if n_coarse is None:
        n_coarse = max(1, math.isqrt(len(crows)))
    n_probe = min(n_probe_coarse, n_coarse)
    cids, book = _book(crows)
    reps = book.take(slice(0, n_coarse))
    home = _nearest(_key(*_csim(book, reps)), 1)[:, 0]
    cells = [np.nonzero(home == j)[0] for j in range(n_coarse)]
    none = np.iinfo(np.int64).max

    def pick(v: _Vecs):
        probed = _nearest(_key(*_csim(v, reps)), n_probe)
        # each row's best (d, fine id) so far, merged cell by cell
        d, best = np.full(len(v.norm), np.nan), np.full(len(v.norm), none)
        for j, cell in enumerate(cells):
            r = np.nonzero((probed == j).any(axis=1))[0]
            if not (len(r) and len(cell)):
                continue
            key = _key(*_csim(v.take(r), book.take(cell)))
            loc = _nearest(key, 1)[:, 0]
            ar = np.arange(len(r))
            dd = np.stack([d[r], key[ar, loc]], axis=1)
            ii = np.stack([best[r], cids[cell][loc]], axis=1)
            w = np.lexsort((ii, dd), axis=-1)[:, 0]
            d[r], best[r] = dd[ar, w], ii[ar, w]
        at = np.nonzero(best != none)[0]
        return at, best[at]

    width = max(n_coarse, *map(len, cells))
    return _assign_pass(df, centroids, id_col, vec_col, width, pick)


TWO_LEVEL_ASSIGN_ORACLE = f"""
WITH cent AS (
  SELECT
    row_number() OVER (
      ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
    ) - 1 AS cid,
    embedding
  FROM embeddings
  ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
  LIMIT 16
), reps AS (
  SELECT cid AS coarse_id, embedding FROM cent WHERE cid < 4
), fmap AS (
  SELECT cid, coarse_id FROM (
    SELECT c.cid, r.coarse_id,
           row_number() OVER (
             PARTITION BY c.cid
             ORDER BY {_sql_cos("c.embedding", "r.embedding")} DESC, r.coarse_id
           ) AS rn
    FROM cent c CROSS JOIN reps r
  ) WHERE rn = 1
), p1 AS (
  SELECT vec_id, coarse_id FROM (
    SELECT e.vec_id, r.coarse_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos("e.embedding", "r.embedding")} DESC, r.coarse_id
           ) AS rn
    FROM embeddings e CROSS JOIN reps r
  ) WHERE rn <= 2
), p2 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos("e.embedding", "c.embedding")} DESC, c.cid
           ) AS rn
    FROM embeddings e
    JOIN p1 ON p1.vec_id = e.vec_id
    JOIN fmap ON fmap.coarse_id = p1.coarse_id
    JOIN cent c ON c.cid = fmap.cid
  ) WHERE rn = 1
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM p2
"""


@query(
    "similarity_assign_two_level",
    oracle=TWO_LEVEL_ASSIGN_ORACLE,
    tags=("similarity", "llm", "approx"),
)
def similarity_assign_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (coarse→fine) IVF assignment as a driver entry:
    k=16 fine centroids, 4 coarse cells (the first 4 in hash-rank
    order), probe 2 — the n·√k assignment path the r7 slow-tier
    breakdown designated as the SemDeDup assignment-wall fix. The
    oracle replays both levels exactly (fine→coarse mapping, coarse
    probe top-2, fine argmax within probed cells), so the whole
    approximation is hash-checked, not just the degenerate
    full-probe case pytest pins."""
    emb = load(spark, sf_dir, "embeddings")
    cents = sample_centroids(emb, 16)
    return ivf_assign_two_level(emb, cents, n_coarse=4, n_probe_coarse=2).select(
        "vec_id", F.col("cluster_id").cast("bigint").alias("cluster_id")
    )


SEMDEDUP_TWO_LEVEL_ORACLE = f"""
WITH cent AS (
  SELECT
    row_number() OVER (
      ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
    ) - 1 AS cid,
    embedding
  FROM embeddings
  ORDER BY ((vec_id % 4294967296) * 1000003) % 4294967296, vec_id
  LIMIT 16
), reps AS (
  SELECT cid AS coarse_id, embedding FROM cent WHERE cid < 4
), fmap AS (
  SELECT cid, coarse_id FROM (
    SELECT c.cid, r.coarse_id,
           row_number() OVER (
             PARTITION BY c.cid
             ORDER BY {_sql_cos("c.embedding", "r.embedding")} DESC, r.coarse_id
           ) AS rn
    FROM cent c CROSS JOIN reps r
  ) WHERE rn = 1
), p1 AS (
  SELECT vec_id, coarse_id FROM (
    SELECT e.vec_id, r.coarse_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos("e.embedding", "r.embedding")} DESC, r.coarse_id
           ) AS rn
    FROM embeddings e CROSS JOIN reps r
  ) WHERE rn <= 2
), cl AS (
  SELECT vec_id, embedding, cid AS cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos("e.embedding", "c.embedding")} DESC, c.cid
           ) AS rn
    FROM embeddings e
    JOIN p1 ON p1.vec_id = e.vec_id
    JOIN fmap ON fmap.coarse_id = p1.coarse_id
    JOIN cent c ON c.cid = fmap.cid
  ) WHERE rn = 1
), rm AS (
  SELECT DISTINCT b.vec_id
  FROM cl a JOIN cl b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_sql_cos("a.embedding", "b.embedding")} >= 0.30
)
SELECT cl.vec_id, CAST(cl.cluster_id AS BIGINT) AS cluster_id,
       rm.vec_id IS NULL AS is_kept
FROM cl LEFT JOIN rm ON rm.vec_id = cl.vec_id
"""


@query(
    "dedup_semantic_cluster_two_level",
    oracle=SEMDEDUP_TWO_LEVEL_ORACLE,
    tags=("dedup", "similarity", "llm"),
)
def dedup_semantic_cluster_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end in its 100 TB shape: greedy within-cluster
    cosine pruning (same recipe as dedup_semantic_cluster) but with
    cluster membership from the TWO-LEVEL assignment
    (ivf_assign_two_level, n·√k·(1+probe) instead of n·k) — the exact
    composition the r7 slow-tier breakdown prescribes once flat
    assignment becomes the recipe's dominant super-linear term. The
    oracle replays the full chain: coarse subsample, fine→coarse map,
    probe-2 coarse assignment, fine argmax, pair prune, keep flags —
    so the approximation is hash-checked, not just recall-tested."""
    emb = load(spark, sf_dir, "embeddings")
    cents = sample_centroids(emb, 16)
    return _semdedup_prune(
        ivf_assign_two_level(emb, cents, n_coarse=4, n_probe_coarse=2)
    )
