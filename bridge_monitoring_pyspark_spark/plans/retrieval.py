"""Retrieval over the ``embeddings`` and ``documents`` tables: exact,
hyperplane-LSH, k-NN-join and product-quantization vector search,
embedding near-dup pairs, int8 vector compression, BM25, hybrid RRF
fusion and hard-negative mining — one capability (distributed top-k
similarity search, REPOSE ICDE 2021 in PAPERS.md) with each oracle shape
written once.

* ``ann_cosine_topk`` — exact top-5 for vec_id < 10 on the Arrow/BLAS
  brute-force path; ``knn_join_blocked`` the same search for every
  vec_id < 50 with both sides distributed; ``ann_lsh_topk`` the
  hyperplane-LSH approximation, re-ranked exactly.
* ``neardup_embedding_pairs`` (exact blocked all-pairs) and
  ``neardup_embedding_lsh_pairs`` (LSH candidates, exact verify): pairs
  at cosine >= NEARDUP_COS_MIN.
* ``ann_pq_adc_topk`` — product-quantization ANN with asymmetric-distance
  scoring and an exact re-rank.
* ``embedding_int8_quantize`` — symmetric per-vector int8 quantization
  with reconstruction-error accounting.
* ``bm25_retrieval`` and ``hybrid_rrf_retrieval`` score BM25 with the one
  scorer, operators/retrieval.bm25_topn; the hybrid entry fuses it with a
  dense cosine leg by Reciprocal Rank Fusion.
* ``hard_negative_mining`` — per anchor, the most-similar wrong-label
  vectors with the margin against the best same-label positive.

Oracle notes: the DuckDB oracles share one exact re-rank tail
(:func:`cosine_rank_tail`, also used by the IVF oracles in
plans/clustering.py), one exact top-k shape (:func:`_exact_topk_sql`),
one copy of the LSH plane and bucket CTEs, one cosine-pair threshold
tail, and one BM25 CTE reading the scorer's k1/b. The LSH entries pin a
seeded Rademacher (±1) plane matrix and the oracle replays the identical
algorithm (same planes → same buckets → same candidates → same exact
re-rank), so hash-match holds without any recall assumption; the PQ
oracle likewise replays the deterministic codebook.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.plan import sorted_once
from ..operators.retrieval import (
    BM25_B,
    BM25_K1,
    RRF_K,
    bm25_topn,
    cosine_topn,
    rank_by,
    rrf_fuse,
)
from ..operators.similarity import (
    cosine_pairs_blocked,
    cosine_topk_arrow,
    hard_negative_topk,
    hyperplane_lsh_pairs,
    hyperplane_lsh_topk,
    knn_join_blocked,
    pq_topk,
)
from ..sources.readers import load_table
from .catalog import Query

EMB_DIM = 64  # testdata embeddings schema: array<float> of 64
NEARDUP_COS_MIN = 0.4  # embedding near-dup pair threshold, both pair entries
LSH_TABLES, LSH_BITS = 16, 5
QUANT_BITS_MAX = 127  # symmetric int8 range
BM25_TERMS = ("hash", "join", "vector")
BM25_TOPK = 20
HYBRID_DEPTH = 50
HYBRID_TOPK = 20
HYBRID_QUERY_VEC = 0
HN_N_ANCHORS = 20
HN_TOPK = 5

_EMB_CTE = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)"


def cosine_rank_tail(k: int) -> str:
    """The exact re-rank every cosine top-k oracle ends with: per query,
    rank ``scored(query_id, neighbor_id, s)`` by the engine's tie-break
    (round(s, 6) desc, neighbor asc) and keep the first ``k``."""
    return f"""SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY round(s, 6) DESC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, round(s, 4) AS cosine_sim
FROM scored
QUALIFY rank <= {k}
ORDER BY query_id, rank"""


def _exact_topk_sql(n_query: int, k: int) -> str:
    """Brute-force cosine top-``k`` for every query vec_id < ``n_query``."""
    return f"""
WITH {_EMB_CTE},
q AS (SELECT * FROM e WHERE vec_id < {n_query}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS s
  FROM q JOIN e c ON c.vec_id != q.vec_id
)
{cosine_rank_tail(k)}
"""


def _cosine_pairs_sql(pairs: str) -> str:
    """The threshold tail of both pair oracles: ``pairs`` joins the two
    sides of a candidate pair as ``a`` and ``b`` (rows of ``e``)."""
    return f"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine_sim
FROM {pairs}
WHERE list_cosine_similarity(a.v, b.v) >= {NEARDUP_COS_MIN}
ORDER BY vec_a, vec_b"""


# --- Exact cosine top-k and k-NN join ---------------------------------------------
def _ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors vec_id < 10, via the
    Arrow/BLAS brute-force path with per-batch partial top-k."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return sorted_once(
        cosine_topk_arrow(q, e, "vec_id", "vec_id", "embedding", "embedding", k=5),
        "query_id", "rank",
    )


def _knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 neighbors for every query vector vec_id < 50 via the
    grid-decomposed k-NN join — both sides stay distributed (the
    "neighbors for every document" shape where collecting the query side,
    as the probe-style ann_cosine_topk does, stops scaling). Exact, so the
    oracle is the brute-force SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 50)
    # Auto-sized blocks (round-12 memory-bounds audit): the 50-row query
    # side resolves to ONE query block — the old fixed 4 replicated the
    # whole corpus into the shuffle 4x for nothing — and the corpus side to
    # ceil(Nc/8192), which pins the per-cell sims matrix as the corpus
    # grows (8 blocks at sf0.1, the long-benchmarked shape).
    return sorted_once(
        knn_join_blocked(
            q, e, "vec_id", "vec_id", "embedding", "embedding", k=3,
            n_query_blocks=None, n_corpus_blocks=None,
        ),
        "query_id", "rank",
    )


_ANN_SQL = _exact_topk_sql(10, 5)
_KNN_JOIN_SQL = _exact_topk_sql(50, 3)


# --- Exact embedding near-dup pairs -----------------------------------------------
def _neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4 — the testdata has no
    planted >0.95 pairs, and at 0.4 LSH bucketing cannot guarantee recall),
    via the blocked exact all-pairs search: block self-join +
    per-block-pair BLAS matmul in applyInPandas. Exact like brute force,
    but nothing is ever collected to the driver — see
    operators/similarity.py:cosine_pairs_blocked scale notes."""
    e = load_table(spark, sf_dir, "embeddings")
    # n_blocks=None: auto-size ceil(N/8192) so the per-task sims matrix
    # stays ~512 MB at any corpus size (identical plan at sf0.1, where
    # auto resolves to the long-benchmarked 8 blocks).
    return sorted_once(
        cosine_pairs_blocked(e, "vec_id", "embedding", NEARDUP_COS_MIN, n_blocks=None),
        "vec_a", "vec_b",
    )


_NEARDUP_EMB_SQL = f"""
WITH {_EMB_CTE}
{_cosine_pairs_sql("e a JOIN e b ON a.vec_id < b.vec_id")}
"""


# --- Random-hyperplane LSH --------------------------------------------------------
# Seeded Rademacher (±1) hyperplanes — any symmetric distribution is a valid
# SRP draw, and ±1 literals are compact enough to replicate inside the DuckDB
# oracle (one sign character per entry, plane-major). RandomState is the
# numpy *legacy* generator with a frozen bit-stream guarantee, so the matrix
# is identical on every machine/version.
_LSH_PLANES = np.where(
    np.random.RandomState(7).rand(EMB_DIM, LSH_TABLES * LSH_BITS) < 0.5, 1.0, -1.0
)
_LSH_SIGNS = "".join(
    "p" if _LSH_PLANES[i, j] > 0 else "n"
    for j in range(LSH_TABLES * LSH_BITS)
    for i in range(EMB_DIM)
)


def _ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5 for query vectors vec_id < 10, with
    the pinned Rademacher plane matrix so the DuckDB oracle can replay the
    exact same bucketing + candidate join + exact re-rank. Recall vs the
    exact `ann_cosine_topk` is additionally pytest-measured."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return sorted_once(
        hyperplane_lsh_topk(
            q, e, "vec_id", "vec_id", "embedding", dim=EMB_DIM, k=5,
            n_tables=LSH_TABLES, bits=LSH_BITS, planes=_LSH_PLANES,
        ),
        "query_id", "rank",
    )


def _neardup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup PAIRS via hyperplane-LSH candidates + exact
    verification — the SemDeDup-shaped scale path beside the exact blocked
    all-pairs (`neardup_embedding_pairs`, O(N²) dots): work is O(N·tables)
    bucketing plus within-bucket pairs, the embedding twin of the text
    side's banded MinHash. Pinned Rademacher planes make the candidate set
    deterministic, so the DuckDB oracle replays bucketing, pair join, and
    threshold verify exactly (recall vs the exact pairs is a measured
    property, not a correctness gate)."""
    e = load_table(spark, sf_dir, "embeddings")
    return sorted_once(
        hyperplane_lsh_pairs(
            e, "vec_id", "embedding", EMB_DIM, NEARDUP_COS_MIN,
            n_tables=LSH_TABLES, bits=LSH_BITS, planes=_LSH_PLANES,
        ),
        "vec_a", "vec_b",
    )


# Both LSH oracles replay the algorithm end-to-end: rebuild the ±1 planes
# from the sign string (``p``), bucket every vector of ``e`` per table
# (``b``: sign bits packed little-endian, bit b of table t = plane
# t*BITS+b); a candidate shares any (table, bucket). Sign boundary risk
# (numpy matmul vs DuckDB sequential dot differing across ±1-weighted sums)
# has measure ~0 on continuous embeddings; 64-term dots sit ~1e13 ulps from
# zero.
_LSH_CTES = f"""p AS (
  SELECT t.pid,
         [CASE WHEN substring('{_LSH_SIGNS}', t.pid * {EMB_DIM} + i, 1) = 'p'
               THEN 1.0 ELSE -1.0 END
          for i in range(1, {EMB_DIM} + 1)] AS pv
  FROM (SELECT unnest(range({LSH_TABLES * LSH_BITS})) AS pid) t
),
{_EMB_CTE},
b AS (
  SELECT e.vec_id, CAST(p.pid // {LSH_BITS} AS INT) AS tbl,
         sum(CASE WHEN list_dot_product(e.v, p.pv) > 0
                  THEN CAST(1 AS BIGINT) << CAST(p.pid % {LSH_BITS} AS INT)
                  ELSE 0 END) AS bucket
  FROM e CROSS JOIN p
  GROUP BY e.vec_id, tbl
)"""

_ANN_LSH_SQL = f"""
WITH {_LSH_CTES},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_cosine_similarity(qe.v, ce.v) AS s
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ce ON ce.vec_id = cand.neighbor_id
)
{cosine_rank_tail(5)}
"""

_NEARDUP_LSH_SQL = f"""
WITH {_LSH_CTES},
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
  WHERE x.vec_id < y.vec_id
)
{_cosine_pairs_sql("cand JOIN e a ON a.vec_id = cand.vec_a JOIN e b ON b.vec_id = cand.vec_b")}
"""


# --- Product-quantization ANN -----------------------------------------------------
def _ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-5 for the first 10 vectors: 4 subspaces x 16 dims, 16
    codewords per subspace (64 floats -> 4 bytes per corpus row, 64x
    compression), ADC top-50 shortlist, exact squared-L2 re-rank — the
    FAISS "IVFPQ,Refine" production shape. See
    operators/similarity.pq_topk for the plan."""
    e = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        e, id_col="vec_id", vec_col="embedding", dim=EMB_DIM,
        n_query=10, m_sub=4, k_codes=16, k=5,
    ).orderBy("query_id", "rank")


# Identical algorithm replayed: deterministic strided codebook, per-subspace
# squared-L2 argmin with the engine's round(·,6)/code-asc tie-break, ADC =
# sum of the 4 per-subspace table entries, top-50 shortlist, exact re-rank.
# Distances stay at the round-6 grain (no second rounding): each ADC term
# is already a rounded multiple of 1e-6, so round(sum, 6) lands
# mid-interval on both engines, whereas a further round(·,4) would sit
# exactly on half-boundaries ~1% of the time and let sub-ulp
# summation-order noise flip the hash.
_ANN_PQ_SQL = f"""
WITH {_EMB_CTE},
p AS (SELECT greatest(1, count(*) // 16) AS stride FROM e),
ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
cb AS (SELECT CAST(vec_id // (SELECT stride FROM p) AS INT) AS j, v
       FROM e
       WHERE vec_id % (SELECT stride FROM p) = 0
         AND vec_id // (SELECT stride FROM p) < 16),
cbsub AS (SELECT j, m, list_slice(v, m*16 + 1, (m+1)*16) AS cv FROM cb, ms),
esub AS (SELECT vec_id, m, list_slice(v, m*16 + 1, (m+1)*16) AS sv FROM e, ms),
scored AS (
  SELECT vec_id, es.m AS m, j,
         round(list_inner_product(sv, sv) - 2*list_inner_product(sv, cv)
               + list_inner_product(cv, cv), 6) AS d2
  FROM esub es JOIN cbsub cs ON es.m = cs.m
),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2 ASC, j ASC) AS rn
    FROM scored) WHERE rn = 1
),
qtab AS (SELECT vec_id AS query_id, m, j, d2 FROM scored WHERE vec_id < 10),
adc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, round(sum(q.d2), 6) AS adc
  FROM codes c JOIN qtab q ON q.m = c.m AND q.j = c.code
  WHERE c.vec_id != q.query_id
  GROUP BY q.query_id, c.vec_id
),
short AS (
  SELECT query_id, neighbor_id, adc FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id ASC) AS rn
    FROM adc) WHERE rn <= 50
),
ref AS (
  SELECT s.query_id, s.neighbor_id, s.adc,
         round(list_inner_product(q.v, q.v) - 2*list_inner_product(q.v, c.v)
               + list_inner_product(c.v, c.v), 6) AS l2_d2
  FROM short s
  JOIN e c ON c.vec_id = s.neighbor_id
  JOIN e q ON q.vec_id = s.query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY l2_d2 ASC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, l2_d2, adc AS adc_d2
FROM ref
QUALIFY rank <= 5
ORDER BY query_id, rank
"""


# --- int8 vector compression ------------------------------------------------------
def _embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(|x|)/127,
    q_i = round(x_i / scale), reconstruction x̂_i = q_i * scale. Reports
    per-vector scale and reconstruction error so the compression is
    auditable (max abs error <= scale/2 by construction — the invariant
    pytest asserts). All higher-order-function arithmetic, fully codegen;
    at 100 TB this is the 4x memory cut before vectors hit an ANN tier,
    and the audit columns are what decides per-dataset whether int8 recall
    loss is acceptable.

    Determinism note: q uses round-half-away-from-zero (`round` in both
    engines), and error aggregates are rounded to 6 dp so double
    summation-order noise cannot flip the oracle hash."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x))) / F.lit(
        float(QUANT_BITS_MAX)
    )
    with_scale = e.select("vec_id", "embedding", scale.alias("scale"))
    q = F.transform("embedding", lambda x: F.round(x / F.col("scale")).cast("int"))
    rec_err = F.zip_with(
        "embedding",
        "q",
        lambda x, qi: F.abs(x - qi.cast("double") * F.col("scale")),
    )
    return (
        with_scale.withColumn("q", q)
        .withColumn("err", rec_err)
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            F.array_max("q").alias("q_max"),
            F.array_min("q").alias("q_min"),
            F.round(F.array_max("err"), 6).alias("max_abs_err"),
            F.round(
                F.aggregate("err", F.lit(0.0), lambda a, x: a + x)
                / F.size("err"),
                6,
            ).alias("mean_abs_err"),
        )
        .orderBy("vec_id")
    )


_QUANT_SQL = f"""
WITH d AS (
  -- cast up front: DuckDB keeps FLOAT[] arithmetic in float32 otherwise,
  -- while Spark widens to double — same float bits, different rounding
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id < 100
),
s AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) / {QUANT_BITS_MAX}.0 AS scale
  FROM d
),
qd AS (
  SELECT vec_id, scale,
         list_transform(emb, x -> CAST(round(x / scale) AS INT)) AS q,
         list_transform(emb, x -> abs(x - round(x / scale) * scale)) AS err
  FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale,
       list_max(q) AS q_max,
       list_min(q) AS q_min,
       round(list_max(err), 6) AS max_abs_err,
       round(list_sum(err) / len(err), 6) AS mean_abs_err
FROM qd
ORDER BY vec_id
"""


# --- BM25 and hybrid RRF retrieval ------------------------------------------------
def _bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 over the documents corpus for a fixed disjunctive
    term query (operators/retrieval.bm25_topn: Lucene-form idf,
    length-normalized tf saturation, one corpus scan and no wide
    shuffle)."""
    return bm25_topn(load_table(spark, sf_dir, "documents"), BM25_TERMS, BM25_TOPK)


def _hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of the BM25 top-50 (fixed disjunctive term query) and
    the cosine top-50 (query = embedding of vec_id 0): top-20 by fused
    score. Ranks are over rounded scores with id tie-breaks, so the fused
    list is deterministic across engines and partitionings; documents in
    only one list still score (missing rank contributes 0)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sparse = rank_by(bm25_topn(docs, BM25_TERMS, HYBRID_DEPTH), "bm25", "sparse_rank")
    dense = cosine_topn(emb, HYBRID_QUERY_VEC, HYBRID_DEPTH)
    return rrf_fuse(sparse, dense, HYBRID_TOPK)


# ``bm25(doc_id, bm25)`` for every document holding a query term: tf per
# (doc, non-empty token), document length, corpus N/avgdl, df, and the
# Lucene-form idf with the scorer's k1/b.
_BM25_CTES = f"""toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term != '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
bm25 AS (
  SELECT tf.doc_id, round(sum(
           ln(1.0 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1))
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / corpus.avgdl))
         ), 4) AS bm25
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN corpus
  WHERE tf.term IN {BM25_TERMS!r}
  GROUP BY tf.doc_id
)"""

_BM25_SQL = f"""
WITH {_BM25_CTES}
SELECT doc_id, bm25 FROM bm25
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""

_HYBRID_SQL = f"""
WITH {_BM25_CTES},
sparse AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
           AS sparse_rank
  FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT {HYBRID_DEPTH}
),
{_EMB_CTE},
q AS (SELECT v AS qv FROM e WHERE vec_id = {HYBRID_QUERY_VEC}),
cos AS (
  SELECT e.vec_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos
  FROM e CROSS JOIN q WHERE e.vec_id != {HYBRID_QUERY_VEC}
),
dense AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT)
           AS dense_rank
  FROM cos ORDER BY cos DESC, vec_id LIMIT {HYBRID_DEPTH}
)
SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
       s.sparse_rank, d.dense_rank,
       round(COALESCE(1.0 / ({RRF_K} + s.sparse_rank), 0.0)
             + COALESCE(1.0 / ({RRF_K} + d.dense_rank), 0.0), 6) AS rrf_score
FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {HYBRID_TOPK}
"""


# --- Hard-negative mining ---------------------------------------------------------
def _hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hardest negatives (most-similar wrong-label vectors) for each
    of the first 20 embeddings, with the positive similarity and margin —
    the mining pass a contrastive retriever-training pipeline runs per
    batch. Anchors broadcast; the corpus is scored in one scan shared by
    the positive and negative legs (operators/similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.where(F.col("vec_id") < HN_N_ANCHORS)
    return hard_negative_topk(
        e, anchors, "vec_id", "embedding", "label", HN_TOPK
    )


_HN_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
),
a AS (SELECT * FROM e WHERE vec_id < {HN_N_ANCHORS}),
s AS (
  SELECT a.vec_id AS query_id, a.label AS qlabel,
         c.vec_id AS neighbor_id, c.label AS nlabel,
         round(list_cosine_similarity(a.v, c.v), 6) AS sim6
  FROM a JOIN e c ON c.vec_id != a.vec_id
),
pos AS (
  SELECT query_id, max(sim6) AS pos6 FROM s
  WHERE nlabel = qlabel GROUP BY query_id
),
neg AS (
  SELECT query_id, neighbor_id, nlabel, sim6,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim6 DESC, neighbor_id ASC) AS INT)
           AS rank
  FROM s WHERE nlabel != qlabel
)
SELECT n.query_id, n.rank, n.neighbor_id,
       n.nlabel AS neg_label,
       round(n.sim6, 4) AS neg_sim,
       round(p.pos6, 4) AS pos_sim,
       round(p.pos6 - n.sim6, 4) AS margin
FROM neg n LEFT JOIN pos p USING (query_id)
WHERE n.rank <= {HN_TOPK}
ORDER BY query_id, rank
"""


QUERIES = [
    Query("neardup_embedding_pairs", _neardup_embeddings, _NEARDUP_EMB_SQL, ("llm", "dedup", "ann")),
    Query("ann_cosine_topk", _ann_bruteforce, _ANN_SQL, ("llm", "ann")),
    Query("ann_lsh_topk", _ann_lsh_topk, _ANN_LSH_SQL, ("llm", "ann", "lsh")),
    Query("neardup_embedding_lsh_pairs", _neardup_embedding_lsh_pairs,
          _NEARDUP_LSH_SQL, ("llm", "dedup", "ann", "lsh", "scale_path")),
    Query("knn_join_blocked", _knn_join_blocked, _KNN_JOIN_SQL,
          ("llm", "ann", "knn_join")),
    Query("ann_pq_adc_topk", _ann_pq_adc, _ANN_PQ_SQL, ("llm", "ann", "pq")),
    Query("embedding_int8_quantize", _embedding_int8_quantize, _QUANT_SQL,
          ("llm", "vectors", "quantization")),
    Query("bm25_retrieval", _bm25_retrieval, _BM25_SQL, ("llm", "text", "ranking")),
    Query("hybrid_rrf_retrieval", _hybrid_rrf_retrieval, _HYBRID_SQL,
          ("llm", "retrieval", "ann", "ranking")),
    Query("hard_negative_mining", _hard_negative_mining, _HN_SQL,
          ("llm", "retrieval", "mining", "training-data")),
]
