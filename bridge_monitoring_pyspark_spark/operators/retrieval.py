"""Hybrid retrieval: BM25 sparse ranking fused with dense vector ranking
via Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009).

RRF is the standard hybrid-search combiner (Elasticsearch, Vespa, most
RAG stacks): each retriever contributes ``1 / (K + rank)`` per document,
so scores from incomparable scales (BM25 weights vs cosine similarity)
fuse without calibration. :func:`bm25_topn` is the one BM25 scorer:
``bm25_retrieval`` is its top list as is, and the hybrid entry ranks it
(:func:`rank_by`) before fusing.

Spark-first shape, 100 TB notes:
* Both legs end in a global top-``depth`` — Catalyst compiles
  ``orderBy().limit()`` to TakeOrderedAndProject, so each leg ships only
  ``depth`` rows per partition to one reducer, never a full sort.
* The fusion join runs on two ``depth``-row DataFrames — broadcast-sized
  by construction regardless of corpus size.
* Ranks are assigned over rounded scores with an id tie-break, making the
  fused output deterministic across partitionings and engines.

No counterpart in the 550-LoC reference (no text or vector retrieval).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60
BM25_K1 = 1.2  # tf saturation
BM25_B = 0.75  # document-length normalization


def bm25_topn(docs: DataFrame, terms: tuple[str, ...], depth: int) -> DataFrame:
    """Okapi BM25 top-``depth`` of ``docs(doc_id, text)`` for a disjunctive
    term query: (doc_id, bm25), best first. Lucene-form idf; corpus scalars
    (N, avgdl, per-term df) ride along via broadcast cross-join — no driver
    collect.

    No wide shuffle: per-term tf and doc length are array expressions over
    the tokenized text, so the plan is one corpus scan, one
    map-side-combined scalar aggregate, a per-row scoring expression, and
    a TakeOrderedAndProject top-``depth``. Scoring a fixed term set never
    needs the corpus vocabulary; exploding to (doc, term) rows and
    grouping them would shuffle every token of the corpus (~800M pairs at
    5M docs) for the few terms that score. A query term with tf = 0
    contributes exactly 0.0, and docs matching no term are filtered out.

    Input domain: duplicate query terms are deduped first-seen (scoring a
    term twice would double-count it), and a single-term query works — the
    match predicate is an OR-fold over the per-term tf columns, not
    F.greatest (which requires >= 2 arguments).
    """
    terms = tuple(dict.fromkeys(terms))  # dedupe, keep first-seen order
    if not terms:
        raise ValueError("bm25_topn needs at least one query term")

    def tf_of(term: str):
        # closure, NOT a defaulted second lambda param: F.filter treats a
        # two-parameter lambda as (element, index) and would bind the
        # index column over the default
        return F.size(F.filter("__toks", lambda t: t == F.lit(term)))

    toks = (
        docs.select(
            "doc_id",
            F.filter(
                F.split(F.lower("text"), "[^a-z]+"), lambda x: x != F.lit("")
            ).alias("__toks"),
        )
        .select(
            "doc_id",
            F.size("__toks").alias("dl"),
            *[tf_of(w).alias(f"__tf{i}") for i, w in enumerate(terms)],
        )
        .where(F.col("dl") > 0)  # token-less docs are outside the corpus
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )

    def w_term(i: int):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"__df{i}") + 0.5)
            / (F.col(f"__df{i}") + 0.5)
        )
        return (
            idf
            * (F.col(f"__tf{i}") * (BM25_K1 + 1))
            / (
                F.col(f"__tf{i}")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )

    total = w_term(0)
    matches = F.col("__tf0") > 0
    for i in range(1, len(terms)):
        total = total + w_term(i)
        matches = matches | (F.col(f"__tf{i}") > 0)
    return (
        toks.crossJoin(F.broadcast(stats))
        .where(matches)
        .select("doc_id", F.round(total, 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(depth)
    )


def rank_by(
    scored: DataFrame, score_col: str, rank_col: str, *, id_col: str = "doc_id"
) -> DataFrame:
    """(id, rank) over a depth-bounded top list: row_number by (score
    desc, id), the deterministic rank RRF fuses."""
    return scored.select(
        id_col,
        F.row_number()
        .over(Window.orderBy(F.col(score_col).desc(), id_col))
        .alias(rank_col),
    )


def cosine_topn(
    vectors: DataFrame,
    query_id: int,
    depth: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dense top-``depth`` by cosine similarity to the ``query_id`` row:
    (vec_id, dense_rank). The single query vector is a broadcast one-row
    cross-join; the dot/norm fold is a codegen ``aggregate`` over zipped
    dimensions (no Python)."""
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = v.where(F.col(id_col) == query_id).select(F.col("v").alias("qv"))
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, c: a * c),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = (
        v.where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            F.round(dot / (norm(F.col("v")) * norm(F.col("qv"))), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), id_col)
        .limit(depth)
    )
    return rank_by(scored, "cos", "dense_rank", id_col=id_col)


def rrf_fuse(
    sparse: DataFrame,
    dense: DataFrame,
    topk: int,
    *,
    sparse_id: str = "doc_id",
    dense_id: str = "vec_id",
    k: int = RRF_K,
) -> DataFrame:
    """Full-outer-join the two rank lists on id and score each document
    ``sum(1 / (k + rank))`` over the lists it appears in; top-``topk`` by
    (score desc, id). Both inputs are depth-bounded, so the join is
    broadcast-sized however large the corpus."""
    s = sparse.withColumnRenamed(sparse_id, "doc_id")
    d = dense.withColumnRenamed(dense_id, "doc_id")
    term = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(k)) + F.col(r)), F.lit(0.0)
    )
    return (
        s.join(d, "doc_id", "full_outer")
        .select(
            "doc_id",
            "sparse_rank",
            "dense_rank",
            F.round(term("sparse_rank") + term("dense_rank"), 6).alias(
                "rrf_score"
            ),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(topk)
    )
