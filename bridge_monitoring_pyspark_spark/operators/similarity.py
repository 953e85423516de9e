"""Similarity search over embedding columns.

Four tiers (brute-force / IVF / hyperplane-LSH / product quantization):

* **Brute-force** — exact, in two forms. The Arrow/numpy form is the
  workhorse: the small side (queries, or the right half of a pair search)
  is collected, L2-normalized, and broadcast as one numpy matrix;
  ``mapInPandas`` streams the corpus through BLAS matmuls per Arrow batch.
  Embarrassingly parallel, zero shuffle of the corpus; per-batch partial
  top-k caps the emitted rows at k×|queries| per batch. This is the
  documented exception to "UDFs are the slow path": JVM
  higher-order-function expressions are interpreted (outside codegen) and
  lose to Arrow+BLAS by >10x on wide vectors. The JVM-expression form,
  :func:`cosine_topk_bruteforce`, keeps a pure Column-expression plan for
  composability inside larger plans (``ivf_topk(assignment="sql")``
  assigns the same way).
* **IVF (inverted-file) top-k** — the sub-linear path: partition the corpus
  by nearest centroid (broadcast centroid table, one narrow pass), then
  search only the ``n_probe`` closest clusters per query. Recall < 1 by
  construction; measured in tests against brute force. The caller picks
  the centroids: the catalog's deterministic stride rule, the trained
  Lloyd model and the cid-partitioned index build and probe live in
  plans/clustering.py.
* **Hyperplane LSH** — :func:`hyperplane_lsh_topk` / :func:`hyperplane_lsh_pairs`
  bucket by random-projection sign bits and exactly re-score the bucket
  collisions.
* **Product quantization** — :func:`pq_topk` scores byte codes against
  per-query distance tables, then refines a shortlist exactly.

Shared kernels — each similarity decision is written once:
:func:`_normalized_batch` (unit rows, zero-norm guard),
:func:`_quantize_half_up` + :func:`_partial_topk_rows` (the tie-safe
composite-key cut), :func:`_partial_topk_frame` (one query x corpus block
to partial top-k rows), :func:`centroid_assigner` (the one Arrow
nearest-centroid pass), :func:`_rank_neighbors` (the final per-query rank
and output columns) and :func:`_planes` (the LSH hyperplanes).

Broadcast lifetime: each function here that broadcasts a small side lets
the broadcast live as long as the plan it returns; no module state holds
one. Only :func:`centroid_assigner` hands its broadcast to the caller, so
an eager caller can destroy it once its write or collect is done.

Ranking determinism: ordering is on round(sim, 6) desc then neighbor id, so
double-precision noise below 1e-6 can't reorder results across engines.

Scale notes (100 TB): the broadcast side must fit in executor memory
(~1 GB ≈ 4M × 64-dim float64); beyond that, tile the query matrix and union
the per-tile top-k, or switch to IVF. The corpus side never materializes —
it streams batch-by-batch through the matmul.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity_prenorm, l2_norm
from ..operators.topk import top_k_per_group


def _normalized_batch(vectors) -> np.ndarray:
    """Row-normalize a pandas Series of vectors to a float64 unit matrix.
    Zero-norm rows are guarded to norm 1 (sim contribution 0) — the ONE
    definition of the Arrow paths' zero-vector contract (the SQL paths
    instead fail loudly under ANSI); keeping it in one place stops the
    guard drifting between mapInPandas bodies. No vectors at all give a
    (0, 0) matrix."""
    m = np.array(list(vectors), dtype=np.float64)
    if not len(m):
        return m.reshape(0, 0)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


def _normalized_matrix(rows: list, id_idx: int = 0, vec_idx: int = 1):
    ids = np.array([r[id_idx] for r in rows], dtype=np.int64)
    return ids, _normalized_batch(r[vec_idx] for r in rows)


def _id_matrix(pdf: pd.DataFrame):
    """(ids, unit matrix) of a pandas block with ``__id``/``__vec`` columns."""
    return pdf["__id"].to_numpy(dtype=np.int64), _normalized_batch(pdf["__vec"])


def _quantize_half_up(sims: np.ndarray) -> np.ndarray:
    """Quantize similarities to int64 micro-units, rounding half AWAY FROM
    ZERO — the one rule shared by Spark's ``F.round(sim, 6)`` (java
    HALF_UP) and DuckDB's ``round()``. np.round is half-to-even, so a sim
    landing exactly on a .5 micro-unit boundary would otherwise be cut
    here yet ranked k-th by the merge. Single source of truth: both the
    partial top-k cut and the Arrow centroid assigner call this, so the
    rounding rule cannot drift between the cut and the merge (the bug
    class c0e7e30 fixed)."""
    f = sims * 1_000_000.0
    return (np.sign(f) * np.floor(np.abs(f) + 0.5)).astype(np.int64)


def _partial_topk_rows(sims: np.ndarray, cids: np.ndarray, k: int):
    """Per-query-column top-k row indices of ``sims`` (corpus × queries),
    cut under the engine's exact ranking order: round(sim, 6) DESC, then
    corpus id ASC — NOT raw-float order.

    An argpartition on raw sims breaks ties arbitrarily, which is wrong
    precisely in the dedup use-case: duplicate corpus vectors tie
    bit-for-bit, and a partial cut that keeps the larger id would diverge
    from the merge/oracle tie-break. The composite integer key (rounded
    micro-units × 2^34 − dense id rank) makes the cut vectorized AND
    deterministic; −inf self-match sentinels map to −2^28 micro-units —
    far below any real rounded sim yet safe under the 2^34 multiply (do
    NOT "simplify" to int64 min: that overflows the composite to ~0 and
    ranks self-matches above negative neighbors). Returns
    (row_indices shaped (take, n_queries), take).
    """
    finite = np.isfinite(sims)
    # Sentinel must survive the * (1 << 34) below without int64 overflow:
    # -(1<<28) is far below any real rounded sim (|sim| <= 1 → |ki| <= 1e6)
    # and -(1<<28)*(1<<34) = -2^62 stays in range. int64.min//4 here
    # overflowed and wrapped the sentinel's composite to ~0, ranking
    # self-matches above genuinely negative neighbors.
    ki = np.full(sims.shape, -(1 << 28), dtype=np.int64)
    ki[finite] = _quantize_half_up(sims[finite])
    order = np.argsort(cids)
    cid_rank = np.empty(len(cids), dtype=np.int64)
    cid_rank[order] = np.arange(len(cids))
    composite = ki * (1 << 34) - cid_rank[:, None]
    take = min(k, sims.shape[0])
    return np.argpartition(-composite, take - 1, axis=0)[:take], take


def _partial_topk_frame(qids, qmat, cids, cmat, k: int) -> pd.DataFrame:
    """(query_id, neighbor_id, sim) partial top-k rows of one corpus block
    (``cids``/``cmat``) against the unit query matrix. Self-matches (same
    id) score -inf; each caller drops them itself. An empty side gives an
    empty frame."""
    if not len(qids) or not len(cids):
        return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
    sims = cmat @ qmat.T  # (n_corpus, n_queries)
    sims[cids[:, None] == qids[None, :]] = -np.inf  # self-match
    top, take = _partial_topk_rows(sims, cids, k)  # per query, tie-safe
    rows = top.T.ravel()
    return pd.DataFrame(
        {
            "query_id": np.repeat(qids, take),
            "neighbor_id": cids[rows],
            "sim": sims[rows, np.repeat(np.arange(len(qids)), take)],
        }
    )


def _rank_neighbors(scored: DataFrame, k: int) -> DataFrame:
    """The one ranking tail of every neighbour search: per ``query_id``, the
    top ``k`` ``(neighbor_id, sim)`` rows by round(sim, 6) DESC then
    neighbor_id ASC, as (query_id, rank int, neighbor_id, cosine_sim =
    round(sim, 4))."""
    ranked = top_k_per_group(
        scored,
        ["query_id"],
        [F.round("sim", 6).desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )
    return ranked.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id",
        F.round("sim", 4).alias("cosine_sim"),
    )


def _with_norm(df: DataFrame, id_col: str, vec_col: str, side: str, *extra):
    """One side of a JVM-expression pair search: ``(query_id, __qv, *extra,
    __qn)`` for ``side="q"``, ``(neighbor_id, __cv, *extra, __cn)`` for
    ``side="c"``. The L2 norm is hoisted to one evaluation per row, so the
    pair loop of :func:`_qc_cosine` runs a single cross dot."""
    return df.select(
        F.col(id_col).alias("query_id" if side == "q" else "neighbor_id"),
        F.col(vec_col).alias(f"__{side}v"),
        *extra,
        l2_norm(F.col(vec_col)).alias(f"__{side}n"),
    )


def _qc_cosine():
    """Cosine of a joined (query, corpus) row pair of :func:`_with_norm` sides."""
    return cosine_similarity_prenorm(
        F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
    )


def cosine_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int,
) -> DataFrame:
    """Exact top-k neighbors per query via broadcast numpy + mapInPandas.

    Per Arrow batch of the corpus: one float64 matmul against the
    normalized query matrix, then per-query partial top-k (argpartition) so
    only k×|queries| candidate rows leave each batch. A final Spark-side
    rank merges the partials. Self-matches excluded by id.
    """
    q_ids, q_mat = _normalized_matrix(
        queries.select(query_id, query_vec).collect()
    )
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_mat))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qmat = bc.value
        for pdf in it:
            if len(pdf):
                yield _partial_topk_frame(
                    qids, qmat, pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    _normalized_batch(pdf["__vec"]), k,
                )

    partial = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__vec")
    ).mapInPandas(batches, "query_id long, neighbor_id long, sim double")
    return _rank_neighbors(partial.where(F.col("sim") != float("-inf")), k)


# Target rows per block for auto-sized block decompositions. The per-task
# ceiling of the blocked kernels is the block-pair similarity matrix —
# (rows/block)^2 float64 = 8192^2 x 8 B = 512 MB — plus two ~4 MB vector
# blocks; n_blocks = ceil(N / this) keeps that ceiling CONSTANT as the
# corpus grows (fixed n_blocks makes it grow O(N^2/n_blocks^2): the same
# failure class the round-11 decade program OOM-witnessed on the uncapped
# semdedup sweep). 8192 reproduces the long-benchmarked n_blocks=8 plan at
# sf0.1 (60k vectors) exactly.
BLOCK_TARGET_ROWS = 8192


def auto_n_blocks(df: DataFrame, target_rows: int = BLOCK_TARGET_ROWS) -> int:
    """ceil(|df| / target_rows), floor 1 — one count() job.

    Caveat (ADVICE r12): this count() evaluates ``df``'s upstream plan an
    extra time. For the catalog case (a parquet scan) that is a footer
    count — cheap next to the O(N^2/n_blocks) work it sizes — but a caller
    passing a derived DataFrame with nontrivial upstream stages (e.g. a
    mapInPandas output) pays that plan twice; cache/localCheckpoint the
    input first, or pass ``n_blocks`` explicitly from a known row count."""
    return max(1, -(-df.count() // target_rows))


def cosine_pairs_blocked(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int | None = 8,
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold — exact, fully
    distributed, **no driver-side collect** (block self-join).

    Exact all-pairs is inherently O(N²) dot products; what must NOT be O(N)
    is driver memory. Each vector gets block ``id pmod n_blocks``; every
    unordered block pair (bi <= bj) is one group key, and each row
    replicates into the ``n_blocks`` groups it participates in. One
    ``applyInPandas`` task per group then runs the cross (bi < bj) or
    strict-upper-triangle (bi == bj) BLAS matmul and emits only
    above-threshold pairs. Every unordered vector pair lands in exactly one
    group, so the result equals the brute-force search bit-for-bit.

    Scale (100 TB): shuffle volume = N x n_blocks rows; per-task memory =
    two blocks of N/n_blocks vectors plus the dominating block-pair sims
    matrix ((N/n_blocks)^2 float64). Pass ``n_blocks=None`` to auto-size
    n_blocks = ceil(N / BLOCK_TARGET_ROWS), which pins that per-task
    ceiling at ~512 MB REGARDLESS of corpus size — a fixed n_blocks only
    holds for the corpus it was tuned on (round-12 memory-bounds audit).
    Compute spreads over n_blocks(n_blocks+1)/2 independent tasks. This
    replaces the earlier broadcast form whose driver collect was O(N).
    """
    if n_blocks is None:
        n_blocks = auto_n_blocks(vectors)
    v = vectors.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("__blk"),
    )
    groups = F.array(
        *[
            F.struct(
                F.least("__blk", F.lit(o)).cast("int").alias("bi"),
                F.greatest("__blk", F.lit(o)).cast("int").alias("bj"),
            )
            for o in range(n_blocks)
        ]
    )
    exploded = v.withColumn("__grp", F.explode(groups)).select(
        F.col("__grp.bi").alias("__bi"),
        F.col("__grp.bj").alias("__bj"),
        "__id",
        "__vec",
        "__blk",
    )

    def block_pairs(key, pdf):
        bi, bj = key
        a, b = pdf[pdf["__blk"] == bi], pdf[pdf["__blk"] == bj]
        if not len(a) or not len(b):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine_sim": []})
        aids, amat = _id_matrix(a)
        # the diagonal block multiplies ONE array by its own transpose
        # (BLAS syrk); two equal copies would take gemm and move last bits
        bids, bmat = (aids, amat) if bi == bj else _id_matrix(b)
        sims = amat @ bmat.T
        rows, cols = np.where(
            (sims >= threshold) & ((bi != bj) | (aids[:, None] < bids[None, :]))
        )
        left, right = aids[rows], bids[cols]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(left, right),
                "vec_b": np.maximum(left, right),
                "cosine_sim": np.round(sims[rows, cols], 4),
            }
        )

    return exploded.groupBy("__bi", "__bj").applyInPandas(
        block_pairs, "vec_a long, vec_b long, cosine_sim double"
    )


def _cosine_pairs_smallside_verifier(
    vectors: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold, via broadcast numpy.

    The full normalized matrix is broadcast; each Arrow batch matmuls
    against it and emits only above-threshold pairs with a < b. **Driver
    memory is O(N)** — underscore-private on purpose: this form exists
    only as the small-side exact verifier pytest replays against the
    production paths. Catalog/plan code must use
    :func:`cosine_pairs_blocked`, which never materializes the table
    anywhere (tests/test_plan_quality.py pins the import boundary).
    """
    all_ids, all_mat = _normalized_matrix(
        vectors.select(id_col, vec_col).collect()
    )
    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast((all_ids, all_mat))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bids, bmat = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            aids, amat = _id_matrix(pdf)
            sims = amat @ bmat.T
            rows, cols = np.where((sims >= threshold) & (aids[:, None] < bids[None, :]))
            yield pd.DataFrame(
                {
                    "vec_a": aids[rows],
                    "vec_b": bids[cols],
                    "cosine_sim": np.round(sims[rows, cols], 4),
                }
            )

    return vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(batches, "vec_a long, vec_b long, cosine_sim double")


def knn_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int,
    n_query_blocks: int | None = 4,
    n_corpus_blocks: int | None = 8,
) -> DataFrame:
    """Exact k-NN **join** — top-k cosine neighbors for *every* query row —
    with BOTH sides distributed (no driver collect, no broadcast of either
    table). :func:`cosine_topk_arrow` collects/broadcasts the query side,
    which is right for a handful of probes but wrong when the query side is
    itself a large table (the "find neighbors for every document" shape).

    Grid decomposition: query block i × corpus block j is one group key;
    each query row replicates to its row of the grid (×n_corpus_blocks),
    each corpus row to its column (×n_query_blocks). One applyInPandas
    task per cell runs the BLAS matmul and keeps only a per-query partial
    top-k (k rows per query per cell — every neighbor lives in exactly one
    corpus block, so the global top-k survives the partial cut); a final
    per-query rank merges the ≤ k × n_corpus_blocks candidates. Self-
    matches (same id) are excluded, matching the brute-force convention.

    Scale (100 TB): shuffle volume = Nq×n_corpus_blocks + Nc×n_query_blocks
    rows; per-task memory = one query block + one corpus block + the cell
    sims matrix ((Nq/n_query_blocks)×(Nc/n_corpus_blocks) float64, the
    dominating term). Pass ``None`` for either block count to auto-size it
    as ceil(side / BLOCK_TARGET_ROWS) — that pins the per-task ceiling
    constant as either side grows, where a fixed count only holds for the
    corpus it was tuned on (round-12 memory-bounds audit). The merge input
    is only k×n_corpus_blocks rows per query, so the final shuffle is tiny.
    """
    if n_query_blocks is None:
        n_query_blocks = auto_n_blocks(queries)
    if n_corpus_blocks is None:
        n_corpus_blocks = auto_n_blocks(corpus)

    def grid_side(df, id_col, vec_col, side, n_own, n_other):
        # a query row fills its block's row of the grid, a corpus row its column
        def cell(o):
            own, other = F.col("__own"), F.lit(o).cast("int")
            gq, gc = (own, other) if side == "q" else (other, own)
            return F.struct(gq.alias("gq"), gc.alias("gc"))

        return df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__vec"),
            F.lit(side).alias("__side"),
            F.pmod(F.col(id_col), F.lit(n_own)).cast("int").alias("__own"),
        ).withColumn("__cell", F.explode(F.array(*[cell(o) for o in range(n_other)])))

    qs = grid_side(queries, query_id, query_vec, "q", n_query_blocks, n_corpus_blocks)
    cs = grid_side(corpus, corpus_id, corpus_vec, "c", n_corpus_blocks, n_query_blocks)
    grid = qs.unionByName(cs).select(
        F.col("__cell.gq").alias("__gq"),
        F.col("__cell.gc").alias("__gc"),
        "__id",
        "__vec",
        "__side",
    )

    def cell_topk(key, pdf):
        out = _partial_topk_frame(
            *_id_matrix(pdf[pdf["__side"] == "q"]),
            *_id_matrix(pdf[pdf["__side"] == "c"]),
            k,
        )
        return out[out["sim"] != -np.inf]

    partial = grid.groupBy("__gq", "__gc").applyInPandas(
        cell_topk, "query_id long, neighbor_id long, sim double"
    )
    return _rank_neighbors(partial, k)


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int,
) -> DataFrame:
    """Exact top-k neighbors per query (self-matches excluded)."""
    q = _with_norm(queries, query_id, query_vec, "q")
    c = _with_norm(corpus, corpus_id, corpus_vec, "c")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _qc_cosine())
    )
    return _rank_neighbors(scored, k)


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
) -> DataFrame:
    """Hard-negative mining for retriever/embedding training: per anchor,
    the top-k most-similar vectors with a DIFFERENT label, each with the
    anchor's best same-label similarity (the positive) and the margin
    positive - negative. Small margins are the "hard" negatives a
    contrastive trainer wants; a negative margin means a wrong-label
    vector outranks every true positive — a labeling or embedding defect.

    Scale shape: anchors broadcast (a training batch is thousands of rows,
    not corpus-scale); the corpus streams through one scan scoring against
    the broadcast matrix, and per-anchor top-k bounds the shuffle to
    k x |anchors| rows. Positives and negatives come from the SAME scored
    pass (split by label match), so the corpus is read once. At 100 TB the
    scoring pass swaps in the IVF/PQ shortlist tiers above — the
    positive/negative split and margin join are unchanged.

    Anchors with no same-label row in the corpus are kept with null
    pos_sim/margin (their negatives still rank) rather than dropped — the
    absence of any positive is itself a training-data defect to surface.

    Determinism: ranking on round(sim, 6) desc then neighbor id, the
    catalog-wide ANN convention."""
    a = _with_norm(anchors, id_col, vec_col, "q", F.col(label_col).alias("__ql"))
    c = _with_norm(corpus, id_col, vec_col, "c", F.col(label_col).alias("neg_label"))
    scored = (
        c.crossJoin(F.broadcast(a))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim6", F.round(_qc_cosine(), 6))
    )
    pos = (
        scored.where(F.col("neg_label") == F.col("__ql"))
        .groupBy("query_id")
        .agg(F.max("sim6").alias("__pos6"))
    )
    neg = top_k_per_group(
        scored.where(F.col("neg_label") != F.col("__ql")),
        ["query_id"],
        [F.col("sim6").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )
    return (
        # LEFT join: an anchor with no same-label row anywhere in the
        # corpus still surfaces, with null pos_sim/margin — a missing
        # positive is a stronger training-data defect signal than a
        # negative margin and must not silently vanish (ADVICE r8).
        neg.join(F.broadcast(pos), "query_id", "left")
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "neg_label",
            F.round("sim6", 4).alias("neg_sim"),
            F.round("__pos6", 4).alias("pos_sim"),
            F.round(F.col("__pos6") - F.col("sim6"), 4).alias("margin"),
        )
        .orderBy("query_id", "rank")
    )


def centroid_assigner(
    centroids: DataFrame, cid_col: str, vec_col: str, cid_out: str
):
    """The one Arrow nearest-centroid pass. Collects ``(cid_col, vec_col)``
    of ``centroids`` once (K ~ sqrt(N) rows), broadcasts the unit matrix
    and the id rank once, and returns ``(assign, broadcast)``:
    ``assign(df, id_col, vec_col, n_keep, emit_sim=False)`` maps ``df`` to
    ``(id_col, vec_col, cid_out[, __simq])`` rows, ``n_keep`` per input row,
    and may be applied to any number of DataFrames. The caller owns the
    broadcast: it must outlive every job that executes an assigned plan,
    so destroy it only once those plans are materialized (written or
    collected) — or let it live as long as the plan."""
    cid_type = dict(centroids.dtypes)[cid_col]
    if cid_type not in ("int", "bigint"):
        raise ValueError(
            f"the Arrow centroid assigner needs an int/bigint centroid id "
            f"(got {cid_type}); ivf_topk(assignment='sql') takes other key types"
        )
    cent_rows = centroids.select(cid_col, vec_col).collect()  # K ~ sqrt(N)
    if not cent_rows:
        raise ValueError("centroid table is empty: nothing to assign rows to")
    c_ids, c_unit = _normalized_matrix(cent_rows)
    c_rank = np.empty(len(c_ids), dtype=np.int64)
    c_rank[np.argsort(c_ids)] = np.arange(len(c_ids))
    bc = centroids.sparkSession.sparkContext.broadcast((c_ids, c_unit, c_rank))
    cid_np = np.int32 if cid_type == "int" else np.int64

    def assign(
        df: DataFrame, id_col: str, vec_col: str, n_keep: int, emit_sim: bool = False
    ) -> DataFrame:
        # pass-through columns keep their INPUT types — hardcoding
        # array<float> here would silently truncate array<double> vectors
        # in the Arrow cast and break the arrow==sql contract
        dtypes = dict(df.dtypes)
        schema = (
            f"{id_col} {dtypes[id_col]}, {vec_col} {dtypes[vec_col]}, "
            f"{cid_out} {cid_type}"
        )
        if emit_sim:
            schema += ", __simq bigint"

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids, unit, rank = bc.value
            m = min(n_keep, len(ids))
            for pdf in it:
                if not len(pdf):
                    continue
                sims = _normalized_batch(pdf[vec_col]) @ unit.T  # (batch, K)
                # same quantize + composite key as _partial_topk_rows:
                # round(sim,6) half-away-from-zero DESC, centroid id ASC
                q = _quantize_half_up(sims)
                comp = q * (1 << 34) - rank[None, :]
                if m == 1:
                    pick = np.argmax(comp, axis=1)[:, None]
                else:
                    pick = np.argsort(-comp, axis=1)[:, :m]
                reps = np.repeat(np.arange(len(pdf)), m)
                out = {
                    id_col: pdf[id_col].to_numpy()[reps],
                    vec_col: pdf[vec_col].iloc[reps.tolist()].to_numpy(),
                    cid_out: ids[pick.ravel()].astype(cid_np),
                }
                if emit_sim:
                    out["__simq"] = q[reps, pick.ravel()]
                yield pd.DataFrame(out)

        return df.select(id_col, vec_col).mapInPandas(fn, schema)

    return assign, bc


def nearest_centroids_arrow(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    cid_col: str = "cid",
    n_keep: int = 1,
    emit_sim: bool = False,
) -> DataFrame:
    """Top-``n_keep`` nearest centroids per row via one BLAS matmul per
    Arrow batch — the standalone, lazy N x K assignment pass of the
    SemDeDup entries (plans/clustering.py).

    ``emit_sim=True`` appends a ``__simq`` bigint column — the winning
    centroid's cosine quantized exactly like the assignment key
    (round(cos, 6) half-away-from-zero × 1e6) — for callers that order
    members within a cluster by proximity to its centroid (the
    locality-preserving capped-SemDeDup split).

    Same ordering contract as the SQL crossJoin form it replaces —
    round(cosine, 6) DESC half-away-from-zero then centroid id ASC, via
    the shared :func:`_quantize_half_up` composite key — so assignments
    are bit-identical to the oracle replay outside the documented 1e-16
    rounding-boundary class. Returns ``(id_col, vec_col, cid_col)`` rows,
    ``n_keep`` per input row. Centroids collect to the driver (K ~
    sqrt(N) rows — the bounded-collect pattern) and broadcast; the corpus
    never shuffles — each Arrow batch emits its own assignments.

    Round-9 scale fix: the index builds originally assigned through a SQL
    crossJoin whose N x K interpreted higher-order-function cosines made
    the decade-3 (20M x 4472) build exceed 30 minutes. There is one Arrow
    assigner, :func:`centroid_assigner`: this function, the IVF index
    writer and probe, and ``ivf_topk(assignment="arrow")`` all call it, so
    the assignment kernel cannot fork between them.

    Broadcast lifetime: the call mints one K x dim broadcast that lives as
    long as the returned plan (it must survive every job that executes
    it). Callers that materialize their assignment at once and want the
    block freed right after call :func:`centroid_assigner` themselves and
    destroy the broadcast it returns.
    """
    assign, _ = centroid_assigner(centroids, cid_col, vec_col, cid_col)
    return assign(df, id_col, vec_col, n_keep, emit_sim)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    centroid_id: str,
    centroid_vec: str,
    k: int,
    n_probe: int = 3,
    broadcast_queries: bool = True,
    assignment: str = "arrow",
) -> DataFrame:
    """Approximate top-k: corpus rows are assigned to their nearest centroid
    once; each query searches only its ``n_probe`` nearest clusters.

    Both assignment passes run against a broadcast of the centroid table —
    the corpus never shuffles until the final per-query rank, whose input is
    already cut down by the cluster filter.

    ``assignment`` picks the N x K nearest-centroid pass:

    - ``"arrow"`` (default): centroids collect to the driver (K ~ sqrt(N)
      rows — 10^9 vectors x 64 dims is a 16 MB broadcast) and each Arrow
      batch does one BLAS matmul, emitting its top-1 (corpus) / top-n_probe
      (queries) clusters under the exact engine order — round(sim,6) DESC
      quantized half-away-from-zero, centroid id ASC — through
      :func:`centroid_assigner`, the one Arrow assigner, whose composite
      integer key is that of :func:`_partial_topk_rows`. No shuffle at
      all for the assignment. Measured ~7 us/pair -> BLAS on the sf1
      fixtures (the higher-order-function dot is the cost; SCALING.md).
    - ``"sql"``: pure-codegen zip_with/aggregate cosine; corpus top-1 via
      max_by (map-side combine: the post-crossJoin shuffle carries N rows,
      not N x K), query top-n_probe via row_number. Keeps everything
      JVM-side — the right choice when Python workers are unavailable.

    Both produce identical assignments (property-tested); the only
    divergence class is a true cosine within ~1e-16 of a .5 micro-unit
    rounding boundary (fp accumulation order), plus zero-norm vectors:
    ANSI SQL raises DIVIDE_BY_ZERO loudly, the Arrow path guards the norm
    to 1.0 (sim 0) like the other Arrow operators.

    ``broadcast_queries`` controls the candidate join: True (default) is
    the probe shape — a small query set broadcast against the assigned
    corpus, zero corpus shuffle. Pass False for the big-query-table shape
    ("approximate neighbors for every document"): both sides then shuffle
    on ``cluster_id`` — a plain equi-join Catalyst can plan at any size,
    with per-cluster skew bounded by the centroid granularity (more
    centroids → smaller clusters; the exact-counterpart shape is
    :func:`knn_join_blocked`).
    """
    if assignment not in ("arrow", "sql"):
        raise ValueError(f"assignment must be 'arrow' or 'sql', got {assignment!r}")
    cent = centroids.select(
        F.col(centroid_id).alias("cluster_id"),
        F.col(centroid_vec).alias("__centv"),
        l2_norm(F.col(centroid_vec)).alias("__centn"),
    )

    def assign_sql(df: DataFrame, id_out: str, vec_out: str, n_keep: int) -> DataFrame:
        # Norms hoisted to one evaluation per row/centroid; the N x K pair
        # loop then runs a single array traversal (the cross dot) per pair.
        scored = df.withColumn("__vn", l2_norm(F.col(vec_out))).crossJoin(
            F.broadcast(cent)
        ).withColumn(
            "__csim",
            cosine_similarity_prenorm(
                F.col(vec_out), F.col("__centv"), F.col("__vn"), F.col("__centn")
            ),
        )
        # max_by's tie-break negates cluster_id, which needs a numeric key;
        # other key types take the (slower but type-generic) window form
        numeric_cid = dict(cent.dtypes)["cluster_id"] in (
            "tinyint", "smallint", "int", "bigint", "float", "double",
        )
        if n_keep == 1 and numeric_cid:
            # The corpus-side path. A row_number window here would shuffle
            # all N x K scored pairs (each dragging two vector payloads);
            # max_by gets map-side partial aggregation, so the shuffle
            # carries N pre-reduced rows instead. Measured on the sf0.1 ->
            # sf1 decade this was the difference between x63 and ~linear
            # (SCALING.md). Ordering matches the window form: Spark ranks
            # NaN above any float in DESC sorts and max()/max_by() agree,
            # so the struct (round(csim,6), -cluster_id) max is exactly the
            # (round desc, cid asc) first row.
            best = scored.groupBy(id_out).agg(
                F.max_by(
                    F.struct(F.col(vec_out), F.col("cluster_id")),
                    F.struct(
                        F.round("__csim", 6).alias("s"),
                        (-F.col("cluster_id")).alias("nc"),
                    ),
                ).alias("__best")
            )
            return best.select(id_out, f"__best.{vec_out}", "__best.cluster_id")
        ranked = top_k_per_group(
            scored,
            [id_out],
            [F.round("__csim", 6).desc(), F.col("cluster_id").asc()],
            n_keep,
            rank_col="__crank",
        )
        return ranked.select(id_out, vec_out, "cluster_id")

    if assignment == "arrow":
        # one collect + one broadcast serve both sides; it lives as long as
        # the returned plan
        assign, _ = centroid_assigner(
            centroids, centroid_id, centroid_vec, "cluster_id"
        )
    else:
        assign = assign_sql

    corpus_assigned = assign(
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
        "neighbor_id",
        "__cv",
        1,
    )
    query_probes = assign(
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv")),
        "query_id",
        "__qv",
        n_probe,
    )
    corpus_assigned = corpus_assigned.withColumn("__cn", l2_norm(F.col("__cv")))
    query_probes = query_probes.withColumn("__qn", l2_norm(F.col("__qv")))
    probes = F.broadcast(query_probes) if broadcast_queries else query_probes
    scored = (
        corpus_assigned.join(probes, on="cluster_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _qc_cosine())
    )
    return _rank_neighbors(scored, k)


def hyperplane_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    dim: int,
    k: int,
    n_tables: int = 16,
    bits: int = 5,
    seed: int = 42,
    exclude_self: bool = True,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Random-hyperplane (cosine) LSH top-k — the bucketed ANN scale path.

    Each vector gets ``n_tables`` bucket keys: table t's key packs the sign
    bits of ``bits`` random-hyperplane projections. Candidates are corpus
    rows sharing (table, bucket) with the query in at least one table;
    candidates are then exactly re-ranked by cosine. Bucketing is one
    Arrow/numpy pass (a single ``dim x n_tables*bits`` matmul per batch —
    the same tier as the brute-force path); candidate generation is an
    equi-join on (table, bucket), i.e. a plain shuffle join Catalyst can
    plan, never a cross join.

    Scale notes (100 TB): expected candidates per query ~= n_tables *
    |corpus| / 2^bits — tune ``bits`` up with corpus size to keep the
    re-rank sub-linear, ``n_tables`` up for recall. The hyperplane matrix
    (dim x n_tables*bits doubles) broadcasts at any realistic size.

    ``exclude_self=True`` drops candidates with ``query_id == corpus_id``
    — correct ONLY when queries are drawn from the corpus (same id space).
    Pass ``False`` when queries and corpus are distinct tables, where an
    id collision is a legitimate neighbor (matches the brute-force/IVF
    paths' convention).

    ``planes`` overrides the Gaussian draw with an explicit
    ``(dim, n_tables*bits)`` projection matrix — e.g. seeded Rademacher
    (±1) signs, which an external oracle can replicate from the same
    literal matrix (any symmetric distribution is a valid SRP draw).
    """
    planes = _planes(dim, n_tables, bits, seed, planes)
    qb = _lsh_bucket_table(queries, query_id, vec_col, planes, n_tables, bits)
    cb = _lsh_bucket_table(corpus, corpus_id, vec_col, planes, n_tables, bits)
    cand = qb.alias("q").join(cb.alias("c"), ["table", "bucket"])
    if exclude_self:
        cand = cand.where(F.col("q.id") != F.col("c.id"))
    cand = cand.select(
        F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id")
    ).distinct()
    scored = (
        cand.join(F.broadcast(_with_norm(queries, query_id, vec_col, "q")), "query_id")
        .join(_with_norm(corpus, corpus_id, vec_col, "c"), "neighbor_id")
        .withColumn("sim", _qc_cosine())
    )
    return _rank_neighbors(scored, k)


def _planes(
    dim: int, n_tables: int, bits: int, seed: int, planes: np.ndarray | None
) -> np.ndarray:
    """The ``(dim, n_tables*bits)`` hyperplane matrix: a seeded Gaussian
    draw, or the caller's explicit ``planes`` after a shape check."""
    if planes is None:
        return np.random.RandomState(seed).normal(size=(dim, n_tables * bits))
    planes = np.asarray(planes, dtype=np.float64)
    if planes.shape != (dim, n_tables * bits):
        raise ValueError(f"planes shape {planes.shape} != ({dim}, {n_tables * bits})")
    return planes


def _lsh_bucket_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: np.ndarray,
    n_tables: int,
    bits: int,
) -> DataFrame:
    """(id, table, bucket) rows: table t's bucket packs the sign bits of
    ``bits`` hyperplane projections (little-endian). One Arrow pass, one
    ``dim x n_tables*bits`` matmul per batch; ``planes`` rides to executors
    in the task closure (dim x tables*bits doubles — broadcast-trivial)."""
    weights = (2 ** np.arange(bits)).astype(np.int64)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            signs = (X @ planes) > 0  # (n, n_tables*bits)
            codes = signs.reshape(len(pdf), n_tables, bits) @ weights
            ids = np.repeat(pdf["__lid"].to_numpy(), n_tables)
            tables = np.tile(np.arange(n_tables, dtype=np.int32), len(pdf))
            yield pd.DataFrame(
                {"id": ids, "table": tables, "bucket": codes.reshape(-1)}
            )

    return df.select(F.col(id_col).alias("__lid"), vec_col).mapInPandas(
        fn, "id long, table int, bucket long"
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    n_tables: int = 16,
    bits: int = 5,
    seed: int = 42,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Near-dup PAIRS above a cosine threshold via hyperplane-LSH candidate
    generation + exact verification — the embedding twin of the text side's
    banded MinHash (`minhash_lsh_candidates`): candidates are unordered id
    pairs sharing at least one (table, bucket), deduplicated across tables,
    then exactly re-scored so every emitted pair's similarity is true.

    Scale notes (100 TB): the exact counterpart (`cosine_pairs_blocked`)
    does O(N²/B) dot products; this path's work is O(N·tables) bucketing +
    sum over buckets of |bucket|² candidate pairs — tune ``bits`` up with
    corpus size to keep buckets small, ``tables`` up for recall. Candidate
    generation is a plain (table, bucket) self-equi-join Catalyst shuffles
    once; nothing touches the driver. Like the text LSH, recall < 1 by
    design; the pinned-``planes`` form lets an external oracle replay the
    identical candidate set, making the output deterministic rather than
    probabilistic.

    Returns (vec_a, vec_b, cosine_sim) with vec_a < vec_b.
    """
    planes = _planes(dim, n_tables, bits, seed, planes)
    # Vectors are attached to the BUCKET rows (N x tables rows, one shuffle
    # of corpus-with-vectors x tables) and pairs are scored inside the
    # (table, bucket) self-join, so the only per-pair state that ever
    # shuffles is (vec_a, vec_b, rounded sim) — three scalars for the final
    # distinct. The first cut of this operator deduped candidate id pairs
    # first and joined the vectors back per pair: at sf100 that shuffled two
    # 512-byte vectors per candidate (~10^8 pairs -> >100 GB of spill, found
    # by the scale run filling the disk). A pair colliding in k tables is
    # scored k times — identical floats each time (deterministic expression),
    # so distinct collapses them exactly; duplicate dots are cheap, duplicate
    # vector shuffles are not.
    bv = _lsh_bucket_table(df, id_col, vec_col, planes, n_tables, bits).join(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("__v"),
            l2_norm(F.col(vec_col)).alias("__n"),
        ),
        "id",
    )
    # NOT checkpointed (r15 audit): both self-join aliases re-execute the
    # MapInPandas bucketing, but clean toggle-only A/Bs at sf0.1 AND a
    # decade-1 fixture read a lazy localCheckpoint here as a wash (1.01x /
    # 1.00x) — the within-bucket pair scoring dominates and the duplicate
    # bucketing pass costs what materializing N x tables vector rows costs.
    x, y = bv.alias("x"), bv.alias("y")
    return (
        x.join(y, ["table", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        .withColumn(
            "cosine_sim",
            cosine_similarity_prenorm(
                F.col("x.__v"), F.col("y.__v"), F.col("x.__n"), F.col("y.__n")
            ),
        )
        .where(F.col("cosine_sim") >= threshold)
        .select(
            F.col("x.id").alias("vec_a"),
            F.col("y.id").alias("vec_b"),
            F.round("cosine_sim", 4).alias("cosine_sim"),
        )
        .distinct()
    )


def pq_topk(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_query: int = 10,
    m_sub: int = 4,
    k_codes: int = 16,
    k: int = 5,
    n_refine: int = 50,
) -> DataFrame:
    """Product-quantization ANN (asymmetric-distance, L2): the fourth ANN
    tier after brute-force / IVF / hyperplane-LSH — and the one production
    systems run at 100 TB, because the corpus is stored as ``m_sub`` byte
    codes per vector (16-32x smaller than the float rows) and scoring a
    candidate is ``m_sub`` table lookups instead of a ``dim``-wide dot
    product.

    Stages, all DataFrame ops:

    1. **Codebook** — deterministic, like the IVF witness: codeword ``j``
       of every subspace is the sub-vector of the corpus row with
       ``id = j * (N // k_codes)`` (production would k-means per
       subspace). ``m_sub * k_codes`` rows — broadcast everywhere.
    2. **Encode** — corpus x codebook per subspace, squared-L2 argmin via
       ``min(struct(round(d2,6), j))`` (one codegen'd partial-agg shuffle
       keyed by (id, subspace); the rounded tie-break keeps both engines'
       argmin identical).
    3. **ADC scoring** — the per-query distance *table* is the same
       corpus-x-codebook product filtered to the query rows (tiny:
       ``n_query * m_sub * k_codes``), broadcast; approximate distance =
       SUM over subspaces of table[code], one groupBy. No full vectors
       touch the scoring join at all.
    4. **Exact refine** — the ADC top-``n_refine`` shortlist per query
       (broadcast: ``n_query * n_refine`` rows) joins back to the full
       vectors for an exact squared-L2 top-``k`` re-rank — the FAISS
       "IVFPQ,Refine" production shape. Only the shortlist ever touches
       full vectors again, so the refine cost is O(n_query * n_refine),
       independent of corpus size.

    The one eager action is ``count()`` for the codeword stride — a single
    scalar, same class as the IVF stride fetch. Everything is
    integer/rounded-double arithmetic on both engines, so the DuckDB
    oracle replays the identical algorithm with no recall assumption.
    """
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible into {m_sub} subspaces")
    dsub = dim // m_sub
    e = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    stride = max(1, e.count() // k_codes)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"), F.slice("v", m * dsub + 1, dsub).alias("sv")
            )
            for m in range(m_sub)
        ]
    )
    esub = e.select("vid", F.explode(subs).alias("t")).select(
        "vid", F.col("t.m").alias("m"), F.col("t.sv").alias("sv")
    )
    cbsub = (
        e.where((F.col("vid") % stride == 0) & (F.col("vid") / stride < k_codes))
        .select((F.col("vid") / stride).cast("int").alias("j"), "v")
        .select("j", F.explode(subs).alias("t"))
        .select("j", F.col("t.m").alias("m"), F.col("t.sv").alias("cv"))
    )
    # squared L2 via the inner-product identity — the same three dots the
    # oracle's list_inner_product form computes, so rounding agrees
    scored = esub.join(F.broadcast(cbsub), "m").withColumn(
        "d2",
        F.round(
            dot(F.col("sv"), F.col("sv"))
            - 2 * dot(F.col("sv"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
            6,
        ),
    )
    codes = (
        scored.groupBy("vid", "m")
        .agg(F.min(F.struct(F.col("d2"), F.col("j"))).alias("mn"))
        .select("vid", "m", F.col("mn.j").alias("code"))
    )
    qtab = scored.where(F.col("vid") < n_query).select(
        F.col("vid").alias("query_id"), F.col("m").alias("qm"),
        F.col("j").alias("qj"), F.col("d2").alias("qd2"),
    )
    adc = (
        codes.join(
            F.broadcast(qtab),
            (F.col("m") == F.col("qm")) & (F.col("code") == F.col("qj")),
        )
        .where(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.round(F.sum("qd2"), 6).alias("adc"))
    )
    shortlist = top_k_per_group(
        adc,
        ["query_id"],
        [F.col("adc").asc(), F.col("neighbor_id").asc()],
        n_refine,
        rank_col="__srank",
    ).drop("__srank")
    qvecs = e.where(F.col("vid") < n_query).select(
        F.col("vid").alias("query_id"), F.col("v").alias("qv")
    )
    cvecs = e.select(F.col("vid").alias("neighbor_id"), F.col("v").alias("nv"))
    refined = (
        F.broadcast(shortlist)
        .join(cvecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "l2_d2",
            F.round(
                dot(F.col("qv"), F.col("qv"))
                - 2 * dot(F.col("qv"), F.col("nv"))
                + dot(F.col("nv"), F.col("nv")),
                6,
            ),
        )
    )
    ranked = top_k_per_group(
        refined,
        ["query_id"],
        [F.col("l2_d2").asc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )
    # both distances stay at the round-6 grain (adc is a sum of round-6
    # terms, so it lands mid-interval; a further round(·,4) would sit
    # exactly on half-boundaries)
    return ranked.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id",
        F.col("l2_d2"), F.col("adc").alias("adc_d2"),
    )
