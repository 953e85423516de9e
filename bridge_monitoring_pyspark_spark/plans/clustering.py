"""Clustering over the embeddings table: Lloyd's k-means, SemDeDup pruning
and IVF search, one capability with each decision written once.

* ``kmeans_embeddings`` — Lloyd's k-means in pure DataFrame ops (k=8,
  5 iterations, deterministic init). Rows-only for the driver (argmin ties
  are float-sensitive) with a pytest that replays the iterations in numpy.
* SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  web-scale through semantic deduplication") — cluster the embedding
  space, compare pairs ONLY within a cluster and keep one representative
  of each near-duplicate group: the cluster-blocked third embedding-dedup
  strategy next to exact blocked all-pairs and hyperplane-LSH candidates
  (plans/extras3.py). ``semdedup_prune`` uses stride centroids (K ~
  sqrt(N)) so the oracle replays centroid choice exactly;
  ``semdedup_prune_kmeans`` is the 100 TB production form — the trained
  fixed-K Lloyd model feeding the same assigner, O(N·K·d) BLAS with
  corpus-independent K. At 100 TB the cluster size must be capped, and two
  split rules are shipped: ``semdedup_prune_kmeans_capped`` (random
  ``vec_id % nsub`` hash — one corpus shuffle, recall ~1/nsub for pair
  dups) and ``semdedup_prune_kmeans_capped_proj`` (rank members by
  cosine-to-centroid and chunk runs of CAP — same shuffle count, up to 6x
  the hash split's recall; round-12 measurement in SCALING.md).
* IVF — ``ann_ivf_topk`` assigns and probes in one plan;
  ``ann_ivf_pruned_index`` is the "build once, probe many" serving shape:
  the corpus is materialized as parquet PARTITIONED BY its IVF cluster id
  and every probe is a partition-pruned scan that never opens the
  un-probed clusters' files (the plan a vector-serving tier runs at 100 TB
  when the index outlives one query); ``ann_ivf_index_append`` is the
  nightly increment — the index built from the even-id half under FROZEN
  centroids, the odd-id half appended to the same ``cid=...`` layout, and
  the probe must rank exactly as a single-shot IVF over the full corpus
  with the initial centroids (appending is a layout operation, never a
  semantics change).

Shared shapes: :func:`stride_centroids` (the every-isqrt(N)-th-vector
rule), :func:`_lloyd_fit` (the checkpointed read + Lloyd model),
:func:`_kmeans_assigned` (model -> Arrow nearest-centroid assignment),
:func:`_write_index` (the cid-partitioned index, build and append) and
:func:`_probe_index` (probe, pruned read, exact re-rank).

Centroid broadcast lifetime: every assignment goes through the one Arrow
assigner (operators/similarity.centroid_assigner), whose K x dim broadcast
must outlive every job that executes its plan. Lazy callers (the SemDeDup
entries, ``ann_ivf_topk``) let it live as long as their plan; the index
writer and the probe materialize their assignment (parquet write,
collect) and destroy the broadcast right after, so repeated builds in one
process accumulate nothing.

SemDeDup keep rule (deterministic keep-first): within a cluster, a vector
is DROPPED iff some lower-id vector in the same cluster has cosine
similarity >= TAU with it — regardless of whether that lower-id vector
itself survives. This is the standard sort-order sweep (the exact-dedup
keep-first convention elsewhere in the engine) and is what makes the
result order-insensitive and SQL-expressible.

No counterpart in the 550-LoC reference (no embeddings at all there).
"""

from __future__ import annotations

import math
from contextlib import contextmanager

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.plan import scratch_dir, sorted_once
from ..functions.vectors import cosine_similarity_prenorm, l2_norm
from ..operators.similarity import (
    _normalized_batch,
    centroid_assigner,
    ivf_topk,
    nearest_centroids_arrow,
)
from ..operators.topk import top_k_per_group
from ..session import pinned_shuffle_partitions
from ..sources.readers import load_table
from .catalog import Query

KMEANS_K = 8
KMEANS_ITERS = 5
KMEANS_DIM = 64  # embedding dimensionality of the testdata corpus

SEMDEDUP_TAU = 0.4  # same near-dup threshold as the LSH/exact embedding twins

# Sub-cluster size cap for the capped production variant. Pinned small so the
# split rule is actually exercised at the oracle scale factors (fixed-K
# clusters hold ~60 members at sf0.01, ~250 at sf0.1); a production run would
# set this ~1e5 and tune recall vs the per-task O(cap^2) sweep budget.
# _SEMDEDUP_KMEANS_CAPPED_SQL interpolates this constant directly, so the
# Spark and oracle sides cannot drift.
SEMDEDUP_CAP = 32

# Every IVF entry: top-5 neighbours of the first 10 vectors, 3 probes each.
IVF_TOPK = 5
IVF_PROBES = 3
IVF_N_QUERIES = 10


# --- Lloyd's k-means in pure DataFrame ops --------------------------------------

# Per-point distance vector to every centroid: zip_with sum-of-squares per
# centroid, evaluated over the broadcast __carr model column. One SQL text,
# parsed once — the fold ((0.0 + t0) + t1)... is the exact left-to-right
# summation the per-centroid column form used, so distances (and therefore
# the array_position argmin/tie-break) are bit-identical to the original.
_DIST_EXPR = (
    "transform(__carr, c -> aggregate(zip_with(embedding, c, "
    "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x))"
)


def _assign(points: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Assign each point to its nearest centroid: distance per centroid via
    zip_with sum-of-squares, argmin via array_position of array_min.

    The centroid model rides in as ONE broadcast row holding an
    array<array<double>> (cid order = array order), not as per-centroid
    literal expressions. Round-14 measurement: the literal form spent
    ~1.2 s/iteration just BUILDING the K x dim expression tree through
    py4j and re-analyzing/re-codegen'ing a 500+-literal plan every
    iteration (the model changes each round, so nothing was cached);
    with the model as broadcast DATA the plan text is identical across
    iterations — codegen compiles once for the whole loop — and per-
    iteration wall time halved (1.7 s -> 0.8 s warm at sf0.1). The
    distance fold and the argmin tie-break (first minimum = lowest cid)
    are unchanged expression-for-expression, so assignments are
    bit-identical (verified: 5-iteration centroid models compare equal
    to the literal form's, float-for-float)."""
    spark = points.sparkSession
    carr = spark.createDataFrame(
        [([vec for _, vec in cents],)], "__carr: array<array<double>>"
    )
    return (
        points.join(F.broadcast(carr))
        .withColumn("__d", F.expr(_DIST_EXPR))
        .withColumn(
            "cluster", F.array_position("__d", F.array_min("__d")).cast("int") - 1
        )
        .select("vec_id", "embedding", "cluster")
    )


def lloyd_centroids(pts: DataFrame) -> list[tuple[int, list[float]]]:
    """Final centroid model after KMEANS_ITERS Lloyd updates (deterministic
    init = the KMEANS_K lowest vec_ids). Per iteration: one narrow
    assignment pass + one groupBy(cluster, dim) mean; only the k×64 model
    crosses to the driver each round. ``pts`` should be materialized
    (localCheckpoint) by the caller — it is scanned once per iteration
    (:func:`_lloyd_fit` does both)."""
    init = pts.orderBy("vec_id").limit(KMEANS_K).collect()
    cents = [(i, list(map(float, r.embedding))) for i, r in enumerate(init)]
    for _ in range(KMEANS_ITERS):
        assigned = _assign(pts, cents)
        # collect the K x dim per-(cluster, dim) means directly and assemble
        # the model driver-side (round 15): the former second aggregation
        # (groupBy(cluster) + array_sort(collect_list)) only re-shaped
        # MODEL-sized data and cost one extra shuffle stage per iteration —
        # the 5-iteration loop measured 3.2-3.5 s -> 2.8-2.9 s at sf0.1
        # with bit-identical centroids (the per-cell avg is unchanged; only
        # the assembly moved). K x dim rows cross the driver either way.
        # Two A/B'd alternatives stayed slower and are NOT shipped: a
        # slot-avg form (64 avg buffers over embedding[i], no explode) ran
        # 1.4x slower than posexplode + partial agg, and the VERDICT r14
        # item-6 array-sum form is subsumed by that result.
        cells = (
            assigned.select("cluster", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        upd = _centroid_update(cells)
        cents = [(cid, upd.get(cid, vec)) for cid, vec in cents]
    return cents


def _centroid_update(cells: list) -> dict[int, list[float]]:
    """Assemble collected (cluster, dim, m, n) cells into centroids, refusing
    ragged input: every embedding must be exactly KMEANS_DIM wide. A long
    one shows as a dim out of range; a short one as a dim missing from its
    cluster or averaged over fewer points than the cluster's other dims."""
    upd: dict[int, list] = {}
    sizes: dict[int, set[int]] = {}
    for r in cells:
        if not 0 <= r.dim < KMEANS_DIM:
            raise ValueError(
                f"ragged embedding: element {r.dim} is beyond width {KMEANS_DIM}"
            )
        upd.setdefault(r.cluster, [None] * KMEANS_DIM)[r.dim] = float(r.m)
        sizes.setdefault(r.cluster, set()).add(r.n)
    for cid, vec in upd.items():
        if None in vec or len(sizes[cid]) != 1:
            raise ValueError(
                f"ragged embedding: a point in cluster {cid} is narrower "
                f"than width {KMEANS_DIM}"
            )
    return upd


def _lloyd_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """``(points, model)``: the ``(vec_id, embedding)`` read materialized
    once (localCheckpoint — Lloyd scans it every iteration) and the final
    Lloyd model, fitted under pinned shuffle partitions so the eager
    per-iteration update aggregations don't run at an untuned session's
    default task count (see session.pinned_shuffle_partitions)."""
    with pinned_shuffle_partitions(spark):
        pts = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .localCheckpoint()
        )
        return pts, lloyd_centroids(pts)


def _kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 5 iterations, deterministic init = the k
    lowest vec_ids) with the data plane fully distributed: per iteration
    one narrow assignment pass + one groupBy(cluster, dim) mean to update
    centroids. Only the k×64 model crosses to the driver each round —
    the classic iterative-ML-on-Spark shape (MLlib does the same loop).
    Rows-only driver check; pytest replays the loop in numpy bit-for-bit
    (same init, same iteration count)."""
    pts, cents = _lloyd_fit(spark, sf_dir)
    return (
        _assign(pts, cents)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster")
    )


def lloyd_cte_parts(final_assign: bool) -> list[str]:
    """Unrolled fixed-iteration Lloyd's as a DuckDB CTE chain (same trick
    as extras14's PageRank oracle): one assign/mean/update CTE triple per
    iteration, AS MATERIALIZED so the single-use chain isn't inlined into
    an exponentially-planned nest. The chain ends at ``c{KMEANS_ITERS}``
    (the final centroid model); ``final_assign=True`` appends the
    ``a{KMEANS_ITERS + 1}`` L2-argmin assignment CTE the k-means witness
    reports. The fixed-K SemDeDup oracles take the model and assign by
    cosine instead.

    Exactness: float→double casts are value-preserving, the argmin
    tie-break (row_number ORDER BY dist, cluster) mirrors Spark's
    array_position-of-array_min first-match, and empty clusters keep the
    previous centroid via the LEFT JOIN coalesce. Distances/means are
    double sums whose engine-order differences are ~1 ulp — an assignment
    could flip only if a point were equidistant to two centroids at that
    precision, which random 64-d data doesn't produce (verified at
    sf0.001/sf0.01)."""
    dist = (
        "list_sum(list_transform(list_zip(p.embedding, c.cent), "
        "z -> (CAST(z[1] AS DOUBLE) - z[2]) "
        "* (CAST(z[1] AS DOUBLE) - z[2])))"
    )
    parts = [
        "pts AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        f"""c0 AS MATERIALIZED (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
  FROM (SELECT vec_id, embedding FROM pts ORDER BY vec_id LIMIT {KMEANS_K})
)""",
    ]
    last = KMEANS_ITERS + 1 if final_assign else KMEANS_ITERS
    for i in range(1, last + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
  SELECT vec_id, embedding, cluster FROM (
    SELECT p.vec_id, p.embedding, c.cluster,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {dist} ASC, c.cluster ASC) AS rn
    FROM pts p CROSS JOIN c{i - 1} c
  ) WHERE rn = 1
)""")
        if i > KMEANS_ITERS:
            break  # final assignment only — no further centroid update
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT c.cluster, coalesce(n.cent, c.cent) AS cent
  FROM c{i - 1} c LEFT JOIN (
    SELECT a.cluster, list(m ORDER BY i) AS cent FROM (
      SELECT a.cluster, t.i, avg(CAST(a.embedding[t.i] AS DOUBLE)) AS m
      FROM a{i} a CROSS JOIN range(1, {KMEANS_DIM + 1}) t(i)
      GROUP BY a.cluster, t.i
    ) a GROUP BY a.cluster
  ) n USING (cluster)
)""")
    return parts


def _kmeans_oracle_sql() -> str:
    ctes = ",\n".join(lloyd_cte_parts(final_assign=True))
    return f"""
WITH {ctes}
SELECT cluster, CAST(count(*) AS BIGINT) AS n_points, min(vec_id) AS min_vec_id
FROM a{KMEANS_ITERS + 1}
GROUP BY cluster
ORDER BY cluster
"""


# --- The stride centroid rule ---------------------------------------------------
def stride_centroids(
    e: DataFrame, stride: int | None = None
) -> tuple[DataFrame, int]:
    """``((cid, embedding) centroids, stride)``: every ``stride``-th vector
    of ``e`` is a centroid, ``cid = vec_id / stride``. The stride is
    ``isqrt(N)`` — one scalar count action — unless the caller already
    holds it (an index probe reuses its build's stride).

    The centroid count is the scaling decision: K = ceil(N/stride) with
    stride = floor(sqrt(N)) keeps K ~ sqrt(N), so assignment work is
    N*K ~ N^1.5 — the textbook flat-IVF shape. The earlier fixed
    every-50th rule made K proportional to N (quadratic assignment), which
    the sf0.1 -> sf1 scale run measured as a x63.7 blowup at x10 data
    (SCALING.md). Deterministic, so the DuckDB oracles replay it from the
    table itself."""
    if stride is None:
        stride = int(math.isqrt(e.count()))
    centroids = e.where(F.col("vec_id") % stride == 0).select(
        (F.col("vec_id") / stride).cast("int").alias("cid"), "embedding"
    )
    return centroids, stride


# --- SemDeDup -------------------------------------------------------------------
def _semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of SemDeDup pruning: (vec_id, cluster_id) for every vector
    NOT dropped by the keep-first rule, ordered by vec_id.

    Assignment (round 10): the N x K nearest-centroid pass runs on the
    Arrow/BLAS assigner (operators/similarity.nearest_centroids_arrow) —
    one matmul per Arrow batch against the broadcast K ~ sqrt(N) centroid
    matrix, zero shuffle. The original SQL crossJoin + higher-order-
    function cosine was the exact pattern the round-9 decade-3 program
    convicted in the IVF build (O(N^1.5) INTERPRETED pair work; 1719 s at
    sf100, the slowest run in the whole scale program). Ordering contract
    is unchanged — round(cos, 6) DESC half-away-from-zero, centroid id ASC
    (stride cids are 0..K-1, so the assigner's rank tie-break IS the cid
    tie-break) — so the DuckDB oracle below replays assignments exactly.
    The corpus never shuffles until the per-cluster pair join."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, _ = stride_centroids(e)
    # (vec_id, embedding, cid): the assigner carries the vector through,
    # so no re-join with the corpus is needed
    m = nearest_centroids_arrow(e, cents, "vec_id", "embedding", "cid", 1)
    return _prune_survivors(m)


_SWEEP_BLOCK = 2048  # row-block CAP of the per-cluster cosine matmul
# Per-task byte budget for one sweep block's similarity temporaries
# (the (block, e) float64 matmul output plus its int64 quantized copy,
# 16 bytes per cell). Same auto-sizing convention as
# similarity.cosine_pairs_blocked: the block SHRINKS as the cluster
# grows, so per-task sims memory is ~flat in cluster size instead of
# linear — the fixed block=2048 was what made the uncapped decade-3
# sweep (clusters ~250k members) exceed worker memory (SCALING.md r11).
# Block size never changes results (the blocked sweep is exact), only
# the BLAS call granularity.
_SWEEP_BYTES = 512 << 20


def _sweep_block(c: int) -> int:
    """Row-block size for a c-member cluster: the fixed 2048 cap while it
    fits the byte budget, else the largest block that does (floor 64)."""
    return max(64, min(_SWEEP_BLOCK, _SWEEP_BYTES // (max(c, 1) * 16)))


def _prune_survivors(
    m: DataFrame,
    extra_group_cols: tuple[str, ...] = (),
    tau: float = SEMDEDUP_TAU,
) -> DataFrame:
    """Keep-first sweep over an assigned corpus ``m = (vec_id, embedding,
    cid)``: a vector is dropped iff a lower-id vector in the same cluster
    has round(cosine, 6) >= TAU with it. Shared by the stride-centroid
    and fixed-K k-means variants.

    Round-10 plan: one shuffle on cid, then each cluster sweeps itself in
    a single applyInPandas call — blockwise BLAS matmul over the
    normalized member matrix plus a strictly-lower-triangle any() per
    row, the same quantize-half-up rounding contract as the assigner.
    The self-join form this replaces evaluated the same sum(c_i^2)
    within-cluster pairs through the interpreted higher-order-function
    cosine — after the assignment moved to BLAS (this round's first
    fix), that sweep was the whole remaining decade-3 cost (1091 s of
    the sf100 run). Sims temporaries per task are bounded at
    _SWEEP_BYTES via the auto-sized block (round 14; the fixed 2048
    block made them linear in cluster size, the witnessed d3 OOM), so
    the remaining per-task growth is the c x dim member matrix itself —
    linear, and what the capped variants below bound with the upstream
    split; a pathologically skewed cluster still wants that cap at
    100 TB."""
    tau_q = int(round(tau * 1_000_000))
    id_t = dict(m.dtypes)["vec_id"]
    cid_t = dict(m.dtypes)["cid"]

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        unit = _normalized_batch(pdf["embedding"])
        c = len(pdf)
        blk = _sweep_block(c)
        drop = np.zeros(c, dtype=bool)
        for s in range(0, c, blk):
            e = min(s + blk, c)
            sims = unit[s:e] @ unit[:e].T  # (block, e) float64
            # Threshold without materializing the int64 quantized copy:
            # for integer tau_q >= 1, _quantize_half_up(sims) >= tau_q
            # <=> floor(|f| + 0.5) >= tau_q on the positive branch
            # <=> f + 0.5 >= tau_q (floor(x) >= n <=> x >= n for int n;
            # f <= 0 gives f + 0.5 <= 0.5 < tau_q, matching its negative
            # quantization) -- bit-exact, same float ops, ~half the
            # per-block passes of quantize-then-compare.
            np.multiply(sims, 1_000_000.0, out=sims)
            np.add(sims, 0.5, out=sims)
            hit = sims >= tau_q  # bool (block, e)
            # row b = s+i may only be dropped by columns a < b: every
            # column < s qualifies outright; the diagonal block needs
            # the strict lower triangle
            tri = np.arange(e - s)[None, :] < np.arange(e - s)[:, None]
            drop[s:e] = hit[:, :s].any(axis=1) | (hit[:, s:] & tri).any(
                axis=1
            )
        return pdf.loc[~drop, ["vec_id", "cid"]].rename(
            columns={"cid": "cluster_id"}
        )

    # sorted_once: orderBy's range-bound sampling pass re-executed the
    # whole assignment mapInPandas + shuffle + BLAS sweep — TWICE per
    # action before round 14 (see functions/plan.py). Survivor rows are
    # (id, cid) only, so the per-build blocks are tiny at any corpus
    # size. Plan gates that pin this pipeline's shape (arrow assigner,
    # single corpus shuffle) monkeypatch sorted_once back to a plain
    # orderBy so the computation plan stays inspectable in tests.
    return sorted_once(
        m.groupBy("cid", *extra_group_cols).applyInPandas(
            sweep, f"vec_id {id_t}, cluster_id {cid_t}"
        ),
        "vec_id",
    )


def _kmeans_assigned(
    spark: SparkSession, sf_dir: str, emit_sim: bool = False
) -> DataFrame:
    """The fixed-K corpus ``(vec_id, embedding, cid[, __simq])``: each
    point's nearest centroid by cosine under the trained Lloyd model, via
    the Arrow/BLAS assigner — O(N·K·d) with K pinned by the model, the
    corpus-independent cost the paper's production form relies on (vs the
    stride rule's K ~ sqrt(N)). Lazy: the centroid broadcast lives as long
    as the returned plan."""
    pts, model = _lloyd_fit(spark, sf_dir)
    cdf = spark.createDataFrame(model, "cid int, embedding array<double>")
    return nearest_centroids_arrow(
        pts, cdf, "vec_id", "embedding", "cid", 1, emit_sim=emit_sim
    )


def _semdedup_prune_kmeans(
    spark: SparkSession, sf_dir: str, tau: float = SEMDEDUP_TAU
) -> DataFrame:
    """Fixed-K SemDeDup — the 100 TB posture SCALING.md documents for the
    stride witness, as running code: centroids are the trained
    kmeans_embeddings model (K = KMEANS_K, KMEANS_ITERS Lloyd updates,
    deterministic init), not every-stride-th row, and the final assignment
    is the same Arrow/BLAS cosine pass as the stride variant. The
    keep-first sweep is the shared per-cluster pair join. Oracle: the
    k-means witness's unrolled Lloyd CTE chain (same model, bit-for-bit
    tie rules) + cosine arg_max assignment + the standard sweep —
    hash-checked end to end."""
    return _prune_survivors(_kmeans_assigned(spark, sf_dir), tau=tau)


def _semdedup_prune_kmeans_capped(
    spark: SparkSession, sf_dir: str, cap: int = SEMDEDUP_CAP,
    tau: float = SEMDEDUP_TAU,
) -> DataFrame:
    """Cluster-size-capped SemDeDup — the shape that survives decade 3.

    The fixed-K form above is honest about its ceiling: with K pinned and N
    growing, per-cluster membership is ~N/K, so the keep-first sweep's pair
    work is N^2/K and its per-task block temporaries grow with the cluster
    (SWEEP_BLOCK x c_i int64). SCALING.md has promised the mitigation since
    round 10: split oversized clusters on a secondary hash before sweeping.
    This entry is that mitigation as running code — after the Arrow/BLAS
    assignment, each cluster is split into ``ceil(c_i / SEMDEDUP_CAP)``
    sub-clusters keyed by ``vec_id % nsub`` (a deterministic, SQL-replayable
    "secondary hash"; sizes are capped in expectation, the standard
    hash-split posture), and the sweep runs per (cid, sub). Pair work drops
    to ~N * cap / 2 (linear in N), and per-task memory is bounded by the cap
    regardless of corpus size. The price is recall: near-dup pairs landing
    in different sub-clusters are not compared — the documented
    approximation trade every production SemDeDup at this scale makes.

    The per-cluster sizes aggregate collapses map-side to K rows and joins
    back as a broadcast, so the corpus still shuffles exactly once (on the
    (cid, sub) grouping); the assignment scan runs twice against the
    localCheckpointed points, which is cheaper than a second full-corpus
    shuffle. Oracle: the same unrolled Lloyd CTE chain + arg_max assignment,
    then the identical integer-arithmetic split rule and the standard sweep
    restricted to (cid, sub) — hash-checked end to end.

    ``cap`` parameterizes the split for the recall-vs-CAP sweep
    (tools/recall_capped_semdedup.py, round 12); the catalog entry always
    runs the pinned SEMDEDUP_CAP so the oracle SQL stays in lockstep."""
    # NOT checkpointed (r15 audit): sizes and the split both consume the
    # assignment, but a clean A/B toggling only a lazy checkpoint here read
    # 1.01x at sf0.1 AND at a decade-1 embeddings fixture — the duplicate
    # Arrow pass over the checkpointed points stays cheaper than
    # materializing (vec_id, embedding, cid), exactly the trade the
    # docstring above documents.
    m = _kmeans_assigned(spark, sf_dir)
    sizes = m.groupBy("cid").agg(F.count(F.lit(1)).alias("c_sz"))
    m_sub = (
        m.join(F.broadcast(sizes), "cid")
        .withColumn(
            "sub",
            F.expr(
                f"cast(vec_id % ((c_sz + {cap - 1}) div {cap}) as int)"
            ),
        )
        .drop("c_sz")
    )
    return _prune_survivors(m_sub, extra_group_cols=("sub",), tau=tau)


def _semdedup_prune_kmeans_capped_proj(
    spark: SparkSession, sf_dir: str, cap: int = SEMDEDUP_CAP,
    tau: float = SEMDEDUP_TAU,
) -> DataFrame:
    """Locality-preserving capped SemDeDup — same hard per-task bound as
    the hash-split form, measurably higher recall.

    The round-12 recall sweep (tools/recall_capped_semdedup.py →
    SCALING.md) put a number on the hash split's documented trade:
    ``vec_id % nsub`` scatters a near-dup pair into the same sub-cluster
    with probability ~1/nsub, so recall vs the uncapped ground truth was
    0.42/0.15/0.03/0.02 at sf0.01/sf0.1/d1/d2 with CAP=32. This variant
    replaces the random split with a LOCALITY split: members of each
    cluster are ranked by their quantized cosine to the cluster centroid
    (``__simq`` from the same Arrow/BLAS assignment pass — no extra
    compute), ties broken by vec_id, and consecutive runs of CAP become
    the sub-clusters. By the triangle inequality on angles, a near-dup
    pair's centroid-cosines differ by at most the pair's own angle, so
    near-dups sit close in the ranking and usually share a chunk. That
    makes the recall advantage MEASURED, not proven — a chunk boundary
    can still separate a pair the hash split happens to co-locate — but
    the round-12 sweep found proj ≥ hash at every measured cell (6.0× at
    200k vectors), and tests pin proj ≥ hash at the swept scale factors.

    Cost vs hash: a per-cluster sort-spill window — and NO extra shuffle:
    the executed plan (verified via .explain) carries exactly one corpus
    Exchange, because hashpartitioning(cid) from the rank window already
    satisfies the sweep's ClusteredDistribution(cid, sub), so Catalyst
    inserts only a partition-local sort between them. Per-task memory
    stays bounded (sort-based window spills; sweep groups ≤ CAP). Oracle:
    same Lloyd CTEs + arg_max assignment, then the identical rank rule
    (row_number over (simq DESC, vec_id) per cluster, chunked by CAP) —
    hash-checked end to end."""
    m = _kmeans_assigned(spark, sf_dir, emit_sim=True)
    w = Window.partitionBy("cid").orderBy(
        F.col("__simq").desc(), F.col("vec_id")
    )
    m_sub = (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn("sub", F.expr(f"cast((rn - 1) div {cap} as int)"))
        .drop("__simq", "rn")
    )
    return _prune_survivors(m_sub, extra_group_cols=("sub",), tau=tau)


def _sweep_sql(ctes: str, by_sub: bool = False) -> str:
    """DuckDB replay of the keep-first sweep over the last CTE of ``ctes``,
    ``m = (vec_id, cid, v[, sub])``: drop a vector iff a lower-id vector
    in its cluster (and sub-cluster, for the capped splits) has
    round(cosine, 6) >= TAU with it."""
    on = "x.cid = y.cid AND x.sub = y.sub" if by_sub else "x.cid = y.cid"
    return f"""
WITH {ctes},
dropped AS (
  SELECT DISTINCT y.vec_id AS vec_b
  FROM m x JOIN m y ON {on} AND x.vec_id < y.vec_id
  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {SEMDEDUP_TAU}
)
SELECT m.vec_id, m.cid AS cluster_id
FROM m LEFT JOIN dropped d ON m.vec_id = d.vec_b
WHERE d.vec_b IS NULL
ORDER BY vec_id
"""


_SEMDEDUP_SQL = _sweep_sql("""\
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
st AS (SELECT CAST(floor(sqrt(count(*))) AS BIGINT) AS stride FROM e),
cents AS (
  SELECT CAST(e.vec_id // st.stride AS INT) AS cid, e.v AS cv
  FROM e CROSS JOIN st WHERE e.vec_id % st.stride = 0
),
scored AS (
  SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS s
  FROM e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id,
         arg_max(cid, CAST(round(round(s, 6) * 1000000, 0) AS BIGINT)
                      * 10000000 - cid) AS cid
  FROM scored GROUP BY vec_id
),
m AS (SELECT a.vec_id, a.cid, e.v FROM assigned a JOIN e USING (vec_id))""")


def _kmeans_sweep_sql(m: str, by_sub: bool = False) -> str:
    """The fixed-K oracles: the unrolled Lloyd model, cosine arg_max
    assignment (round(cos, 6) DESC, cluster ASC), then the CTEs ``m`` that
    shape the swept corpus, then :func:`_sweep_sql`."""
    ctes = ",\n".join(lloyd_cte_parts(final_assign=False))
    return _sweep_sql(f"""{ctes},
assigned AS MATERIALIZED (
  SELECT p.vec_id,
         arg_max(c.cluster,
                 CAST(round(round(list_cosine_similarity(
                        CAST(p.embedding AS DOUBLE[]), c.cent), 6)
                      * 1000000, 0) AS BIGINT) * 10000000 - c.cluster) AS cid
  FROM pts p CROSS JOIN c{KMEANS_ITERS} c GROUP BY p.vec_id
),
{m}""", by_sub)


_SEMDEDUP_KMEANS_SQL = _kmeans_sweep_sql("""\
m AS (
  SELECT a.vec_id, a.cid, CAST(e.embedding AS DOUBLE[]) AS v
  FROM assigned a JOIN pts e USING (vec_id)
)""")

_SEMDEDUP_KMEANS_CAPPED_SQL = _kmeans_sweep_sql(f"""\
sizes AS (SELECT cid, count(*) AS c_sz FROM assigned GROUP BY cid),
m AS (
  SELECT a.vec_id, a.cid,
         CAST(a.vec_id % ((s.c_sz + {SEMDEDUP_CAP - 1}) // {SEMDEDUP_CAP})
              AS INT) AS sub,
         CAST(e.embedding AS DOUBLE[]) AS v
  FROM assigned a JOIN sizes s USING (cid) JOIN pts e USING (vec_id)
)""", by_sub=True)

_SEMDEDUP_KMEANS_CAPPED_PROJ_SQL = _kmeans_sweep_sql(f"""\
near AS (
  SELECT a.vec_id, a.cid, CAST(e.embedding AS DOUBLE[]) AS v,
         CAST(round(round(list_cosine_similarity(
                CAST(e.embedding AS DOUBLE[]), c.cent), 6)
              * 1000000, 0) AS BIGINT) AS simq
  FROM assigned a
  JOIN pts e USING (vec_id)
  JOIN c{KMEANS_ITERS} c ON c.cluster = a.cid
),
m AS (
  SELECT vec_id, cid, v,
         CAST((row_number() OVER (PARTITION BY cid
                                  ORDER BY simq DESC, vec_id) - 1)
              // {SEMDEDUP_CAP} AS INT) AS sub
  FROM near
)""", by_sub=True)


# --- IVF: one-plan search, partitioned index build, append, probe --------------
def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (stride centroids, 3 probes). Fully
    deterministic given the centroids, so the DuckDB oracle replays the
    identical algorithm (nearest-centroid assignment with the same
    round(·,6)/cluster-asc tie-break, probe filter, exact re-rank) —
    hash-match needs no recall assumption. Recall vs brute force is
    additionally measured in pytest. The one eager action is the stride
    count — a single scalar, same class as the k-means centroid fetch."""
    e = load_table(spark, sf_dir, "embeddings")
    centroids, _ = stride_centroids(e)
    return sorted_once(
        ivf_topk(
            e.where(F.col("vec_id") < IVF_N_QUERIES), e, centroids,
            query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
            centroid_id="cid", centroid_vec="embedding", k=IVF_TOPK,
            n_probe=IVF_PROBES,
        ),
        "query_id", "rank",
    )


@contextmanager
def _eager_assigner(centroids: DataFrame):
    """The Arrow assigner for a caller that materializes everything it
    assigns (a parquet write, a collect) inside the ``with``: the centroid
    broadcast is destroyed on exit, so an index build or probe leaves no
    broadcast block behind however often it runs."""
    assign, bc = centroid_assigner(centroids, "cid", "embedding", "cid")
    try:
        yield assign
    finally:
        bc.destroy()


def _write_index(centroids: DataFrame, generations: list[DataFrame], prefix: str) -> str:
    """Materialize an IVF index as parquet partitioned by nearest-centroid
    id: each generation's rows are assigned (one Arrow pass) and written
    into the same ``cid=...`` layout — the first creates the index, each
    later one appends without rewriting earlier files. The centroids are
    collected and broadcast once for all generations. Returns the index
    dir, a scratch_dir removed at process exit."""
    with _eager_assigner(centroids) as assign:
        base = scratch_dir(prefix)
        for i, rows in enumerate(generations):
            assign(rows, "vec_id", "embedding", 1).write.partitionBy("cid").parquet(
                base, mode="append" if i else "overwrite"
            )
    return base


# One index per (kind, sf_dir) per process — the lake-witness pattern
# (extras22.py): repeat bench passes must measure the probe path, not
# re-pay the build. A failed build stores nothing.
_INDEX: dict[tuple[str, str], tuple[str, int]] = {}


def ivf_index_dir(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """The embeddings table partitioned by stride-centroid id, as (index
    dir, stride). Build cost is one assignment pass + one partitioned
    write, paid once per process; every probe is a partition-pruned read.
    At 100 TB the build is the nightly index job and the probes are the
    serving traffic."""
    key = ("build", sf_dir)
    if key not in _INDEX:
        e = load_table(spark, sf_dir, "embeddings")
        centroids, stride = stride_centroids(e)
        _INDEX[key] = _write_index(centroids, [e], "eng_ivf_index_"), stride
    return _INDEX[key]


def _frozen_centroids(e: DataFrame, stride: int | None = None) -> tuple[DataFrame, int]:
    """Centroids of the INITIAL (even-id) build: the stride rule over the
    even half numbered by its even-sequence position (vec_id / 2), so
    stride = isqrt(|even ids|) — frozen across appends until the next
    retrain."""
    half = e.where(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("long").alias("vec_id"), "embedding"
    )
    return stride_centroids(half, stride)


def appended_index_dir(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Two-generation index, as (index dir, stride): built from the even
    ids, then the odd ids assigned under the same frozen centroids and
    appended — the increment touches only the new rows (one assignment
    pass + one partitioned write), and the probe cost is unchanged because
    partition pruning selects directories, not generations."""
    key = ("append", sf_dir)
    if key not in _INDEX:
        e = load_table(spark, sf_dir, "embeddings")
        centroids, stride = _frozen_centroids(e)
        generations = [e.where(F.col("vec_id") % 2 == i) for i in (0, 1)]
        _INDEX[key] = _write_index(centroids, generations, "eng_ivf_append_"), stride
    return _INDEX[key]


def _probe_index(
    spark: SparkSession, e: DataFrame, idx_dir: str, centroids: DataFrame
) -> DataFrame:
    """IVF top-IVF_TOPK for the first IVF_N_QUERIES vectors of ``e``
    served from a cid-partitioned index: each query's IVF_PROBES probe
    clusters are resolved first (bounded collect — <= 30 ints, the same
    driver-traffic class as the k-means centroid pull), the index scan
    lists ONLY those cid=... directories (PartitionFilters, plan-gated in
    tests), and the exact re-rank runs on the read-back candidates."""
    q = e.where(F.col("vec_id") < IVF_N_QUERIES)
    with _eager_assigner(centroids) as assign:
        probe_rows = (
            assign(q, "vec_id", "embedding", IVF_PROBES)
            .select(F.col("vec_id").alias("query_id"), "cid")
            .collect()
        )
    probe_cids = sorted({r.cid for r in probe_rows})
    probe_df = spark.createDataFrame(probe_rows, "query_id long, cid int")

    cand = spark.read.parquet(idx_dir).where(F.col("cid").isin(probe_cids))
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        l2_norm(F.col("embedding")).alias("__qn"),
    ).join(probe_df, "query_id")
    scored = (
        cand.withColumnRenamed("vec_id", "neighbor_id")
        .withColumn("__cn", l2_norm(F.col("embedding")))
        .join(F.broadcast(qv), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "__s",
            cosine_similarity_prenorm(
                F.col("__qv"), F.col("embedding"), F.col("__qn"), F.col("__cn")
            ),
        )
        # a corpus vector can sit in several probed clusters of the same
        # query only if assignments were top-n; with top-1 assignment each
        # (query, neighbor) pair appears once — no dedup needed
    )
    ranked = top_k_per_group(
        scored,
        ["query_id"],
        [F.round("__s", 6).desc(), F.col("neighbor_id").asc()],
        IVF_TOPK,
        rank_col="rank",
    )
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        F.round("__s", 4).alias("cosine_sim"),
    ).orderBy("query_id", "rank")


def _ann_ivf_pruned_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 for the first 10 vectors served from the materialized
    partitioned index. Identical results to ann_ivf_topk by construction
    — same centroid rule, probe order, and tie-breaks — so it shares that
    query's DuckDB oracle."""
    idx_dir, stride = ivf_index_dir(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return _probe_index(spark, e, idx_dir, stride_centroids(e, stride)[0])


def _ann_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 for the first 10 vectors served from the two-generation
    index: probes resolved under the frozen centroids, one
    partition-pruned scan over both generations, exact re-rank. Equal by
    construction to one-shot IVF over the full corpus with the
    initial-build centroids — the oracle replays that."""
    idx_dir, stride = appended_index_dir(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return _probe_index(spark, e, idx_dir, _frozen_centroids(e, stride)[0])


def _ivf_sql(sample: str) -> str:
    """DuckDB replay of IVF with stride centroids drawn from ``sample``
    ``h = (hid, v)``: stride = floor(sqrt(|h|)), centroid iff
    hid % stride = 0, cid = hid // stride. Then corpus → nearest centroid
    (top-1 by round(csim, 6) DESC, cid ASC), query → IVF_PROBES probe
    centroids (same order), candidates = corpus rows in a probed cluster
    minus self, exact top-IVF_TOPK re-rank with the engine's tie-break."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
h AS ({sample}),
s AS (SELECT CAST(floor(sqrt(count(*))) AS BIGINT) AS stride FROM h),
cent AS (SELECT CAST(hid // (SELECT stride FROM s) AS INT) AS cid, v AS cv
         FROM h WHERE hid % (SELECT stride FROM s) = 0),
corpus_assign AS (
  SELECT vec_id AS neighbor_id, v, cid FROM (
    SELECT e.vec_id, e.v, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                      cent.cid ASC) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
),
query_probes AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT e.vec_id, e.v, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                      cent.cid ASC) AS rn
    FROM e CROSS JOIN cent
    WHERE e.vec_id < {IVF_N_QUERIES}
  ) WHERE rn <= {IVF_PROBES}
),
scored AS (
  SELECT q.query_id, c.neighbor_id, list_cosine_similarity(q.qv, c.v) AS s
  FROM query_probes q JOIN corpus_assign c
    ON q.cid = c.cid AND c.neighbor_id != q.query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY round(s, 6) DESC, neighbor_id ASC)
            AS INT) AS rank,
       neighbor_id, round(s, 4) AS cosine_sim
FROM scored
QUALIFY rank <= {IVF_TOPK}
ORDER BY query_id, rank
"""


_ANN_IVF_SQL = _ivf_sql("SELECT vec_id AS hid, v FROM e")
# the frozen even-half rule: the stride sample is the even ids, renumbered
_APPEND_SQL = _ivf_sql("SELECT vec_id // 2 AS hid, v FROM e WHERE vec_id % 2 = 0")


QUERIES = [
    Query("kmeans_embeddings", _kmeans_embeddings, _kmeans_oracle_sql(),
          ("llm", "iterative", "clustering")),
    Query("semdedup_prune", _semdedup_prune, _SEMDEDUP_SQL,
          ("llm", "dedup", "embedding", "semdedup")),
    Query(
        # Superseded at scale by semdedup_prune_kmeans_capped: the uncapped
        # within-cluster sweep is O(max_cluster²) per task and was witnessed
        # OOM-ing at decade 3 (SCALE_RUNS_DECADE3.json, round 11). Kept as
        # the exact-recall ceiling witness and the capped form's ground
        # truth at oracle scales; do NOT ship this form against a corpus
        # whose largest cluster can exceed task memory.
        "semdedup_prune_kmeans",
        _semdedup_prune_kmeans,
        _SEMDEDUP_KMEANS_SQL,
        ("llm", "dedup", "embedding", "semdedup", "iterative",
         "superseded-at-scale"),
    ),
    Query("semdedup_prune_kmeans_capped", _semdedup_prune_kmeans_capped,
          _SEMDEDUP_KMEANS_CAPPED_SQL,
          ("llm", "dedup", "embedding", "semdedup", "iterative", "scale")),
    Query("semdedup_prune_kmeans_capped_proj", _semdedup_prune_kmeans_capped_proj,
          _SEMDEDUP_KMEANS_CAPPED_PROJ_SQL,
          ("llm", "dedup", "embedding", "semdedup", "iterative", "scale",
           "recall")),
    Query("ann_ivf_topk", _ann_ivf, _ANN_IVF_SQL, ("llm", "ann", "ivf")),
    Query("ann_ivf_pruned_index", _ann_ivf_pruned_index, _ANN_IVF_SQL,
          ("llm", "ann", "ivf", "index", "partition-pruning")),
    Query("ann_ivf_index_append", _ann_ivf_index_append, _APPEND_SQL,
          ("llm", "ann", "ivf", "index", "maintenance")),
]
