"""Dedup and near-dup: the exact → near-dup → components → survivors
pipeline of Lee et al. 2021 (arXiv:2107.06499), plus the spans it cuts and
the benchmark grams it keeps out.

- exact: content fingerprints, keep-first dedup of documents and events,
  and incremental dedup of a new batch against a history index;
- near-dup: 3-word-shingle Jaccard pairs (postings and MinHash-LSH),
  SimHash, winnowing fingerprints and the pairs they share;
- clusters: connected components over the Jaccard pairs, and the whole
  pipeline down to the surviving doc ids;
- substrings: duplicated 8-word spans per document, and their removal;
- decontamination: n-gram overlap with a held-out set, exact and through
  a Bloom bitmap.

Oracle notes: each DuckDB shape is written once here — the shingle
postings and their Jaccard pairs (:func:`_jaccard_pairs_ctes`), the
recursive components CTE, the winnowing hash/minima CTE and the
positioned-gram CTE — and the fingerprint is the one
``functions/text.py:FINGERPRINT_MD5_SQL``. Shingle semantics are written
twice (Spark columns, DuckDB list comprehensions) with identical 0/1-based
index mapping. xxhash64-based MinHash bands cannot be reproduced in DuckDB,
so both MinHash entries are checked by their *verified* output, which
equals the brute-force Jaccard result. SimHash runs in the 63-bit
md5-slice form (simhash63_agg) both engines compute. Winnowing uses the
shared Horner polynomial hash (functions/text.py:winnow_hash_sql) — exact
int64 arithmetic, so window minima agree bit-for-bit on the ASCII corpus.
The Bloom positions are md5-derived on both engines (first 8 hex chars as
an integer), so the oracle rebuilds the identical bitmap, false positives
included.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.plan import sorted_once
from ..functions.text import (
    FINGERPRINT_MD5_SQL,
    fingerprint_md5,
    winnow_fingerprint_rows,
    winnow_hash_sql,
    words,
)
from ..operators.dedup import (
    exact_dedup_keep_first,
    exact_dedup_min_by,
    jaccard_pairs_bruteforce,
    minhash_lsh_candidates,
    neardup_components,
    shingle_postings,
    simhash63_agg,
    simhash63_oracle_sql,
    verify_candidates_jaccard,
)
from ..session import pinned_shuffle_partitions
from ..sources.readers import load_table
from .catalog import Query

JACCARD_THRESHOLD = 0.8
SHINGLE_N = 3
WINNOW_K = 8
WINNOW_W = 4
MIN_SHARED_FPS = 3
MAX_FP_DF = 5  # document-frequency cap: fingerprints in more docs are corpus noise
DUP_GRAM_WORDS = 8  # duplicated-substring unit (words per gram)
_DECONTAM_N = 4  # words per shingle; production decontamination uses 8-13
BLOOM_NGRAM = 6
BLOOM_K = 5
BLOOM_M_BITS = 131_072  # 2^17 -> 4096 32-bit words; ~0.7% FP at sf0.01
INCR_SPLIT = 250  # doc_id < INCR_SPLIT is "history", >= is new content
INCR_RECRAWL_N = 20  # history docs that re-arrive in the batch (new ids)
INCR_INTRA_N = 10  # batch docs that also arrive twice within the batch
RECRAWL_OFFSET = 100_000
INTRA_OFFSET = 200_000


# --- Exact dedup ---------------------------------------------------------------
def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form md5 fingerprint per document (dedup key)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5(F.col("text")).alias("fingerprint"))


_FINGERPRINT_SQL = f"""
SELECT doc_id, {FINGERPRINT_MD5_SQL} AS fingerprint FROM documents
"""


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per content fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    out = exact_dedup_keep_first(
        d, "text", order=[F.col("doc_id").asc()], id_cols=["doc_id"]
    )
    return out.select("doc_id", "fingerprint").orderBy("doc_id")


_DEDUP_EXACT_SQL = f"""
SELECT doc_id, {FINGERPRINT_MD5_SQL} AS fingerprint
FROM documents
QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
ORDER BY doc_id
"""


def _dedup_events_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates-with-order semantics: earliest event per
    (user_id, event_type) — deterministic keep-first, unlike bare
    dropDuplicates whose survivor is partition-order-dependent."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id", "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


_DEDUP_EVENTS_SQL = """
SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


def _incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup the incoming batch against the historical index, never
    rescanning history's text: history contributes only its fingerprint
    index (fp -> min doc_id, what a production pipeline persists between
    runs); the new batch keeps a document iff its fingerprint is absent
    from the index AND it is the first occurrence within the batch.
    Emits the batch audit: every new doc with its verdict and, for
    rejects, the id of the document it duplicates.

    The corpus has no naturally identical texts, so the batch is built
    like a real daily increment: fresh docs (id >= INCR_SPLIT), re-crawled
    history (copies of the first INCR_RECRAWL_N history docs under new
    ids -> 'dup_of_history'), and an internally-duplicated slice (copies
    of the first INCR_INTRA_N fresh docs -> 'dup_in_batch') — all
    deterministic, so the oracle replays the same union.

    Plan shape: one groupBy to (re)build the index slice, one window for
    within-batch first-wins, one LEFT join on fingerprint. At scale the
    index join is a shuffle on fp (or a bucketed/bloom-pruned probe); the
    batch side is the small one — days, not corpora."""
    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint_md5(F.col("text"))
    hist_index = (
        d.where(F.col("doc_id") < INCR_SPLIT)
        .select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("hist_doc_id"))
    )
    fresh = d.where(F.col("doc_id") >= INCR_SPLIT).select("doc_id", "text")
    recrawl = d.where(F.col("doc_id") < INCR_RECRAWL_N).select(
        (F.col("doc_id") + RECRAWL_OFFSET).alias("doc_id"), "text"
    )
    intra = d.where(
        (F.col("doc_id") >= INCR_SPLIT) & (F.col("doc_id") < INCR_SPLIT + INCR_INTRA_N)
    ).select((F.col("doc_id") + INTRA_OFFSET).alias("doc_id"), "text")
    batch = (
        fresh.unionByName(recrawl)
        .unionByName(intra)
        .select("doc_id", fp.alias("fp"))
    )
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    batch_first = batch.withColumn("batch_rank", rn)
    joined = batch_first.join(hist_index, "fp", "left")
    first_in_batch = F.min("doc_id").over(Window.partitionBy("fp"))
    verdict = (
        F.when(F.col("hist_doc_id").isNotNull(), "dup_of_history")
        .when(F.col("batch_rank") > 1, "dup_in_batch")
        .otherwise("keep")
    )
    dup_of = F.when(F.col("hist_doc_id").isNotNull(), F.col("hist_doc_id")).when(
        F.col("batch_rank") > 1, first_in_batch
    )
    return (
        joined.select(
            "doc_id", verdict.alias("verdict"), dup_of.alias("dup_of")
        )
        .orderBy("doc_id")
    )


_INCR_SQL = f"""
WITH fps AS (
  SELECT doc_id, {FINGERPRINT_MD5_SQL} AS fp FROM documents
),
hist AS (
  SELECT fp, min(doc_id) AS hist_doc_id FROM fps
  WHERE doc_id < {INCR_SPLIT} GROUP BY fp
),
incoming AS (
  SELECT doc_id, fp FROM fps WHERE doc_id >= {INCR_SPLIT}
  UNION ALL
  SELECT doc_id + {RECRAWL_OFFSET}, fp FROM fps WHERE doc_id < {INCR_RECRAWL_N}
  UNION ALL
  SELECT doc_id + {INTRA_OFFSET}, fp FROM fps
  WHERE doc_id >= {INCR_SPLIT} AND doc_id < {INCR_SPLIT} + {INCR_INTRA_N}
),
batch AS (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS batch_rank,
         min(doc_id) OVER (PARTITION BY fp) AS first_in_batch
  FROM incoming
)
SELECT b.doc_id,
       CASE WHEN h.hist_doc_id IS NOT NULL THEN 'dup_of_history'
            WHEN b.batch_rank > 1 THEN 'dup_in_batch'
            ELSE 'keep' END AS verdict,
       CASE WHEN h.hist_doc_id IS NOT NULL THEN h.hist_doc_id
            WHEN b.batch_rank > 1 THEN b.first_in_batch END AS dup_of
FROM batch b LEFT JOIN hist h ON b.fp = h.fp
ORDER BY b.doc_id
"""


# --- Shingle-Jaccard near-dups, components and survivors -------------------------
def _jaccard_pairs_ctes(source: str) -> str:
    """DuckDB CTEs ``t``/``sh``/``post``/``jp`` over ``source``'s
    (doc_id, text): ``jp`` is every doc pair whose 3-word-shingle Jaccard
    reaches JACCARD_THRESHOLD, with its value. The postings self-join
    scores only pairs sharing >= 1 shingle (any pair at a positive
    threshold must share one), the same inverted-index idea as the Spark
    plan. It replaced the all-pairs list_intersect form, which cost 648 s
    at sf0.1 vs 1.6 s for this (round 9; results verified identical at
    sf0.01 before the swap)."""
    return rf"""t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM {source}),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w) - 1)]) s
  FROM t
),
post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
jp AS (
  SELECT doc_a, doc_b, ni::DOUBLE / (na + nb - ni) AS jaccard FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS ni, any_value(a.n) AS na, any_value(b.n) AS nb
    FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) WHERE ni::DOUBLE / (na + nb - ni) >= {JACCARD_THRESHOLD}
)"""


# Connected components of the ``jp`` pair graph, labelled by min doc id.
_COMPONENTS_CTES = """edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION SELECT doc_b, doc_a FROM jp
),
reach(node, other) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.other FROM edges e JOIN reach r ON e.dst = r.node
),
comps AS (
  SELECT node AS doc_id, min(other) AS component_id FROM reach GROUP BY node
)"""

_JACCARD_ORACLE_SQL = f"""
WITH {_jaccard_pairs_ctes("documents")}
SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
FROM jp
ORDER BY doc_a, doc_b
"""

_COMPONENTS_SQL = f"""
WITH RECURSIVE {_jaccard_pairs_ctes("documents")},
{_COMPONENTS_CTES}
SELECT doc_id, component_id FROM comps ORDER BY doc_id
"""

_SURVIVORS_SQL = f"""
WITH RECURSIVE
exact AS (
  SELECT doc_id, text FROM documents
  QUALIFY row_number() OVER (PARTITION BY {FINGERPRINT_MD5_SQL} ORDER BY doc_id) = 1
),
{_jaccard_pairs_ctes("exact")},
{_COMPONENTS_CTES}
SELECT e.doc_id FROM exact e
WHERE e.doc_id NOT IN (SELECT doc_id FROM comps WHERE doc_id != component_id)
ORDER BY e.doc_id
"""


def _minhash_verified_pairs(p: DataFrame) -> DataFrame:
    """Near-dup pairs from shingle postings ``p`` via MinHash-LSH
    candidates (128 hashes in 32 bands of 4 rows: miss probability
    < 5e-8 at Jaccard 0.8) and exact Jaccard verification, so the output
    equals the brute-force pairs."""
    cands = minhash_lsh_candidates(p, num_hashes=128, rows_per_band=4)
    return verify_candidates_jaccard(cands, p, JACCARD_THRESHOLD)


def _neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-word-shingle Jaccard >= 0.8, via the
    postings-list (inverted index) plan — no cartesian product, full
    codegen."""
    # NOT checkpointed (r15 audit): the bruteforce plan evaluates the
    # postings three times, but a clean toggle-only A/B read the
    # materialization as a wash (1.01x) — recompute of the codegen
    # postings chain costs what storing it costs here. The minhash
    # sibling below keeps its checkpoint (4 consumers incl. the
    # 128-minhash signature pass; 1.12x clean A/B).
    p = shingle_postings(load_table(spark, sf_dir, "documents"), "doc_id", "text", SHINGLE_N)
    return sorted_once(
        jaccard_pairs_bruteforce(p, JACCARD_THRESHOLD), "doc_a", "doc_b"
    )


def _neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup pairs via MinHash+LSH candidates + exact verification —
    the 100 TB path. Output equals brute force, so it shares the
    brute-force oracle."""
    # lazy-checkpoint the postings: signature build + verify evaluate this
    # subtree FOUR times in one action without it (r15 plan audit: 4
    # duplicated FileScan/posexplode/Window chains in the executed plan)
    p = shingle_postings(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", SHINGLE_N
    ).localCheckpoint(eager=False)
    return sorted_once(_minhash_verified_pairs(p), "doc_a", "doc_b")


def _simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per document via the codegen-aggregate plan, in the
    63-bit engine-neutral-hash form (operators/dedup.py:simhash63_agg) so
    the DuckDB oracle can verify it exactly. The xxhash64 64-bit form
    (simhash64_agg — identical plan, ~24x cheaper token hash) remains the
    production scale path, pytest-validated against a pure Python
    reimplementation and the expression form."""
    d = load_table(spark, sf_dir, "documents")
    return sorted_once(simhash63_agg(d, "doc_id", "text"), "doc_id")


def _neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: iterative min-label propagation over the Jaccard
    near-dup pair graph (the step after pair generation in a real dedup
    pipeline — keep one doc per component). The oracle computes the same
    components with a recursive CTE."""
    # lazy-checkpoint the postings: the bruteforce self-join + sizes lookup
    # evaluate the posexplode+window+distinct subtree three times in one
    # action otherwise (r15 plan audit; same fix as the pair entries above)
    p = shingle_postings(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", SHINGLE_N
    ).localCheckpoint(eager=False)
    pairs = jaccard_pairs_bruteforce(p, JACCARD_THRESHOLD)
    return neardup_components(pairs).orderBy("doc_id")


def _dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline, end to end: exact fingerprint dedup →
    MinHash-LSH near-dup pairs (exactly verified) → connected components →
    keep the min-id representative per cluster. Output: surviving doc_ids —
    what a training-data pipeline would actually feed downstream."""
    docs = load_table(spark, sf_dir, "documents")
    # the pipeline's eager stages (checkpoints + the CC loop) materialize
    # through the RDD path, bypassing AQE coalescing: pin the shuffle
    # partition count for their duration (session.pinned_shuffle_partitions)
    with pinned_shuffle_partitions(spark):
        # materialize both reused stages once: `exact` feeds the postings
        # AND the final anti-join; `p` is read by candidate generation,
        # verify, and both size lookups — without persistence each
        # reference re-runs the dedup window + full-corpus shingling.
        # DISK_ONLY, not localCheckpoint (round 10): these two stages are
        # corpus-sized (full text + all shingle postings), and
        # localCheckpoint's deserialized MEMORY_AND_DISK blocks OOM'd the
        # 16 GB single-JVM heap at sf100 (5M docs) before spilling —
        # serialized disk blocks bound the heap at any corpus size, which
        # is also the durable-staging posture a 100 TB pipeline runs.
        exact = exact_dedup_min_by(
            docs, "text", "doc_id", ["doc_id", "text"]
        ).persist(StorageLevel.DISK_ONLY)
        p = shingle_postings(exact, "doc_id", "text", SHINGLE_N).persist(
            StorageLevel.DISK_ONLY
        )
    # Materialize the (small: one long per survivor) result eagerly, then
    # drop the two corpus-sized staged blocks before returning (ADVICE
    # r10), on failure too: without the unpersist, Spark's CacheManager
    # matches the canonicalized plans on the NEXT build of this query and
    # serves the first run's disk blocks — bench reruns would time a
    # warm-stage-cache semantic, and the corpus-sized blocks would stay
    # allocated for the rest of the session.
    try:
        with pinned_shuffle_partitions(spark):
            comps = neardup_components(_minhash_verified_pairs(p))
        dropped = comps.where(F.col("doc_id") != F.col("component_id")).select("doc_id")
        survivors = (
            exact.join(dropped, "doc_id", "left_anti")
            .select("doc_id")
            .localCheckpoint()  # eager; breaks lineage into the staged blocks
        )
    finally:
        exact.unpersist()
        p.unpersist()
    return survivors.orderBy("doc_id")


# --- Winnowing fingerprints ----------------------------------------------------
# Per-doc hash sequence ``g.h`` and distinct window minima ``w.fps``.
_WINNOW_CTES = f"""g AS (
  SELECT doc_id,
         [CAST({winnow_hash_sql("text", "i", WINNOW_K)} AS BIGINT)
          for i in range(1, length(text) - {WINNOW_K} + 2)] AS h
  FROM documents
),
w AS (
  SELECT doc_id,
         list_distinct([list_min(h[j:j+{WINNOW_W - 1}])
                        for j in range(1, len(h) - {WINNOW_W} + 2)]) AS fps
  FROM g
)"""


def _winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint summary (count + extremes of the
    fingerprint set), on the vectorized Arrow rows path
    (winnow_fingerprint_rows: one mapInPandas pass, numpy Horner hashing +
    sliding-window minima — the measured-justified UDF exception; see its
    docstring for why the pure-JVM forms lose here), then a plain codegen
    count/min/max roll-up. Docs too short to fingerprint re-enter via a
    left join to the doc-id spine (n_fps=0, NULL extremes), matching the
    array form exactly."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fpr = winnow_fingerprint_rows(d, "doc_id", "text", k=WINNOW_K, w=WINNOW_W)
    stats = fpr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )
    return sorted_once(
        d.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fps", F.lit(0)).alias("n_fps"),
            "min_fp",
            "max_fp",
        ),
        "doc_id",
    )


_WINNOW_SQL = f"""
WITH {_WINNOW_CTES}
SELECT doc_id, CAST(len(fps) AS INT) AS n_fps,
       list_min(fps) AS min_fp, list_max(fps) AS max_fp
FROM w
ORDER BY doc_id
"""


def _winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via shared winnowing fingerprints — the
    fingerprint operator put to its real use: explode the per-doc
    fingerprint sets into an inverted index, document-frequency-filter the
    hot fingerprints, and count pair overlaps. Same shuffle shape as the
    shingle postings path, but the index is ~2/(w+1) the size (winnowing's
    sampling guarantee) and the df cap removes the skewed keys that would
    otherwise dominate the self-join at 100 TB."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # codegen rows path (winnow_fingerprint_rows); materialized once because
    # the index is read three more times below (df counts + filter join +
    # both sides of the pair self-join)
    idx0 = winnow_fingerprint_rows(
        d, "doc_id", "text", k=WINNOW_K, w=WINNOW_W
    ).localCheckpoint()
    # document-frequency filter: a fingerprint present in many documents is
    # corpus boilerplate, not duplication signal — and it is exactly the hot
    # key that blows up the pair join (df=100k => 5e9 pairs from ONE
    # fingerprint at scale). Cap df BEFORE the self-join.
    rare = (
        idx0.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= MAX_FP_DF)
        .select("fp")
    )
    idx = idx0.join(rare, "fp")
    return (
        idx.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= MIN_SHARED_FPS)
        # sorted_once: the sort's sampling pass re-ran the pair self-join
        # segment (see functions/plan.py)
        .transform(lambda df: sorted_once(df, "doc_a", "doc_b"))
    )


_WINNOW_PAIRS_SQL = f"""
WITH {_WINNOW_CTES},
idx0 AS (SELECT doc_id, unnest(fps) AS fp FROM w),
rare AS (SELECT fp FROM idx0 GROUP BY fp HAVING count(*) <= {MAX_FP_DF}),
idx AS (SELECT doc_id, fp FROM idx0 WHERE fp IN (SELECT fp FROM rare))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
HAVING count(*) >= {MIN_SHARED_FPS}
ORDER BY doc_a, doc_b
"""


# --- Exact substring dedup ----------------------------------------------------------
def _positioned_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, g): md5 of every ``DUP_GRAM_WORDS``-word gram with its
    1-based start position. The gram key is its hash, so the wide 8-word
    string never crosses a shuffle."""
    k = DUP_GRAM_WORDS
    d = docs.select("doc_id", words(F.col("text")).alias("ws"))
    idx = F.sequence(F.lit(1), F.size("ws") - (k - 1))
    gram = lambda i: F.md5(  # noqa: E731
        F.encode(F.concat_ws(" ", *[F.element_at(F.col("ws"), i + j) for j in range(k)]), "UTF-8")
    )
    grams = F.when(
        F.size("ws") >= k,
        F.transform(idx, lambda i: F.struct(i.alias("pos"), gram(i).alias("g"))),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    return d.select("doc_id", F.explode(grams).alias("s")).select(
        "doc_id", F.col("s.pos").cast("long").alias("pos"), F.col("s.g").alias("g")
    )


# The oracle twin of _positioned_grams: words ``w.ws`` and grams ``sh``.
_GRAMS_CTES = f"""w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(ws[i:i + {DUP_GRAM_WORDS - 1}], ' ')) AS g
  FROM w, UNNEST(range(1, len(ws) - {DUP_GRAM_WORDS - 2})) AS t(i)
  WHERE len(ws) >= {DUP_GRAM_WORDS}
)"""


def _substring_dup_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring runs — the span half of exact
    substring dedup (Lee et al. 2021): an 8-word gram is *duplicated* if
    it appears in >= 2 distinct documents, and consecutive duplicated gram
    positions form a run (a maximal shared span, the unit that paper
    removes). Emits, per document that has any, the total duplicated-gram
    count, the longest run, and the run count.

    100 TB shape: positioned grams -> gram-df aggregation (map-side
    combine; the gram key is its md5, never the 8-word string) -> postings
    join back -> per-doc window. The window partitions by doc_id, so state
    is one document's duplicated positions; the df table shuffles on the
    gram hash — the same postings discipline as the Jaccard/winnowing
    entries, nothing all-pairs. "appears in >= 2 distinct documents" is
    computed as min(doc_id) != max(doc_id) — a plain map-side-combined
    agg, ONE shuffle on hash(g) — instead of countDistinct, whose expand
    path costs a second (g, doc_id) shuffle; the join back is hinted
    shuffled-hash so the 8-grams-per-word probe side is never sorted
    (decade-3 lesson: SMJ external sort is what breaks first at scale).
    """
    # NOT checkpointed (r15 audit): the gram-df build and the postings
    # join back both evaluate this explode chain, but an interleaved A/B
    # measured the materialization costing as much as the recompute — the
    # chain is pure codegen (scan+explode), the class where within-action
    # checkpointing is a wash (it pays only for Python-boundary or
    # multi-shuffle subtrees; see OPTIMIZATION_r15.md).
    sh = _positioned_grams(load_table(spark, sf_dir, "documents"))
    dup = (
        sh.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("g")
    )
    marked = sh.join(dup.hint("shuffle_hash"), "g").select("doc_id", "pos")
    run_key = F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    runs = (
        marked.withColumn("island", run_key)
        .groupBy("doc_id", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.sum("run_len").alias("n_dup_grams"),
            F.max("run_len").alias("longest_run"),
            F.count(F.lit(1)).alias("n_runs"),
        )
        .orderBy("doc_id")
    )


_DUP_RUNS_SQL = f"""
WITH {_GRAMS_CTES},
dup AS (SELECT g FROM sh GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
m AS (SELECT doc_id, pos FROM sh JOIN dup USING (g)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM m
),
runs AS (SELECT doc_id, island, count(*) AS run_len FROM isl GROUP BY doc_id, island)
SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS n_dup_grams,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       CAST(count(*) AS BIGINT) AS n_runs
FROM runs GROUP BY doc_id ORDER BY doc_id
"""


def _substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact substring dedup (Lee et al. 2021):
    actually CUT the duplicated spans, keep-first policy — a word survives
    unless it is covered by a duplicated 8-gram whose first holder
    (min doc_id) is some *earlier* document. Emits per-doc word counts
    before/after and the md5 of the cleaned text, so the rewrite is
    checkable without shipping full documents around.

    100 TB shape: positioned grams -> per-gram (first/last holder)
    aggregation (map-side combine on the gram *hash*; ">= 2 docs" is
    min != max, avoiding countDistinct's extra expand shuffle) ->
    shuffled-hash postings join back (probe side never sorted) -> per-doc
    set of duplicated gram START positions (8x fewer rows than exploding
    every covered word index, and no distinct shuffle) -> coverage is
    decided per word IN-ROW with a higher-order exists over the starts
    (word i covered iff some start s in [i-k+1, i]), and one filter per
    row rebuilds the text with zero additional shuffle. Nothing is
    all-pairs and no per-doc state exceeds the document's own gram count.
    Round-7 decade-3 measurement caught the previous form superlinear
    (x13.77 at 10x rows, 5M docs): the explode+distinct shuffles and the
    countDistinct expand were the cost; this shape removes three of the
    five shuffles.
    """
    k = DUP_GRAM_WORDS
    docs = load_table(spark, sf_dir, "documents")
    # NOT checkpointed — same adjudication as _substring_dup_runs above:
    # the duplicated chain is pure codegen, and the interleaved A/B read
    # the checkpoint as a wash-to-loss (r15 audit)
    sh = _positioned_grams(docs)
    gstats = sh.groupBy("g").agg(
        F.min("doc_id").alias("first_holder"),
        F.max("doc_id").alias("last_holder"),
    )
    removable = (
        sh.join(
            gstats.where(F.col("first_holder") != F.col("last_holder")).hint(
                "shuffle_hash"
            ),
            "g",
        )
        .where(F.col("doc_id") > F.col("first_holder"))
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    d = docs.select("doc_id", words(F.col("text")).alias("ws")).join(
        removable, "doc_id", "left"
    ).withColumn(
        "starts", F.coalesce(F.col("starts"), F.array().cast("array<long>"))
    )

    def covered(i):  # word index i (1-based long) inside a duplicated gram?
        return F.exists(
            F.col("starts"), lambda s: (i >= s) & (i <= s + F.lit(k - 1))
        )

    kept = F.filter(F.col("ws"), lambda w, i: ~covered((i + 1).cast("long")))
    # sorted_once: the per-row HOF coverage filter + md5 rebuild sit above
    # the last exchange, so the sort's sampling pass ran them twice (see
    # functions/plan.py)
    return sorted_once(
        d.select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            (F.size("ws") - F.size(kept)).cast("long").alias("n_removed"),
            F.md5(F.encode(F.concat_ws(" ", kept), "UTF-8")).alias("cleaned_md5"),
        ),
        "doc_id",
    )


_DEDUP_CLEAN_SQL = f"""
WITH {_GRAMS_CTES},
gstats AS (
  SELECT g, count(DISTINCT doc_id) AS df, min(doc_id) AS first_holder
  FROM sh GROUP BY g
),
removable AS (
  SELECT DISTINCT sh.doc_id, CAST(u.widx AS BIGINT) AS widx
  FROM sh JOIN gstats USING (g), UNNEST(range(sh.pos, sh.pos + {DUP_GRAM_WORDS})) AS u(widx)
  WHERE gstats.df >= 2 AND sh.doc_id > gstats.first_holder
),
covered AS (SELECT doc_id, list(widx) AS cov FROM removable GROUP BY doc_id)
SELECT w.doc_id,
       CAST(len(w.ws) AS BIGINT) AS n_words,
       CAST(coalesce(len(c.cov), 0) AS BIGINT) AS n_removed,
       md5(coalesce(array_to_string(
         [w.ws[i] FOR i IN range(1, len(w.ws) + 1)
          IF NOT coalesce(list_contains(c.cov, i), false)], ' '), '')) AS cleaned_md5
FROM w LEFT JOIN covered c ON w.doc_id = c.doc_id
ORDER BY w.doc_id
"""


# --- Benchmark decontamination ----------------------------------------------------
def _decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with a held-out benchmark set (here docs with
    doc_id % 50 == 0 stand in for the eval suite). Normalization, word
    split, and shingle construction are all higher-order array functions
    (codegen, no UDF); the benchmark gram set is DISTINCT'd then
    broadcast — training-side grams never shuffle, which is the entire
    scale story: a 100 TB corpus joins against a few-MB broadcast of
    benchmark shingles (hash the grams to xxhash64 to shrink it
    further). Reports contaminated doc ids with shared-gram counts."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.regexp_replace("text", "[^a-z0-9 ]", " ")), " +"),
            lambda x: x != "",
        ).alias("w"),
    )
    grams = words.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= _DECONTAM_N,
                F.expr(
                    f"transform(sequence(1, size(w) - {_DECONTAM_N - 1}),"
                    f" i -> concat_ws(' ', slice(w, i, {_DECONTAM_N})))"
                ),
            ).otherwise(F.array())
        ).alias("gram"),
    ).distinct()
    # NOT checkpointed (r15 audit): both branches evaluate the gram
    # explode+distinct, but it is pure codegen — the interleaved A/B read
    # a within-action checkpoint as a slight loss (see OPTIMIZATION_r15.md)
    bench = (
        grams.where(F.col("doc_id") % 50 == 0).select("gram").distinct()
    )
    return (
        grams.where(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


_DECONTAM_SQL = f"""
WITH norm AS (
  SELECT doc_id,
         list_filter(string_split_regex(
             lower(regexp_replace(text, '[^a-z0-9 ]', ' ', 'g')), ' +'),
           x -> x <> '') AS w
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - {_DECONTAM_N - 1}),
                i -> array_to_string(list_slice(w, i, i + {_DECONTAM_N - 1}), ' ')))
           AS gram
  FROM norm),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM grams g JOIN bench USING (gram)
WHERE g.doc_id % 50 <> 0
GROUP BY 1 ORDER BY 1
"""


def _pos_expr(j_str, gram) -> F.Column:
    """THE Bloom position arithmetic — pos_j = int(md5(j ':' gram)[:8 hex])
    % m — shared by the bitmap-build side (:func:`_positions`) and the
    inline probe loop so the two can never drift (ADVICE r14: a silent
    divergence would produce false NEGATIVES, violating the pytested
    no-false-negative invariant). ``j_str``/``gram`` are string Columns."""
    return (
        F.conv(
            F.substring(
                F.md5(F.encode(F.concat(j_str, F.lit(":"), gram), "UTF-8")),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % BLOOM_M_BITS
    )


def _positions(df: DataFrame) -> DataFrame:
    """k md5-derived bit positions per gram: pos_j = int(md5(j ':' gram)
    [:8 hex]) % m. 32-bit words keep every mask below 2^31 so the bitwise
    algebra is sign-free and identical in Spark and DuckDB."""
    j = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("j")
    out = df.select("*", j)
    return (
        out.withColumn("pos", _pos_expr(F.col("j").cast("string"), F.col("gram")))
        .withColumn("wid", (F.col("pos") / 32).cast("long"))
        # pyspark's shiftleft() only takes a literal shift count; the SQL
        # form accepts a column
        .withColumn("mask", F.expr("shiftleft(1L, CAST(pos % 32 AS INT))"))
    )


def _bloom_shingle_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per incoming document (odd doc_ids): distinct 6-gram count, Bloom
    hits against the even-doc history bitmap, exact-join truth labels,
    and the false-positive residue. sum(n_bloom_hits) >= sum(n_true_dups)
    always (no false negatives — pytested); the gap is the m/n/k
    tradeoff, sized here to keep FPs visible but rare.

    The constant-memory variant of incremental dedup / decontamination
    (Dolma's paragraph Bloom, CCNet's seen-hash set): the history's
    distinct word-6-gram shingles are folded into a real Bloom bitmap
    (k=5 md5-derived positions, m bits, 32-bit words bit_or-aggregated),
    and incoming documents probe it with a broadcast join instead of
    joining the full shingle index — at 100 TB the bitmap is O(m), fixed
    and broadcastable. The exact history grams LABEL each hit (true
    duplicate vs false positive) so the oracle can check the filter's
    semantics bit-for-bit; the production path stops at the probe.

    Round-14 probe-side restructure (same bits, 3 fewer shuffles + one
    fewer corpus pass at sf0.1, 4.9 s -> ~2.6 s):

    * The k=5 probe positions are INLINE COLUMNS per gram row, not a 5x
      explode + groupBy(doc_id, gram) min() — the per-gram AND of 5 hit
      flags is the same value min() re-derived, without shuffling 5x the
      probe rows.
    * The bitmap (4096 words — O(m), fixed) collapses to ONE row holding
      a wid->word map, broadcast-joined to the probe; each position reads
      its word with try_element_at instead of a per-position join.
      Missing wid (word NULL before / NULL lookup now) probes to 0 both
      ways.
    * The truth label comes from a max() window over the gram key (is_dup
      = any even doc holds the gram) instead of a probe x hist_grams
      shuffle join — one exchange where the join had two.
    * The shingle pass (posexplode + window-lead, the expensive subtree)
      was evaluated three times — history branch, probe branch, label
      join; a lazy localCheckpoint materializes it once per run. Lazy,
      not eager: build() must stay plan-only (the plan-audit contract),
      and RDD-level blocks are per-build, so bench reruns still recompute
      from parquet (no cross-run caching).
    """
    d = load_table(spark, sf_dir, "documents")
    # shingle_postings, not a per-doc HOF shingle array: the posexplode +
    # window-lead form is fully codegen'd; the interpreted transform/
    # concat_ws array form measured 16s for this explode alone at sf0.1
    # (the exact trap operators/dedup.py's docstring warns about)
    grams = (
        shingle_postings(d, "doc_id", "text", BLOOM_NGRAM)
        .select(F.col("doc").alias("doc_id"), F.col("shingle").alias("gram"))
        .localCheckpoint(eager=False)
    )
    hist_grams = grams.where(F.col("doc_id") % 2 == 0).select("gram").distinct()
    bitmap = (
        _positions(hist_grams)
        .groupBy("wid")
        .agg(F.bit_or("mask").alias("word"))
    )
    # O(m) words -> one broadcastable map row: the probe's k lookups stay
    # row-local, so the probe side never shuffles on wid at any corpus size
    bitmap_row = bitmap.agg(
        F.map_from_entries(F.collect_list(F.struct("wid", "word"))).alias("__bm")
    )
    # is_dup = gram seen in any even doc — max() over the gram key replaces
    # the left join against hist_grams (postings are distinct per doc, so
    # one row per (odd doc, gram) survives, exactly the old probe rows)
    flagged = (
        grams.withColumn(
            "is_dup",
            F.max(
                F.when(F.col("doc_id") % 2 == 0, F.lit(1)).otherwise(F.lit(0))
            ).over(Window.partitionBy("gram")),
        )
        .where(F.col("doc_id") % 2 == 1)
    )
    probed = flagged.join(F.broadcast(bitmap_row))
    hit_cond = None
    for j in range(BLOOM_K):
        # the SAME _pos_expr as the bitmap-build side, j a literal
        probed = probed.withColumn(
            f"__p{j}", _pos_expr(F.lit(str(j)), F.col("gram"))
        )
        word = F.coalesce(
            F.try_element_at(F.col("__bm"), (F.col(f"__p{j}") / 32).cast("long")),
            F.lit(0).cast("long"),
        )
        mask = F.expr(f"shiftleft(1L, CAST(__p{j} % 32 AS INT))")
        cond = word.bitwiseAND(mask) == mask
        hit_cond = cond if hit_cond is None else (hit_cond & cond)
    probe = probed.withColumn(
        "bloom_hit", F.when(hit_cond, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        probe.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("bloom_hit").cast("long").alias("n_bloom_hits"),
            F.sum("is_dup").cast("long").alias("n_true_dups"),
            (F.sum("bloom_hit") - F.sum("is_dup")).cast("long").alias("n_false_pos"),
        )
        .orderBy("doc_id")
    )


_BLOOM_DECON_SQL = rf"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
g AS (SELECT DISTINCT doc_id,
             array_to_string(w[u.i:u.i+{BLOOM_NGRAM - 1}], ' ') AS gram
      FROM t, unnest(range(1, len(w) - {BLOOM_NGRAM - 2})) u(i)),
hg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
hpos AS (
  SELECT CAST(CAST(('0x' || substring(md5(j.j || ':' || gram), 1, 8))
              AS UBIGINT) % {BLOOM_M_BITS} AS BIGINT) AS pos
  FROM hg, unnest(range(0, {BLOOM_K})) j(j)
),
bitmap AS (
  SELECT pos // 32 AS wid,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
  FROM hpos GROUP BY 1
),
inc AS (SELECT doc_id, gram FROM g WHERE doc_id % 2 = 1),
ipos AS (
  SELECT doc_id, gram,
         CAST(CAST(('0x' || substring(md5(j.j || ':' || gram), 1, 8))
              AS UBIGINT) % {BLOOM_M_BITS} AS BIGINT) AS pos
  FROM inc, unnest(range(0, {BLOOM_K})) j(j)
),
probe AS (
  SELECT i.doc_id, i.gram,
         CASE WHEN b.word IS NOT NULL AND
                   (b.word & (CAST(1 AS BIGINT) << CAST(i.pos % 32 AS INT)))
                   != 0
              THEN 1 ELSE 0 END AS hit
  FROM ipos i LEFT JOIN bitmap b ON i.pos // 32 = b.wid
),
gram_hit AS (
  SELECT doc_id, gram, min(hit) AS bloom_hit FROM probe GROUP BY doc_id, gram
),
labeled AS (
  SELECT gh.doc_id, gh.bloom_hit,
         CASE WHEN gh.gram IN (SELECT gram FROM hg) THEN 1 ELSE 0 END AS is_dup
  FROM gram_hit gh
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
       CAST(sum(is_dup) AS BIGINT) AS n_true_dups,
       CAST(sum(bloom_hit) - sum(is_dup) AS BIGINT) AS n_false_pos
FROM labeled GROUP BY doc_id ORDER BY doc_id
"""


QUERIES = [
    Query("doc_fingerprint_md5", _fingerprints, _FINGERPRINT_SQL, ("llm", "text")),
    Query("dedup_exact_docs", _dedup_exact, _DEDUP_EXACT_SQL, ("llm", "dedup")),
    Query("dedup_events_keep_first", _dedup_events_first, _DEDUP_EVENTS_SQL, ("llm", "dedup")),
    Query("incremental_dedup_new_docs", _incremental_dedup_new_docs, _INCR_SQL,
          ("llm", "dedup", "incremental")),
    Query("neardup_jaccard_pairs", _neardup_jaccard, _JACCARD_ORACLE_SQL, ("llm", "dedup")),
    Query("neardup_minhash_lsh_pairs", _neardup_minhash_lsh, _JACCARD_ORACLE_SQL, ("llm", "dedup", "lsh")),
    Query("simhash_docs", _simhash_docs,
          simhash63_oracle_sql("documents", "doc_id", "text"),
          ("llm", "dedup")),
    Query("neardup_components", _neardup_clusters, _COMPONENTS_SQL, ("llm", "dedup", "iterative")),
    Query("dedup_pipeline_survivors", _dedup_pipeline_survivors, _SURVIVORS_SQL, ("llm", "dedup", "pipeline")),
    Query("winnow_fingerprint_stats", _winnow_fingerprint_stats, _WINNOW_SQL, ("llm", "dedup", "fingerprint")),
    Query("winnow_neardup_pairs", _winnow_neardup_pairs, _WINNOW_PAIRS_SQL,
          ("llm", "dedup", "fingerprint")),
    Query("substring_dup_runs", _substring_dup_runs, _DUP_RUNS_SQL,
          ("llm", "dedup", "substring", "spans")),
    Query("substring_dedup_clean", _substring_dedup_clean, _DEDUP_CLEAN_SQL,
          ("llm", "dedup", "substring", "rewrite")),
    Query("decontaminate_ngram_overlap", _decontaminate_ngrams, _DECONTAM_SQL,
          ("llmdata", "dedup", "decontamination")),
    Query("bloom_shingle_decontaminate", _bloom_shingle_decontaminate,
          _BLOOM_DECON_SQL, ("llm", "dedup", "bloom", "decontamination")),
]
