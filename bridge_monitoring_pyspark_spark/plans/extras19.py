"""Data-selection operators for pretraining corpora: DSIR importance
weights, hashed linear quality classification, duplicated-substring run
detection, and deterministic weighted sampling.

These close the "which documents do we keep?" gap between the dedup suite
(what is redundant) and the mixture/curation entries (how much of each
domain): importance resampling scores every document against a target
distribution (DSIR, Xie et al. 2023, arXiv:2302.03169), the classifier
witnesses fasttext-shaped model-based filtering as pure codegen, the
run detector is the per-document half of exact-substring dedup (Lee et
al. 2021, arXiv:2107.06499 — find maximal duplicated spans, not just
duplicated shingles), and A-ES sampling (Efraimidis & Spirakis 2006) is
the one-pass weighted-without-replacement draw a mixture executor needs.

Engine-neutral determinism: every hash is an md5 hex slice (the one hash
Spark and DuckDB share — see operators/dedup.py:simhash63_agg for the
original derivation), every pseudo-random draw is a pure function of the
row key, so each query has an exact DuckDB oracle.

Scale notes per entry are on the builders; the common shape is: one
explode pass over tokens, aggregation with map-side combine, and only
O(buckets)- or O(k)-sized state ever converging on one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import words
from ..functions.plan import scratch_dir, sorted_once
from ..schemas import TABLES
from ..sources.readers import load_table, read_parquet_stream
from ..streaming.jobs import drain
from .catalog import Query

DSIR_BUCKETS = 64  # hashed-feature dimensionality (paper uses 10k; 64 keeps the sf0.01 oracle dense)
CLS_BUCKETS = 256  # classifier hashed-vocabulary size
CLS_BIAS = 0.05  # fixed intercept of the synthetic linear model
DUP_GRAM_WORDS = 8  # duplicated-substring unit (words per gram)
SAMPLE_N = 20  # weighted-sample size
_U48 = float(1 << 48)  # md5 48-bit slice → uniform (0, 1] denominator


def _md5_bucket(col, buckets: int):
    """Engine-neutral hash bucket: first 8 md5 hex chars (32 bits) mod
    ``buckets``. DuckDB computes the identical value via
    ``CAST(('0x' || substring(md5(x), 1, 8)) AS UBIGINT) % buckets``."""
    return (
        F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 8), 16, 10).cast("long")
        % buckets
    )


def _token_buckets(docs: DataFrame, buckets: int) -> DataFrame:
    """(doc_id, lang, bucket) per token occurrence (counts matter for both
    DSIR and the classifier, so no array_distinct here)."""
    return docs.select(
        "doc_id",
        "lang",
        F.explode(words(F.col("text"))).alias("token"),
    ).select("doc_id", "lang", _md5_bucket(F.col("token"), buckets).alias("bucket"))


def _dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance weight per document.

    Hashed unigram features (md5 mod 64); the target distribution is the
    corpus's own ``lang = 'en'`` slice, the raw distribution is the whole
    corpus; both are Laplace-smoothed bucket unigram LMs. A document's
    weight is sum over its tokens of ln p_target(bucket) - ln p_raw(bucket)
    — resampling by this weight tilts the corpus toward the target.

    100 TB shape: the token pass aggregates straight to 64 bucket rows
    (map-side combine does almost all the work), the per-doc pass combines
    to at most 64 rows per doc, and the weight table joins back via
    broadcast — no shuffle ever carries more than the grouped token
    counts, and nothing bigger than ``DSIR_BUCKETS`` rows converges on one
    task.
    """
    # lazy-checkpoint: raw, target and per-doc passes all consume this
    # tokenize+explode chain — three evaluations per action without it
    # (r15 plan audit)
    tok = _token_buckets(
        load_table(spark, sf_dir, "documents"), DSIR_BUCKETS
    ).localCheckpoint(eager=False)
    raw = tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        tok.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    everything = Window.partitionBy()  # 64-row frame: totals without a second pass
    wgt = (
        raw.join(tgt, "bucket", "left")
        .withColumn("c_tgt", F.coalesce(F.col("c_tgt"), F.lit(0)))
        .select(
            "bucket",
            (
                F.log(
                    (F.col("c_tgt") + 1.0)
                    / (F.sum("c_tgt").over(everything) + float(DSIR_BUCKETS))
                )
                - F.log(
                    (F.col("c_raw") + 1.0)
                    / (F.sum("c_raw").over(everything) + float(DSIR_BUCKETS))
                )
            ).alias("wgt"),
        )
    )
    per_doc = tok.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_doc.join(F.broadcast(wgt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            # round(…, 4) is compared exactly against DuckDB. Residual risk:
            # Spark's partial-agg order is nondeterministic, so a double sum
            # landing within ~1 ulp of a 1e-4 rounding boundary could flip.
            # Accepted because the weights come from a 9-sig-fig normalizer
            # (boundary hits are measure-zero in practice) and 4 decimals is
            # the documented DSIR output contract; if it ever flakes, drop
            # the round and compare raw doubles like quality_classifier does.
            F.round(F.sum(F.col("c") * F.col("wgt")), 4).alias("log_iw"),
        )
        .orderBy("doc_id")
    )


_DSIR_SQL = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(CAST(('0x' || substring(md5(token), 1, 8)) AS UBIGINT) % {DSIR_BUCKETS} AS BIGINT) AS bucket
  FROM (SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        FROM documents)
),
raw AS (SELECT bucket, count(*) AS c_raw FROM tok GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS c_tgt FROM tok WHERE lang = 'en' GROUP BY bucket),
w AS (
  SELECT r.bucket,
         ln((coalesce(t.c_tgt, 0) + 1.0) / (sum(coalesce(t.c_tgt, 0)) OVER () + {DSIR_BUCKETS}.0))
       - ln((r.c_raw + 1.0) / (sum(r.c_raw) OVER () + {DSIR_BUCKETS}.0)) AS wgt
  FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket
),
per_doc AS (SELECT doc_id, bucket, count(*) AS c FROM tok GROUP BY doc_id, bucket)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, round(sum(c * wgt), 4) AS log_iw
FROM per_doc JOIN w USING (bucket)
GROUP BY doc_id
ORDER BY doc_id
"""


def _quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-shaped linear quality classifier, entirely in codegen.

    Feature = hashed token bucket (md5 mod 256); the model's weight for
    bucket b is the fixed integer-arithmetic ramp ((b * 2654435761) % 2001
    - 1000) / 1000 in [-1, 1] (a Knuth-hash spread, standing in for
    trained weights — deterministic so the oracle can replay it); score =
    mean token weight + bias; keep iff score > 0.

    This is the plumbing of model-based filtering at 100 TB: the weight
    vector is a pure expression (a real model would broadcast its ~10k
    weights), the doc pass is one explode + one grouped aggregation with
    map-side combine, and no Python runs per row.
    """
    tok = _token_buckets(load_table(spark, sf_dir, "documents"), CLS_BUCKETS)
    m = (F.col("bucket") * F.lit(2654435761).cast("long")) % 2001  # weight*1000 + 1000
    scored = tok.select("doc_id", m.alias("m")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("m").alias("sm")
    )
    # score = mean weight + bias, folded into ONE exact-integer ratio
    # (sm - 950n)/(1000n): the sum stays integral, so the only float op is
    # a single division of two exact integers — bit-identical across
    # engines — and keep is an *integer* comparison (sm > 950n). The score
    # is deliberately NOT rounded: a small-denominator rational lands on
    # .5 decimal boundaries constantly, where Spark (HALF_UP on the
    # decimal repr) and DuckDB (round on the binary value) disagree;
    # the unrounded doubles, by contrast, are identical bit patterns.
    num = F.col("sm") - (1000 - round(CLS_BIAS * 1000)) * F.col("n_tokens")
    return scored.select(
        "doc_id",
        "n_tokens",
        (num / (1000.0 * F.col("n_tokens"))).alias("quality_score"),
        F.when(num > 0, 1).otherwise(0).alias("keep_flag"),
    ).orderBy("doc_id")


_CLS_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substring(md5(token), 1, 8)) AS UBIGINT) % {CLS_BUCKETS} AS BIGINT) AS bucket
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        FROM documents)
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum((bucket * 2654435761) % 2001) AS BIGINT) AS sm
  FROM tok GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       (sm - 950 * n_tokens) / (1000.0 * n_tokens) AS quality_score,
       CASE WHEN sm - 950 * n_tokens > 0 THEN 1 ELSE 0 END AS keep_flag
FROM scored
ORDER BY doc_id
"""


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
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(ws[i:i + {DUP_GRAM_WORDS - 1}], ' ')) AS g
  FROM w, UNNEST(range(1, len(ws) - {DUP_GRAM_WORDS - 2})) AS t(i)
  WHERE len(ws) >= {DUP_GRAM_WORDS}
),
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
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(ws[i:i + {DUP_GRAM_WORDS - 1}], ' ')) AS g
  FROM w, UNNEST(range(1, len(ws) - {DUP_GRAM_WORDS - 2})) AS t(i)
  WHERE len(ws) >= {DUP_GRAM_WORDS}
),
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


def _weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis &
    Spirakis A-ES): each doc draws u in (0, 1] as a pure md5 function of
    its id, and the top ``SAMPLE_N`` by ln(u) / weight (the log form of
    u^(1/w); weight = n_chars) are the sample — longer documents
    proportionally likelier, and the draw replays bit-for-bit anywhere.

    100 TB shape: the sort key is an expression, so the plan is
    TakeOrderedAndProject — each task keeps its local top-20 and only
    20 rows per partition converge — followed by a 20-row window for the
    rank. One pass, no global sort, no driver state.
    """
    u = (
        F.conv(
            F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 12),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / _U48
    key = F.round(F.log(u) / F.col("n_chars"), 8)
    top = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("n_chars").alias("weight"), key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(SAMPLE_N)
    )
    rank = F.row_number().over(Window.partitionBy().orderBy(F.col("k").desc(), "doc_id"))
    return top.select(rank.alias("rank"), "doc_id", "weight").orderBy("rank")


_WEIGHTED_SAMPLE_SQL = f"""
WITH s AS (
  SELECT doc_id, n_chars AS weight,
         round(ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT) + 1)
                  / {_U48!r}) / n_chars, 8) AS k
  FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT) AS rank, doc_id, weight
FROM s
ORDER BY k DESC, doc_id
LIMIT {SAMPLE_N}
"""


def _streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier as a *streaming ingest filter* — and in its zero-
    shuffle form: the batch entry scores via explode→groupBy (map-side
    combine), but a per-document score never needed a shuffle at all, so
    here the token sum runs as higher-order array expressions
    (transform + aggregate) *inside the row*. The streaming pass is
    therefore completely stateless — no watermark, no state store — which
    is the shape a 100 TB selection pass in front of a training-data lake
    wants: score-and-drop at wire speed, aggregate later.

    Same integer arithmetic as `quality_classifier_scores` (keep iff
    sm > 950·n), so kept doc_ids match the batch entry exactly; the
    drained sink is re-aggregated per language for a compact result."""
    docs = read_parquet_stream(spark, sf_dir, "documents", TABLES["documents"])
    toks = words(F.col("text"))
    m = F.transform(
        toks,
        lambda t: (_md5_bucket(t, CLS_BUCKETS) * F.lit(2654435761).cast("long")) % 2001,
    )
    sm = F.aggregate(m, F.lit(0).cast("long"), lambda acc, x: acc + x)
    kept = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        (sm - 950 * F.size(toks)).alias("num"),
    ).where(F.col("num") > 0)
    # stateless: no state partitions to pin
    out = drain(kept, scratch_dir("eng_squal_"), "quality_kept", partitions=None)
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
            F.min("doc_id").alias("first_kept_doc"),
        )
        .orderBy("lang")
    )


_STREAM_QUAL_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(list_sum([
           ((CAST(('0x' || substring(md5(t), 1, 8)) AS UBIGINT) % {CLS_BUCKETS})
            * 2654435761) % 2001
           FOR t IN regexp_split_to_array(trim(text), '\\s+')
         ]) AS BIGINT) AS sm
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
       min(doc_id) AS first_kept_doc
FROM scored
WHERE sm - 950 * n_tokens > 0
GROUP BY lang
ORDER BY lang
"""


GROUP_SAMPLE_K = 5  # per-language sample size


def _weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified A-ES: the same deterministic u^(1/w) draw as
    `weighted_sample_docs`, but top-k *per language* — the per-domain
    sampling step a mixture executor runs after `domain_mixture_weights`
    decides each domain's quota.

    100 TB shape: one shuffle on the stratum key, rank inside each group
    (state = one group's rows), nothing global. For heavily skewed strata
    the salted two-phase top-k (operators/topk.py) is the sibling; the
    per-group k here is tiny so the plain window is the right plan.
    """
    u = (
        F.conv(
            F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 12),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / _U48
    key = F.round(F.log(u) / F.col("n_chars"), 8)
    ranked = (
        load_table(spark, sf_dir, "documents")
        .select("lang", "doc_id", F.col("n_chars").alias("weight"), key.alias("k"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("k").desc(), "doc_id")
            ),
        )
        .where(F.col("rank") <= GROUP_SAMPLE_K)
    )
    return ranked.select("lang", "rank", "doc_id", "weight").orderBy("lang", "rank")


_GROUP_SAMPLE_SQL = f"""
WITH s AS (
  SELECT lang, doc_id, n_chars AS weight,
         round(ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS UBIGINT) + 1)
                  / {_U48!r}) / n_chars, 8) AS k
  FROM documents
)
SELECT lang, CAST(row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS INT) AS rank,
       doc_id, weight
FROM s
QUALIFY rank <= {GROUP_SAMPLE_K}
ORDER BY lang, rank
"""


QUERIES = [
    Query("dsir_importance_weights", _dsir_importance_weights, _DSIR_SQL,
          ("llm", "selection", "dsir", "training-data")),
    Query("quality_classifier_scores", _quality_classifier_scores, _CLS_SQL,
          ("llm", "selection", "quality", "classifier")),
    Query("substring_dup_runs", _substring_dup_runs, _DUP_RUNS_SQL,
          ("llm", "dedup", "substring", "spans")),
    Query("substring_dedup_clean", _substring_dedup_clean, _DEDUP_CLEAN_SQL,
          ("llm", "dedup", "substring", "rewrite")),
    Query("weighted_sample_docs", _weighted_sample_docs, _WEIGHTED_SAMPLE_SQL,
          ("llm", "sampling", "weighted", "training-data")),
    Query("streaming_quality_filter", _streaming_quality_filter, _STREAM_QUAL_SQL,
          ("streaming", "llm", "selection", "stateless")),
    Query("weighted_sample_per_lang", _weighted_sample_per_lang, _GROUP_SAMPLE_SQL,
          ("llm", "sampling", "weighted", "stratified")),
]
