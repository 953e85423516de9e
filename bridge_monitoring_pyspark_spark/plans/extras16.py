"""Seventeenth extension wave: corpus composition / curation operators.

Two mixture-level operators a pretraining data pipeline runs after
per-document filtering, both pure aggregate algebra:

- ``domain_mixture_weights`` — temperature-weighted source mixing: the
  per-source sampling weights that up-weight small domains, the standard
  fix for a head-heavy corpus (alpha=0.5, i.e. sqrt scaling).
- ``token_budget_curation`` — per-language best-first selection under a
  fixed token budget: rank documents by lexical diversity and keep the
  prefix whose cumulative token count fits the budget.

Scale notes (100 TB): mixture weights are one map-side-combinable groupBy
over the source column (20 groups here, thousands at scale) plus a
window-total over the tiny aggregate result — the OVER () runs on rows ==
|sources|, never on raw data. Curation shuffles once on the language key;
the per-language ordered cumsum is exactly the distributed form (each
language sorts independently inside its partition). Skewed languages (en
is most of a web corpus) would range-partition on (lang, quality) with the
same running-sum algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import token_count_estimate, words
from ..sources.readers import load_table
from ..functions.plan import sorted_once
from .catalog import Query
from .extras15 import PACK_BUDGET

MIX_ALPHA_DESC = "sqrt"  # alpha = 0.5 temperature
LANG_TOKEN_BUDGET = 3_000  # per-language curation budget (tokens)


def _domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token counts and temperature-scaled mixture weights.

    ``raw_share`` is the corpus's natural distribution; ``mix_weight`` is
    the alpha=0.5 sampling distribution (w_i = sqrt(t_i) / sum_j sqrt(t_j))
    — the knob that keeps rare domains represented. ``upsample_factor`` =
    mix_weight / raw_share is the per-domain repetition rate a sampler
    applies. All arithmetic after the one groupBy happens on |sources|
    rows, so the window totals are free."""
    d = load_table(spark, sf_dir, "documents")
    per_src = (
        d.select("source", token_count_estimate(F.col("text")).cast("long").alias("t"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("n_tokens"))
    )
    all_w = Window.partitionBy()  # 20-row post-agg frame, not raw data
    raw_share = F.col("n_tokens") / F.sum("n_tokens").over(all_w)
    mix = F.sqrt(F.col("n_tokens")) / F.sum(F.sqrt(F.col("n_tokens"))).over(all_w)
    return (
        per_src.select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(raw_share, 6).alias("raw_share"),
            F.round(mix, 6).alias("mix_weight"),
            F.round(mix / raw_share, 6).alias("upsample_factor"),
        )
        .orderBy("source")
    )


_MIXTURE_SQL = r"""
WITH per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
             AS n_tokens
  FROM documents
  GROUP BY source
)
SELECT source, n_docs, n_tokens,
       round(n_tokens / sum(n_tokens) OVER (), 6) AS raw_share,
       round(sqrt(n_tokens) / sum(sqrt(n_tokens)) OVER (), 6) AS mix_weight,
       round((sqrt(n_tokens) / sum(sqrt(n_tokens)) OVER ())
             / (n_tokens / sum(n_tokens) OVER ()), 6) AS upsample_factor
FROM per_src
ORDER BY source
"""


def _token_budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first curation: within each language, keep the most lexically
    diverse documents whose cumulative token count fits
    LANG_TOKEN_BUDGET; report what survived vs the whole language.

    Quality = round(distinct words / words, 4) with doc_id as the
    deterministic tie-break — the rounding makes the sort key identical
    across engines. The running sum is a per-language window cumsum (one
    shuffle on lang); the budget filter is a plain predicate on it."""
    d = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))
    scored = d.select(
        "doc_id",
        "lang",
        token_count_estimate(F.col("text")).cast("long").alias("n_tok"),
        F.round(F.size(F.array_distinct(w)) / F.size(w), 4).alias("quality"),
    )
    cum = Window.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    ranked = scored.select(
        "doc_id", "lang", "n_tok", "quality", F.sum("n_tok").over(cum).alias("cum_tok")
    )
    kept = F.col("cum_tok") <= F.lit(LANG_TOKEN_BUDGET)
    return (
        ranked.groupBy("lang")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_docs_kept"),
            F.count(F.lit(1)).alias("n_docs_total"),
            F.sum(F.when(kept, F.col("n_tok"))).alias("tokens_kept"),
            F.sum("n_tok").alias("tokens_total"),
            F.round(F.min(F.when(kept, F.col("quality"))), 4).alias("min_quality_kept"),
        )
        .select(
            "lang",
            "n_docs_kept",
            "n_docs_total",
            "tokens_kept",
            "tokens_total",
            F.round(F.col("tokens_kept") / F.col("tokens_total"), 6).alias("kept_share"),
            "min_quality_kept",
        )
        .orderBy("lang")
    )


_CURATION_SQL = rf"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
             AS n_tok,
         round(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
               / len(string_split_regex(trim(text), '\s+')), 4) AS quality
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, n_tok, quality,
         sum(n_tok) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM scored
)
SELECT lang,
       CAST(sum(CASE WHEN cum_tok <= {LANG_TOKEN_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_kept,
       CAST(count(*) AS BIGINT) AS n_docs_total,
       CAST(sum(CASE WHEN cum_tok <= {LANG_TOKEN_BUDGET} THEN n_tok END) AS BIGINT)
           AS tokens_kept,
       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       round(sum(CASE WHEN cum_tok <= {LANG_TOKEN_BUDGET} THEN n_tok END)::DOUBLE
             / sum(n_tok), 6) AS kept_share,
       round(min(CASE WHEN cum_tok <= {LANG_TOKEN_BUDGET} THEN quality END), 4)
           AS min_quality_kept
FROM ranked
GROUP BY lang
ORDER BY lang
"""


BPE_TOP_K = 20


def _bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration: the corpus-wide frequency of every
    adjacent character pair, weighted by word occurrences — the count a
    tokenizer trainer maximizes when picking the next merge. Emits the
    top BPE_TOP_K pairs (deterministic tie-break on the pair itself).

    Plan shape — and the scale trick: pair counting runs on the DISTINCT
    word vocabulary with per-word occurrence counts, not on raw tokens.
    The corpus collapses by orders of magnitude in the first groupBy
    (Zipf: vocabulary grows ~sqrt of corpus size), so the char-pair
    explode — the expensive fan-out — touches |vocab| short strings, not
    100 TB of text. Per-position ``substring`` on <=15-char words is
    cheap; the O(len) rescan trap only bites on document-length strings
    (see functions/text.py:winnow_fingerprint_rows)."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = vocab.where(F.length("w") >= 2).select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.struct(
                    F.substring(F.col("w"), i, F.lit(1)).alias("left"),
                    F.substring(F.col("w"), i + 1, F.lit(1)).alias("right"),
                ),
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "left", "right")
        .limit(BPE_TOP_K)
    )


_BPE_SQL = rf"""
WITH vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
  GROUP BY w
),
pairs AS (
  SELECT cnt,
         substring(w, CAST(i AS INT), 1) AS "left",
         substring(w, CAST(i AS INT) + 1, 1) AS "right"
  FROM vocab, unnest(range(1, length(w))) AS t(i)
  WHERE length(w) >= 2
)
SELECT "left", "right", CAST(sum(cnt) AS BIGINT) AS n_pairs
FROM pairs
GROUP BY 1, 2
ORDER BY n_pairs DESC, "left", "right"
LIMIT {BPE_TOP_K}
"""


QUALITY_MIN = 0.35  # lexical-diversity floor for the composite pipeline


def _pretraining_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretraining-data funnel as ONE single-pass plan:
    raw -> quality filter -> exact dedup -> per-language token-budget
    curation -> sequence packing, reported as per-stage (docs, tokens)
    rows — the run manifest a data team publishes with every corpus
    release.

    Instead of materializing each stage, every document gets stage FLAGS
    computed by layered window functions: ``q_pass`` (quality floor),
    ``dedup_keep`` (row_number 1 within the content fingerprint, among
    quality survivors), ``curated`` (per-language best-first running token
    sum under the budget, among dedup survivors). One final aggregate
    folds the flags into the funnel; `stack` reshapes it to stage rows.
    Plan cost: two window shuffles (fingerprint, language) + one global
    agg — no joins, no repeated scans. At 100 TB each window partitions
    by a high-cardinality key (fingerprint / language), so both
    parallelize; the packed-sequence count is pure arithmetic on the
    curated token total (concat-and-chunk: ceil(tokens/budget))."""
    d = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))
    scored = d.select(
        "doc_id",
        "lang",
        token_count_estimate(F.col("text")).cast("long").alias("n_tok"),
        F.round(F.size(F.array_distinct(w)) / F.size(w), 4).alias("quality"),
        F.md5(F.encode(F.lower(F.trim(F.col("text"))), "UTF-8")).alias("fp"),
    ).withColumn("q_pass", F.col("quality") >= QUALITY_MIN)
    rn = F.row_number().over(
        Window.partitionBy("fp", "q_pass").orderBy("doc_id")
    )
    flagged = scored.withColumn("dedup_keep", F.col("q_pass") & (rn == 1))
    cum = F.sum("n_tok").over(
        Window.partitionBy("lang", "dedup_keep")
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = flagged.withColumn(
        "curated", F.col("dedup_keep") & (cum <= F.lit(LANG_TOKEN_BUDGET))
    )
    one = staged.agg(
        F.count(F.lit(1)).alias("raw_d"),
        F.sum("n_tok").alias("raw_t"),
        F.sum(F.when(F.col("q_pass"), 1).otherwise(0)).alias("q_d"),
        F.coalesce(F.sum(F.when(F.col("q_pass"), F.col("n_tok"))), F.lit(0)).alias("q_t"),
        F.sum(F.when(F.col("dedup_keep"), 1).otherwise(0)).alias("dd_d"),
        F.coalesce(F.sum(F.when(F.col("dedup_keep"), F.col("n_tok"))), F.lit(0)).alias("dd_t"),
        F.sum(F.when(F.col("curated"), 1).otherwise(0)).alias("c_d"),
        F.coalesce(F.sum(F.when(F.col("curated"), F.col("n_tok"))), F.lit(0)).alias("c_t"),
    )
    return one.selectExpr(
        f"""stack(5,
          1, 'raw',     raw_d, raw_t,
          2, 'quality', q_d,   q_t,
          3, 'dedup',   dd_d,  dd_t,
          4, 'curated', c_d,   c_t,
          5, 'packed',  (c_t + {PACK_BUDGET} - 1) div {PACK_BUDGET}, c_t
        ) AS (stage_id, stage, n_docs, n_tokens)"""
    ).orderBy("stage_id")


_MANIFEST_SQL = rf"""
WITH scored AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
             AS n_tok,
         round(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
               / len(string_split_regex(trim(text), '\s+')), 4) AS quality,
         md5(lower(trim(text))) AS fp
  FROM documents
),
flagged AS MATERIALIZED (
  SELECT *,
         quality >= {QUALITY_MIN} AS q_pass,
         (quality >= {QUALITY_MIN}) AND
         row_number() OVER (PARTITION BY fp, quality >= {QUALITY_MIN}
                            ORDER BY doc_id) = 1 AS dedup_keep
  FROM scored
),
staged AS MATERIALIZED (
  SELECT *,
         dedup_keep AND
         sum(n_tok) OVER (PARTITION BY lang, dedup_keep
                          ORDER BY quality DESC, doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           <= {LANG_TOKEN_BUDGET} AS curated
  FROM flagged
),
one AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS raw_d, CAST(sum(n_tok) AS BIGINT) AS raw_t,
         CAST(sum(CASE WHEN q_pass THEN 1 ELSE 0 END) AS BIGINT) AS q_d,
         CAST(coalesce(sum(CASE WHEN q_pass THEN n_tok END), 0) AS BIGINT) AS q_t,
         CAST(sum(CASE WHEN dedup_keep THEN 1 ELSE 0 END) AS BIGINT) AS dd_d,
         CAST(coalesce(sum(CASE WHEN dedup_keep THEN n_tok END), 0) AS BIGINT) AS dd_t,
         CAST(sum(CASE WHEN curated THEN 1 ELSE 0 END) AS BIGINT) AS c_d,
         CAST(coalesce(sum(CASE WHEN curated THEN n_tok END), 0) AS BIGINT) AS c_t
  FROM staged
)
SELECT 1 AS stage_id, 'raw' AS stage, raw_d AS n_docs, raw_t AS n_tokens FROM one
UNION ALL SELECT 2, 'quality', q_d, q_t FROM one
UNION ALL SELECT 3, 'dedup', dd_d, dd_t FROM one
UNION ALL SELECT 4, 'curated', c_d, c_t FROM one
UNION ALL SELECT 5, 'packed', (c_t + {PACK_BUDGET} - 1) // {PACK_BUDGET}, c_t FROM one
ORDER BY stage_id
"""


RESIZE_TARGET = 64


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail-style resize over binary payloads
    (operators/multimodal.resize_media): nearest-neighbor byte
    downsampling to <= RESIZE_TARGET samples per document, emitting the
    compact post-resize feature row. The corpus's ASCII contract makes
    byte == character, so the DuckDB oracle replays the exact sampling
    with ord(substring) over a stepped range."""
    from ..operators.multimodal import resize_media, with_binary_payload

    d = load_table(spark, sf_dir, "documents")
    return sorted_once(
        resize_media(with_binary_payload(d, "text"), target=RESIZE_TARGET),
        "doc_id",
    )


_RESIZE_SQL = rf"""
WITH sized AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         greatest(1, CAST(ceil(octet_length(encode(text)) / {RESIZE_TARGET}.0) AS INT)) AS stride
  FROM documents
),
sampled AS (
  SELECT doc_id, n, stride,
         [ord(substring(text, CAST(i AS INT) + 1, 1))
          for i in range(0, n, stride)] AS bytes
  FROM sized
)
SELECT doc_id,
       CAST(n AS BIGINT) AS in_bytes,
       CAST(len(bytes) AS INT) AS out_bytes,
       stride,
       CAST(list_sum(bytes) AS BIGINT) AS checksum,
       CAST(coalesce(bytes[1], -1) AS INT) AS first_byte,
       CAST(coalesce(bytes[-1], -1) AS INT) AS last_byte
FROM sampled
ORDER BY doc_id
"""


QUERIES = [
    Query("domain_mixture_weights", _domain_mixture_weights, _MIXTURE_SQL,
          ("llm", "mixture", "training-data")),
    Query("token_budget_curation", _token_budget_curation, _CURATION_SQL,
          ("llm", "curation", "training-data")),
    Query("bpe_merge_pairs", _bpe_merge_pairs, _BPE_SQL,
          ("llm", "tokenizer", "training-data")),
    Query("pretraining_manifest", _pretraining_manifest, _MANIFEST_SQL,
          ("llm", "pipeline", "training-data")),
    Query("multimodal_resize", _multimodal_resize, _RESIZE_SQL,
          ("llm", "multimodal", "resize")),
]


def _multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal slot: a deterministic P6
    (PPM) fixture image per document is attached as a binary payload, then
    operators/multimodal.decode_media parses the header (magic, comment,
    dims, maxval) and raster, and the stats stage emits width/height plus
    exact per-channel pixel sums. Two chained Arrow stages, no shuffle
    until the final group-free projection; the payload bytes never leave
    the decode stage. The oracle replays the closed-form pixel function
    ((doc_id*7 + i*13) % 256) with unnest(generate_series(...))."""
    from ..operators.multimodal import decode_image_stats, synth_ppm, with_payload

    d = load_table(spark, sf_dir, "documents")
    return sorted_once(decode_image_stats(with_payload(d, synth_ppm)), "doc_id")


_DECODE_PPM_SQL = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w*h*3 - 1)) AS i
  FROM dims
)
SELECT doc_id, CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
       CAST(sum(CASE WHEN i % 3 = 0 THEN (doc_id*7 + i*13) % 256 END) AS BIGINT) AS r_sum,
       CAST(sum(CASE WHEN i % 3 = 1 THEN (doc_id*7 + i*13) % 256 END) AS BIGINT) AS g_sum,
       CAST(sum(CASE WHEN i % 3 = 2 THEN (doc_id*7 + i*13) % 256 END) AS BIGINT) AS b_sum
FROM px GROUP BY doc_id
ORDER BY doc_id
"""

QUERIES.append(
    Query("multimodal_decode_ppm", _multimodal_decode_ppm, _DECODE_PPM_SQL,
          ("llm", "multimodal", "decode"))
)


def _multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode through the multimodal slot: a
    deterministic RGB PNG fixture per document (row y filtered with
    scanline filter y % 5, so all five PNG filters are exercised across
    the corpus) is attached as a binary payload, then
    operators/multimodal._png_decode runs the stdlib-only pipeline —
    chunk walk with CRC verification, zlib inflate, per-row filter
    reversal — and the stats stage emits width/height plus exact
    per-channel pixel sums. The fixture encodes the same closed-form
    pixel function as the PPM entry ((doc_id*7 + i*13) % 256), so the
    oracle replays it with unnest(generate_series(...)): a value
    mismatch anywhere in inflate/unfilter shows up as a hash fail.

    Plan note (round 13): fan out to the session's parallelism before the
    Python stages — the PNG encode/decode pair is real per-row CPU and
    the single small parquet file otherwise pins the chain to one task
    (4.2 s → 3.5 s at sf0.1; the full rationale and the measured A/B
    across all media codecs live on the JPEG entry, plans/extras26.py)."""
    from ..operators.multimodal import (
        decode_image_stats, synth_png_mixed, with_payload,
    )

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return sorted_once(
        decode_image_stats(with_payload(d, synth_png_mixed), mime="image/png"), "doc_id"
    )


QUERIES.append(
    Query("multimodal_decode_png", _multimodal_decode_png, _DECODE_PPM_SQL,
          ("llm", "multimodal", "decode", "png"))
)
