"""Round-8 extension wave: baseline JPEG decode (operators/jpeg.py).

JPEG completes the image-modality triplet (PNM = raw raster, PNG =
lossless compressed, JPEG = lossy entropy-coded): Huffman decoding with
byte stuffing and restart markers, dequantization, IDCT, interleaved MCUs
with 4:2:0 chroma subsampling, and the YCbCr->RGB transform — none of
which the PNG/PNM paths touch. The fixture encoder makes the whole chain
exactly oracle-replayable: block-constant images have only DC
coefficients, and a flat quant table of 8 makes DC quantization lossless,
so every decoded pixel equals the closed form ``(doc_id*7 + b*13) % 256``
for its block ``b`` — a wrong bit anywhere in marker parse / Huffman /
dequant / IDCT / upsample / color transform flips the value hash.

No counterpart in the 550-LoC reference (no binary columns:
pipelines/bronze_ingest.py reads JSON events only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..functions.plan import sorted_once
from .catalog import Query


def _multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-format decode through the multimodal slot: a
    deterministic baseline JPEG per document — rotating grayscale with a
    restart marker per MCU (``id%3==0``), 4:4:4 YCbCr (``id%3==1``) and
    4:2:0 subsampled YCbCr (``id%3==2``), all with neutral chroma so the
    decoded raster is the same closed form — then operators/jpeg.py's
    stdlib+numpy decoder runs marker parse, canonical-Huffman entropy
    decode (with 0xFF00 unstuffing and RST resync), dequantization, IDCT
    and the JFIF color transform, and the stats stage emits width/height
    plus exact per-channel pixel sums. Payload-width reducer: a few longs
    leave the decode stage regardless of image size.

    Plan note (round 13): the id column fans out to the session's
    parallelism BEFORE the Python stages — JPEG entropy-decode is real
    per-row CPU and the documents table is one small parquet file, so
    without the repartition the whole synth+decode chain runs as a single
    task (measured 6.1 s → 1.9 s at sf0.1; same finding as the FLAC
    entry, plans/extras35.py). At 100 TB the rule is the same: match
    partition count to cluster width before a per-row-expensive Pandas
    stage. The cheap decoders (WAV, Y4M) measured FASTER single-partition
    — the shuffle costs more than their decode — so only the
    CPU-expensive codecs carry the fan-out."""
    from ..operators.jpeg import synth_jpeg
    from ..operators.multimodal import decode_image_stats, with_payload

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return sorted_once(
        decode_image_stats(with_payload(d, synth_jpeg), mime="image/jpeg"), "doc_id"
    )


# Replays synth_jpeg's closed form: wb x hb blocks of 8x8, block b constant
# (doc_id*7 + b*13) % 256; each block contributes 64x its value to every
# channel (grayscale replicates; color fixtures have neutral chroma).
_DECODE_JPEG_SQL = """
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb FROM documents
), blk AS (
  SELECT doc_id, wb, hb, unnest(generate_series(0, wb*hb - 1)) AS b
  FROM dims
), sums AS (
  SELECT doc_id,
         CAST(max(wb) * 8 AS INTEGER) AS width,
         CAST(max(hb) * 8 AS INTEGER) AS height,
         CAST(sum(64 * ((doc_id*7 + b*13) % 256)) AS BIGINT) AS s
  FROM blk GROUP BY doc_id
)
SELECT doc_id, width, height, s AS r_sum, s AS g_sum, s AS b_sum
FROM sums ORDER BY doc_id
"""


BPE_N_MERGES = 8
BPE_ENCODE_TOPK = 25


def _bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative BPE training (operators/bpe.py): BPE_N_MERGES rounds
    of distributed pair-count -> argmax merge -> fold-apply over the
    distinct-word vocabulary — the driver-loop-over-distributed-state
    shape (like k-means / PageRank), with exactly one collected row per
    round. All per-round work is codegen'd built-ins (transform/aggregate
    lambdas); no Python UDFs."""
    from ..operators.bpe import train_bpe

    d = load_table(spark, sf_dir, "documents")
    return train_bpe(spark, d, BPE_N_MERGES)


def _bpe_rounds_cte(n: int) -> str:
    """Unrolled N-iteration replay of the trainer in one DuckDB statement:
    per round, pair counts (p_k) -> deterministic argmax (b_k) -> merge
    application (v_k+1). The merge uses the wrapped-token replace trick:
    each symbol is wrapped as \\x01<sym>\\x02, so adjacent tokens share no
    boundary characters, and SQL replace()'s left-to-right non-overlapping
    scan is then *exactly* the greedy fold in operators/bpe._apply_merge
    (verified on the 'a a a a' -> 'aa aa' run case). Any divergence in the
    trainer's merge application or tie-break flips the value hash."""
    lw = "e'\\x01'"  # token open
    rw = "e'\\x02'"  # token close
    sep = "e'\\x02\\x01'"  # boundary between adjacent wrapped tokens
    parts = [
        "WITH",
        r"""v0 AS (
  SELECT w, list_append(string_split(w, ''), '</w>') AS syms,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
  WHERE length(w) >= 1
  GROUP BY w
),""",
    ]
    for k in range(n):
        parts.append(f"""p{k} AS (
  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS n_pairs
  FROM v{k}, unnest(range(1, len(syms))) AS t(i)
  GROUP BY 1, 2
),
b{k} AS (SELECT l, r, n_pairs FROM p{k} ORDER BY n_pairs DESC, l, r LIMIT 1),
v{k + 1} AS (
  SELECT v.w AS w,
         string_split(
           trim(
             replace({lw} || array_to_string(v.syms, {sep}) || {rw},
                     {lw} || b.l || {sep} || b.r || {rw},
                     {lw} || b.l || b.r || {rw}),
             e'\\x01\\x02'),
           {sep}) AS syms,
         v.cnt AS cnt
  FROM v{k} v, b{k} b
),""")
    return "\n".join(parts)


def _bpe_oracle(n: int) -> str:
    """Merge-table form: union the per-round argmax rows b0..b{n-1}."""
    union = "\n  UNION ALL ".join(
        f'SELECT {k + 1} AS rank, l, r, n_pairs FROM b{k}' for k in range(n)
    )
    return f"""{_bpe_rounds_cte(n)}
m AS (
  {union}
)
SELECT CAST(rank AS INT) AS rank, l AS "left", r AS "right", n_pairs
FROM m ORDER BY rank"""


def _bpe_encode_oracle(n: int) -> str:
    """Encode form: the final vocabulary v{n} IS the corpus rewritten by
    every learned merge; token frequencies are its unnest weighted by word
    count."""
    return f"""{_bpe_rounds_cte(n)}
tok AS (
  SELECT unnest(syms) AS token, cnt FROM v{n}
)
SELECT token, CAST(sum(cnt) AS BIGINT) AS freq
FROM tok GROUP BY token
ORDER BY freq DESC, token
LIMIT {BPE_ENCODE_TOPK}"""


def _bpe_fertility_oracle(n: int) -> str:
    """Fertility form: per-language word occurrences joined to the final
    vocabulary's per-word token counts on the word itself."""
    return rf"""{_bpe_rounds_cte(n)}
occ AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS occ
  FROM (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents)
  WHERE length(w) >= 1
  GROUP BY lang, w
),
fert AS (
  SELECT occ.lang, occ.occ, len(v.syms) AS n_tok
  FROM occ JOIN v{n} v ON occ.w = v.w
)
SELECT lang, CAST(sum(occ) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_distinct_words,
       round(sum(occ * n_tok) / sum(occ), 4) AS fertility
FROM fert GROUP BY lang
ORDER BY lang"""


def _bpe_encode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges to the corpus and return the top-25
    post-merge tokens by corpus frequency — the unigram distribution a
    tokenizer-aware pipeline filters or temperature-samples on. The encode
    is the training loop's final vocabulary; the frequency table is one
    explode + map-side-combined shuffle over distinct words (operators/
    bpe.encode_token_freqs), never a second pass over the raw corpus."""
    from ..operators.bpe import encode_token_freqs

    d = load_table(spark, sf_dir, "documents")
    return (
        encode_token_freqs(spark, d, BPE_N_MERGES)
        .orderBy(F.col("freq").desc(), "token")
        .limit(BPE_ENCODE_TOPK)
    )


def _bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility under the corpus-trained BPE
    vocabulary (operators/bpe.fertility_by_lang): avg post-merge tokens
    per word occurrence — the multilingual-fairness number a pretraining
    pipeline checks before fixing a shared tokenizer. Vocabulary-scale
    join, never corpus-scale."""
    from ..operators.bpe import fertility_by_lang

    d = load_table(spark, sf_dir, "documents")
    return fertility_by_lang(spark, d, BPE_N_MERGES)


QUERIES = [
    Query("multimodal_decode_jpeg", _multimodal_decode_jpeg, _DECODE_JPEG_SQL,
          ("llm", "multimodal", "decode", "jpeg")),
    Query("bpe_train_merges", _bpe_train_merges, _bpe_oracle(BPE_N_MERGES),
          ("llm", "tokenizer", "iterative", "training-data")),
    Query("bpe_encode_topk", _bpe_encode_topk, _bpe_encode_oracle(BPE_N_MERGES),
          ("llm", "tokenizer", "iterative", "training-data")),
    Query("bpe_fertility_by_lang", _bpe_fertility_by_lang,
          _bpe_fertility_oracle(BPE_N_MERGES),
          ("llm", "tokenizer", "multilingual", "training-data")),
]
