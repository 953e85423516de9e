"""Text-analysis column expressions — all JVM-side (no UDFs).

Building blocks for the LLM-data-pipeline operators (dedup, quality scoring,
language ID). Everything here is a ``Column`` → ``Column`` combinator over
built-in higher-order array functions, so the hot path stays inside
whole-stage codegen; at 100 TB the per-row cost is the tokenizer regex plus
array arithmetic, with zero Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def words(text: Column) -> Column:
    """Whitespace tokenization (``\\s+`` split of the trimmed text)."""
    return F.split(F.trim(text), r"\s+")


def word_shingles(wordarr: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a token array; empty array below n words.

    0-based ``sequence`` indices + 1-based ``element_at``: shingle i is
    words[i..i+n-1].
    """
    idx = F.sequence(F.lit(0), F.size(wordarr) - n)
    mk = lambda i: F.concat_ws(" ", *[F.element_at(wordarr, i + k + 1) for k in range(n)])
    return F.when(
        F.size(wordarr) >= n, F.array_distinct(F.transform(idx, mk))
    ).otherwise(F.array().cast("array<string>"))


def avg_word_len(wordarr: Column) -> Column:
    """Mean token length (double; NULL on empty array)."""
    total = F.aggregate(
        F.transform(wordarr, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return total / F.size(wordarr)


def stopword_ratio(wordarr: Column, stopwords: tuple[str, ...]) -> Column:
    """Fraction of tokens in ``stopwords`` (double; NULL on empty array)."""
    hits = F.size(F.filter(wordarr, lambda w: w.isin(*stopwords)))
    return hits / F.size(wordarr)


def token_count_estimate(text: Column) -> Column:
    """BPE-ish token-count estimate: runs of letters, runs of digits, or a
    single non-space symbol each count as one token."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def fingerprint_md5(text: Column) -> Column:
    """Canonical-form content fingerprint: md5 of lowercased trimmed text."""
    return F.md5(F.encode(F.lower(F.trim(text)), "UTF-8"))


# fingerprint_md5 of a ``text`` column as engine-neutral SQL (used to build
# the DuckDB oracle strings).
FINGERPRINT_MD5_SQL = "md5(lower(trim(text)))"


def kgram_md5(text: Column, k: int) -> Column:
    """Rolling k-gram hash sequence: md5 of every k-char window (position
    order preserved). Empty array for texts shorter than k."""
    h = F.transform(
        F.sequence(F.lit(1), F.length(text) - k + 1),
        lambda i: F.md5(F.encode(F.substring(text, i, F.lit(k)), "UTF-8")),
    )
    return F.when(F.length(text) >= k, h).otherwise(F.array().cast("array<string>"))


def winnow_from_hashes(h: Column, w: int = 4) -> Column:
    """Winnowing over an already-materialized hash-sequence column: the
    distinct minima of every ``w``-window.

    ``h`` MUST be a real column (materialized by a prior select), not an
    inline expression: Spark expression trees are trees, not DAGs, so an
    inline ``h`` would be re-evaluated on every window iteration of the
    transform — turning an O(n) pass into O(n^2) hashing per row."""
    wins = F.transform(
        F.sequence(F.lit(1), F.size(h) - w + 1),
        lambda j: F.array_min(F.slice(h, j, w)),
    )
    return F.when(F.size(h) >= w, F.array_distinct(wins)).otherwise(
        F.array().cast("array<string>")
    )


# Winnowing hash parameters, shared with the DuckDB oracle strings in
# plans/dedup.py. Exact int64 arithmetic on both sides —
# Horner's rule over the k-gram's bytes, reduced mod P each step, then one
# multiplicative mix:
#   hv_0 = 0;  hv_{m+1} = (hv_m * 256 + byte_m) mod P
#   hash = (hv_k * KNUTH) mod P
# P is the 2^31-1 Mersenne prime; intermediates stay < 2^62, so ANSI-mode
# Spark, numpy int64, and DuckDB BIGINT all compute bit-identical values.
WINNOW_P = 2_147_483_647
WINNOW_MULT = 2_654_435_761  # Knuth's multiplicative constant


def winnow_hash_sql(text_expr: str, pos_expr: str, k: int) -> str:
    """The winnowing k-gram hash as engine-neutral SQL (used to build the
    DuckDB oracle strings): Horner over ``ord`` of the k chars starting at
    1-based ``pos_expr``. Byte==char under the corpus's ASCII contract."""
    h = "CAST(0 AS BIGINT)"  # seed BIGINT so DuckDB doesn't fold to INT32
    for m in range(k):
        h = f"({h} * 256 + ord(substring({text_expr}, ({pos_expr})+{m}, 1))) % {WINNOW_P}"
    return f"(({h}) * {WINNOW_MULT}) % {WINNOW_P}"


def winnow_fingerprint_rows(df, id_col: str, text_col: str,
                            k: int = 8, w: int = 4, fp_col: str = "fp"):
    """Winnowing fingerprints as DISTINCT ``(id, fp)`` rows — the
    vectorized form of :func:`winnow_fingerprints` (same window-min set
    semantics; bigint polynomial hash instead of md5 hex).

    Implementation is one Arrow ``mapInPandas`` pass: per document,
    ``numpy.sliding_window_view`` builds every k-gram's 7-byte polynomial
    value with a single int64 matvec, the window minimum is a vectorized
    sliding min, and ``np.unique`` dedups before anything leaves the
    batch. This is the measured-justified UDF exception (pyspark_guide:
    built-ins first): the built-in forms are per-k-gram JVM calls —
    ``transform``+md5 ≈ 2.4 µs/hash (7.7 s at sf0.1), ``conv(hex(
    substring(bin,...)))`` ≈ 1 µs/position (3.0 s) — while the Arrow path
    hashes at memory bandwidth (~10 ns/byte, sub-second), exactly like the
    BLAS ann path (operators/similarity.py). Per-char ``substring(text,
    j, 1)`` is the trap to avoid entirely: O(j) UTF-8 scan per call.

    Scale: embarrassingly parallel per-document work — no shuffle until
    the final ``distinct()`` (map-side-combined, (id, int64) rows, the
    postings layout the near-dup join wants anyway at 100 TB).

    The rolling hash follows Schleimer et al.'s winnowing contract
    (reference point for MOSS); parameters WINNOW_P / WINNOW_MULT are
    mirrored by the DuckDB oracles. Documents shorter than ``w + k - 1``
    chars produce no rows — callers needing them (per-doc stats)
    left-join back to the id spine."""
    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} long, {fp_col} long"

    def fingerprint(batches):
        for pdf in batches:
            ids: list[int] = []
            fps: list[np.ndarray] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or (isinstance(text, float) and pd.isna(text)):
                    continue  # NULL text has no content — not the string "None"
                b = np.frombuffer(str(text).encode("utf-8"), dtype=np.uint8)
                if len(b) < k + w - 1:
                    continue
                arr = b.astype(np.int64)
                n_h = len(arr) - k + 1
                hv = np.zeros(n_h, dtype=np.int64)
                for m in range(k):  # Horner, vectorized across positions
                    hv = (hv * 256 + arr[m : m + n_h]) % WINNOW_P
                h = (hv * WINNOW_MULT) % WINNOW_P
                mins = np.unique(
                    np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
                )
                ids.append(int(doc_id))
                fps.append(mins)
            if not ids:
                continue
            counts = [len(m) for m in fps]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(np.asarray(ids, dtype=np.int64), counts),
                    fp_col: np.concatenate(fps),
                }
            )

    return (
        df.select(id_col, text_col)
        .mapInPandas(fingerprint, out_schema)
        .distinct()
    )


def winnow_fingerprints(df, text_col: str, out_col: str = "fps",
                        k: int = 8, w: int = 4):
    """Winnowing document fingerprint (Schleimer et al., MOSS): the distinct
    minima of every ``w``-window over the k-gram hash sequence. Guarantees
    at least one shared fingerprint for any match of length >= w + k - 1,
    while keeping ~2/(w+1) of the hashes — the standard rolling-hash
    fingerprint for plagiarism/near-dup detection.

    DataFrame→DataFrame (adds ``out_col``): the k-gram hash array is
    materialized as a column between the two steps, so each hash is
    computed exactly once per row (see :func:`winnow_from_hashes`). Both
    steps are higher-order-function pipelines — JVM-side, nothing leaves
    the row at 100 TB."""
    hashed = df.withColumn("__kgram_h", kgram_md5(F.col(text_col), k))
    return hashed.withColumn(out_col, winnow_from_hashes(F.col("__kgram_h"), w)).drop(
        "__kgram_h"
    )
