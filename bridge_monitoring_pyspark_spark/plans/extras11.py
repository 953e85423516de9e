"""Twelfth extension wave: the two remaining built-in file sources —
``binaryFile`` (the real ingestion path for multimodal corpora: images /
audio / video land as files, not parquet) and the line-oriented ``text``
source/sink.

Oracle notes: both round-trips oracle against the original documents
table — binaryFile via md5 of the UTF-8 payload (DuckDB md5's the same
bytes), text via line counts and length sums. Avro is NOT implemented:
spark-avro is an external module (not bundled in this environment); the
engine's columnar interchange needs are covered by parquet/ORC/Arrow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..functions.plan import scratch_dir
from .catalog import Query

BINARY_DOC_LIMIT = 200  # files created driver-side; cap the fixture size


# --- binaryFile source ----------------------------------------------------------
def _binaryfile_multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingestion via the binaryFile source: one row per file with
    (path, modificationTime, length, content) — the front door for
    multimodal data lakes (decode then happens in mapInPandas, see
    operators/multimodal.py). Here the files are the document texts
    written as .bin payloads; md5(content) must equal md5(text) computed
    relationally, proving byte-exact ingestion. At scale the source
    parallelizes over files and prunes on path/length pushdown filters
    (maxBytesPerTrigger exists for the streaming form)."""
    base = scratch_dir("eng_binf_")
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < BINARY_DOC_LIMIT)
        .select("doc_id", "text")
        .collect()
    )
    for r in docs:  # driver-side fixture creation, not the operator under test
        with open(os.path.join(base, f"{r.doc_id:06d}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    bf = spark.read.format("binaryFile").load(base)
    return (
        bf.select(
            F.regexp_extract(
                F.element_at(F.split("path", "/"), -1), r"(\d+)", 1
            )
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("payload_md5"),
        )
        .orderBy("doc_id")
    )


_BINARYFILE_SQL = f"""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
WHERE doc_id < {BINARY_DOC_LIMIT}
ORDER BY doc_id
"""


# --- text source/sink round-trip ------------------------------------------------
def _text_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink + source: write each document as one line,
    read the directory back with spark.read.text, and profile the lines.
    The corpus has no embedded newlines (asserted by the oracle equality:
    a stray newline would change the line count). This is the interchange
    format for classic text pipelines (one doc per line, tab-prefixed id
    here so lines re-associate)."""
    base = scratch_dir("eng_text_")
    d = load_table(spark, sf_dir, "documents").select(
        F.concat_ws("\t", F.col("doc_id"), F.col("text")).alias("value")
    )
    d.write.mode("overwrite").text(base)
    lines = spark.read.text(base)
    parsed = lines.select(
        F.split_part("value", F.lit("\t"), F.lit(1)).cast("long").alias("doc_id"),
        F.split_part("value", F.lit("\t"), F.lit(2)).alias("text"),
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_TEXT_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents
"""


QUERIES = [
    Query("binaryfile_multimodal_ingest", _binaryfile_multimodal_ingest,
          _BINARYFILE_SQL, ("source", "binary", "multimodal")),
    Query("text_source_roundtrip", _text_source_roundtrip, _TEXT_SQL,
          ("source", "text")),
]
