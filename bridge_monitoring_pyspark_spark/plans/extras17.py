"""Eighteenth extension wave: vector compression.

``embedding_int8_quantize`` — symmetric per-vector int8 quantization of
the embedding column with reconstruction-error accounting: the standard
4x memory cut that makes a 100 TB ANN corpus fit its serving tier. (The
wave's incremental dedup against a history index lives in
plans/dedup.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .catalog import Query

QUANT_BITS_MAX = 127  # symmetric int8 range


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


QUERIES = [
    Query("embedding_int8_quantize", _embedding_int8_quantize, _QUANT_SQL,
          ("llm", "vectors", "quantization")),
]
