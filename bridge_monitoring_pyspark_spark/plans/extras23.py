"""Twenty-fourth extension wave (round 7): multimodal perceptual dedup.
(The wave's product-quantization ANN lives in plans/retrieval.py.)

* ``phash_image_dedup`` — perceptual difference-hash over REAL decoded PNG
  payloads (stdlib inflate + unfilter), then hash-class dedup: the
  standard first pass of image dedup in multimodal training-data
  pipelines. Integer arithmetic end-to-end, replayed by the oracle from
  the fixture's closed-form pixel function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..functions.plan import sorted_once
from .catalog import Query


def _phash_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash every document's PNG fixture image (REAL decode: chunk walk,
    CRC, inflate, unfilter — operators/multimodal._png_decode), then group
    by hash: each output row is one perceptual equivalence class with its
    size and smallest doc_id as the keeper. Zero shuffle until the
    64-char-hash groupBy; payload bytes never leave the decode stage."""
    from ..operators.multimodal import (
        perceptual_dhash, synth_png_mixed, with_payload,
    )

    d = load_table(spark, sf_dir, "documents")
    return sorted_once(
        perceptual_dhash(with_payload(d, synth_png_mixed), mime="image/png")
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("rep_doc"),
        ),
        "dhash",
    )


# Replays the closed-form fixture ((doc_id*7 + i*13) % 256, w = 4+id%5,
# h = 3+id%4) through the same integer pipeline: gray = (r+g+b)//3,
# nearest-neighbor 9x8 grid sample (x(c) = c*w//9, y(r) = r*h//8), bit =
# right-sample brighter. A wrong byte anywhere in the PNG decode chain
# (inflate, filter reversal, CRC ordering) flips bits and fails the hash.
_PHASH_SQL = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
g AS (
  SELECT doc_id, w, h,
         [ ((doc_id*7 + (3*i)*13) % 256
            + (doc_id*7 + (3*i + 1)*13) % 256
            + (doc_id*7 + (3*i + 2)*13) % 256) // 3
           for i in range(0, w*h) ] AS gray
  FROM dims
),
hx AS (
  SELECT doc_id,
         array_to_string([
           CASE WHEN gray[(((i//8)*h)//8)*w + ((((i%8) + 1)*w)//9) + 1]
                     > gray[(((i//8)*h)//8)*w + (((i%8)*w)//9) + 1]
                THEN '1' ELSE '0' END
           for i in range(0, 64)], '') AS dhash
  FROM g
)
SELECT dhash,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(min(doc_id) AS BIGINT) AS rep_doc
FROM hx
GROUP BY dhash
ORDER BY dhash
"""


QUERIES = [
    Query("phash_image_dedup", _phash_image_dedup, _PHASH_SQL,
          ("llm", "multimodal", "dedup", "phash")),
]
