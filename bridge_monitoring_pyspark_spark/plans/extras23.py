"""Twenty-fourth extension wave (round 7): production-scale ANN compression
and multimodal perceptual dedup.

* ``ann_pq_adc_topk`` — product-quantization ANN with asymmetric-distance
  scoring: the ANN tier that actually runs at 100 TB (byte codes instead
  of float vectors; scoring = ``m`` table lookups). Deterministic
  codebooks, so the DuckDB oracle replays the identical algorithm —
  hash-match needs no recall assumption (recall vs brute force is pytested
  separately, mirroring the IVF/LSH entries).
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

EMB_DIM = 64  # testdata embeddings schema: array<float> of 64


def _ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-5 for the first 10 vectors: 4 subspaces x 16 dims, 16
    codewords per subspace (64 floats -> 4 bytes per corpus row, 64x
    compression), ADC top-50 shortlist, exact squared-L2 re-rank — the
    FAISS "IVFPQ,Refine" production shape. See
    operators/similarity.pq_topk for the plan."""
    from ..operators.similarity import pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        e, id_col="vec_id", vec_col="embedding", dim=EMB_DIM,
        n_query=10, m_sub=4, k_codes=16, k=5,
    ).orderBy("query_id", "rank")


# Identical algorithm replayed: deterministic strided codebook, per-subspace
# squared-L2 argmin with the engine's round(·,6)/code-asc tie-break, ADC =
# sum of the 4 per-subspace table entries, top-50 shortlist, exact re-rank.
# Distances stay at the round-6 grain (no second rounding): each ADC term
# is already a rounded multiple of 1e-6, so round(sum, 6) lands
# mid-interval on both engines, whereas a further round(·,4) would sit
# exactly on half-boundaries ~1% of the time and let sub-ulp
# summation-order noise flip the hash.
_ANN_PQ_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
p AS (SELECT greatest(1, count(*) // 16) AS stride FROM e),
ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
cb AS (SELECT CAST(vec_id // (SELECT stride FROM p) AS INT) AS j, v
       FROM e
       WHERE vec_id % (SELECT stride FROM p) = 0
         AND vec_id // (SELECT stride FROM p) < 16),
cbsub AS (SELECT j, m, list_slice(v, m*16 + 1, (m+1)*16) AS cv FROM cb, ms),
esub AS (SELECT vec_id, m, list_slice(v, m*16 + 1, (m+1)*16) AS sv FROM e, ms),
scored AS (
  SELECT vec_id, es.m AS m, j,
         round(list_inner_product(sv, sv) - 2*list_inner_product(sv, cv)
               + list_inner_product(cv, cv), 6) AS d2
  FROM esub es JOIN cbsub cs ON es.m = cs.m
),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2 ASC, j ASC) AS rn
    FROM scored) WHERE rn = 1
),
qtab AS (SELECT vec_id AS query_id, m, j, d2 FROM scored WHERE vec_id < 10),
adc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, round(sum(q.d2), 6) AS adc
  FROM codes c JOIN qtab q ON q.m = c.m AND q.j = c.code
  WHERE c.vec_id != q.query_id
  GROUP BY q.query_id, c.vec_id
),
short AS (
  SELECT query_id, neighbor_id, adc FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id ASC) AS rn
    FROM adc) WHERE rn <= 50
),
ref AS (
  SELECT s.query_id, s.neighbor_id, s.adc,
         round(list_inner_product(q.v, q.v) - 2*list_inner_product(q.v, c.v)
               + list_inner_product(c.v, c.v), 6) AS l2_d2
  FROM short s
  JOIN e c ON c.vec_id = s.neighbor_id
  JOIN e q ON q.vec_id = s.query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY l2_d2 ASC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, l2_d2, adc AS adc_d2
FROM ref
QUALIFY rank <= 5
ORDER BY query_id, rank
"""


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
    Query("ann_pq_adc_topk", _ann_pq_adc, _ANN_PQ_SQL, ("llm", "ann", "pq")),
    Query("phash_image_dedup", _phash_image_dedup, _PHASH_SQL,
          ("llm", "multimodal", "dedup", "phash")),
]
