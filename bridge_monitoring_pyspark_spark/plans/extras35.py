"""Round-13 extension: REAL compressed-audio decode (FLAC; LPC in r14).

Rounds 7-8 made images (PNG, JPEG), uncompressed audio (WAV/PCM) and video
(Y4M) real through the multimodal decode slot; compressed audio stayed a
documented ``NotImplementedError`` because mp3/ogg need librosa/ffmpeg.
FLAC does not — its fixed-predictor profile decodes with stdlib + numpy —
so round 13 closes the audio gap with ``operators/flac.py``: bitstream
reader, UTF-8 frame numbers, CRC-8/CRC-16 verification, rice-coded
residual partitions, fixed-predictor reconstruction, and a whole-stream
MD5 check of the decoded PCM against STREAMINFO's signature (a silent
mis-decode of any sample fails loudly).

The witness entry attaches a deterministic FLAC clip per document whose
PCM is EXACTLY the WAV fixture's closed form, so the DuckDB oracle is the
WAV entry's SQL verbatim — the compressed path has to reproduce, bit for
bit, the statistics the uncompressed path already proves out, through a
completely different byte-level pipeline. Blocksize varies 16/32/48 with
the id so multi-frame streams, partial final blocks and both rice
partition orders are all on the decode path. Round 14 adds the QLP/LPC
subframe path (the profile real-world encoders emit almost always) and
the fixture corpus now forces LPC on odd doc_ids — same PCM, same oracle,
two predictor families through the same MD5 gate.

Scale notes (100 TB): identical posture to the WAV entry — decode is the
payload-width reducer (a few longs out per clip), per-clip work is
embarrassingly parallel, payloads never cross a shuffle, and Arrow batch
bytes are bounded natively at 64 MB (tests/test_arrow_batch_bound.py).
No counterpart in the 550-LoC reference (no binary columns there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.multimodal import decode_audio_stats, synth_flac, with_payload
from ..sources.readers import load_table
from ..functions.plan import sorted_once
from .catalog import Query
from .extras25 import _DECODE_WAV_SQL

QUERIES: list[Query] = []


def _multimodal_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode through the multimodal slot: a
    deterministic FLAC clip per document (synthesized by the encoder in
    operators/flac.py — fixed predictors on even ids, quantized-LPC
    subframes on odd ids since round 14) is decoded by flac_decode —
    metadata walk, frame sync + CRC-8, rice residuals, fixed/QLP
    predictor reconstruction, frame CRC-16, stream MD5 — and the shared
    audio stats stage emits exact integer sample statistics. The PCM
    inside equals
    synth_wav's closed form, so the oracle is the WAV entry's SQL
    unchanged: any defect in the compressed pipeline hash-fails against
    ground truth the uncompressed pipeline independently establishes.

    Plan note: the id column is repartitioned to the session's
    parallelism BEFORE the Python stages — FLAC codec work is ~2.4 ms/doc
    of real CPU, and the documents table is one small parquet file, so
    without the fan-out the whole synth+decode chain runs in a single
    task (and the orderBy's range-sampling pass executes it twice:
    measured 29 s → ~1.5 s at sf0.1). Same rule at 100 TB: match
    partition count to cluster width before a per-row-expensive Pandas
    stage, not after."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return sorted_once(
        decode_audio_stats(with_payload(d, synth_flac), mime="audio/flac"), "doc_id"
    )


QUERIES.append(
    Query("multimodal_decode_flac", _multimodal_decode_flac, _DECODE_WAV_SQL,
          ("llm", "multimodal", "decode", "flac"))
)
