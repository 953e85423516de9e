"""Round-8 extension wave: real audio AND video decode through the
multimodal slot.

Round 7 made the image modality real (stdlib PNG decoder,
``multimodal_decode_png``); this wave does the same for audio. WAV/PCM is
the one audio container that needs no external library — RIFF chunk walk +
``fmt `` validation + PCM sample decode are pure stdlib/numpy — so the
decode slot here is production-real, not a stub, while compressed codecs
(mp3/ogg; FLAC became a real decoder in round 13 — plans/extras35.py,
operators/flac.py) still raise ``NotImplementedError`` from ``decode_media``'s
documented boundary (the container ships no librosa/ffmpeg).

Two witnesses, both over a deterministic 16-bit PCM fixture clip per
document (mono AND stereo across the corpus, ancillary LIST chunk with an
id-dependent odd/even body so the RIFF pad-byte path is genuinely
exercised):

- ``multimodal_decode_wav`` — per-clip format fields + exact integer
  sample statistics (sum, abs-sum, peak, channel-0 zero-crossing count:
  the classic cheap voiced/unvoiced signal).
- ``audio_frame_energy`` — short-time energy contour: one row per
  16-frame window of channel 0 with the exact sum of squared samples,
  the signal silence-trimming / voice-activity detection runs on.

Every statistic is integer arithmetic, so the DuckDB oracle replays the
fixture's closed-form sample function ``((id*31 + i*97) % 4096) - 2048``
exactly — a value mismatch anywhere in the chunk walk, pad handling, or
PCM decode shows up as a hash fail, same contract as the PNG entry.

Scale notes (100 TB): decode is the payload-width reducer — run it first,
project the bytes away, and everything downstream (energy contour
aggregation, silence-ratio filters, per-corpus loudness stats) shuffles a
few longs per clip. Per-clip work is embarrassingly parallel with zero
driver traffic; clip payloads never cross a shuffle boundary. No
counterpart in the 550-LoC reference (no binary columns at all there);
the capability class is the audio leg of a multimodal training-data
pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.multimodal import (
    audio_frame_energy,
    decode_audio_stats,
    synth_wav,
    with_payload,
)
from ..sources.readers import load_table
from ..functions.plan import sorted_once
from .catalog import Query

# Shared oracle prelude: replay synth_wav's closed-form interleaved sample
# stream (channels 1 + id%2, frames 64 + id%57, rate 8000 + 1000*(id%5),
# sample i = ((id*31 + i*97) % 4096) - 2048), then slice channel 0 by
# interleave stride. generate_series is inclusive, hence the - 1.
_WAV_PRELUDE = """
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 2 AS ch, 64 + doc_id % 57 AS nf,
         8000 + 1000 * (doc_id % 5) AS rate
  FROM documents
), px AS (
  SELECT doc_id, ch, nf, rate, unnest(generate_series(0, nf*ch - 1)) AS i
  FROM dims
), s AS (
  SELECT doc_id, ch, nf, rate, i,
         ((doc_id*31 + i*97) % 4096) - 2048 AS v
  FROM px
), ch0 AS (
  SELECT doc_id, i // ch AS f, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s WHERE i % ch = 0
)
"""


def _multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the multimodal slot: a deterministic PCM16
    WAV clip per document is attached as a binary payload, then
    operators/multimodal._wav_decode runs the full RIFF pipeline — header
    + size check, word-aligned chunk walk (the fixture's LIST/INFO chunk
    exercises the ancillary skip and the odd-size pad byte), fmt
    validation, PCM sample decode — and the stats stage emits exact
    integer sample statistics. The oracle replays the closed-form sample
    function, so any decode defect is a hash fail."""
    d = load_table(spark, sf_dir, "documents")
    return sorted_once(decode_audio_stats(with_payload(d, synth_wav)), "doc_id")


_DECODE_WAV_SQL = _WAV_PRELUDE + """
, agg AS (
  SELECT doc_id,
         CAST(max(rate) AS INTEGER) AS sample_rate,
         CAST(max(ch) AS INTEGER) AS channels,
         CAST(max(nf) AS INTEGER) AS n_frames,
         CAST(sum(v) AS BIGINT) AS sum_samples,
         CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
         CAST(max(abs(v)) AS INTEGER) AS peak_abs
  FROM s GROUP BY doc_id
), zc AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN pv IS NOT NULL
                        AND ((v >= 0) != (pv >= 0)) THEN 1 ELSE 0 END)
              AS BIGINT) AS zero_cross
  FROM ch0 GROUP BY doc_id
)
SELECT agg.doc_id, sample_rate, channels, n_frames,
       sum_samples, sum_abs, peak_abs, zero_cross
FROM agg JOIN zc ON agg.doc_id = zc.doc_id
ORDER BY agg.doc_id
"""


def _audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-time energy contour over REAL decoded audio: decode each WAV
    payload, then one row per 16-frame window of channel 0 with the exact
    integer sum of squared samples. The decode stage absorbs the payload
    width; the windowed explode happens on the compact numeric side."""
    d = load_table(spark, sf_dir, "documents")
    return sorted_once(
        audio_frame_energy(with_payload(d, synth_wav)), "doc_id", "window_idx"
    )


_FRAME_ENERGY_SQL = _WAV_PRELUDE + """
SELECT doc_id,
       CAST(f // 16 AS INTEGER) AS window_idx,
       CAST(count(*) AS INTEGER) AS win_frames,
       CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS energy
FROM ch0
GROUP BY doc_id, f // 16
ORDER BY doc_id, window_idx
"""


# ---------------------------------------------------------------------------
# Video: Y4M (YUV4MPEG2) — the uncompressed interchange format video
# toolchains pipe between codecs — decodes with pure stdlib/numpy, making
# the video modality real the same way PNG did images and WAV did audio.
# Compressed codecs (h264/vp9/av1) still raise from decode_media's
# documented boundary; the Spark-side plumbing is identical either way.

_Y4M_PRELUDE = """
WITH dims AS (
  SELECT doc_id, 4 + 2*(doc_id % 3) AS w, 4 + 2*(doc_id % 2) AS h,
         3 + doc_id % 4 AS nf
  FROM documents
)
"""


def _video_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: a deterministic C420 Y4M clip per
    document is attached as a binary payload, then
    operators/multimodal._y4m_decode parses the stream header, FRAME
    markers (including a parameter-string frame) and planar rasters, and
    every 2nd frame's luma plane yields exact integer statistics. The
    oracle replays the closed-form luma function
    ((id*11 + f*131 + i*17) % 256); the chroma planes use a different
    form, so any plane misalignment in the decoder is a hash fail."""
    from ..operators.multimodal import decode_video_frames, synth_y4m, with_payload

    d = load_table(spark, sf_dir, "documents")
    return sorted_once(
        decode_video_frames(with_payload(d, synth_y4m)), "doc_id", "frame_idx"
    )


_VIDEO_FRAME_SQL = _Y4M_PRELUDE + """
, fr AS (
  SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS f FROM dims
), px AS (
  SELECT doc_id, w, h, f, unnest(generate_series(0, w*h - 1)) AS i
  FROM fr WHERE f % 2 = 0
), v AS (
  SELECT doc_id, w, h, f, (doc_id*11 + f*131 + i*17) % 256 AS y FROM px
)
SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
       CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
       CAST(sum(y) AS BIGINT) AS luma_sum,
       CAST(min(y) AS INTEGER) AS luma_min,
       CAST(max(y) AS INTEGER) AS luma_max
FROM v GROUP BY doc_id, f
ORDER BY doc_id, frame_idx
"""


def _video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over REAL decoded video: per-clip consecutive
    frame luma deltas (sum of absolute differences, exact integers), cut
    = mean |delta| above threshold 40. The shot-boundary pass a video
    curation pipeline runs before sampling training clips. Temporal state
    stays inside one clip = one row — embarrassingly parallel."""
    from ..operators.multimodal import scene_cut_stats, synth_y4m, with_payload

    d = load_table(spark, sf_dir, "documents")
    return sorted_once(scene_cut_stats(with_payload(d, synth_y4m)), "doc_id")


_SCENE_CUT_SQL = _Y4M_PRELUDE + """
, fr AS (
  SELECT doc_id, w, h, nf, unnest(generate_series(1, nf - 1)) AS f FROM dims
), px AS (
  SELECT doc_id, w, h, nf, f, unnest(generate_series(0, w*h - 1)) AS i
  FROM fr
), d AS (
  SELECT doc_id, nf, w*h AS npx, f,
         abs((doc_id*11 + f*131 + i*17) % 256
             - (doc_id*11 + (f-1)*131 + i*17) % 256) AS ad
  FROM px
), per_f AS (
  SELECT doc_id, nf, npx, f, sum(ad) AS delta
  FROM d GROUP BY doc_id, nf, npx, f
)
SELECT doc_id, CAST(max(nf) AS INTEGER) AS n_frames,
       CAST(sum(CASE WHEN delta > 40*npx THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(max(delta) AS BIGINT) AS max_delta
FROM per_f GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES = [
    Query("multimodal_decode_wav", _multimodal_decode_wav, _DECODE_WAV_SQL,
          ("llm", "multimodal", "decode", "audio")),
    Query("audio_frame_energy", _audio_frame_energy, _FRAME_ENERGY_SQL,
          ("llm", "multimodal", "audio", "energy")),
    Query("video_frame_luma", _video_frame_luma, _VIDEO_FRAME_SQL,
          ("llm", "multimodal", "decode", "video")),
    Query("video_scene_cuts", _video_scene_cuts, _SCENE_CUT_SQL,
          ("llm", "multimodal", "video", "scene-cut")),
]
