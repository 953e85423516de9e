"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extraction runs as ``mapInPandas`` over
Arrow batches, so payload bytes move columnar-batched (never row-pickled)
and the Python stage parallelizes per partition. Every such stage in this
module is one :func:`map_rows` call with a per-row function; fixture
payloads are attached by :func:`with_payload` from a ``synth_*`` function.

The decode slot is REAL for one format per modality, each via a
dependency-free stdlib/numpy parser behind :func:`decode_media`:

- **image**: PNM (P6 RGB / P5 grayscale) and PNG (zlib inflate + the five
  scanline filters, 8/16-bit, Adam7 interlace, critical chunks,
  CRC-verified) — ``multimodal_decode_ppm`` / ``multimodal_decode_png``;
- **audio**: WAV/PCM (RIFF chunk walk, fmt validation, 8/16-bit samples)
  — ``multimodal_decode_wav`` / ``audio_frame_energy``;
- **video**: Y4M/YUV4MPEG2 (stream header, FRAME markers, planar YCbCr)
  — ``video_frame_luma`` / ``video_scene_cuts``.

Each catalog entry oracle-checks decoded statistics end-to-end against a
closed-form fixture. Formats needing PIL/librosa/ffmpeg (not in this
container) still raise ``NotImplementedError`` from the same slot.

Scale notes: binary payloads dominate row width; keep
``spark.sql.files.maxPartitionBytes`` at its default 128 MB so tasks stay
memory-bounded, and never groupBy/shuffle the payload column — project the
features out first, then drop the bytes. :func:`map_rows` works strictly
batch-at-a-time (no cross-batch accumulation — round-12 memory-bounds
audit), so the per-task working set is one Arrow batch.
Batch BYTES are bounded natively: Spark 4's serializer slices JVM→Python
batches at ``spark.sql.execution.arrow.maxBytesPerBatch`` (default 64 MB)
in addition to the 10k-row ``maxRecordsPerBatch`` cap, so multi-MB
payloads arrive in proportionally shorter batches instead of gigabyte
ones — the round-12 audit's "payload width × 10k rows" residual closes in
the engine, at every Arrow hop, under any session (measured: 1 MB
payloads arrive ≤64 rows/batch with default confs —
tests/test_arrow_batch_bound.py reads the effective batch sizes back).
Pipelines needing a tighter budget scope ``session.pinned_arrow_batch``
around a materialization (the conf is action-time; the same test
witnesses the override mechanics).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, mime string, byte_len long, first_byte int, n_spaces long"
)


def map_rows(
    df: DataFrame,
    cols: list[str],
    row_fn: Callable[..., Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The module's one Arrow stage: ``row_fn(*values)`` runs on each row of
    ``cols`` and every tuple it yields becomes one output row of ``schema``
    (a flat DDL string). A row_fn yielding one tuple is a 1:1 map, several
    is an explode (frames, windows), none drops the row. The output frame
    is built from records with the schema's column names, so an empty
    batch, or one whose rows all yield nothing, needs no special case."""
    names = [field.split()[0] for field in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                out
                for vals in zip(*(pdf[c] for c in cols))
                for out in row_fn(*vals)
            ]
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.select(*cols).mapInPandas(batches, schema)


def with_binary_payload(df: DataFrame, text_col: str, mime: str = "text/plain") -> DataFrame:
    """Attach an opaque binary payload + metadata struct (here derived from
    text since the container ships no media files; a real pipeline reads
    ``binaryFile`` sources into exactly this shape)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(payload).alias("byte_len"),
        ),
    )


_PNM_WS = b" \t\r\n\x0b\x0c"


def _pnm_parse_header(buf: bytes) -> tuple[bytes, int, int, int, int]:
    """Parse a PNM (P6/P5) header — whitespace- and ``#``-comment-tolerant
    per the netpbm format spec — returning (magic, width, height, maxval,
    raster_offset). Exactly one whitespace byte separates maxval from the
    raster."""
    tokens: list[bytes] = []
    i, n = 0, len(buf)
    while len(tokens) < 4 and i < n:
        c = buf[i : i + 1]
        if c in _PNM_WS:
            i += 1
        elif c == b"#":
            j = buf.find(b"\n", i)
            i = n if j == -1 else j + 1
        else:
            j = i
            while j < n and buf[j : j + 1] not in _PNM_WS and buf[j : j + 1] != b"#":
                j += 1
            tokens.append(buf[i:j])
            i = j
    if len(tokens) < 4 or i >= n:
        raise ValueError("truncated PNM header")
    # Comments are legal between maxval and the raster delimiter; each runs
    # through its newline, and the LAST consumed newline is the single
    # whitespace that delimits the raster. Anything else in that position
    # (e.g. a stray token) must fail loudly — without the whitespace check
    # the raster offset would land inside arbitrary header bytes and
    # silently decode them as pixels.
    while buf[i : i + 1] == b"#":
        j = buf.find(b"\n", i)
        if j == -1:
            raise ValueError("truncated PNM header")
        if buf[j + 1 : j + 2] == b"#":
            i = j + 1  # another comment follows; its newline delimits instead
        else:
            return tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3]), j + 1
    if buf[i : i + 1] not in _PNM_WS:
        raise ValueError("PNM maxval not followed by whitespace or comment")
    return tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3]), i + 1


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# IHDR color type -> channels (bit depth 8 only; palette expands to RGB)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): pick whichever of left/up/up-left
    is closest to a + b - c, ties resolved left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 interlace pass geometry: (x_start, y_start, x_step, y_step) per
# pass, PNG spec §8.2. Each pass is serialized as its own filtered
# mini-image; passes with zero width or height contribute no bytes.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reverse PNG scanline filtering over an ``h x (stride+1)`` filtered
    raster (each row = 1 filter-type byte + ``stride`` data bytes),
    returning the reconstructed ``(h, stride)`` uint8 array. ``bpp`` is
    bytes per complete pixel — the left-neighbor distance, which is what
    makes this helper shared between 8-/16-bit and per-Adam7-pass decode
    (a pass is just a smaller image with the same bpp)."""
    import numpy as np

    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    recon = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:]
        prev = recon[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:  # None
            recon[y] = cur
        elif ftype == 1:  # Sub — per-lane prefix sum (mod distributes)
            for lane in range(bpp):
                recon[y, lane::bpp] = np.cumsum(
                    cur[lane::bpp], dtype=np.int64
                ) & 0xFF
        elif ftype == 2:  # Up — no left dependency, vectorized
            recon[y] = cur + prev  # uint8 wraps mod 256 by construction
        elif ftype in (3, 4):  # Average / Paeth — left-sequential
            r = recon[y]
            for x in range(stride):
                a = int(r[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                pred = (a + b) >> 1 if ftype == 3 else _paeth(a, b, c)
                r[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype} on row {y}")
    return recon


def _png_decode(buf: bytes) -> dict:
    """Stdlib-only PNG decoder: signature check, chunk walk with CRC
    verification, zlib inflate of the IDAT stream, and per-row reversal of
    all five scanline filters (None/Sub/Up/Average/Paeth). Supports bit
    depths 8 and 16 (16-bit samples are big-endian per spec), color types
    0/2/3/4/6 (palette expanded via PLTE), and both interlace methods —
    progressive (Adam7) images are reassembled from the seven per-pass
    mini-rasters, each unfiltered with its own pass geometry. Sub-byte
    depths (1/2/4) remain unimplemented. Truncated or corrupt input fails
    loudly — a silent partial decode would poison downstream pixel
    statistics.

    The filter-reversal loop is per-byte Python for Sub/Average/Paeth
    (sequential left-dependency); fine for fixture-scale images — a 100 TB
    media pipeline would swap this one function for a native decoder while
    keeping the identical Arrow plumbing around it."""
    import struct
    import zlib

    import numpy as np

    if not buf.startswith(_PNG_SIG):
        raise ValueError("bad PNG signature")
    ihdr = plte = None
    idat: list[bytes] = []
    seen_iend = False
    i = len(_PNG_SIG)
    while i < len(buf):
        if i + 8 > len(buf):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", buf[i : i + 4])
        ctype = buf[i + 4 : i + 8]
        if i + 12 + length > len(buf):
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        data = buf[i + 8 : i + 8 + length]
        (crc,) = struct.unpack(">I", buf[i + 8 + length : i + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in chunk {ctype!r}")
        i += 12 + length
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            seen_iend = True
            break
        # ancillary chunks (tEXt, gAMA, ...) are skipped after CRC check
    if ihdr is None or len(ihdr) != 13 or not idat or not seen_iend:
        raise ValueError("missing critical PNG chunk (IHDR/IDAT/IEND)")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if comp != 0 or filt != 0:
        raise ValueError(f"bad IHDR compression/filter method {comp}/{filt}")
    if interlace not in (0, 1):
        raise ValueError(f"bad IHDR interlace method {interlace}")
    if depth not in (8, 16):
        raise NotImplementedError(
            f"sub-byte PNG depths not supported, depth={depth}"
        )
    channels = _PNG_CHANNELS.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    if color == 3 and depth == 16:
        raise ValueError("palette PNG with 16-bit depth is not legal")
    if color == 3 and (plte is None or len(plte) % 3):
        raise ValueError("palette PNG without a valid PLTE chunk")
    if w <= 0 or h <= 0:
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    raw = zlib.decompress(b"".join(idat))
    bps = depth // 8  # bytes per sample
    bpp = channels * bps  # bytes per complete pixel (left-neighbor distance)
    if interlace == 0:
        stride = w * bpp
        if len(raw) != h * (stride + 1):
            raise ValueError(
                f"bad raster length {len(raw)} for {w}x{h}x{channels}"
            )
        recon = _png_unfilter(raw, h, stride, bpp)
    else:  # Adam7: seven independent filtered mini-rasters, scattered back
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pstride = pw * bpp
            need = ph * (pstride + 1)
            sub = raw[pos : pos + need]
            if len(sub) != need:
                raise ValueError("bad raster length (interlaced pass)")
            pos += need
            prec = _png_unfilter(sub, ph, pstride, bpp)
            img[y0::dy, x0::dx, :] = prec.reshape(ph, pw, bpp)
        if pos != len(raw):
            raise ValueError("trailing raster bytes (interlaced)")
        recon = img.reshape(h, w * bpp)
    if color == 3:  # expand palette indices to RGB (depth 8 only, enforced)
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(recon.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        return {
            "width": w,
            "height": h,
            "channels": 3,
            "pixels": pal[recon.reshape(h, w)],
        }
    if bps == 2:  # big-endian 16-bit samples
        b2 = recon.reshape(h, w, channels, 2).astype(np.uint16)
        pixels = (b2[..., 0] << 8) | b2[..., 1]
    else:
        pixels = recon.reshape(h, w, channels)
    return {
        "width": w,
        "height": h,
        "channels": channels,
        "pixels": pixels,
    }


def decode_media(payload: bytes, mime: str) -> object:
    """Decode a media payload. REAL for 8-bit PNM images (P6 RGB, P5
    grayscale) — dependency-free parse to ``{width, height, channels,
    pixels: np.ndarray(h, w, c)}`` — for PNG via the stdlib-only
    :func:`_png_decode`, for WAV/PCM audio via :func:`_wav_decode`, for
    compressed FLAC audio via :func:`flac.flac_decode` (fixed predictors
    round 13, QLP/LPC round 14), and for Y4M video via :func:`_y4m_decode`. Other
    formats need PIL/librosa/ffmpeg, which this container doesn't ship,
    and raise from this same slot."""
    if mime == "image/png":
        return _png_decode(bytes(payload))
    if mime in ("image/jpeg", "image/jpg"):
        from .jpeg import jpeg_decode

        return jpeg_decode(bytes(payload))
    if mime in ("audio/wav", "audio/x-wav"):
        return _wav_decode(bytes(payload))
    if mime in ("audio/flac", "audio/x-flac"):
        from .flac import flac_decode

        return flac_decode(bytes(payload))
    if mime == "video/x-yuv4mpeg":
        return _y4m_decode(bytes(payload))
    if mime in ("image/x-portable-pixmap", "image/x-portable-graymap"):
        import numpy as np

        magic, w, h, maxval, off = _pnm_parse_header(payload)
        channels = {b"P6": 3, b"P5": 1}.get(magic)
        if channels is None:
            raise ValueError(f"unsupported PNM magic: {magic!r}")
        if not 0 < maxval < 256:
            raise ValueError(f"only 8-bit PNM supported, maxval={maxval}")
        if w <= 0 or h <= 0:
            raise ValueError(f"bad PNM dimensions {w}x{h}")
        raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * channels, offset=off)
        return {
            "width": w,
            "height": h,
            "channels": channels,
            "pixels": raster.reshape(h, w, channels),
        }
    raise NotImplementedError(f"no decoder available for {mime} in this environment")


def synth_ppm(doc_id: int) -> bytes:
    """Deterministic P6 fixture image for ``doc_id``: width 4 + id%5,
    height 3 + id%4, pixel byte i = (id*7 + i*13) % 256 — closed-form so a
    SQL oracle can replay the decoded statistics exactly. Includes a
    comment line so the production header path (not a toy subset) is what
    gets exercised."""
    import numpy as np

    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    i = np.arange(w * h * 3, dtype=np.int64)
    pix = ((doc_id * 7 + i * 13) % 256).astype(np.uint8)
    return f"P6\n# synth {doc_id}\n{w} {h}\n255\n".encode() + pix.tobytes()


def _png_filter_scanlines(pix, bpp: int, phase: int = 0) -> bytes:
    """Forward-filter a raw-byte raster ``pix`` of shape (rows, stride),
    encoding row ``y`` with scanline filter type ``(phase + y) % 5`` so
    every filter (None/Sub/Up/Average/Paeth) appears across any raster of
    >= 5 rows. Fully vectorizable: every predictor reads RAW (== recon)
    neighbors, so left/up/up-left are just shifted views."""
    import numpy as np

    left = np.zeros_like(pix)
    left[:, bpp:] = pix[:, :-bpp]
    up = np.zeros_like(pix)
    up[1:] = pix[:-1]
    ul = np.zeros_like(pix)
    ul[1:, bpp:] = pix[:-1, :-bpp]
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    paeth = np.where(
        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
    )
    preds = (np.zeros_like(pix), left, up, (left + up) >> 1, paeth)
    filtered = bytearray()
    for y in range(pix.shape[0]):
        ftype = (phase + y) % 5
        filtered.append(ftype)
        filtered.extend(((pix[y] - preds[ftype][y]) & 0xFF).astype(np.uint8).tobytes())
    return bytes(filtered)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def synth_png(doc_id: int, interlaced: bool = False) -> bytes:
    """Deterministic RGB PNG fixture for ``doc_id`` — same dims and pixel
    function as :func:`synth_ppm` (width 4 + id%5, height 3 + id%4, byte
    i = (id*7 + i*13) % 256) so the SQL oracle is shared; row ``y`` is
    encoded with scanline filter type ``y % 5``, so every filter
    (None/Sub/Up/Average/Paeth) is exercised across the corpus and the
    decoder's reversal of each is what the oracle compare actually
    checks. An ancillary tEXt chunk is included so the skip path runs.

    With ``interlaced=True`` the same pixels are serialized Adam7: seven
    per-pass filtered mini-rasters (pass ``p`` filtered with phase ``p``
    so filter variety survives the tiny pass heights). Decoded output is
    identical either way — which is exactly what lets the catalog witness
    mix interlaced and progressive fixtures under one unchanged oracle."""
    import struct
    import zlib

    import numpy as np

    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    i = np.arange(w * h * 3, dtype=np.int64)
    pix = ((doc_id * 7 + i * 13) % 256).reshape(h, w * 3)  # int64 raw bytes
    bpp = 3
    if interlaced:
        pix3 = pix.reshape(h, w, 3)
        parts = []
        for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
            sub = pix3[y0::dy, x0::dx, :]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.append(
                _png_filter_scanlines(
                    sub.reshape(sub.shape[0], -1), bpp, phase=pi
                )
            )
        filtered = b"".join(parts)
    else:
        filtered = _png_filter_scanlines(pix, bpp)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, int(interlaced))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"Comment\x00synth " + str(doc_id).encode())
        + _png_chunk(b"IDAT", zlib.compress(filtered))
        + _png_chunk(b"IEND", b"")
    )


def synth_png16(doc_id: int) -> bytes:
    """Deterministic 16-bit grayscale PNG fixture: width 4 + id%5, height
    3 + id%4, sample i = (id*9 + i*257) % 65536 stored big-endian — the
    16-bit leg of the decoder exercised with the same closed-form-replay
    contract as the 8-bit fixtures (filter type y % 5 with bpp=2, so the
    left-neighbor distance the 16-bit path changes is what the roundtrip
    actually checks)."""
    import struct
    import zlib

    import numpy as np

    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    i = np.arange(w * h, dtype=np.int64)
    s = (doc_id * 9 + i * 257) % 65536
    raw = np.stack([s >> 8, s & 0xFF], axis=1).reshape(h, w * 2)
    filtered = _png_filter_scanlines(raw, bpp=2)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)  # 16-bit gray
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(filtered))
        + _png_chunk(b"IEND", b"")
    )


def synth_png_mixed(doc_id: int) -> bytes:
    """The PNG catalog fixture: :func:`synth_png` with every third document
    encoded Adam7 interlaced — decoded pixels are identical, so the oracle
    is unchanged while the interlaced reassembly path is hash-checked
    end-to-end."""
    return synth_png(doc_id, interlaced=doc_id % 3 == 0)


def with_payload(
    df: DataFrame, synth: Callable[[int], bytes], id_col: str = "doc_id"
) -> DataFrame:
    """Attach ``synth(doc_id)`` — one of the closed-form ``synth_*`` fixtures
    (:func:`synth_ppm`, :func:`synth_png_mixed`, :func:`synth_wav`,
    :func:`synth_flac`, :func:`synth_y4m`, :func:`operators.jpeg.synth_jpeg`)
    — as a binary payload column via an Arrow batch pass, the same
    ``(doc_id, payload)`` shape a binaryFile read of real media would feed."""

    def row(d):
        yield d, synth(int(d))

    return map_rows(df, [id_col], row, "doc_id long, payload binary")


DECODE_STATS_SCHEMA = (
    "doc_id long, width int, height int, r_sum long, g_sum long, b_sum long"
)


def decode_image_stats(
    df: DataFrame, mime: str = "image/x-portable-pixmap"
) -> DataFrame:
    """Arrow-batched real decode: :func:`decode_media` each payload and
    emit width/height plus exact per-channel pixel sums (integers, so the
    oracle compare is exact — no float rounding anywhere).

    Scale notes: decode is the payload-width reducer — output rows are a
    few longs regardless of image size, so everything downstream shuffles
    cheap; the payload column never leaves this stage."""
    import numpy as np

    def row(doc_id, payload):
        img = decode_media(bytes(payload), mime)
        px = img["pixels"].astype(np.int64)
        sums = (int(px[:, :, min(c, img["channels"] - 1)].sum()) for c in range(3))
        yield doc_id, img["width"], img["height"], *sums

    return map_rows(df, ["doc_id", "payload"], row, DECODE_STATS_SCHEMA)


# The five mimes decode_media decodes for real, and the structural
# corruption kinds whose outcome is format-independent: every decoder
# deterministically raises ValueError on a truncated stream, a destroyed
# magic/signature, and an empty payload, and succeeds on the intact fixture
# (probed across all 5 x 4 combinations in tests/test_extras34.py). Kinds
# with format-DEPENDENT outcomes (an interior bit flip is caught by PNG's
# CRC but silently decodes in checksum-free PPM/WAV) are exercised by the
# fuzz tests, not the oracle-checked catalog entry.
QUARANTINE_MIMES = (
    "image/png",
    "image/jpeg",
    "audio/wav",
    "image/x-portable-pixmap",
    "video/x-yuv4mpeg",
)
QUARANTINE_KINDS = ("none", "truncate", "magic", "empty")


def corrupt_payload(buf: bytes, kind: str) -> bytes:
    """Apply a deterministic structural corruption: ``truncate`` cuts the
    stream in half, ``magic`` zeroes the first 8 signature bytes,
    ``empty`` drops the payload entirely, ``none`` passes through."""
    if kind == "none":
        return buf
    if kind == "truncate":
        return buf[: len(buf) // 2]
    if kind == "magic":
        return b"\x00" * 8 + buf[8:]
    if kind == "empty":
        return b""
    raise ValueError(f"unknown corruption kind {kind!r}")


QUARANTINE_SCHEMA = (
    "doc_id long, mime string, corruption string, ok boolean, err_kind string"
)


def _synth_corrupt(d: int) -> tuple[str, str, bytes]:
    """The quarantine fixture for document ``d``: one of the five
    real-decoder fixtures (mime = ``d % 5``) with one of the four structural
    corruptions applied (kind = ``d // 5 % 4`` — decorrelated from the mime
    so every (mime, kind) cell is populated). Returns (mime, kind, payload)."""
    from .jpeg import synth_jpeg

    synth = {
        "image/png": synth_png,
        "image/jpeg": synth_jpeg,
        "audio/wav": synth_wav,
        "image/x-portable-pixmap": synth_ppm,
        "video/x-yuv4mpeg": synth_y4m,
    }
    mime = QUARANTINE_MIMES[d % 5]
    kind = QUARANTINE_KINDS[(d // 5) % 4]
    return mime, kind, corrupt_payload(synth[mime](d), kind)


def _try_decode(payload: bytes, mime: str) -> tuple[bool, str | None]:
    """Row-level fault isolation: (True, None) when ``payload`` decodes,
    else (False, the exception's class name)."""
    try:
        decode_media(bytes(payload), mime)
    except Exception as e:  # noqa: BLE001 — row-level quarantine
        return False, type(e).__name__
    return True, None


def with_corrupted_mixed_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture stage for the decode-quarantine witness: each document gets
    its :func:`_synth_corrupt` payload with the mime and corruption kind
    alongside, as ``(doc_id, mime, corruption, payload)``."""

    def row(d):
        yield d, *_synth_corrupt(int(d))

    return map_rows(
        df, [id_col], row, "doc_id long, mime string, corruption string, payload binary"
    )


def decode_with_quarantine(df: DataFrame) -> DataFrame:
    """Per-row fault-isolated decode over (doc_id, mime, corruption,
    payload): a payload that fails to decode becomes a quarantine row
    (``ok = false`` with the exception class in ``err_kind``) instead of a
    task failure — the DQ valid/reject split (operators/dq.py) applied to
    the media plane.

    100 TB posture: a crawl-scale corpus is CERTAIN to contain malformed
    files; a decoder that lets the exception escape kills the task, the
    retried task dies on the same row, and after four attempts the whole
    job fails. Capturing at the row level keeps the Arrow batch alive and
    turns corrupt bytes into data the pipeline can count, sample, and
    route — exactly like invalid rows. Output rows carry a few short
    strings regardless of payload size; the payload never leaves this
    stage."""

    def row(doc_id, mime, corruption, payload):
        yield doc_id, mime, corruption, *_try_decode(payload, mime)

    return map_rows(
        df, ["doc_id", "mime", "corruption", "payload"], row, QUARANTINE_SCHEMA
    )


def synth_corrupt_decode_quarantine(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fused quarantine witness: synthesize the fixture, corrupt it, and
    fault-isolated-decode it in ONE mapInPandas stage — the payload is
    born and dies inside the same Python worker and never crosses the
    Arrow boundary at all.

    Semantics are exactly ``decode_with_quarantine(
    with_corrupted_mixed_payload(df))`` (both run the same
    :func:`_synth_corrupt` and :func:`_try_decode` per row — the catalog
    oracle is unchanged). The split form ships each ~KB payload
    JVM→Python→JVM twice for zero work in between; at decade 3 (5M docs)
    that double crossing was the adjudicated ×14.59 band break
    (SCALE_RUNS_DECADE3.json r11). The split operators stay exported:
    ``decode_with_quarantine`` is the production stage (real payloads
    arrive from storage, not a synthesizer) and keeps its own pytest + fuzz
    coverage; this fusion is the fixture-pipeline shape, where synthesis
    and decode share a worker.
    """

    def row(d):
        mime, kind, payload = _synth_corrupt(int(d))
        yield d, mime, kind, *_try_decode(payload, mime)

    return map_rows(df, [id_col], row, QUARANTINE_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, meta).

    Deterministic byte-level stand-ins for decoded features: payload length,
    first byte value, space count. Batch shape: pandas DataFrames of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.
    """

    def row(doc_id, payload, meta):
        yield (doc_id, meta["mime"], len(payload),
               payload[0] if len(payload) else -1, payload.count(b" "))

    return map_rows(df, ["doc_id", "payload", "meta"], row, FEATURE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes int, first_byte int"


def sample_frames(df: DataFrame, stride: int = 256) -> DataFrame:
    """Fixed-stride frame sampling over binary payloads — the video
    analogue (every Nth frame / byte window) of :func:`extract_features`,
    demonstrating the one-to-many Arrow mapping: each input row yields one
    output row per frame. The frame *decode* would slot into
    :func:`decode_media`; here each frame contributes deterministic byte
    features so the query stays oracle-checkable.

    Scale notes: output fan-out is byte_len/stride per row — project away
    the payload right after this step, and pick stride so frames-per-task
    stays bounded (frame sampling at 100 TB is an explode of the largest
    column in the dataset)."""

    def row(doc_id, payload):
        for k, start in enumerate(range(0, len(payload), stride)):
            frame = payload[start : start + stride]
            yield doc_id, k, len(frame), frame[0] if len(frame) else -1

    return map_rows(df, ["doc_id", "payload"], row, FRAME_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, in_bytes long, out_bytes int, stride int, "
    "checksum long, first_byte int, last_byte int"
)


def resize_media(df: DataFrame, target: int = 64) -> DataFrame:
    """Deterministic media *resize* over binary payloads: nearest-neighbor
    downsampling to at most ``target`` samples (stride = ceil(len/target),
    keep bytes at 0, stride, 2*stride, ...). This is the 1-D stand-in for
    an image thumbnail pass — the real decoder+PIL resample slots into
    :func:`decode_media`; the Spark-side shape (Arrow batches in, fixed
    compact feature row out, payload projected away) is exactly the
    production plumbing.

    Scale notes: resize is the classic payload-width REDUCER — run it as
    early as possible so downstream shuffles move thumbnails, not
    originals; the output row is O(target) regardless of input size, so
    the post-resize table is safely shuffleable."""
    import numpy as np

    def row(doc_id, payload):
        n = len(payload)
        stride = max(1, -(-n // target))
        b = np.frombuffer(payload, dtype=np.uint8)[::stride]
        yield (doc_id, n, len(b), stride, int(b.astype(np.int64).sum()),
               int(b[0]) if len(b) else -1, int(b[-1]) if len(b) else -1)

    return map_rows(df, ["doc_id", "payload"], row, RESIZE_SCHEMA)


def perceptual_dhash(
    df: DataFrame, mime: str = "image/png", grid_w: int = 9, grid_h: int = 8
) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL decoded images: decode
    each payload with :func:`decode_media`, integer-grayscale it
    (``(r+g+b)//3``), sample a ``grid_w x grid_h`` grid by nearest-neighbor
    (``x(c) = c*w // grid_w``, ``y(r) = r*h // grid_h``), and emit one bit
    per horizontally-adjacent sample pair — '1' where the right sample is
    brighter. Near-identical images (recompressions, small edits) collide
    on the hash, which is the standard first pass of image dedup in
    multimodal training-data pipelines.

    All arithmetic is integer, so the hash is exactly replayable by a SQL
    oracle from the fixture's closed-form pixel function — no float
    tolerance anywhere.

    Scale notes: this is a payload-width reducer (binary in, 64-char hash
    out) and embarrassingly parallel — zero shuffle; dedup afterwards is
    one groupBy on the hash. The payload bytes never leave this stage.
    """

    def row(doc_id, payload):
        img = decode_media(bytes(payload), mime)
        px = img["pixels"].astype("int64")
        w, h = img["width"], img["height"]
        if img["channels"] >= 3:
            gray = (px[:, :, 0] + px[:, :, 1] + px[:, :, 2]) // 3
        else:
            gray = px[:, :, 0]
        xs = [(c * w) // grid_w for c in range(grid_w)]
        ys = [(r * h) // grid_h for r in range(grid_h)]
        bits = [
            "1" if gray[ys[r], xs[c + 1]] > gray[ys[r], xs[c]] else "0"
            for r in range(grid_h)
            for c in range(grid_w - 1)
        ]
        yield doc_id, "".join(bits)

    return map_rows(df, ["doc_id", "payload"], row, "doc_id long, dhash string")


def _wav_decode(buf: bytes) -> dict:
    """Stdlib-only WAV (RIFF/WAVE) PCM decoder: RIFF header + size check,
    word-aligned chunk walk (ancillary chunks like LIST/INFO skipped, odd
    chunk sizes consume their pad byte per the RIFF spec), ``fmt `` field
    validation (PCM format 1 only; block-align and byte-rate must be
    consistent), and ``data`` samples decoded to int32 — 16-bit PCM is
    little-endian signed, 8-bit PCM is unsigned and centered at 128.
    Truncated or inconsistent input fails loudly: a silent partial decode
    would poison downstream audio statistics.

    Returns ``{sample_rate, channels, bits, n_frames,
    samples: np.ndarray(n_frames, channels) int32}``.

    This is the audio analogue of :func:`_png_decode` — the real decode
    slot a librosa/ffmpeg-backed decoder would replace for compressed
    codecs; PCM WAV itself needs no external library, so this path is
    production-real, not a stub."""
    import struct

    import numpy as np

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    riff_size = struct.unpack_from("<I", buf, 4)[0]
    if riff_size + 8 != len(buf):
        raise ValueError(f"RIFF size {riff_size} != payload {len(buf) - 8}")
    fmt: tuple[int, int, int, int] | None = None
    data: bytes | None = None
    i = 12
    while i + 8 <= len(buf):
        cid = buf[i : i + 4]
        csize = struct.unpack_from("<I", buf, i + 4)[0]
        body = buf[i + 8 : i + 8 + csize]
        if len(body) != csize:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if csize < 16:
                raise ValueError("fmt chunk too short")
            audio_fmt, channels, rate, byte_rate, block_align, bits = (
                struct.unpack_from("<HHIIHH", body, 0)
            )
            if audio_fmt != 1:
                raise ValueError(f"only PCM (format 1) supported, got {audio_fmt}")
            if bits not in (8, 16):
                raise ValueError(f"only 8/16-bit PCM supported, got {bits}")
            if channels < 1:
                raise ValueError("channel count must be >= 1")
            if block_align != channels * (bits // 8):
                raise ValueError(
                    f"block align {block_align} != channels*bytes "
                    f"{channels * (bits // 8)}"
                )
            if byte_rate != rate * block_align:
                raise ValueError(f"byte rate {byte_rate} != rate*align")
            fmt = (channels, rate, bits, block_align)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            data = body
        # any other chunk id (LIST, fact, cue, ...) is ancillary: skip
        i += 8 + csize + (csize & 1)  # chunks are 2-byte aligned
    if i != len(buf):
        raise ValueError("truncated chunk header at end of stream")
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    channels, rate, bits, block_align = fmt
    if len(data) % block_align:
        raise ValueError("data chunk is not a whole number of frames")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int32)
    else:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "n_frames": len(data) // block_align,
        "samples": samples.reshape(-1, channels),
    }


def synth_wav(doc_id: int) -> bytes:
    """Deterministic 16-bit PCM WAV fixture for ``doc_id``: channels
    ``1 + id%2`` (both mono and stereo exercised across the corpus),
    ``64 + id%57`` frames, sample rate ``8000 + 1000*(id%5)``, and
    interleaved sample ``i = ((id*31 + i*97) % 4096) - 2048`` — closed-form
    so a SQL oracle replays the decoded statistics exactly. A LIST/INFO
    ancillary chunk whose body length varies with the id exercises both
    the skip path and the RIFF odd-size pad byte."""
    import struct

    import numpy as np

    channels = 1 + doc_id % 2
    n_frames = 64 + doc_id % 57
    rate = 8000 + 1000 * (doc_id % 5)
    i = np.arange(n_frames * channels, dtype=np.int64)
    pcm = (((doc_id * 31 + i * 97) % 4096) - 2048).astype("<i2").tobytes()
    block_align = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block_align,
                      block_align, 16)
    info = b"ICMT" + struct.pack("<I", len(str(doc_id)) + 7) \
        + b"synth " + str(doc_id).encode() + b"\x00"
    lst = b"INFO" + info + (b"\x00" * (len(info) & 1))

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)

    chunks = chunk(b"fmt ", fmt) + chunk(b"LIST", lst) + chunk(b"data", pcm)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synth_flac(doc_id: int) -> bytes:
    """Deterministic FLAC fixture for ``doc_id`` carrying EXACTLY the same
    PCM as :func:`synth_wav` — channels ``1 + id%2``, ``64 + id%57``
    frames, rate ``8000 + 1000*(id%5)``, interleaved sample
    ``i = ((id*31 + i*97) % 4096) - 2048`` — so the SQL oracle that
    replays the WAV entry's decoded statistics replays this one verbatim:
    a decode defect anywhere in the bitstream walk, rice coding, predictor
    reconstruction or CRC/MD5 handling is a hash fail against the SAME
    closed form the uncompressed path already proves out. The blocksize
    varies with the id (16/32/48) so frame counts, partial final blocks
    and both rice partition orders are all exercised across the corpus;
    odd ids encode with ``mode="lpc"`` (round 14) so half the corpus
    carries real QLP/LPC subframes — quantized Levinson-Durbin
    coefficients, precision/shift fields, integer predictor
    reconstruction — while even ids keep the fixed-predictor profile.
    The PCM (and therefore the oracle) is identical either way; only the
    bitstream differs, and the stream MD5 gates both decode paths."""
    import numpy as np

    from .flac import flac_encode

    channels = 1 + doc_id % 2
    n_frames = 64 + doc_id % 57
    rate = 8000 + 1000 * (doc_id % 5)
    i = np.arange(n_frames * channels, dtype=np.int64)
    pcm = (((doc_id * 31 + i * 97) % 4096) - 2048).reshape(n_frames, channels)
    return flac_encode(
        pcm,
        rate,
        blocksize=16 * (1 + doc_id % 3),
        mode="lpc" if doc_id % 2 else "auto",
    )


AUDIO_STATS_SCHEMA = (
    "doc_id long, sample_rate int, channels int, n_frames int, "
    "sum_samples long, sum_abs long, peak_abs int, zero_cross long"
)


def decode_audio_stats(df: DataFrame, mime: str = "audio/x-wav") -> DataFrame:
    """Arrow-batched real audio decode: :func:`decode_media` each payload
    (WAV/PCM or, since round 13, fixed-subset FLAC per ``mime``) and emit
    format fields plus exact integer sample statistics — total and
    absolute sums, peak amplitude, and the channel-0 zero-crossing count
    (sign flips between consecutive frames, the classic cheap
    voiced/unvoiced signal). All integers, so the oracle compare is exact.

    Scale notes: like image decode this is the payload-width reducer —
    a few longs out regardless of clip length; the payload never leaves
    this stage, and the per-clip work is embarrassingly parallel."""
    import numpy as np

    def row(doc_id, payload):
        wav = decode_media(bytes(payload), mime)
        s = wav["samples"].astype(np.int64)
        nonneg = s[:, 0] >= 0
        yield (doc_id, wav["sample_rate"], wav["channels"], wav["n_frames"],
               int(s.sum()), int(np.abs(s).sum()),
               int(np.abs(s).max()) if s.size else 0,
               int((nonneg[1:] != nonneg[:-1]).sum()))

    return map_rows(df, ["doc_id", "payload"], row, AUDIO_STATS_SCHEMA)


AUDIO_ENERGY_SCHEMA = (
    "doc_id long, window_idx int, win_frames int, energy long"
)


def audio_frame_energy(df: DataFrame, frame: int = 16) -> DataFrame:
    """Windowed audio energy over REAL decoded samples: decode each WAV
    payload, then emit one row per ``frame``-frame window of channel 0
    with the exact integer sum of squared samples — the short-time energy
    contour that silence trimming and voice-activity detection run on.

    Scale notes: output fan-out is n_frames/frame rows per clip, each a
    few longs — the decode stage absorbs the payload width, the explode
    happens on the compact side. Per-clip work is independent; no shuffle
    until whatever aggregates the contour downstream."""
    import numpy as np

    def row(doc_id, payload):
        ch0 = _wav_decode(bytes(payload))["samples"][:, 0].astype(np.int64)
        for k in range(0, len(ch0), frame):
            win = ch0[k : k + frame]
            yield doc_id, k // frame, len(win), int((win * win).sum())

    return map_rows(df, ["doc_id", "payload"], row, AUDIO_ENERGY_SCHEMA)


# Y4M chroma subsampling -> bytes per frame as a function of (w, h).
# C420 family: luma + two quarter chroma planes; C422: halved horizontally;
# C444: full chroma; Cmono: luma only.
def _y4m_frame_bytes(colorspace: str, w: int, h: int) -> int:
    if colorspace.startswith("420"):
        if w % 2 or h % 2:
            raise ValueError(f"C420 needs even dimensions, got {w}x{h}")
        return w * h + 2 * ((w // 2) * (h // 2))
    if colorspace.startswith("422"):
        if w % 2:
            raise ValueError(f"C422 needs even width, got {w}")
        return w * h + 2 * ((w // 2) * h)
    if colorspace.startswith("444"):
        return 3 * w * h
    if colorspace == "mono":
        return w * h
    raise NotImplementedError(f"unsupported Y4M colorspace C{colorspace}")


def _y4m_decode(buf: bytes) -> dict:
    """Stdlib-only Y4M (YUV4MPEG2) decoder — the video modality's real
    decode slot, alongside :func:`_png_decode` (image) and
    :func:`_wav_decode` (audio). Y4M is the uncompressed interchange
    format video toolchains pipe between codecs: a space-delimited ASCII
    stream header (``YUV4MPEG2 W<w> H<h> F<n>:<d> ...``), then one
    ``FRAME`` marker line per frame followed by raw planar YCbCr bytes.
    Compressed codecs (h264/vp9/av1) need ffmpeg, which this container
    doesn't ship — they raise from :func:`decode_media`'s documented
    boundary; Y4M itself decodes for real.

    Supports C420*/C422*/C444*/Cmono colorspaces (default per spec is
    C420jpeg when no C tag is present). Frame parameter strings after
    ``FRAME`` are tolerated and ignored. Truncated frames, bad headers,
    and trailing bytes fail loudly.

    Returns ``{width, height, fps_num, fps_den, colorspace, n_frames,
    frames: list[np.ndarray(h, w)]}`` — luma planes only; chroma is
    parsed/validated but not retained (the feature extractors downstream
    are luma-based, and dropping chroma at the decode boundary is the
    payload-width reduction you want at scale anyway)."""
    import numpy as np

    nl = buf.find(b"\n")
    if nl == -1 or not buf.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = 0
    fps_num, fps_den = 0, 1
    colorspace = "420jpeg"  # spec default
    for tok in buf[:nl].split(b" ")[1:]:
        if not tok:
            continue
        tag, val = tok[:1], tok[1:].decode("ascii", "replace")
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            num, den = val.split(":")
            fps_num, fps_den = int(num), int(den)
        elif tag == b"C":
            colorspace = val
        # I (interlacing), A (aspect), X (extensions) are tolerated
    if w <= 0 or h <= 0:
        raise ValueError(f"bad Y4M dimensions {w}x{h}")
    fsize = _y4m_frame_bytes(colorspace, w, h)
    frames: list = []
    i = nl + 1
    while i < len(buf):
        if buf[i : i + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {i}")
        fnl = buf.find(b"\n", i)
        if fnl == -1:
            raise ValueError("truncated FRAME header")
        raw = buf[fnl + 1 : fnl + 1 + fsize]
        if len(raw) != fsize:
            raise ValueError(
                f"truncated frame {len(frames)}: {len(raw)} of {fsize} bytes"
            )
        frames.append(
            np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
        )
        i = fnl + 1 + fsize
    return {
        "width": w,
        "height": h,
        "fps_num": fps_num,
        "fps_den": fps_den,
        "colorspace": colorspace,
        "n_frames": len(frames),
        "frames": frames,
    }


def synth_y4m(doc_id: int) -> bytes:
    """Deterministic C420 Y4M fixture clip for ``doc_id``: width
    ``4 + 2*(id%3)``, height ``4 + 2*(id%2)`` (even, as 4:2:0 requires),
    ``3 + id%4`` frames at ``24 + id%2`` fps. Luma byte ``i`` of frame
    ``f`` is ``(id*11 + f*131 + i*17) % 256`` — closed-form so a SQL
    oracle replays per-frame luma statistics exactly; chroma planes use a
    distinct form ``(id*5 + f*19 + i*29) % 256`` so a decoder that
    misaligns planes cannot accidentally hash green. Frame 0 carries a
    ``FRAME`` parameter string to exercise the tolerated-params path."""
    import numpy as np

    w, h = 4 + 2 * (doc_id % 3), 4 + 2 * (doc_id % 2)
    n_frames = 3 + doc_id % 4
    fps = 24 + doc_id % 2
    header = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420jpeg\n".encode()
    parts = [header]
    luma_n, chroma_n = w * h, 2 * ((w // 2) * (h // 2))
    li = np.arange(luma_n, dtype=np.int64)
    ci = np.arange(chroma_n, dtype=np.int64)
    for f in range(n_frames):
        marker = b"FRAME Xsynth\n" if f == 0 else b"FRAME\n"
        luma = ((doc_id * 11 + f * 131 + li * 17) % 256).astype(np.uint8)
        chroma = ((doc_id * 5 + f * 19 + ci * 29) % 256).astype(np.uint8)
        parts.append(marker + luma.tobytes() + chroma.tobytes())
    return b"".join(parts)


VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, "
    "luma_sum long, luma_min int, luma_max int"
)


def decode_video_frames(df: DataFrame, stride: int = 2) -> DataFrame:
    """REAL video frame sampling: decode each Y4M payload with
    :func:`_y4m_decode` and emit one row per sampled frame (every
    ``stride``-th, frame 0 always included) with exact integer luma
    statistics. This is the true form of the frame-sample stage —
    :func:`sample_frames` remains the byte-stride stand-in for formats
    whose codec the container lacks.

    Scale notes: video payloads are the widest rows in a multimodal
    corpus; this stage reduces each to a handful of longs per SAMPLED
    frame, and the stride caps output fan-out regardless of clip length.
    Decode is per-clip independent — no shuffle, no driver traffic; the
    payload never leaves the stage."""
    import numpy as np

    def row(doc_id, payload):
        vid = _y4m_decode(bytes(payload))
        for f in range(0, vid["n_frames"], stride):
            luma = vid["frames"][f].astype(np.int64)
            yield (doc_id, f, vid["width"], vid["height"],
                   int(luma.sum()), int(luma.min()), int(luma.max()))

    return map_rows(df, ["doc_id", "payload"], row, VIDEO_FRAME_SCHEMA)


SCENE_CUT_SCHEMA = (
    "doc_id long, n_frames int, n_cuts long, max_delta long"
)


def scene_cut_stats(df: DataFrame, threshold_num: int = 40) -> DataFrame:
    """Scene-cut detection over REAL decoded video: decode every frame,
    compute the mean-absolute luma delta between consecutive frames
    (scaled by pixel count to stay in exact integer arithmetic), and count
    cuts — deltas whose sum of absolute differences exceeds
    ``threshold_num * n_pixels`` (i.e. mean |delta| > threshold). The
    shot-boundary signal every video curation pipeline computes before
    sampling clips for training.

    All integer arithmetic, so the oracle replays it exactly.

    Scale notes: consecutive-frame state lives inside one clip = one row,
    so the operator is embarrassingly parallel with zero cross-row state —
    the payload-width reduction and the temporal pairing both happen
    inside the decode stage."""
    import numpy as np

    def row(doc_id, payload):
        vid = _y4m_decode(bytes(payload))
        n_px = vid["width"] * vid["height"]
        deltas = [
            int(np.abs(
                vid["frames"][f].astype(np.int64)
                - vid["frames"][f - 1].astype(np.int64)
            ).sum())
            for f in range(1, vid["n_frames"])
        ]
        yield (doc_id, vid["n_frames"],
               sum(1 for d in deltas if d > threshold_num * n_px),
               max(deltas) if deltas else 0)

    return map_rows(df, ["doc_id", "payload"], row, SCENE_CUT_SCHEMA)
