"""Round-11 wave: adversarial-input hardening for the media decoders.

Seeded, deterministic fuzzing (VERDICT r10 item 4): corrupt payloads fed
through the distributed decode stage must become quarantine ROWS, never
task deaths — the DQ reject-split posture applied to the media plane. A
100 TB crawl is certain to contain malformed files; Spark retries a dead
task four times and then fails the job, so per-row capture is the only
shape that survives.
"""

from __future__ import annotations

import random

import pytest

from bridge_monitoring_pyspark_spark.operators.multimodal import (
    QUARANTINE_KINDS,
    QUARANTINE_MIMES,
    corrupt_payload,
    decode_media,
    decode_image_stats,
    decode_with_quarantine,
    map_rows,
    synth_corrupt_decode_quarantine,
    with_corrupted_mixed_payload,
    synth_ppm,
    synth_png,
    synth_wav,
    synth_y4m,
    with_payload,
)
from bridge_monitoring_pyspark_spark.operators.jpeg import synth_jpeg
from bridge_monitoring_pyspark_spark.plans.catalog import all_queries

from testdata_paths import SF_SMOKE

SYNTH = {
    "image/png": synth_png,
    "image/jpeg": synth_jpeg,
    "audio/wav": synth_wav,
    "image/x-portable-pixmap": synth_ppm,
    "video/x-yuv4mpeg": synth_y4m,
}


def _run_quarantine(spark, rows):
    """Drive (doc_id, mime, payload) rows through the distributed
    fault-isolated decode; corruption column is a passthrough label."""
    df = spark.createDataFrame(
        [(i, m, lbl, bytearray(p)) for i, (m, lbl, p) in enumerate(rows)],
        "doc_id long, mime string, corruption string, payload binary",
    )
    return decode_with_quarantine(df).collect()


# ---------------------------------------------------------------- unit level


def test_structural_corruptions_deterministic_per_cell():
    """The oracle's premise: every (mime, kind) cell has ONE outcome —
    intact decodes, the three structural corruptions raise ValueError —
    for many doc_ids, not just one fixture instance."""
    for mime, synth in SYNTH.items():
        for kind in QUARANTINE_KINDS:
            for doc_id in range(12):
                payload = corrupt_payload(synth(doc_id), kind)
                if kind == "none":
                    assert decode_media(payload, mime)  # must not raise
                else:
                    with pytest.raises(ValueError):
                        decode_media(payload, mime)


# ---------------------------------------------------------- distributed level


def test_quarantine_routes_rows_not_tasks(spark):
    """One batch mixing every (mime, kind) cell: the job completes, row
    count is preserved, and routing matches the structural rule."""
    rows = []
    for mime, synth in SYNTH.items():
        for kind in QUARANTINE_KINDS:
            rows.append((mime, kind, corrupt_payload(synth(7), kind)))
    got = _run_quarantine(spark, rows)
    assert len(got) == len(rows)
    for r in got:
        if r.corruption == "none":
            assert r.ok and r.err_kind is None, r
        else:
            assert not r.ok and r.err_kind == "ValueError", r


def test_seeded_bitflip_fuzz_is_captured_per_row(spark):
    """Seeded random single-bit flips anywhere past the 8-byte signature,
    across all five formats: outcomes are format-dependent (PNG's CRC
    rejects, checksum-free PPM/WAV may decode the damaged raster), but
    EVERY row must come back with a verdict — no escaping exception."""
    rng = random.Random(0xC0FFEE)
    rows = []
    for mime, synth in SYNTH.items():
        for doc_id in range(10):
            buf = bytearray(synth(doc_id))
            pos = rng.randrange(8, len(buf))
            buf[pos] ^= 1 << rng.randrange(8)
            rows.append((mime, f"bitflip@{pos}", bytes(buf)))
    got = _run_quarantine(spark, rows)
    assert len(got) == len(rows)
    assert all(r.ok in (True, False) for r in got)
    # a flipped row that still decodes must be checksum-free by design
    for r in got:
        if r.ok:
            assert r.mime in (
                "image/jpeg",  # no integrity check in baseline JPEG
                "audio/wav",  # PCM data is raw
                "image/x-portable-pixmap",  # raw raster
                "video/x-yuv4mpeg",  # raw planes
            ), r


def test_png_crc_catches_every_interior_bitflip(spark):
    """PNG is fully checksummed past the signature: every seeded interior
    flip must be quarantined (chunk CRC / structure validation)."""
    rng = random.Random(1234)
    rows = []
    for doc_id in range(8):
        base = synth_png(doc_id)
        for _ in range(6):
            buf = bytearray(base)
            pos = rng.randrange(8, len(buf))
            buf[pos] ^= 1 << rng.randrange(8)
            rows.append(("image/png", f"bitflip@{pos}", bytes(buf)))
    got = _run_quarantine(spark, rows)
    assert len(got) == len(rows)
    assert all(not r.ok and r.err_kind == "ValueError" for r in got)


def test_length_lying_headers_are_quarantined(spark):
    """Headers that promise more data than the stream carries: RIFF size
    patched, PNM dims inflated, Y4M dims inflated, PNG IHDR dims patched
    (CRC-covered), truncated JPEG scan. All must quarantine, none may
    kill the task."""
    import struct

    wav = bytearray(synth_wav(3))
    wav[4:8] = struct.pack("<I", struct.unpack("<I", wav[4:8])[0] + 100)

    png = bytearray(synth_png(3))
    # IHDR width field lives at offset 16; CRC over the chunk now fails
    png[16:20] = struct.pack(">I", 1 << 20)

    y4m = bytearray(synth_y4m(3))
    y4m = bytes(y4m).replace(b" W", b" W9", 1)  # width grows 10x

    rows = [
        ("audio/wav", "riff-size-lie", bytes(wav)),
        ("image/x-portable-pixmap", "dims-lie", b"P6\n4000 4000\n255\n\x00\x01"),
        ("image/png", "ihdr-lie", bytes(png)),
        ("video/x-yuv4mpeg", "dims-lie", y4m),
        ("image/jpeg", "truncated-scan", synth_jpeg(3)[:-20]),
    ]
    got = _run_quarantine(spark, rows)
    assert len(got) == len(rows)
    assert all(not r.ok for r in got)
    assert all(r.err_kind == "ValueError" for r in got)


# ------------------------------------------------------------- catalog level


def test_quarantine_catalog_entry_matches_rule(spark):
    got = (
        all_queries()["multimodal_decode_quarantine"]
        .build(spark, SF_SMOKE)
        .collect()
    )
    assert len(got) > 0
    for r in got:
        assert r.mime == QUARANTINE_MIMES[r.doc_id % 5]
        assert r.corruption == QUARANTINE_KINDS[(r.doc_id // 5) % 4]
        if r.corruption == "none":
            assert r.ok and r.err_kind is None
        else:
            assert not r.ok and r.err_kind == "ValueError"


def test_fused_quarantine_equals_split_form(spark):
    # The fused synth+corrupt+decode stage (round 12 — payload never
    # crosses Arrow) must reproduce the split two-stage pipeline
    # row-for-row: same routing, same err_kind, same schema.
    base = spark.range(0, 40).selectExpr("id AS doc_id")
    fused = synth_corrupt_decode_quarantine(base).orderBy("doc_id").collect()
    split = (
        decode_with_quarantine(with_corrupted_mixed_payload(base))
        .orderBy("doc_id")
        .collect()
    )
    assert fused == split


# ------------------------------------------------------------- map_rows stage


def _fields(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def test_map_rows_over_zero_row_partitions(spark):
    # 3 rows over 8 partitions: at least 5 partitions are empty, and every
    # stage must pass them through without a special case.
    ids = spark.range(3).repartition(8).selectExpr("id AS doc_id")

    def row(d):
        yield d, f"doc{d}"

    out = map_rows(ids, ["doc_id"], row, "doc_id long, tag string")
    assert _fields(out) == [("doc_id", "bigint"), ("tag", "string")]
    assert sorted(map(tuple, out.collect())) == [(0, "doc0"), (1, "doc1"), (2, "doc2")]

    stats = decode_image_stats(with_payload(ids, synth_ppm)).collect()
    assert sorted(r.doc_id for r in stats) == [0, 1, 2]
    for r in stats:
        img = decode_media(synth_ppm(r.doc_id), "image/x-portable-pixmap")
        assert (r.width, r.height) == (img["width"], img["height"])
        assert r.r_sum == int(img["pixels"][:, :, 0].astype("int64").sum())


def test_map_rows_row_fn_yielding_nothing(spark):
    ids = spark.range(10).selectExpr("id AS doc_id")
    schema = "doc_id long, half long, ok boolean"

    def evens(d):
        if d % 2 == 0:
            yield d, d // 2, True

    some = map_rows(ids, ["doc_id"], evens, schema)
    assert _fields(some) == [
        ("doc_id", "bigint"), ("half", "bigint"), ("ok", "boolean"),
    ]
    want = [(d, d // 2, True) for d in range(0, 10, 2)]
    assert sorted(map(tuple, some.collect())) == want

    none = map_rows(ids, ["doc_id"], lambda d: iter(()), schema)
    assert _fields(none) == _fields(some)
    assert none.collect() == []


def test_map_rows_one_to_many(spark):
    df = spark.createDataFrame(
        [(0, bytearray(b"")), (1, bytearray(b"ab")), (2, bytearray(b"abcde"))],
        "doc_id long, payload binary",
    )

    def frames(doc_id, payload):
        for k in range(0, len(payload), 2):
            yield doc_id, k // 2, payload[k : k + 2]

    out = map_rows(
        df, ["doc_id", "payload"], frames, "doc_id long, idx int, frame binary"
    )
    assert _fields(out) == [("doc_id", "bigint"), ("idx", "int"), ("frame", "binary")]
    got = sorted((r.doc_id, r.idx, bytes(r.frame)) for r in out.collect())
    assert got == [(1, 0, b"ab"), (2, 0, b"ab"), (2, 1, b"cd"), (2, 2, b"e")]
