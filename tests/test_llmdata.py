"""Tests for the LLM-data extension operators that have no SQL oracle:
SimHash (vs a pure-Python reimplementation), MinHash-LSH (vs brute force),
IVF ANN recall (vs brute force), multimodal Arrow plumbing."""

from __future__ import annotations

import ctypes

from pyspark.sql import functions as F

from bridge_monitoring_pyspark_spark.functions.text import words
from bridge_monitoring_pyspark_spark.operators.dedup import (
    jaccard_pairs_bruteforce,
    minhash_lsh_candidates,
    shingle_postings,
    simhash64,
    token_hashes,
    verify_candidates_jaccard,
)
from bridge_monitoring_pyspark_spark.operators.multimodal import (
    extract_features,
    with_binary_payload,
)
from bridge_monitoring_pyspark_spark.plans.catalog import all_queries
from bridge_monitoring_pyspark_spark.sources.readers import load_table

from testdata_paths import SF_SMOKE


def test_simhash_matches_python_reference(spark):
    d = load_table(spark, SF_SMOKE, "documents").limit(20)
    hashed = d.withColumn("__th", token_hashes(words(F.col("text"))))
    rows = hashed.select(
        "doc_id", "__th", simhash64("__th").alias("simhash")
    ).collect()
    assert len(rows) == 20
    for r in rows:
        hashes = r["__th"]
        expected = 0
        for b in range(64):
            votes = sum(
                1 if ((h + (1 << 64)) if h < 0 else h) >> b & 1 else -1
                for h in hashes
            )
            if votes > 0:
                expected |= 1 << b
        assert ctypes.c_int64(expected).value == r["simhash"], f"doc {r['doc_id']}"


def test_simhash63_matches_python_reference(spark):
    import hashlib
    import re

    from bridge_monitoring_pyspark_spark.operators.dedup import simhash63_agg

    d = load_table(spark, SF_SMOKE, "documents").limit(20)
    got = {r.doc_id: r.simhash for r in simhash63_agg(d, "doc_id", "text").collect()}
    for r in d.select("doc_id", "text").collect():
        tokens = set(re.split(r"\s+", r.text.strip()))
        expected = 0
        for b in range(63):
            votes = 0
            for t in tokens:
                hx = hashlib.md5(t.encode()).hexdigest()
                h = int(hx[:15], 16) * 8 + int(hx[15], 16) // 2
                votes += 1 if (h >> b) & 1 else -1
            if votes > 0:
                expected |= 1 << b
        assert got[r.doc_id] == expected, f"doc {r.doc_id}"


def test_simhash_near_identical_texts_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (3, "completely different words about spark catalyst tungsten shuffles exchange"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r.simhash
        for r in df.withColumn("__th", token_hashes(words(F.col("text"))))
        .select("doc_id", simhash64("__th").alias("simhash"))
        .collect()
    }
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])
    assert ham(rows[1], rows[2]) <= 8


def test_simhash_agg_equals_expression_form(spark):
    from bridge_monitoring_pyspark_spark.operators.dedup import simhash64_agg

    d = load_table(spark, SF_SMOKE, "documents").limit(100)
    via_expr = {
        r["doc_id"]: r["simhash"]
        for r in d.withColumn("__th", token_hashes(words(F.col("text"))))
        .select("doc_id", simhash64("__th").alias("simhash"))
        .collect()
    }
    via_agg = {
        r["doc_id"]: r["simhash"] for r in simhash64_agg(d, "doc_id", "text").collect()
    }
    assert via_expr == via_agg


def test_lsh_equals_bruteforce(spark):
    p = shingle_postings(load_table(spark, SF_SMOKE, "documents"), "doc_id", "text", 3)
    brute = {
        (r.doc_a, r.doc_b) for r in jaccard_pairs_bruteforce(p, 0.8).collect()
    }
    cands = minhash_lsh_candidates(p, 128, 4)
    lsh = {
        (r.doc_a, r.doc_b)
        for r in verify_candidates_jaccard(cands, p, 0.8).collect()
    }
    assert brute == lsh
    assert len(brute) > 0  # the testdata plants near-dup pairs


def test_shingle_postings_match_array_form(spark):
    from bridge_monitoring_pyspark_spark.operators.dedup import with_shingles
    from pyspark.sql import functions as F2

    d = load_table(spark, SF_SMOKE, "documents").limit(50)
    via_postings = {
        (r.doc, r.shingle)
        for r in shingle_postings(d, "doc_id", "text", 3).collect()
    }
    via_arrays = {
        (r.doc_id, s)
        for r in with_shingles(d, "text", 3).select("doc_id", "shingles").collect()
        for s in r.shingles
    }
    assert via_postings == via_arrays


def test_ivf_recall_vs_bruteforce(spark):
    qs = all_queries()
    exact = qs["ann_cosine_topk"].build(spark, SF_SMOKE).collect()
    approx = qs["ann_ivf_topk"].build(spark, SF_SMOKE).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # embeddings are near-uniform (max pairwise cos ~0.51), the hardest case
    # for IVF; with 3/10 probes uniform-random recall would be ~0.3
    assert mean_recall >= 0.3, f"IVF recall collapsed: {mean_recall}"


def test_multimodal_plumbing(spark):
    d = load_table(spark, SF_SMOKE, "documents").limit(10)
    payload = with_binary_payload(d, "text")
    schema = dict(payload.dtypes)
    assert schema["payload"] == "binary"
    assert schema["meta"].startswith("struct<mime:string,byte_len:int")
    feats = extract_features(payload).collect()
    src = {r.doc_id: r.text for r in d.collect()}
    for r in feats:
        assert r.byte_len == len(src[r.doc_id].encode())
        assert r.first_byte == src[r.doc_id].encode()[0]
        assert r.n_spaces == src[r.doc_id].count(" ")
        assert r.mime == "text/plain"


def test_decode_media_unsupported_formats_still_raise():
    """Formats needing librosa/ffmpeg (absent in this container) must keep
    raising from the decode slot; formats with a real decoder (JPEG since
    round 8) must fail LOUDLY on garbage bytes, not NotImplementedError."""
    import pytest

    from bridge_monitoring_pyspark_spark.operators.multimodal import decode_media

    for mime in ("audio/mpeg", "video/mp4"):
        with pytest.raises(NotImplementedError):
            decode_media(b"\x00" * 16, mime)
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_media(b"\x00" * 16, "image/jpeg")


def test_decode_media_png_real():
    """The stdlib PNG decoder is real: per-filter round trips (all five
    scanline filter types, including images tall enough that Average and
    Paeth rows appear), gray/palette color types, 16-bit and Adam7
    minimal cases, ancillary-chunk skip, and loud failures on truncation,
    CRC corruption, sub-byte depths, and 16-bit palette."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from bridge_monitoring_pyspark_spark.operators.multimodal import (
        _png_decode,
        decode_media,
        synth_png,
        synth_ppm,
    )

    # Round trip vs the PPM twin (same pixel function) across enough ids
    # to hit every (w, h) combination; h up to 6 → row filters 0..4 all
    # appear (synth_png uses filter y % 5, plus a tEXt ancillary chunk).
    for doc_id in (0, 3, 7, 11, 14, 19):
        png = decode_media(synth_png(doc_id), "image/png")
        ppm = decode_media(synth_ppm(doc_id), "image/x-portable-pixmap")
        assert (png["width"], png["height"], png["channels"]) == (
            ppm["width"], ppm["height"], 3)
        assert np.array_equal(png["pixels"], ppm["pixels"])

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    sig = b"\x89PNG\r\n\x1a\n"

    # Each filter type alone on a 3x3 grayscale image: decode must equal
    # the reference unfilter (here: known raw bytes forward-filtered by
    # hand via the spec formulas, then decoded back).
    raw = np.arange(9, dtype=np.uint8).reshape(3, 3) * 37 % 251
    for ftype in range(5):
        filtered = bytearray()
        for y in range(3):
            prev = raw[y - 1].astype(int) if y else np.zeros(3, int)
            cur = raw[y].astype(int)
            row = []
            for x in range(3):
                a = cur[x - 1] if x else 0
                b = prev[x]
                c = prev[x - 1] if x else 0
                p = a + b - c
                paeth = (a if abs(p - a) <= abs(p - b) and abs(p - a) <= abs(p - c)
                         else b if abs(p - b) <= abs(p - c) else c)
                pred = (0, a, b, (a + b) >> 1, paeth)[ftype]
                row.append((cur[x] - pred) & 0xFF)
            filtered.append(ftype)
            filtered.extend(row)
        ihdr = struct.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 0)
        buf = (sig + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(bytes(filtered)))
               + chunk(b"IEND", b""))
        got = _png_decode(buf)
        assert got["pixels"].reshape(3, 3).tolist() == raw.tolist(), ftype

    # Palette color type expands through PLTE.
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    buf = (sig + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
           + chunk(b"IDAT", zlib.compress(bytes([0, 1, 0])))
           + chunk(b"IEND", b""))
    assert _png_decode(buf)["pixels"].tolist() == [[[0, 255, 0], [255, 0, 0]]]

    good = synth_png(7)
    with pytest.raises(ValueError, match="signature"):
        _png_decode(b"X" + good[1:])
    with pytest.raises(ValueError, match="truncated"):
        _png_decode(good[:20])
    with pytest.raises(ValueError, match="truncated"):
        _png_decode(good[:-1])
    idx = good.find(b"IDAT") + 10  # flip a byte inside IDAT data
    with pytest.raises(ValueError, match="CRC"):
        _png_decode(good[:idx] + bytes([good[idx] ^ 0xFF]) + good[idx + 1:])
    # 16-bit and Adam7 are implemented (round-8): 1x1 minimal cases decode.
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    got16 = _png_decode(sig + chunk(b"IHDR", ihdr16)
                        + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02"))
                        + chunk(b"IEND", b""))
    assert got16["pixels"].tolist() == [[[0x0102]]]
    ihdr_i = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1)
    got_i = _png_decode(sig + chunk(b"IHDR", ihdr_i)
                        + chunk(b"IDAT", zlib.compress(b"\x00\x2a"))
                        + chunk(b"IEND", b""))
    assert got_i["pixels"].tolist() == [[[0x2a]]]
    # Sub-byte depths remain unimplemented; 16-bit palette is illegal.
    ihdr4 = struct.pack(">IIBBBBB", 1, 1, 4, 0, 0, 0, 0)
    with pytest.raises(NotImplementedError, match="sub-byte"):
        _png_decode(sig + chunk(b"IHDR", ihdr4)
                    + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
                    + chunk(b"IEND", b""))
    ihdr_p16 = struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0)
    with pytest.raises(ValueError, match="not legal"):
        _png_decode(sig + chunk(b"IHDR", ihdr_p16)
                    + chunk(b"PLTE", bytes([0, 0, 0]))
                    + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
                    + chunk(b"IEND", b""))


def test_decode_media_pnm_real():
    """The PNM decoder is real: P6 round-trip (dims, channel planes),
    comment + whitespace tolerance, P5 grayscale, and loud failures on
    truncation and 16-bit maxval."""
    import numpy as np
    import pytest

    from bridge_monitoring_pyspark_spark.operators.multimodal import (
        decode_media,
        synth_ppm,
    )

    img = decode_media(synth_ppm(7), "image/x-portable-pixmap")
    w, h = 4 + 7 % 5, 3 + 7 % 4
    assert (img["width"], img["height"], img["channels"]) == (w, h, 3)
    i = np.arange(w * h * 3, dtype=np.int64)
    expected = ((7 * 7 + i * 13) % 256).reshape(h, w, 3)
    assert (img["pixels"] == expected).all()

    # comment mid-header, CRLF whitespace, P5 grayscale
    p5 = b"P5 # c1\n# c2\n2\r\n2\t255\n" + bytes([9, 8, 7, 6])
    g = decode_media(p5, "image/x-portable-graymap")
    assert (g["width"], g["height"], g["channels"]) == (2, 2, 1)
    assert g["pixels"].reshape(-1).tolist() == [9, 8, 7, 6]

    with pytest.raises(ValueError, match="truncated"):
        decode_media(b"P6\n2 2\n", "image/x-portable-pixmap")
    with pytest.raises(ValueError):  # raster shorter than w*h*3
        decode_media(b"P6\n2 2\n255\n\x00\x01", "image/x-portable-pixmap")
    with pytest.raises(ValueError, match="8-bit"):
        decode_media(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00", "image/x-portable-pixmap")
    with pytest.raises(ValueError, match="magic"):
        decode_media(b"P3\n1 1\n255\n1 2 3", "image/x-portable-pixmap")


def test_blocked_pairs_equal_broadcast_pairs(spark):
    """cosine_pairs_blocked (distributed block self-join, no driver
    collect) must emit exactly the same pair set as the broadcast-numpy
    verifier form — blocked is the production path, arrow the small-side
    verifier, and they must never disagree."""
    from bridge_monitoring_pyspark_spark.operators.similarity import (
        _cosine_pairs_smallside_verifier,
        cosine_pairs_blocked,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    blocked = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in cosine_pairs_blocked(e, "vec_id", "embedding", 0.35, n_blocks=5).collect()
    }
    arrow = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in _cosine_pairs_smallside_verifier(e, "vec_id", "embedding", 0.35).collect()
    }
    assert blocked == arrow
    assert len(blocked) > 0


def test_lsh_matches_pinned_plane_replay(spark):
    """ann_lsh_topk with the pinned Rademacher planes must equal a local
    numpy replay of the same algorithm — the same property the DuckDB
    oracle asserts, checked here without DuckDB in the loop."""
    import numpy as np

    from bridge_monitoring_pyspark_spark.plans.extras3 import (
        _LSH_PLANES,
        LSH_BITS,
        LSH_TABLES,
    )

    rows = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    signs = (mat @ _LSH_PLANES) > 0
    codes = signs.reshape(len(ids), LSH_TABLES, LSH_BITS) @ (2 ** np.arange(LSH_BITS))
    buckets = {}  # (table, code) -> ids
    for i, vid in enumerate(ids):
        for t in range(LSH_TABLES):
            buckets.setdefault((t, codes[i, t]), []).append(vid)
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    by_id = {vid: norm[i] for i, vid in enumerate(ids)}
    expected = {}
    for qi, qid in enumerate(ids):
        if qid >= 10:
            continue
        cands = set()
        for t in range(LSH_TABLES):
            cands.update(buckets[(t, codes[qi, t])])
        cands.discard(qid)
        sims = sorted(
            ((round(float(by_id[qid] @ by_id[c]), 6), -c) for c in cands),
            reverse=True,
        )[:5]
        expected[qid] = [(-negc, rank + 1) for rank, (_, negc) in enumerate(sims)]
    got = {}
    for r in all_queries()["ann_lsh_topk"].build(spark, SF_SMOKE).collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.rank))
    assert got == expected


def test_knn_join_blocked_equals_bruteforce(spark, monkeypatch):
    """knn_join_blocked (both sides distributed) must equal the broadcast
    brute-force top-k row-for-row, and must build without any driver-side
    materialization (unlike cosine_topk_arrow, which collects the query
    side by design)."""
    from pyspark.sql import DataFrame

    from bridge_monitoring_pyspark_spark.operators.similarity import (
        cosine_topk_bruteforce,
        knn_join_blocked,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.where(F.col("vec_id") < 20)

    def _boom(self, *a, **k):
        raise AssertionError("driver-side materialization during build")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "collect", _boom)
        m.setattr(DataFrame, "toPandas", _boom)
        blocked = knn_join_blocked(
            q, e, "vec_id", "vec_id", "embedding", "embedding", k=4,
            n_query_blocks=3, n_corpus_blocks=5,
        )
    exact = cosine_topk_bruteforce(
        q, e, "vec_id", "vec_id", "embedding", "embedding", k=4
    )
    assert sorted(map(tuple, blocked.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_knn_join_tie_safe_on_duplicate_vectors(spark):
    """Duplicate corpus vectors tie bit-for-bit; the blocked kNN join's
    within-cell partial cut must break those ties exactly like the global
    merge (round(sim,6) desc, neighbor asc) or it diverges from brute
    force. Corpus = embeddings unioned with itself under shifted ids, so
    every neighbor has an exact twin."""
    from bridge_monitoring_pyspark_spark.operators.similarity import (
        cosine_topk_bruteforce,
        knn_join_blocked,
    )

    e = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    twin = e.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus = e.unionByName(twin)
    q = e.where(F.col("vec_id") < 15)
    blocked = knn_join_blocked(
        q, corpus, "vec_id", "vec_id", "embedding", "embedding", k=4,
        n_query_blocks=2, n_corpus_blocks=7,
    )
    exact = cosine_topk_bruteforce(
        q, corpus, "vec_id", "vec_id", "embedding", "embedding", k=4
    )
    assert sorted(map(tuple, blocked.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_partial_topk_sentinel_sorts_last():
    """Regression: the -inf self-match sentinel must rank BELOW every real
    similarity, including negative ones. An earlier sentinel (int64.min//4)
    overflowed in the composite-key multiply and wrapped to ~0, so with
    sims [[-inf],[-0.2],[-0.4],[-0.6]] and k=3 the cut kept the self row
    and evicted the -0.6 neighbor."""
    import numpy as np

    from bridge_monitoring_pyspark_spark.operators.similarity import (
        _partial_topk_rows,
    )

    sims = np.array([[-np.inf], [-0.2], [-0.4], [-0.6]])
    cids = np.array([10, 11, 12, 13], dtype=np.int64)
    top, take = _partial_topk_rows(sims, cids, 3)
    assert take == 3
    assert sorted(top[:, 0].tolist()) == [1, 2, 3]  # self row 0 excluded
    # duplicate-tie check on the same path: equal sims cut by smaller id
    sims2 = np.array([[0.5], [0.5], [0.5], [-np.inf]])
    cids2 = np.array([7, 3, 5, 1], dtype=np.int64)
    top2, take2 = _partial_topk_rows(sims2, cids2, 2)
    assert sorted(cids2[top2[:, 0]].tolist()) == [3, 5]


def test_partial_topk_rounds_half_away_from_zero():
    """The partial cut must quantize with the SAME rounding rule as the
    global merge (F.round, java HALF_UP = half away from zero) and the
    DuckDB oracle. np.round is half-to-even: at an exact .5 micro-unit
    boundary it would rank 2.5e-6 (→2) below 3.0e-6 (→3), while the merge
    rounds 2.5e-6 →3 and tie-breaks to the smaller id. Both boundary
    values round-trip exactly through the *1e6 quantize in float64."""
    import numpy as np

    from bridge_monitoring_pyspark_spark.operators.similarity import (
        _partial_topk_rows,
    )

    assert 2.5e-6 * 1_000_000.0 == 2.5  # boundary is exact, test is valid
    sims = np.array([[2.5e-6], [3.0e-6]])
    cids = np.array([1, 9], dtype=np.int64)  # boundary row has smaller id
    top, take = _partial_topk_rows(sims, cids, 1)
    assert take == 1
    assert cids[top[0, 0]] == 1  # half-up ties 2.5e-6 with 3.0e-6; id wins
    # negative side: -2.5e-6 must quantize to -3 (away from zero), so it
    # ranks BELOW -2.9e-6 (→ -3, larger id loses the tie), not above it
    sims_n = np.array([[-2.5e-6], [-2.0e-6]])
    cids_n = np.array([4, 2], dtype=np.int64)
    top_n, _ = _partial_topk_rows(sims_n, cids_n, 1)
    assert cids_n[top_n[0, 0]] == 2  # -2.0 (→ -2) beats -2.5 (→ -3)


def test_ivf_shuffle_join_form_matches_broadcast_form(spark):
    """broadcast_queries=False must change only the physical candidate
    join (shuffle on cluster_id instead of broadcasting the probe side),
    never the results — the big-query-table IVF shape."""
    from bridge_monitoring_pyspark_spark.operators.similarity import ivf_topk

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.where(F.col("vec_id") < 30)
    cents = e.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") / 20).cast("int").alias("cid"), "embedding"
    )

    def build(bq):
        return ivf_topk(
            q, e, cents, query_id="vec_id", corpus_id="vec_id",
            vec_col="embedding", centroid_id="cid", centroid_vec="embedding",
            k=4, n_probe=2, broadcast_queries=bq,
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = build(False)
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert sorted(map(tuple, build(True).collect())) == sorted(
            map(tuple, shuffled.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_prenorm_cosine_bitwise_equals_naive(spark):
    """cosine_similarity_prenorm hoists the per-row norms out of the pair
    loop; l2_norm's accumulation is identical wherever it's evaluated, so
    results must be BITWISE equal to the naive form — that equality is what
    let the round-5 IVF/LSH rewiring keep every ANN oracle untouched."""
    from bridge_monitoring_pyspark_spark.functions.vectors import (
        cosine_similarity,
        cosine_similarity_prenorm,
        l2_norm,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    a = e.select(F.col("vec_id").alias("ai"), F.col("embedding").alias("av"))
    b = e.select(F.col("vec_id").alias("bi"), F.col("embedding").alias("bv"))
    pairs = a.join(b, F.col("ai") == (F.col("bi") + 7) % 500)
    naive = pairs.select(
        "ai", cosine_similarity(F.col("av"), F.col("bv")).alias("s")
    )
    pre = (
        pairs.withColumn("na", l2_norm(F.col("av")))
        .withColumn("nb", l2_norm(F.col("bv")))
        .select(
            "ai",
            cosine_similarity_prenorm(
                F.col("av"), F.col("bv"), F.col("na"), F.col("nb")
            ).alias("s"),
        )
    )
    got_n = {r.ai: r.s for r in naive.collect()}
    got_p = {r.ai: r.s for r in pre.collect()}
    assert got_n.keys() == got_p.keys() and len(got_n) == 500
    for k in got_n:
        # bitwise: compare raw double representations, not approx
        assert ctypes.c_uint64.from_buffer(ctypes.c_double(got_n[k])).value == \
            ctypes.c_uint64.from_buffer(ctypes.c_double(got_p[k])).value, k


def test_ivf_assignment_maxby_tie_break(spark):
    """The max_by corpus-assignment (round-5 rewrite of the N x K window)
    must break round(csim,6) ties by cluster_id ASC, exactly like the
    window form still used on the n_probe query side. Centroids 0 and 1
    are identical, so every [1,0]-direction corpus row ties between them
    and must land in cid 0; the query probes {its own cluster, cid 0} via
    the window path — a wrong max_by tie-break (cid 1) would leave cid 0
    empty and return no neighbors at all."""
    from bridge_monitoring_pyspark_spark.operators.similarity import ivf_topk

    e = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.1])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "cid int, embedding array<float>",
    )
    for mode in ("sql", "arrow"):
        probe = ivf_topk(
            e.where(F.col("vec_id") == 1), e, cents,
            query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
            centroid_id="cid", centroid_vec="embedding", k=3, n_probe=2,
            assignment=mode,
        ).collect()
        # query vec 1 probes cid 2 (sim 1) then the cid-0/1 tie -> cid 0
        # (asc). Corpus vecs 0 and 2 tie between identical centroids 0/1
        # -> must sit in cid 0 (asc). Probe and corpus agreeing on ASC is
        # what makes them land in the same bucket — checked on BOTH the
        # max_by/window sql path and the composite-key arrow path:
        neighbors = sorted(r.neighbor_id for r in probe)
        assert neighbors == [0, 2], mode


def test_ivf_arrow_assignment_equals_sql(spark):
    """assignment="arrow" (BLAS batches + composite-key tie-break) must
    return exactly the rows of assignment="sql" (codegen cosine + max_by /
    window) — same clusters, same candidates, same final ranking. This is
    the guarantee that lets the Arrow form be the catalog default while
    the DuckDB oracle replays the SQL algorithm."""
    from bridge_monitoring_pyspark_spark.operators.similarity import ivf_topk

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = e.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") / 20).cast("int").alias("cid"), "embedding"
    )

    def build(mode):
        return ivf_topk(
            e.where(F.col("vec_id") < 25), e, cents,
            query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
            centroid_id="cid", centroid_vec="embedding", k=5, n_probe=3,
            assignment=mode,
        ).collect()

    assert sorted(map(tuple, build("arrow"))) == sorted(map(tuple, build("sql")))


def test_pnm_comment_between_maxval_and_raster():
    """Per the netpbm spec a comment may sit between the maxval token and
    the raster delimiter; its terminating newline IS the delimiter. The
    raster must start right after that newline — never inside the comment
    bytes — and a comment that never terminates must fail loudly."""
    import numpy as np
    import pytest

    from bridge_monitoring_pyspark_spark.operators.multimodal import decode_media

    px = bytes(range(6))
    img = decode_media(b"P6 2 1 255# note\n" + px, "image/x-portable-pixmap")
    assert (img["pixels"].ravel() == np.frombuffer(px, dtype=np.uint8)).all()

    # consecutive comments: the LAST newline delimits
    img2 = decode_media(b"P6 2 1 255# a\n# b\n" + px, "image/x-portable-pixmap")
    assert (img2["pixels"].ravel() == np.frombuffer(px, dtype=np.uint8)).all()

    with pytest.raises(ValueError, match="truncated"):
        decode_media(b"P6 2 1 255# never terminated", "image/x-portable-pixmap")


def test_ivf_arrow_preserves_double_vectors(spark):
    """assignment='arrow' must not narrow pass-through vector types: on an
    array<double> corpus the emitted schema keeps double, and results
    equal assignment='sql' (the hardcoded array<float> schema this
    replaces silently truncated the vectors before the final re-rank)."""
    from bridge_monitoring_pyspark_spark.operators.similarity import ivf_topk

    e = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    cents = e.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") / 20).cast("int").alias("cid"), "embedding"
    )

    def build(mode):
        return ivf_topk(
            e.where(F.col("vec_id") < 10), e, cents,
            query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
            centroid_id="cid", centroid_vec="embedding", k=5, assignment=mode,
        ).collect()

    assert sorted(map(tuple, build("arrow"))) == sorted(map(tuple, build("sql")))


def test_cosine_topk_arrow_empty_query_side(spark):
    """An empty query side yields an empty result with the usual four
    columns, not a numpy AxisError from normalizing a shape-(0,) matrix."""
    from bridge_monitoring_pyspark_spark.operators.similarity import (
        cosine_topk_arrow,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    got = cosine_topk_arrow(
        e.where(F.col("vec_id") < 0), e, "vec_id", "vec_id", "embedding",
        "embedding", k=5,
    )
    assert got.columns == ["query_id", "rank", "neighbor_id", "cosine_sim"]
    assert got.collect() == []


def test_empty_centroid_table_raises(spark):
    """Both callers of the Arrow centroid assigner reject an empty centroid
    table with a ValueError that names the cause."""
    import pytest

    from bridge_monitoring_pyspark_spark.operators.similarity import (
        ivf_topk,
        nearest_centroids_arrow,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    cents = e.where(F.col("vec_id") < 0).select(
        F.col("vec_id").cast("int").alias("cid"), "embedding"
    )
    with pytest.raises(ValueError, match="centroid table is empty"):
        nearest_centroids_arrow(e, cents, "vec_id", "embedding", "cid")
    with pytest.raises(ValueError, match="centroid table is empty"):
        ivf_topk(
            e.where(F.col("vec_id") < 10), e, cents,
            query_id="vec_id", corpus_id="vec_id", vec_col="embedding",
            centroid_id="cid", centroid_vec="embedding", k=5,
            assignment="arrow",
        )
