"""Multimodal plumbing: binary columns through Arrow mapInPandas."""

from __future__ import annotations

import hashlib

from polars_sim_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image_meta,
    frame_sample,
)


def test_decode_meta_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "a" * 200)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in decode_image_meta(attach_binary_payload(docs)).collect()}
    assert out[1]["n_bytes"] == 11
    assert out[1]["content_md5"] == hashlib.md5(b"hello world").hexdigest()
    assert out[1]["width"] == 16 + 11 % 97 and out[1]["height"] == 16 + 11 % 83
    assert out[1]["decoder"] == "stub"
    assert out[2]["n_bytes"] == 200


def test_frame_sample_fanout(spark):
    docs = spark.createDataFrame([(1, "x" * 150)], "doc_id long, text string")
    frames = frame_sample(attach_binary_payload(docs), every_n_bytes=64).collect()
    assert len(frames) == 3  # 150 bytes → offsets 0, 64, 128
    assert [r["frame_idx"] for r in sorted(frames, key=lambda r: r["frame_idx"])] == [0, 1, 2]
    total = b"".join(bytes(r["frame"]) for r in sorted(frames, key=lambda r: r["frame_idx"]))
    assert total == b"x" * 150


def test_schema_is_stable(spark):
    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    df = decode_image_meta(attach_binary_payload(docs))
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "n_bytes", "content_md5", "width", "height", "decoder",
    ]


def test_resize_shapes(spark, sf_small):
    from polars_sim_spark.operators.multimodal import attach_binary_payload, resize_image

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(20)
    out = resize_image(attach_binary_payload(docs), target_w=8, target_h=8).collect()
    assert len(out) == 20
    for r in out:
        assert r["width"] == 8 and r["height"] == 8
        assert len(r["resized"]) in (0, 64)  # empty payload stays empty


def test_extract_features_histogram(spark, sf_small):
    from polars_sim_spark.operators.multimodal import attach_binary_payload, extract_features

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(20)
    out = extract_features(attach_binary_payload(docs), bins=16).collect()
    for r in out:
        f = r["features"]
        assert len(f) == 16
        s = sum(f)
        assert s == 0.0 or abs(s - 1.0) < 1e-9  # L1-normalized


def test_features_feed_ann(spark, sf_small):
    """Byte-histogram features flow into the ANN operator unchanged —
    the media near-dup pipeline end-to-end."""
    from pyspark.sql import functions as F

    from polars_sim_spark.operators.multimodal import attach_binary_payload, extract_features
    from polars_sim_spark.operators.similarity import ann_topk_bruteforce

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(50)
    feats = extract_features(attach_binary_payload(docs))
    qs = feats.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"), F.col("features").alias("q_emb")
    )
    out = ann_topk_bruteforce(
        feats, qs, id_col="doc_id", vec_col="features", k=3
    )
    assert out.count() > 0


def test_real_header_decode_png_gif_bmp_pnm(spark):
    """decode_image_meta reads REAL dimensions from PNG/GIF/BMP/PPM
    headers by pure byte parsing (no codec library) and still falls
    back to the deterministic stub for unrecognized payloads."""
    import struct

    from polars_sim_spark.operators.multimodal import decode_image_meta

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"\x00" * 8
    ppm = b"P6\n# a comment\n1024 768\n255\n" + b"\x00" * 12
    junk = b"not an image at all"
    rows = [(1, png), (2, gif), (3, bmp), (4, ppm), (5, junk)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["width"], r["height"], r["decoder"])
        for r in decode_image_meta(df).collect()
    }
    assert got[1] == (640, 480, "png")
    assert got[2] == (320, 200, "gif")
    assert got[3] == (800, 600, "bmp")  # top-down BMP: magnitude
    assert got[4] == (1024, 768, "pnm")
    assert got[5][2] == "stub"


def test_real_header_decode_jpeg(spark):
    """JPEG dims via SOF marker scan: baseline (SOF0) and progressive
    (SOF2), with intervening APP0/DQT/DHT segments and RST/fill bytes —
    the byte layouts a real camera/exporter JPEG actually has. A JPEG
    whose scan starts before any SOF falls back to the stub."""
    import struct

    from polars_sim_spark.operators.multimodal import decode_image_meta

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, b"\x00" + bytes(64))
    dht = seg(0xC4, b"\x00" + bytes(16) + b"\x01")  # DHT is 0xC4 — must be skipped, not read as SOF
    sof0 = seg(0xC0, b"\x08" + struct.pack(">HH", 480, 640) + b"\x03" + bytes(9))
    sof2 = seg(0xC2, b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x03" + bytes(9))
    baseline = b"\xff\xd8" + app0 + dqt + dht + sof0 + b"\xff\xda" + b"\x00" * 8
    progressive = b"\xff\xd8" + b"\xff\xff" + app0 + sof2 + b"\x00" * 4
    no_sof = b"\xff\xd8" + app0 + b"\xff\xda" + b"\x00" * 8  # SOS before any SOF
    rows = [(1, baseline), (2, progressive), (3, no_sof)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["width"], r["height"], r["decoder"])
        for r in decode_image_meta(df).collect()
    }
    assert got[1] == (640, 480, "jpeg")
    assert got[2] == (1920, 1080, "jpeg")
    assert got[3][2] == "stub"


# --- round 7: WAV / MP4 container-header parsing (pure byte fixtures) ---


def test_wav_header_parse_inverts_synth():
    from polars_sim_spark.operators.multimodal import _try_wav_header, synth_wav

    data = b"x" * 32000  # 1 s of 16 kHz mono 16-bit
    sr, ch, dur = _try_wav_header(synth_wav(data, sample_rate=16000, channels=1))
    assert (sr, ch, dur) == (16000, 1, 1000)
    # stereo halves the duration at the same byte count
    sr, ch, dur = _try_wav_header(synth_wav(data, sample_rate=16000, channels=2))
    assert (sr, ch, dur) == (16000, 2, 500)
    # odd data size: chunk walk must respect word-alignment padding
    import struct

    odd = synth_wav(b"abc", sample_rate=8000, channels=1)
    padded = (
        odd[:12]
        + b"JUNK" + struct.pack("<I", 3) + b"xyz\x00"  # odd-size chunk + pad
        + odd[12:]
    )
    sr, ch, dur = _try_wav_header(padded)
    assert (sr, ch) == (8000, 1)


def test_wav_header_rejects_non_wav():
    import pytest

    from polars_sim_spark.operators.multimodal import _try_wav_header

    for bad in (b"", b"RIFFxxxx", b"RIFF\x00\x00\x00\x00WEBP", b"not audio at all"):
        with pytest.raises(NotImplementedError):
            _try_wav_header(bad)


def test_mp4_header_parse_inverts_synth():
    from polars_sim_spark.operators.multimodal import _try_mp4_header, synth_mp4

    w, h, dur = _try_mp4_header(synth_mp4(b"\x00" * 100, width=320, height=240, duration_ms=4000))
    assert (w, h, dur) == (320, 240, 4000)
    # empty mdat still parses (duration 0 allowed)
    w, h, dur = _try_mp4_header(synth_mp4(b"", width=16, height=16, duration_ms=0))
    assert (w, h, dur) == (16, 16, 0)


def test_mp4_header_v1_boxes_and_largesize():
    """Hand-crafted version-1 mvhd/tkhd (64-bit times/duration) and a
    largesize mdat: the box walk must honor both encodings."""
    import struct

    from polars_sim_spark.operators.multimodal import _try_mp4_header

    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
    mvhd_p = (
        struct.pack(">BBBB", 1, 0, 0, 0)
        + struct.pack(">QQ", 0, 0)            # creation, modification (64-bit)
        + struct.pack(">I", 90000)            # timescale
        + struct.pack(">Q", 90000 * 7)        # duration = 7 s
        + b"\x00" * 80
    )
    mvhd = struct.pack(">I", 8 + len(mvhd_p)) + b"mvhd" + mvhd_p
    tkhd_p = (
        struct.pack(">BBBB", 1, 0, 0, 7)
        + struct.pack(">QQ", 0, 0)            # creation, modification
        + struct.pack(">I", 1) + struct.pack(">I", 0)
        + struct.pack(">Q", 90000 * 7)        # duration
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 640 << 16, 480 << 16)
    )
    tkhd = struct.pack(">I", 8 + len(tkhd_p)) + b"tkhd" + tkhd_p
    trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" + mvhd + trak
    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + 8) + b"\x00" * 8
    w, h, dur = _try_mp4_header(ftyp + moov + mdat)
    assert (w, h, dur) == (640, 480, 7000)


def test_mp4_header_rejects_non_bmff():
    import pytest

    from polars_sim_spark.operators.multimodal import _try_mp4_header

    for bad in (b"", b"\x00\x00\x00\x10free" + b"\x00" * 8, b"plain text body"):
        with pytest.raises(NotImplementedError):
            _try_mp4_header(bad)


def test_decode_media_meta_end_to_end(spark):
    from pyspark.sql import functions as F

    from polars_sim_spark.operators.multimodal import (
        attach_payload,
        decode_media_meta,
    )

    docs = spark.createDataFrame(
        [(i, "hello media world " * (i + 1)) for i in range(10)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decode_media_meta(attach_payload(docs, "media")).collect()
    }
    assert out[0]["decoder"] == "wav" and out[5]["decoder"] == "wav"
    assert out[1]["decoder"] == "mp4" and out[6]["decoder"] == "mp4"
    # round 12: ids ≡ 2 (mod 5) are MP3, ≡ 3 are FLAC; only ≡ 4 is stub
    assert out[2]["decoder"] == "mp3" and out[7]["decoder"] == "mp3"
    assert out[3]["decoder"] == "flac" and out[8]["decoder"] == "flac"
    assert out[4]["decoder"] == "stub" and out[9]["decoder"] == "stub"
    # wav row 5: sr = 8000 + (5 % 4) * 4000 = 12000, ch = 1 + 5 % 2 = 2
    dlen5 = len("hello media world " * 6)
    assert out[5]["sample_rate"] == 12000 and out[5]["channels"] == 2
    assert out[5]["duration_ms"] == dlen5 * 1000 // (12000 * 2 * 2)
    assert out[5]["n_bytes"] == dlen5 + 44
    assert out[5]["width"] is None and out[5]["height"] is None
    # mp4 row 6: w = 160 + (6 % 8) * 16 = 256, h = 120 + (6 % 6) * 24 = 120
    dlen6 = len("hello media world " * 7)
    assert out[6]["width"] == 256 and out[6]["height"] == 120
    assert out[6]["duration_ms"] == dlen6 * 40
    assert out[6]["n_bytes"] == dlen6 + 473 + 4 * ((dlen6 + 63) // 64)
    assert out[6]["sample_rate"] is None and out[6]["channels"] is None
    # mp3 row 7: br = 192 (7 % 4 = 3), sr = 48000 (7 % 3 = 1), ch = 2
    dlen7 = len("hello media world " * 8)
    flen7 = 144000 * 192 // 48000
    nf7 = -(-dlen7 // (flen7 - 4))
    assert out[7]["sample_rate"] == 48000 and out[7]["channels"] == 2
    assert out[7]["n_bytes"] == nf7 * flen7
    assert out[7]["duration_ms"] == nf7 * 1152 * 1000 // 48000
    assert out[7]["width"] is None and out[7]["height"] is None
    # flac row 8: sr = 16000 + (8 % 3) * 16000 = 48000, ch = 1
    dlen8 = len("hello media world " * 9)
    assert out[8]["sample_rate"] == 48000 and out[8]["channels"] == 1
    assert out[8]["n_bytes"] == dlen8 + 42
    assert out[8]["duration_ms"] == dlen8 * 1000 // 48000
    # stub rows keep the fake-dims contract and null media fields
    dlen4 = len("hello media world " * 5)
    assert out[4]["width"] == 16 + dlen4 % 97 and out[4]["height"] == 16 + dlen4 % 83
    assert out[4]["duration_ms"] is None


def test_wav_pcm_stats_known_samples(spark):
    """Pin the PCM interpretation on hand-computed bytes: 16-bit LE
    samples, channel-interleaved, signed — stereo frames
    [(+1, -2), (+32767, -32768)] and a mono [+258] with a trailing odd
    byte that must be ignored (incomplete frame)."""
    import struct

    from polars_sim_spark.operators.multimodal import media_stats, synth_wav

    stereo = synth_wav(
        struct.pack("<4h", 1, -2, 32767, -32768), sample_rate=8000, channels=2
    )
    mono = synth_wav(struct.pack("<h", 258) + b"\x7f", sample_rate=16000, channels=1)
    df = spark.createDataFrame(
        [(1, bytearray(stereo)), (2, bytearray(mono)), (3, bytearray(b"not wav"))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r.asDict() for r in media_stats(df, "media").collect()}
    assert set(got) == {1, 2}  # non-WAV rows drop
    assert got[1]["n_frames"] == 2
    assert list(got[1]["sum_abs"]) == [1 + 32767, 2 + 32768]
    assert list(got[1]["peak_abs"]) == [32767, 32768]
    assert got[2]["n_frames"] == 1
    assert list(got[2]["sum_abs"]) == [258]
    assert list(got[2]["peak_abs"]) == [258]


def test_ppm_parse_and_pixel_stats(spark):
    """P6 fixtures: header inversion, comment/whitespace handling, exact
    channel sums/peaks, and rejection of truncated / 16-bit / non-PPM."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _parse_ppm,
        media_stats,
        synth_ppm,
    )

    data = bytes(range(256)) * 3
    p = synth_ppm(data, 5)
    w, h, off, ch = _parse_ppm(p)
    assert (w, h, ch) == (5, 51, 3) and p[off:] == data[: w * h * 3]
    # comments + arbitrary whitespace per netpbm spec
    wc = b"P6 # cmt\n5\t2 # another\n255\n" + bytes(30)
    assert _parse_ppm(wc) == (5, 2, 27, 3)
    with pytest.raises(NotImplementedError):
        _parse_ppm(b"P6\n5 2\n65535\n" + bytes(60))  # 16-bit samples
    with pytest.raises(NotImplementedError):
        _parse_ppm(b"JUNK")
    assert synth_ppm(b"xy", 5) is None  # under one row -> left raw

    rows = [(1, p), (2, b"not an image"), (3, b"P6\n5 2\n255\n" + bytes(10))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in media_stats(df, "ppm").collect()}
    assert list(got) == [1]  # non-PPM and truncated-pixels dropped
    rgb = np.frombuffer(data[: 5 * 51 * 3], dtype=np.uint8).reshape(-1, 3)
    assert got[1]["sum_rgb"] == [int(x) for x in rgb.astype(np.int64).sum(axis=0)]
    assert got[1]["peak_rgb"] == [int(x) for x in rgb.max(axis=0)]


def test_bmp_parse_and_pixel_stats(spark):
    """24-bit BMP fixtures (round 10): header inversion, bottom-up row
    flip, BGR→RGB swap, 4-byte stride removal — logical pixels must be
    IDENTICAL to the PPM layout of the same bytes — plus rejection of
    non-BMP, compressed, and truncated payloads; a negative-height
    (top-down) DIB decodes without the flip."""
    import struct

    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _bmp_logical_pixels,
        _parse_bmp,
        media_stats,
        synth_bmp,
    )

    data = bytes(range(256)) * 3
    b = synth_bmp(data, 5)  # w=5 → row 15 bytes → stride 16 (padding real)
    w, h, off, top_down, stride, _bits = _parse_bmp(b)
    assert (w, h, off, top_down, stride) == (5, 51, 54, False, 16)
    logical = _bmp_logical_pixels(b)
    assert logical.tobytes() == data[: 5 * 51 * 3]  # ≡ the PPM layout

    # top-down variant: negate height, store rows unflipped
    body = np.zeros((2, 8), dtype=np.uint8)
    body[0, :6] = [10, 20, 30, 40, 50, 60]   # row 0 = TOP (B,G,R per px)
    body[1, :6] = [1, 2, 3, 4, 5, 6]
    td = struct.pack("<2sIHHI", b"BM", 54 + 16, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, 16, 0, 0, 0, 0
    ) + body.tobytes()
    lt = _bmp_logical_pixels(td)
    assert lt[0, 0].tolist() == [30, 20, 10]  # BGR swapped, no flip
    assert lt[1, 1].tolist() == [6, 5, 4]

    with pytest.raises(NotImplementedError):
        _parse_bmp(b"JUNK")
    bad = bytearray(b)
    # 8-bit paletted PARSES as of round 14; a 24-bit body relabeled
    # 8-bit must still DROP cleanly at the pixel layer (the color
    # table would overlap the pixel offset)
    struct.pack_into("<H", bad, 28, 8)
    with pytest.raises(NotImplementedError):
        _bmp_logical_pixels(bytes(bad))
    struct.pack_into("<H", bad, 28, 4)  # 4-bit stays gated
    with pytest.raises(NotImplementedError):
        _parse_bmp(bytes(bad))
    assert synth_bmp(b"xy", 5) is None

    rows = [(1, b), (2, b"not an image"), (3, b[:100])]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in media_stats(df, "bmp").collect()}
    assert list(got) == [1]
    rgb = np.frombuffer(data[: 5 * 51 * 3], dtype=np.uint8).reshape(-1, 3)
    assert got[1]["sum_rgb"] == [int(x) for x in rgb.astype(np.int64).sum(axis=0)]
    assert got[1]["peak_rgb"] == [int(x) for x in rgb.max(axis=0)]


def test_mp4_sample_tables_roundtrip():
    from polars_sim_spark.operators.multimodal import (
        FRAME_BYTES,
        _parse_mp4_samples,
        synth_mp4,
    )

    data = bytes(range(256)) * 3  # 768 bytes = 12 full frames
    mp4 = synth_mp4(data, width=320, height=240, duration_ms=100)
    samples = _parse_mp4_samples(mp4)
    assert len(samples) == (len(data) + FRAME_BYTES - 1) // FRAME_BYTES
    assert b"".join(mp4[o : o + s] for o, s, _ in samples) == data
    assert [t for _, _, t in samples] == [i * 40 for i in range(len(samples))]
    # 'stco' bytes inside the payload must not confuse the offset patch
    tricky = b"__stco__" * 33
    mp4t = synth_mp4(tricky, width=160, height=120, duration_ms=0)
    st = _parse_mp4_samples(mp4t)
    assert b"".join(mp4t[o : o + s] for o, s, _ in st) == tricky


def test_mp4_parser_handles_general_layouts():
    """Fixed-size stsz, multiple chunks via stsc runs, and co64 offsets —
    layouts real muxers emit that the synth fixture doesn't."""
    import struct

    from polars_sim_spark.operators.multimodal import _parse_mp4_samples

    def box(t, p):
        return struct.pack(">I", 8 + len(p)) + t + p

    # 6 samples of 10 bytes in 2 chunks of 3; 64-bit chunk offsets
    payload = bytes(range(60))
    mdhd = box(b"mdhd", struct.pack(">BBBBIIII", 0, 0, 0, 0, 0, 0, 600, 240) + struct.pack(">HH", 0, 0))
    stts = box(b"stts", struct.pack(">II", 0, 2) + struct.pack(">IIII", 3, 60, 3, 30))
    stsc = box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 3, 1))
    stsz = box(b"stsz", struct.pack(">III", 0, 10, 6))  # fixed size, no table
    # chunk offsets chosen inside the mdat we append below
    stbl_sized = None
    for _ in range(2):  # two passes: offsets depend on header length
        co64 = box(b"co64", struct.pack(">II", 0, 2) + struct.pack(">QQ", *( [0, 0] if stbl_sized is None else stbl_sized)))
        stbl = box(b"stbl", stts + stsc + stsz + co64)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", mdhd + minf)
        trak = box(b"trak", mdia)
        moov = box(b"moov", trak)
        ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
        base = len(ftyp) + len(moov) + 8
        stbl_sized = (base, base + 30)
    mp4 = ftyp + moov + struct.pack(">I", 8 + 60) + b"mdat" + payload
    samples = _parse_mp4_samples(mp4)
    assert [s for _, s, _ in samples] == [10] * 6
    assert b"".join(mp4[o : o + s] for o, s, _ in samples) == payload
    # pts at timescale 600: durations 60,60,60,30,30,30 -> ms via *1000//600
    assert [t for _, _, t in samples] == [0, 100, 200, 300, 350, 400]


def test_mp4_frame_sample_spark_fanout(spark):
    from polars_sim_spark.operators.multimodal import (
        attach_payload,
        mp4_frame_sample,
    )

    df = spark.createDataFrame(
        [(i, "frame payload bytes " * (i + 3)) for i in range(10)],
        "doc_id long, text string",
    )
    out = mp4_frame_sample(attach_payload(df, "media"), every_n=2).collect()
    # only ids ≡ 1 (mod 5) are MP4
    assert {r["doc_id"] for r in out} == {1, 6}
    for r in out:
        assert r["frame_idx"] % 2 == 0
        assert r["pts_ms"] == r["frame_idx"] * 40
        dlen = len("frame payload bytes " * (r["doc_id"] + 3))
        start = r["frame_idx"] * 64
        want = ("frame payload bytes " * (r["doc_id"] + 3)).encode()[start : start + 64]
        assert bytes(r["frame"]) == want


def test_ppm_resize_block_means(spark):
    """2x block-mean pooling: exact truncating integer means, edge
    rows/cols beyond the last full block dropped, non-PPM rows gone."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import ppm_resize, synth_ppm

    # 4x5 image (w=4, h=5): 60 pixel bytes 0..59; 5th row is dropped at f=2
    data = bytes(range(60))
    rows = [(1, synth_ppm(data, 4)), (2, b"not a ppm")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in ppm_resize(df, factor=2).collect()}
    assert list(out) == [1]
    r = out[1]
    assert (r["src_w"], r["src_h"], r["out_w"], r["out_h"]) == (4, 5, 2, 2)
    img = np.frombuffer(data, dtype=np.uint8).reshape(5, 4, 3)
    want = (
        img[:4, :4].reshape(2, 2, 2, 2, 3).astype(np.int64).sum(axis=(1, 3)) // 4
    ).astype(np.uint8)
    assert bytes(r["resized"]) == want.tobytes()


def test_gif_lzw_roundtrip_with_dictionary_reset():
    """The GIF-LZW pair (round 11): decode(encode(x)) == x for streams
    long enough to grow the code width to 12 bits and force the
    dictionary reset at the 4096-code ceiling, for repetitive AND
    incompressible index sequences, plus the KwKwK self-reference and
    empty/singleton edges."""
    import pytest

    from polars_sim_spark.operators.multimodal import _lzw_decode, _lzw_encode

    # deterministic pseudo-random indices (no RNG in tests): a full-period
    # LCG over 0..15 stretched to 60k symbols grows the dict past 4096
    # several times (each reset replays the growth schedule 3→12 bits).
    seq, x = [], 7
    for _ in range(60_000):
        x = (5 * x + 3) % 16
        seq.append(x)
    assert _lzw_decode(_lzw_encode(seq, 4), 4, len(seq)) == seq

    rep = (list(range(16)) * 2000)  # highly compressible: long table hits
    assert _lzw_decode(_lzw_encode(rep, 4), 4, len(rep)) == rep

    kwk = [1, 1, 1, 1, 1]  # forces the code == next_code (KwKwK) branch
    assert _lzw_decode(_lzw_encode(kwk, 2), 2, len(kwk)) == kwk

    assert _lzw_decode(_lzw_encode([3], 2), 2, 1) == [3]
    with pytest.raises(NotImplementedError):
        _lzw_decode(b"", 2, 1)  # truncated stream
    with pytest.raises(NotImplementedError):
        # stream ends (EOI) before the raster is complete
        _lzw_decode(_lzw_encode([1, 2], 2), 2, 5)


def test_gif_synth_decode_and_pixel_stats(spark):
    """GIF fixtures (round 11): the full inflate — sub-block reassembly,
    LZW decode, local-color-table lookup, strip composition — must
    recover logical pixels IDENTICAL to the PPM layout of the same
    bytes, including images whose color count forces multiple strips;
    malformed/interlaced payloads raise; the stats operator drops
    non-GIF rows."""
    import struct

    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _gif_logical_pixels,
        media_stats,
        synth_gif,
    )

    # ≤256 colors: single strip
    data = bytes(range(256)) * 3
    g = synth_gif(data, 5)
    assert g[:6] == b"GIF89a"
    logical = _gif_logical_pixels(g)
    assert logical.tobytes() == data[: 5 * 51 * 3]  # ≡ the PPM layout
    assert g.count(b"\x2c") >= 1

    # many distinct colors: force >1 strip (chained sha256 bytes — a
    # byte-level LCG won't do: period 256 ⇒ ≤256 distinct RGB triples)
    import hashlib

    many, blk = bytearray(), b"seed"
    while len(many) < 3 * 9 * 120:
        blk = hashlib.sha256(blk).digest()
        many += blk
    many = many[: 3 * 9 * 120]
    g2 = synth_gif(bytes(many), 9)
    # count actual image descriptors by walking the file structure
    n_desc = 0
    pos = 13
    while pos < len(g2) and g2[pos] != 0x3B:
        assert g2[pos] == 0x2C
        _l, top, _iw, ih, pk = struct.unpack_from("<HHHHB", g2, pos + 1)
        pos += 10 + 3 * (2 << (pk & 7)) + 1  # desc + local table + mcs
        while g2[pos] != 0:
            pos += 1 + g2[pos]
        pos += 1
        n_desc += 1
    assert n_desc > 1, "high-entropy image must split into multiple strips"
    assert _gif_logical_pixels(g2).tobytes() == bytes(many)

    with pytest.raises(NotImplementedError):
        _gif_logical_pixels(b"JUNK")
    with pytest.raises(NotImplementedError):
        _gif_logical_pixels(g[:40])  # truncated mid-structure
    # flipping a sequential strip's interlace bit (round 14: interlace
    # now DECODES) yields a well-formed stream whose rows land
    # de-permuted — it must not crash, and for a multi-row strip the
    # pixels move (the permutation is visible)
    flipped = bytearray(g)
    assert flipped[13] == 0x2C
    flipped[13 + 9] |= 0x40
    got_flip = _gif_logical_pixels(bytes(flipped))
    assert got_flip.shape == _gif_logical_pixels(g).shape
    assert synth_gif(b"xy", 5) is None

    rows = [(1, g), (2, b"not an image"), (3, g[:60])]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in media_stats(df, "gif").collect()}
    assert list(got) == [1]
    rgb = np.frombuffer(data[: 5 * 51 * 3], dtype=np.uint8).reshape(-1, 3)
    assert got[1]["width"] == 5 and got[1]["height"] == 51
    assert got[1]["sum_rgb"] == [int(v) for v in rgb.astype(np.int64).sum(axis=0)]
    assert got[1]["peak_rgb"] == [int(v) for v in rgb.max(axis=0)]


def test_wav_phash_matches_python_reference(spark):
    """Round 11: the audio envelope hash — engine bands/hex vs a
    from-scratch python recomputation over synth_wav fixtures (mono and
    stereo, lengths spanning n < 65 and n >> 65), and the banded join
    at 16 bands equals the brute-force Hamming filter."""
    import numpy as np

    from polars_sim_spark.operators.dedup import phash_near_pairs
    from polars_sim_spark.operators.multimodal import synth_wav, wav_phash

    rng = np.random.default_rng(23)
    rows, want = [], {}
    for i in range(30):
        ch = 1 + i % 2
        n_bytes = int(rng.integers(2 * ch, 4000))
        data = rng.integers(0, 256, n_bytes, dtype=np.uint8).tobytes()
        rows.append((i, synth_wav(data, 8000, ch)))
        n = len(data) // (2 * ch)
        pcm = np.frombuffer(data[: n * ch * 2], dtype="<i2").reshape(n, ch)
        amp = np.abs(pcm.astype(np.int64))[:, 0]
        a = amp[(np.arange(65) * n) // 65]
        bits = (a[:64] < a[1:]).astype(int)
        want[i] = sum(int(b) << k for k, b in enumerate(bits))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in wav_phash(df, n_bands=16).collect()}
    assert set(got) == set(want)
    for i, r in got.items():
        assert int(r["phash_hex"], 16) == want[i], i
        # bands reassemble to the same 64 bits
        assembled = sum(r[f"band{j}"] << (4 * j) for j in range(16))
        assert assembled == want[i], i

    ph = wav_phash(df, n_bands=16)
    pairs = {
        (r["l_id"], r["r_id"]): r["hamming"]
        for r in phash_near_pairs(
            ph,
            id_col="doc_id",
            band_cols=tuple(f"band{j}" for j in range(16)),
            max_dist=15,
        ).collect()
    }
    brute = {}
    ids = sorted(want)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = bin(want[ids[x]] ^ want[ids[y]]).count("1")
            if h <= 15:
                brute[(ids[x], ids[y])] = h
    assert pairs == brute

    import pytest

    with pytest.raises(ValueError, match="n_bands"):
        wav_phash(df, n_bands=5)
    # non-WAV payloads are dropped
    mixed = spark.createDataFrame(
        [(0, b"not audio"), (1, rows[1][1])], "doc_id long, payload binary"
    )
    assert [r["doc_id"] for r in wav_phash(mixed).collect()] == [1]


def test_mp4_vhash_matches_python_reference(spark):
    """Round 11: the video majority-fold hash — engine bands/hex vs a
    from-scratch python recomputation over synth_mp4 fixtures, strict
    majority (ties → 0) pinned by an even frame count, plus drop
    behavior for non-BMFF and zero-frame payloads."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        FRAME_BYTES,
        mp4_vhash,
        synth_mp4,
    )

    rng = np.random.default_rng(41)
    rows, want = [], {}
    for i in range(12):
        n_bytes = int(rng.integers(1, 2000))
        data = rng.integers(0, 256, n_bytes, dtype=np.uint8).tobytes()
        rows.append((i, synth_mp4(data, width=320, height=240, duration_ms=100)))
        # python reference: frames = FRAME_BYTES slices, every 2nd
        votes, used = np.zeros(64, dtype=int), 0
        for f in range(0, (len(data) + FRAME_BYTES - 1) // FRAME_BYTES, 2):
            frame = np.frombuffer(
                data[f * FRAME_BYTES : (f + 1) * FRAME_BYTES], np.uint8
            ).astype(int)
            m = len(frame)
            if m < 1:
                continue
            fb = frame[(np.arange(65) * m) // 65]
            votes += fb[:64] < fb[1:]
            used += 1
        bits = (2 * votes > used).astype(int)
        want[i] = sum(int(b) << k for k, b in enumerate(bits))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in mp4_vhash(df, every_n=2, n_bands=8).collect()}
    assert set(got) == set(want)
    for i, r in got.items():
        assert int(r["phash_hex"], 16) == want[i], i
        assert sum(r[f"band{j}"] << (8 * j) for j in range(8)) == want[i], i

    # non-BMFF dropped; empty mdat (zero frames) dropped
    mixed = spark.createDataFrame(
        [
            (0, b"not a video"),
            (1, synth_mp4(b"", width=64, height=64, duration_ms=0)),
            (2, rows[0][1]),
        ],
        "doc_id long, payload binary",
    )
    assert [r["doc_id"] for r in mp4_vhash(mixed).collect()] == [2]

    # truncated mdat: synth_mp4's layout is ftyp+moov+mdat, so cutting
    # deep into mdat leaves the sample tables intact while later sample
    # offsets point PAST the received bytes — those frames must be
    # skipped, not crash the task (np.frombuffer raises on offset >
    # buffer length). A payload long enough to have several frames is
    # cut so the first frame survives partially and the rest vanish.
    from polars_sim_spark.operators.multimodal import _parse_mp4_samples

    big = synth_mp4(bytes(range(200)), width=320, height=240, duration_ms=100)
    first_off = _parse_mp4_samples(big)[0][0]  # after ftyp+moov+mdat hdr
    cut = big[: first_off + 11]
    trunc = spark.createDataFrame([(9, cut)], "doc_id long, payload binary")
    out = mp4_vhash(trunc).collect()  # must not raise
    assert len(out) == 1  # the 11 surviving first-frame bytes still hash
    with pytest.raises(ValueError, match="n_bands"):
        mp4_vhash(df, n_bands=3)
    with pytest.raises(ValueError, match="every_n"):
        mp4_vhash(df, every_n=0)


def test_video_frame_match_equals_bruteforce(spark):
    """Round 11: frame-aligned banded matching == brute-force per-frame
    Hamming filter + frame count, on synth_mp4 fixtures with planted
    near-identical twins; per-frame pigeonhole bound enforced."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.dedup import video_frame_match_pairs
    from polars_sim_spark.operators.multimodal import mp4_frame_phash, synth_mp4

    rng = np.random.default_rng(57)
    rows = []
    for i in range(14):
        data = rng.integers(0, 256, int(rng.integers(100, 1500)), dtype=np.uint8)
        rows.append((2 * i, synth_mp4(data.tobytes(), 320, 240, 100)))
        twin = data.copy()
        twin[::97] ^= 1  # low bits: most frame hashes survive
        rows.append((2 * i + 1, synth_mp4(twin.tobytes(), 320, 240, 100)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    ph = mp4_frame_phash(df, every_n=2, n_bands=8)
    hashes = {}
    for r in ph.collect():
        hashes[(r["doc_id"], r["frame_idx"])] = int(r["phash_hex"], 16)

    got = {
        (r["l_id"], r["r_id"]): r["n_frames_matched"]
        for r in video_frame_match_pairs(
            ph,
            id_col="doc_id",
            band_cols=tuple(f"band{j}" for j in range(8)),
            max_dist=7,
            min_frames=1,
        ).collect()
    }
    brute = {}
    ids = sorted({i for i, _f in hashes})
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            n = sum(
                1
                for (i, f), h in hashes.items()
                if i == ids[x]
                and (ids[y], f) in hashes
                and bin(h ^ hashes[(ids[y], f)]).count("1") <= 7
            )
            if n >= 1:
                brute[(ids[x], ids[y])] = n
    assert got == brute
    assert any((2 * i, 2 * i + 1) in got for i in range(14))  # twins found

    with pytest.raises(ValueError, match="recall guarantee"):
        video_frame_match_pairs(ph, band_cols=("band0", "band1"), max_dist=2)
    with pytest.raises(ValueError, match="min_frames"):
        video_frame_match_pairs(ph, max_dist=3, min_frames=0)


def test_wav_pcm_gate_drops_non_int16_payloads(spark):
    """Round 12 (ADVICE): a WAV whose fmt chunk declares channels=0 must
    be DROPPED (not ZeroDivisionError the task), and float (fmt 3) /
    unsupported-depth payloads must be dropped rather than silently
    mis-read. Round 14: the WAV stats reader now DECODES 8-bit (unsigned,
    offset 128); wav_phash keeps its 16-bit envelope contract."""
    import struct

    from polars_sim_spark.operators.multimodal import (
        media_stats,
        synth_wav,
        wav_phash,
    )

    good = synth_wav(struct.pack("<8h", *range(8)), 8000, 1)

    def patched(fmt_tag=1, channels=1, bits=16):
        b = bytearray(good)
        # canonical 44-byte header: fmt fields start at offset 20
        b[20:24] = struct.pack("<HH", fmt_tag, channels)
        b[34:36] = struct.pack("<H", bits)
        return bytes(b)

    rows = [
        (0, patched(channels=0)),  # would divide by zero
        (1, patched(fmt_tag=3)),   # IEEE float — not integer PCM
        (2, patched(bits=8)),      # 8-bit PCM — decodes as of round 14
        (3, good),
        (4, patched(bits=24)),     # 24-bit WAV stays gated
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in media_stats(df, "media").collect()}
    assert sorted(got) == [2, 3]
    # the 8-bit reinterpretation of the int16 bytes: unsigned |v - 128|
    raw = bytes(good[44:])
    want = [abs(b - 128) for b in raw]
    assert got[2]["n_frames"] == len(raw)
    assert list(got[2]["sum_abs"]) == [sum(want)]
    assert list(got[2]["peak_abs"]) == [max(want)]
    assert [r["doc_id"] for r in wav_phash(df).collect()] == [3]


def test_inflate_round_trips_stdlib_zlib_all_levels():
    """Round 12 (VERDICT r11 #1): the hand-written RFC 1950/1951 inflate
    must decode stdlib zlib.compress output at EVERY level — level 0
    emits stored blocks, low levels fixed-Huffman, high levels dynamic-
    Huffman with LZ77 matches (incl. overlapping copies) — plus reject
    truncated and corrupted streams via NotImplementedError."""
    import zlib

    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import _zlib_inflate

    rng = np.random.default_rng(7)
    payloads = [
        b"",
        b"a",
        b"abc" * 3000,                     # overlapping-copy repeats
        bytes(rng.integers(0, 256, 4096, dtype=np.uint8)),  # incompressible
        bytes(rng.integers(0, 4, 4096, dtype=np.uint8)),    # low-entropy
    ]
    for lvl in range(10):
        for p in payloads:
            assert _zlib_inflate(zlib.compress(p, lvl)) == p, (lvl, len(p))
    good = zlib.compress(payloads[2], 6)
    with pytest.raises(NotImplementedError):
        _zlib_inflate(good[: len(good) // 2])  # truncated
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # adler32 mismatch
    with pytest.raises(NotImplementedError):
        _zlib_inflate(bytes(bad))


def test_png_pixels_match_ppm_twin_and_reject_unsupported():
    """Round 12: synth_png -> _png_logical_pixels must reproduce the
    PPM twin's logical pixels exactly (every row filter type exercised
    by h > 4 fixtures), and non-PNG / CRC-corrupt / interlaced payloads
    must raise NotImplementedError."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _png_logical_pixels,
        _ppm_logical_pixels,
        synth_png,
        synth_ppm,
    )

    rng = np.random.default_rng(99)
    for i in range(25):
        w = 4 + i % 8
        data = bytes(rng.integers(0, 256, int(rng.integers(12, 800)), dtype=np.uint8))
        png, ppm = synth_png(data, w), synth_ppm(data, w)
        if png is None:
            assert ppm is None
            continue
        assert (_png_logical_pixels(png) == _ppm_logical_pixels(ppm)).all(), i

    with pytest.raises(NotImplementedError, match="not a PNG"):
        _png_logical_pixels(b"nope")
    good = synth_png(bytes(i % 251 for i in range(3 * 5 * 30)), 5)
    corrupt = bytearray(good)
    corrupt[40] ^= 1  # inside IDAT -> chunk CRC mismatch
    with pytest.raises(NotImplementedError, match="CRC"):
        _png_logical_pixels(bytes(corrupt))
    # interlace flag on a SEQUENTIAL payload (round 14: Adam7 now
    # decodes): the seven-pass reinterpretation of sequential scanlines
    # hits a named drop gate (bad filter byte or size mismatch) — the
    # mislabeled stream drops cleanly either way
    ihdr = struct.pack(">IIBBBBB", 5, 30, 8, 2, 0, 0, 1)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    inter = good[:8] + chunk + good[8 + len(chunk):]
    with pytest.raises(NotImplementedError):
        _png_logical_pixels(inter)


def test_mp3_header_parse_inverts_synth():
    """Round 12 (VERDICT r11 #7): the MPEG-1 Layer III frame-header walk
    must invert synth_mp3 exactly — sample rate, channel mode, and
    frame-count-derived duration — and reject non-MP3 / non-MPEG1
    payloads with NotImplementedError."""
    import pytest

    from polars_sim_spark.operators.multimodal import _try_mp3_header, synth_mp3

    for br in (96, 128, 160, 192):
        for sr in (44100, 48000, 32000):
            for ch in (1, 2):
                data = bytes((i * 7 + br) % 251 for i in range(777))
                mp3 = synth_mp3(data, br, sr, ch)
                flen = 144000 * br // sr
                n_frames = -(-len(data) // (flen - 4))
                assert len(mp3) == n_frames * flen
                got_sr, got_ch, got_dur = _try_mp3_header(mp3)
                assert (got_sr, got_ch) == (sr, ch)
                assert got_dur == n_frames * 1152 * 1000 // sr
    assert synth_mp3(b"", 128, 44100) is None
    with pytest.raises(NotImplementedError):
        _try_mp3_header(b"not audio at all")
    # MPEG-2 version bits -> rejected (header tier is MPEG-1 L3 only)
    mpeg2 = bytearray(synth_mp3(b"x" * 100, 128, 44100))
    mpeg2[1] = 0xF3  # version bits 10 = MPEG-2
    with pytest.raises(NotImplementedError):
        _try_mp3_header(bytes(mpeg2))
    # truncated trailing frame is ignored, not fatal
    whole = synth_mp3(b"y" * 2000, 128, 44100)
    flen = 144000 * 128 // 44100
    sr, ch, dur = _try_mp3_header(whole[: flen + 10])
    assert dur == 1152 * 1000 // 44100
    # r13 (ADVICE r12): a version/layer switch MID-stream must raise,
    # not have later frames' lengths read from MPEG-1 L3 tables.
    switch = bytearray(synth_mp3(b"z" * 2000, 128, 44100))
    assert len(switch) >= 2 * flen
    switch[flen + 1] = 0xF3  # second frame: version bits 10 = MPEG-2
    with pytest.raises(NotImplementedError, match="mid-stream"):
        _try_mp3_header(bytes(switch))
    switch[flen + 1] = 0xFD  # second frame: layer bits 10 = Layer II
    with pytest.raises(NotImplementedError, match="mid-stream"):
        _try_mp3_header(bytes(switch))


def test_huffman_builders_reject_malformed_tables():
    """Round 13 (ADVICE r12): neither entropy layer may decode a
    malformed code-length set to deterministic garbage — JPEG has no
    payload checksum, so table validation IS the drop gate."""
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _huffman_table,
        _jpeg_huffman,
    )

    # DEFLATE side: complete and incomplete sets build; over-subscribed
    # raises (three 1-bit codes cannot exist).
    assert _huffman_table([1, 1]) == {(1, 0): 0, (1, 1): 1}
    assert len(_huffman_table([2, 2, 2])) == 3  # incomplete: legal
    with pytest.raises(NotImplementedError, match="over-subscribed"):
        _huffman_table([1, 1, 1])
    with pytest.raises(NotImplementedError, match="over-subscribed"):
        _huffman_table([1, 2, 2, 2])

    # JPEG side: Annex K tables are incomplete by design and must
    # build; over-subscription, BITS/HUFFVAL mismatch and duplicate
    # symbols must all drop.
    enc, dec = _jpeg_huffman([0, 2, 0] + [0] * 13, [3, 7])
    assert enc == {3: (0, 2), 7: (1, 2)} and dec == {(2, 0): 3, (2, 1): 7}
    with pytest.raises(NotImplementedError, match="over-subscribed"):
        _jpeg_huffman([3] + [0] * 15, [1, 2, 3])  # three 1-bit codes
    with pytest.raises(NotImplementedError, match="mismatch"):
        _jpeg_huffman([0, 2, 0] + [0] * 13, [3])
    with pytest.raises(NotImplementedError, match="duplicate"):
        _jpeg_huffman([0, 2, 0] + [0] * 13, [3, 3])


def test_png_nonpalette_color_types_decode(spark):
    """Round 13: the generalized PNG decoder handles every non-palette
    8-bit color type — grayscale (0), truecolor (2, the original
    contract), gray+alpha (4), RGBA (6) — with the filter predictors
    at the color type's own bpp; palette stays gated."""
    import struct
    import zlib as _zlib

    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _png_decode,
        _png_filter_row,
        _png_logical_pixels,
        media_stats,
        synth_png,
        synth_png_rgba,
    )

    def build(color: int, ch: int, w: int, rows: int, data: bytes) -> bytes:
        stride = w * ch
        scan = bytearray()
        zero = bytes(stride)
        for y in range(rows):
            raw = data[y * stride : (y + 1) * stride]
            prior = data[(y - 1) * stride : y * stride] if y else zero
            scan.append(y % 5)
            scan += _png_filter_row(y % 5, raw, prior, ch)

        def chunk(ctype: bytes, payload: bytes) -> bytes:
            return (
                struct.pack(">I", len(payload))
                + ctype
                + payload
                + struct.pack(">I", _zlib.crc32(ctype + payload) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, rows, 8, color, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(bytes(scan)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(12)
    for color, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        w, rows = 6, 9
        data = rng.integers(0, 256, w * rows * ch, dtype=np.uint8).tobytes()
        h_, w_, got_color, px = _png_decode(build(color, ch, w, rows, data))
        want = np.frombuffer(data, np.uint8).reshape(rows, w, ch)
        assert (h_, w_, got_color) == (rows, w, color)
        assert (px == want).all(), color
    # palette without its mandatory PLTE must drop, not crash (round
    # 14: color type 3 itself now decodes — see the palette tests)
    with pytest.raises(NotImplementedError, match="missing PLTE"):
        _png_decode(build(3, 1, 6, 9, bytes(54)))
    # round 14: the logical-pixel wrapper accepts EVERY 8-bit color
    # type — RGBA drops alpha, grayscale replicates the gray channel
    rgba = synth_png_rgba(bytes(range(240)), 5)
    assert (_png_logical_pixels(rgba) == _png_decode(rgba)[3][:, :, :3]).all()
    gray_png = build(0, 1, 6, 9, bytes(range(54)))
    lp = _png_logical_pixels(gray_png)
    assert lp.shape == (9, 6, 3)
    assert (lp == np.frombuffer(bytes(range(54)), np.uint8).reshape(9, 6, 1)).all()
    # stats operator: RGBA only, alpha first-class, RGB PNGs dropped
    df = spark.createDataFrame(
        [(1, bytearray(rgba)), (2, bytearray(synth_png(bytes(range(240)), 5)))],
        "doc_id long, payload binary",
    )
    rows_out = {r["doc_id"]: r for r in media_stats(df, "png_rgba").collect()}
    assert list(rows_out) == [1]
    want = np.frombuffer(bytes(range(240)), np.uint8).reshape(-1, 4).astype(np.int64)
    assert list(rows_out[1]["sum_rgba"]) == [int(x) for x in want.sum(axis=0)]
    assert list(rows_out[1]["peak_rgba"]) == [int(x) for x in want.max(axis=0)]


def test_bmp8_paletted_decode_and_stats(spark):
    """Round 14: 8-bit paletted BMP — BGRX color table, bottom-up rows,
    4-byte stride — decodes to the shared palette rule, hashes
    identically to the palette PNG of the same indices, and the stats
    operator drops 24-bit BMPs."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _bmp_logical_pixels,
        media_stats,
        ppm_phash,
        synth_bmp,
        synth_bmp8,
        synth_png_palette,
    )

    rng = np.random.default_rng(48)
    b8_rows, pal_rows = [], []
    for i in range(12):
        w = 4 + i % 8
        h = int(rng.integers(1, 16))
        idx = rng.integers(0, 256, h * w, dtype=np.uint8)
        b8_rows.append((i, synth_bmp8(idx.tobytes(), w)))
        pal_rows.append((i, synth_png_palette(idx.tobytes(), w)))
    hb = {
        r["doc_id"]: r["phash_hex"]
        for r in ppm_phash(
            spark.createDataFrame(b8_rows, "doc_id long, payload binary"),
            n_bands=8,
        ).collect()
    }
    hp = {
        r["doc_id"]: r["phash_hex"]
        for r in ppm_phash(
            spark.createDataFrame(pal_rows, "doc_id long, payload binary"),
            n_bands=8,
        ).collect()
    }
    assert hb == hp and len(hb) == 12  # cross-container palette twins

    b8 = b8_rows[0][1]
    px = _bmp_logical_pixels(b8)
    df = spark.createDataFrame(
        [(1, bytearray(b8)), (2, bytearray(synth_bmp(bytes(range(240)), 5)))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in media_stats(df, "bmp8").collect()}
    assert list(got) == [1]
    flat = px.reshape(-1, 3).astype(np.int64)
    assert list(got[1]["sum_rgb"]) == [int(x) for x in flat.sum(axis=0)]
    assert list(got[1]["peak_rgb"]) == [int(x) for x in flat.max(axis=0)]


def test_png16_decode_and_stats(spark):
    """Round 14: 16-bit truecolor PNG — big-endian sample pairs, the
    spec's bpp-6 filter distance — round-trips exactly; the 8-bit
    logical-pixel consumers refuse it; the stats operator drops 8-bit
    payloads."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _png_decode,
        _png_logical_pixels,
        media_stats,
        synth_png,
        synth_png16,
    )

    rng = np.random.default_rng(16)
    for trial in range(12):
        w = 4 + trial % 8
        h = int(rng.integers(1, 14))
        data = rng.integers(0, 256, w * h * 6, dtype=np.uint8).tobytes()
        hh, ww, color, px = _png_decode(synth_png16(data, w))
        assert (hh, ww, color) == (h, w, 2) and px.dtype == np.uint16
        assert np.array_equal(px, np.frombuffer(data, ">u2").reshape(h, w, 3))
    p16 = synth_png16(bytes(range(240)), 5)
    with pytest.raises(NotImplementedError, match="16-bit"):
        _png_logical_pixels(p16)
    df = spark.createDataFrame(
        [(1, bytearray(p16)), (2, bytearray(synth_png(bytes(range(240)), 5)))],
        "doc_id long, payload binary",
    )
    rows_out = {r["doc_id"]: r for r in media_stats(df, "png16").collect()}
    assert list(rows_out) == [1]
    want = np.frombuffer(bytes(range(240)), ">u2").reshape(-1, 3).astype(np.int64)
    assert list(rows_out[1]["sum_rgb"]) == [int(x) for x in want.sum(axis=0)]
    assert list(rows_out[1]["peak_rgb"]) == [int(x) for x in want.max(axis=0)]


def test_png_palette_decode_and_stats(spark):
    """Round 14: palette-indexed PNG (color type 3) — PLTE lookup,
    optional tRNS alpha (opaque beyond the short table), all five row
    filters at bpp 1 — decodes to the closed-form per-image palette
    rule, and the malformed-palette cases drop per the contract."""
    import struct
    import zlib as _zlib

    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _png_decode,
        media_stats,
        synth_png,
        synth_png_palette,
    )

    rng = np.random.default_rng(77)
    saw_trns = saw_opaque = False
    for trial in range(24):
        w = 4 + trial % 8
        h = int(rng.integers(1, 16))
        idx = rng.integers(0, 256, size=h * w, dtype=np.uint8)
        png = synth_png_palette(idx.tobytes(), w)
        h_, w_, color, px = _png_decode(png)
        assert (h_, w_, color) == (h, w, 3)
        m = 2 * (w % 4) + 1
        ii = idx.astype(np.int64).reshape(h, w)
        assert (px[:, :, 0] == (m * ii + h) % 256).all()
        assert (px[:, :, 1] == (3 * m * ii + 2 * h + 1) % 256).all()
        assert (px[:, :, 2] == (5 * m * ii + 3 * h + 2) % 256).all()
        if (w + h) % 3 == 0:
            saw_trns = True
            want_a = np.where(ii < 128, (7 * ii + 1) % 256, 255)
        else:
            saw_opaque = True
            want_a = np.full_like(ii, 255)
        assert (px[:, :, 3] == want_a).all()
    assert saw_trns and saw_opaque

    def rechunk(png: bytes, drop: bytes = b"", add: list = ()) -> bytes:
        """Rewrite the fixture's chunk stream (drop a type / inject
        before IDAT) with fresh CRCs."""
        out = bytearray(png[:8])
        pos = len(out)
        while pos + 12 <= len(png):
            (clen,) = struct.unpack_from(">I", png, pos)
            ctype = png[pos + 4 : pos + 8]
            body = png[pos + 8 : pos + 8 + clen]
            pos += 12 + clen
            if ctype == drop:
                continue
            if ctype == b"IDAT":
                for t, b in add:
                    out += (
                        struct.pack(">I", len(b))
                        + t
                        + b
                        + struct.pack(">I", _zlib.crc32(t + b) & 0xFFFFFFFF)
                    )
                add = ()
            out += (
                struct.pack(">I", clen)
                + ctype
                + body
                + struct.pack(">I", _zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )
        return bytes(out)

    base = synth_png_palette(bytes(range(200)) + bytes(40), 6)
    with pytest.raises(NotImplementedError, match="missing PLTE"):
        _png_decode(rechunk(base, drop=b"PLTE"))
    with pytest.raises(NotImplementedError, match="PLTE length"):
        _png_decode(rechunk(rechunk(base, drop=b"PLTE"), add=[(b"PLTE", bytes(4))]))
    with pytest.raises(NotImplementedError, match="tRNS longer"):
        _png_decode(rechunk(rechunk(base, drop=b"PLTE"), add=[(b"PLTE", bytes(6)), (b"tRNS", bytes(5))]))
    # short PLTE + an index past it must drop (indices reach 255 here)
    with pytest.raises(NotImplementedError, match="index out of range"):
        _png_decode(rechunk(rechunk(base, drop=b"PLTE"), add=[(b"PLTE", bytes(6))]))

    # stats operator: palette only; truecolor PNGs dropped
    pal = synth_png_palette(bytes(range(120)), 6)
    df = spark.createDataFrame(
        [(1, bytearray(pal)), (2, bytearray(synth_png(bytes(range(240)), 5)))],
        "doc_id long, payload binary",
    )
    rows_out = {r["doc_id"]: r for r in media_stats(df, "png_palette").collect()}
    assert list(rows_out) == [1]
    h_, w_, _c, px = _png_decode(pal)
    flat = px.reshape(-1, 4).astype(np.int64)
    assert rows_out[1]["width"] == w_ and rows_out[1]["height"] == h_
    assert list(rows_out[1]["sum_rgba"]) == [int(x) for x in flat.sum(axis=0)]
    assert list(rows_out[1]["peak_rgba"]) == [int(x) for x in flat.max(axis=0)]


def test_png_adam7_and_gif_interlace_decode_identically():
    """Round 14: Adam7 PNG and interlaced GIF are pure storage
    permutations — the decoded logical pixels must be byte-identical
    to the sequential containers across widths/heights spanning every
    pass-geometry edge case (dims smaller than the pass strides leave
    whole passes empty)."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _gif_logical_pixels,
        _png_logical_pixels,
        synth_gif,
        synth_png,
        synth_png_adam7,
    )

    rng = np.random.default_rng(14)
    for w, h in [(1, 1), (1, 9), (7, 1), (3, 5), (8, 8), (9, 17), (16, 4), (13, 21)]:
        data = rng.integers(0, 256, w * h * 3, dtype=np.uint8).tobytes()
        want = np.frombuffer(data, np.uint8).reshape(h, w, 3)
        got_png = _png_logical_pixels(synth_png_adam7(data, w))
        assert np.array_equal(got_png, want), f"adam7 {w}x{h}"
        assert np.array_equal(
            got_png, _png_logical_pixels(synth_png(data, w))
        )
        got_gif = _gif_logical_pixels(synth_gif(data, w, interlace=True))
        assert np.array_equal(got_gif, want), f"gif interlace {w}x{h}"


def test_interlaced_containers_phash_equal_sequential(spark):
    """Round 14: the container-invariant dHash must not see the
    interlace — Adam7 PNGs and interlaced GIFs hash to the identical
    64 bits as their sequential twins."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        ppm_phash,
        synth_gif,
        synth_png,
        synth_png_adam7,
    )

    rng = np.random.default_rng(15)
    seq_rows, int_rows = [], []
    for i in range(16):
        w = 4 + i % 8
        h = int(rng.integers(1, 20))
        data = rng.integers(0, 256, w * h * 3, dtype=np.uint8).tobytes()
        if i % 2 == 0:
            seq_rows.append((i, synth_png(data, w)))
            int_rows.append((i, synth_png_adam7(data, w)))
        else:
            seq_rows.append((i, synth_gif(data, w)))
            int_rows.append((i, synth_gif(data, w, interlace=True)))
    sdf = spark.createDataFrame(seq_rows, "doc_id long, payload binary")
    idf = spark.createDataFrame(int_rows, "doc_id long, payload binary")
    hs = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(sdf, n_bands=8).collect()}
    hi = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(idf, n_bands=8).collect()}
    assert hs == hi and len(hs) == 16


def test_flac_vector_rice_lane_and_crc_pair_tables(monkeypatch):
    """Round 14 (VERDICT r13 #7): the large-partition vectorized Rice
    lane (orbit-doubling over the terminator jump table) must decode
    real-encoder-sized blocks (4096) bit-identically to the scalar
    path, including spike-quotient content; the 2-byte CRC-16 split
    must equal the bitwise polynomial definition."""
    import numpy as np

    from polars_sim_spark.operators import multimodal as M

    monkeypatch.setattr(M, "_FLAC_PCM_BLOCK", 4096)
    rng = np.random.default_rng(44)
    # random content (moderate quotients) and spiky content (k=0,
    # giant quotients — exercises the window-too-small fallback)
    flat = np.zeros(20000, dtype=np.int64)
    flat[::997] = rng.integers(-30000, 30000, len(flat[::997]))
    for s in (
        rng.integers(-3000, 3000, 20000).astype(np.int64),
        flat,
    ):
        b = M.synth_flac_pcm(s.astype("<i2").tobytes())
        _sr, pcm = M._flac_pcm_samples(b)
        assert np.array_equal(pcm.astype(np.int64), s)

    def crc16_bitwise(data: bytes) -> int:
        crc = 0
        for byte in data:
            crc ^= byte << 8
            for _ in range(8):
                crc = (
                    (crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1
                ) & 0xFFFF
        return crc

    for ln in (0, 1, 2, 7, 64, 255):
        d = bytes(rng.integers(0, 256, ln, dtype=np.uint8))
        assert M._crc16_flac(d) == crc16_bitwise(d), ln


def test_flac_and_wav_depth_widening(spark):
    """Round 14 (VERDICT r13 #8): 24-bit and 8-bit FLAC round-trip
    losslessly through the depth-widened decoder; 8-bit WAV decodes
    with the spec's UNSIGNED offset-128 interpretation (the signed-int8
    misread is the pinned failure mode); 16-bit behavior unchanged."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _flac_pcm_samples,
        media_stats,
        synth_flac_pcm,
        synth_wav,
    )

    rng = np.random.default_rng(24)
    # 24-bit FLAC: full-range samples through every subframe kind
    s24 = rng.integers(-(1 << 23), 1 << 23, 700).astype(np.int64)
    raw24 = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in s24)
    sr, pcm = _flac_pcm_samples(synth_flac_pcm(raw24, bits=24))
    assert sr == 16000 and np.array_equal(pcm.astype(np.int64), s24)
    # 8-bit FLAC (signed, unlike WAV)
    s8 = rng.integers(-128, 128, 700).astype(np.int64)
    sr, pcm = _flac_pcm_samples(
        synth_flac_pcm(bytes(int(v) & 0xFF for v in s8), bits=8)
    )
    assert np.array_equal(pcm.astype(np.int64), s8)
    # 16-bit regression: same bytes, same samples as before the widening
    s16 = rng.integers(-3000, 3000, 700).astype("<i2")
    sr, pcm = _flac_pcm_samples(synth_flac_pcm(s16.tobytes()))
    assert np.array_equal(pcm.astype(np.int64), s16.astype(np.int64))
    # a 16-bit-labeled STREAMINFO with 24-bit frames must drop (code
    # disagreement), not mis-decode
    mixed = bytearray(synth_flac_pcm(raw24, bits=24))
    # STREAMINFO packed u64 starts at byte 4+4+10=18; bits-1 is bits
    # 36..40 of the u64 — patch 24->16 there
    import struct

    (packed,) = struct.unpack_from(">Q", mixed, 18)
    packed = (packed & ~(0x1F << 36)) | ((16 - 1) << 36)
    struct.pack_into(">Q", mixed, 18, packed)
    import pytest

    with pytest.raises(NotImplementedError):
        _flac_pcm_samples(bytes(mixed))

    # 8-bit WAV: unsigned with the zero line at 128
    data = bytes(range(256))  # every byte value once
    wav8 = synth_wav(data, 16000, 1, bits=8)
    df = spark.createDataFrame([(1, bytearray(wav8))], "doc_id long, payload binary")
    row = media_stats(df, "wav8").collect()[0]
    want = np.abs(np.arange(256, dtype=np.int64) - 128)
    assert row["n_frames"] == 256
    assert list(row["sum_abs"]) == [int(want.sum())]
    assert list(row["peak_abs"]) == [int(want.max())]
    # stereo 8-bit interleave
    wav8s = synth_wav(data, 16000, 2, bits=8)
    df = spark.createDataFrame([(1, bytearray(wav8s))], "doc_id long, payload binary")
    row = media_stats(df, "wav8").collect()[0]
    w2 = want.reshape(128, 2)
    assert row["n_frames"] == 128
    assert list(row["sum_abs"]) == [int(x) for x in w2.sum(axis=0)]
    assert list(row["peak_abs"]) == [int(x) for x in w2.max(axis=0)]


def test_jpeg_cmyk_decode_matches_pipeline_replay(spark):
    """Round 14: 4-component (CMYK) baseline JPEG decodes through four
    independent per-ink pipelines with no color transform — pinned
    against a direct numpy replay of the documented fixed-point chain,
    and the stats operator drops 1/3-component payloads."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _JPEG_DCT_T,
        _JPEG_QUANT,
        _jpeg_cmyk_pixels,
        _rha_arr,
        media_stats,
        synth_jpeg,
        synth_jpeg_cmyk,
        synth_jpeg_color,
    )

    rng = np.random.default_rng(40)
    data = bytes(rng.integers(0, 256, 256 * 6 + 100, dtype=np.uint8))
    px = _jpeg_cmyk_pixels(synth_jpeg_cmyk(data))
    nb = len(data) // 256
    src = np.frombuffer(data, np.uint8, nb * 256).reshape(nb, 8, 8, 4)
    T = np.array(_JPEG_DCT_T, dtype=np.int64)
    q = np.array(_JPEG_QUANT, dtype=np.int64).reshape(8, 8)
    for ci in range(4):
        s = src[..., ci].astype(np.int64) - 128
        qc = _rha_arr(T @ s @ T.T, q << 24)
        rec = np.clip(_rha_arr(T.T @ (qc * q) @ T, 1 << 24) + 128, 0, 255)
        assert np.array_equal(
            px[..., ci].reshape(nb, 8, 8).astype(np.int64), rec
        ), ci
    rows = [
        (1, bytearray(synth_jpeg_cmyk(data))),
        (2, bytearray(synth_jpeg(data[:256]))),
        (3, bytearray(synth_jpeg_color(data[:576]))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in media_stats(df, "jpeg_cmyk").collect()}
    assert list(got) == [1]
    flat = px.reshape(-1, 4).astype(np.int64)
    assert list(got[1]["sum_cmyk"]) == [int(x) for x in flat.sum(axis=0)]
    assert list(got[1]["peak_cmyk"]) == [int(x) for x in flat.max(axis=0)]


def test_jpeg_restart_intervals_decode_identically():
    """Round 13: DRI/RSTn streams must reconstruct the exact pixels of
    the restart-free stream (the markers change only the entropy
    layer), across intervals, through marker-cycle wraparound, and the
    broken-sequence / missing-marker cases must drop."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _jpeg_gray_pixels,
        synth_jpeg,
        synth_jpeg_restart,
    )

    rng = np.random.default_rng(5)
    for n in (64, 640, 3000):
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        plain = _jpeg_gray_pixels(synth_jpeg(data))
        for ri in (1, 2, 7):
            got = _jpeg_gray_pixels(synth_jpeg_restart(data, ri))
            assert (got == plain).all(), (n, ri)
    big = rng.integers(0, 256, 64 * 40, dtype=np.uint8).tobytes()
    wrapped = _jpeg_gray_pixels(synth_jpeg_restart(big, 2))  # 20 restarts
    assert (wrapped == _jpeg_gray_pixels(synth_jpeg(big))).all()
    j = bytearray(synth_jpeg_restart(big, 2))
    idx = j.find(b"\xff\xd0")
    j[idx + 1] = 0xD5  # out-of-cycle marker index
    with pytest.raises(NotImplementedError, match="RSTn sequence"):
        _jpeg_gray_pixels(bytes(j))
    del j[idx : idx + 2]  # marker missing entirely
    with pytest.raises(NotImplementedError):
        _jpeg_gray_pixels(bytes(j))
    assert synth_jpeg_restart(bytes(63)) is None


def test_jpeg_progressive_decodes_to_baseline_pixels():
    """Round 13: a complete progressive (SOF2) stream — spectral
    selection + successive approximation, cross-block EOB runs, the
    G.1.2.3 correction-bit refinement — must reconstruct pixels
    byte-identical to the baseline stream (successive approximation is
    lossless once all scans land), across content classes that stress
    different scan machinery."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _jpeg_gray_pixels,
        synth_jpeg,
        synth_jpeg_progressive,
    )

    rng = np.random.default_rng(9)
    cases = {
        "random": rng.integers(0, 256, 3000, dtype=np.uint8).tobytes(),
        "one-block": rng.integers(0, 256, 64, dtype=np.uint8).tobytes(),
        # smooth content drives long EOB runs in the 1..5 band scans
        "smooth": bytes(int(128 + 100 * np.sin(i / 40)) for i in range(64 * 30)),
        "flat": bytes([77]) * (64 * 10),  # everything in DC
        # alternating flat/busy blocks force EOBRUN flush boundaries
        "mixed": (bytes([10]) * 64 + bytes(range(64))) * 12,
    }
    for name, data in cases.items():
        plain = _jpeg_gray_pixels(synth_jpeg(data))
        prog = _jpeg_gray_pixels(synth_jpeg_progressive(data))
        assert (prog == plain).all(), name
    assert synth_jpeg_progressive(bytes(63)) is None
    # a truncated final scan must drop, not return partial pixels
    whole = synth_jpeg_progressive(cases["random"])
    with pytest.raises(NotImplementedError):
        _jpeg_gray_pixels(whole[: len(whole) - 40])
    # progressive 4:2:0: interleaved DC under subsampling + AC scans
    # over per-component grids reconstruct the sequential 4:2:0 pixels
    from polars_sim_spark.operators.multimodal import (
        _jpeg_rgb_pixels,
        synth_jpeg_420,
        synth_jpeg_420_progressive,
    )

    for n in (768, 3100):
        cdata = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert (
            _jpeg_rgb_pixels(synth_jpeg_420_progressive(cdata))
            == _jpeg_rgb_pixels(synth_jpeg_420(cdata))
        ).all(), n
    assert synth_jpeg_420_progressive(bytes(767)) is None


def test_flac_pcm_roundtrip_all_subframe_types(spark):
    """Round 13 (VERDICT r12 #6): the hand-written FLAC decoder must
    losslessly invert synth_flac_pcm across constant / verbatim /
    LPC / fixed-order subframes, multi-frame streams, and partial last
    blocks; CRC corruption and reserved subframe types must drop; the
    envelope hash must be container-invariant (WAV twin == FLAC
    twin)."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _FLAC_PCM_BLOCK,
        _flac_pcm_samples,
        media_stats,
        synth_flac_pcm,
        synth_wav,
        wav_phash,
    )

    rng = np.random.default_rng(31)
    cases = {
        "random": rng.integers(-32768, 32768, 1234, dtype=np.int16),
        "ramp": np.arange(-600, 600, dtype=np.int16),
        "constant": np.full(700, -1234, dtype=np.int16),
        "smooth": (1000 * np.sin(np.arange(2000) / 25)).astype(np.int16),
        "tiny": np.array([7], dtype=np.int16),
        "extremes": np.array([-32768, 32767] * 300, dtype=np.int16),
    }
    for name, want in cases.items():
        flac = synth_flac_pcm(want.tobytes())
        sr, got = _flac_pcm_samples(flac)
        assert sr == 16000 and (got == want).all(), name
    # multi-frame stream exercises verbatim + LPC + all fixed orders
    long = rng.integers(-2000, 2000, _FLAC_PCM_BLOCK * 5 + 37, dtype=np.int16)
    sr, got = _flac_pcm_samples(synth_flac_pcm(long.tobytes()))
    assert (got == long).all()
    # frame index 1 of any non-flat multi-frame stream is an LPC
    # subframe by the fixture cycle, so the round trip above fails if
    # the decoder's coefficient/shift/warmup plumbing regresses
    stream = synth_flac_pcm(long.tobytes())
    assert synth_flac_pcm(b"x") is None
    # CRC gates: flip one payload bit -> frame CRC-16 mismatch drops
    broken = bytearray(stream)
    broken[-20] ^= 0x10
    with pytest.raises(NotImplementedError, match="CRC"):
        _flac_pcm_samples(bytes(broken))
    # container invariance: same samples -> same envelope hash
    pcm = cases["smooth"].tobytes()
    df = spark.createDataFrame(
        [(0, bytearray(synth_wav(pcm, 16000, 1))), (1, bytearray(synth_flac_pcm(pcm)))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r["phash_hex"] for r in wav_phash(df).collect()}
    assert rows[0] == rows[1]
    # stats operator: exact integers off the decoded samples
    st = {r["doc_id"]: r for r in media_stats(df, "flac_pcm").collect()}
    assert list(st) == [1]  # the WAV payload is dropped by the FLAC op
    amp = np.abs(cases["smooth"].astype(np.int64))
    assert st[1]["n_samples"] == len(amp)
    assert st[1]["sum_abs"] == int(amp.sum())
    assert st[1]["peak_abs"] == int(amp.max())


def test_flac_stereo_decorrelation_roundtrip(spark):
    """Round 13: stereo FLAC must losslessly invert synth_flac_stereo
    across ALL FOUR channel assignments (independent, left/side,
    right/side, mid/side — the fixture cycles one per frame, so any
    ≥4-frame stream covers them), including the side channel's 17th
    bit at extreme amplitudes and mid's parity-restored low bit."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _FLAC_PCM_BLOCK,
        _flac_decode,
        _flac_pcm_samples,
        media_stats,
        synth_flac_stereo,
    )

    rng = np.random.default_rng(23)
    # ≥4 frames → every assignment exercised; odd tail frame too
    n = _FLAC_PCM_BLOCK * 4 + 29
    pcm = rng.integers(-32768, 32768, (n, 2), dtype=np.int16)
    fl = synth_flac_stereo(pcm.tobytes())
    sr, ch, got = _flac_decode(fl)
    assert (sr, ch) == (16000, 2) and (got == pcm).all()
    # side channel saturation: L−R spans the full 17-bit range
    extreme = np.array([[-32768, 32767], [32767, -32768]] * 300, dtype=np.int16)
    _sr, _ch, got2 = _flac_decode(synth_flac_stereo(extreme.tobytes()))
    assert (got2 == extreme).all()
    # the mono wrapper refuses stereo (its consumers assume 1-D)
    with pytest.raises(NotImplementedError, match="stereo"):
        _flac_pcm_samples(fl)
    assert synth_flac_stereo(b"abc") is None
    # stats operator: exact per-channel integers
    df = spark.createDataFrame([(5, bytearray(fl))], "doc_id long, payload binary")
    row = media_stats(df, "flac_stereo").collect()[0]
    amp = np.abs(pcm.astype(np.int64))
    assert row["n_frames"] == n
    assert row["sum_abs_ch1"] == int(amp[:, 0].sum())
    assert row["sum_abs_ch2"] == int(amp[:, 1].sum())
    assert row["peak_abs_ch1"] == int(amp[:, 0].max())
    assert row["peak_abs_ch2"] == int(amp[:, 1].max())


def test_flac_multi_partition_and_escaped_residuals_decode():
    """Round 13: the decoder's GENERIC residual machinery — partition
    order > 0 (per-partition Rice parameters) and the 5-bit Rice2
    method with the escaped-raw-residual case — decodes correctly even
    though the repo's own fixtures only emit order-0 4-bit partitions.
    The stream here is hand-assembled with the module's writer/CRC
    primitives, so this is a spec-layout pin, not a round trip of the
    fixture encoder."""
    import struct

    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _MsbBitWriter,
        _crc16_flac,
        _crc8_flac,
        _flac_decode,
        _flac_utf8,
    )

    rng = np.random.default_rng(29)
    bs = 64
    samples = rng.integers(-3000, 3000, bs, dtype=np.int64)
    order = 1
    res = np.diff(samples, n=order)  # 63 residuals

    def build(method: int, porder: int, escape_first: bool) -> bytes:
        packed = (16000 << 44) | (0 << 41) | ((16 - 1) << 36) | bs
        streaminfo = (
            struct.pack(">HH", bs, bs)
            + (0).to_bytes(3, "big") * 2
            + struct.pack(">Q", packed)
            + b"\x00" * 16
        )
        hdr = bytearray(b"\xff\xf8")
        hdr.append((0x07 << 4) | 0x00)
        hdr.append((0x00 << 4) | (0x04 << 1))
        hdr += _flac_utf8(0)
        hdr += struct.pack(">H", bs - 1)
        hdr.append(_crc8_flac(bytes(hdr)))
        w = _MsbBitWriter()
        w.put((0x08 | order) << 1, 8)  # FIXED order 1
        w.put(int(samples[0]) & 0xFFFF, 16)
        pbits = 4 if method == 0 else 5
        w.put(method, 2)
        w.put(porder, 4)
        # partition j holds (bs >> porder) residuals, minus the warmup
        # in partition 0
        idx = 0
        for part in range(1 << porder):
            cnt = (bs >> porder) - (order if part == 0 else 0)
            chunk = res[idx : idx + cnt]
            idx += cnt
            if escape_first and part == 0:
                w.put((1 << pbits) - 1, pbits)  # escape sentinel
                w.put(14, 5)  # 14-bit raw two's-complement residuals
                for v in chunk.tolist():
                    w.put(v & 0x3FFF, 14)
                continue
            u = np.where(chunk >= 0, 2 * chunk, -2 * chunk - 1)
            k = min(
                range(15),
                key=lambda kk: int(np.sum(u >> kk)) + len(u) * (kk + 1),
            )
            w.put(k, pbits)
            for uv in u.tolist():
                w.put(1, (int(uv) >> k) + 1)
                if k:
                    w.put(int(uv) & ((1 << k) - 1), k)
        frame = bytes(hdr) + w.close()
        return (
            b"fLaC"
            + bytes([0x80, 0, 0, 34])
            + streaminfo
            + frame
            + struct.pack(">H", _crc16_flac(frame))
        )

    for method, porder, esc in (
        (0, 1, False),  # two 4-bit Rice partitions
        (0, 2, False),  # four partitions
        (1, 1, False),  # 5-bit Rice2 parameters
        (0, 1, True),  # escaped raw residuals in partition 0
        (1, 2, True),
    ):
        sr, ch, got = _flac_decode(build(method, porder, esc))
        assert (got[:, 0] == samples).all(), (method, porder, esc)


def test_audio_twin_corpus_pairs_every_doc_across_containers(spark):
    """Round 14: the twin corpus (WAV at doc_id, FLAC at doc_id + 10^6,
    identical samples) must yield exactly one Hamming-0 cross-container
    pair per attachable doc under the 4×16-bit / d≤3 scale geometry —
    the container-invariance contract stated as a pair set."""
    from polars_sim_spark.operators import dedup
    from polars_sim_spark.operators.multimodal import (
        AUDIO_TWIN_OFFSET,
        attach_payload,
        wav_phash,
    )

    rows = [(i, f"sample text payload number {i} " * (2 + i % 5)) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ph = wav_phash(attach_payload(docs, "audio_twin"), n_bands=4)
    pairs = dedup.phash_near_pairs(
        ph,
        id_col="doc_id",
        band_cols=("band0", "band1", "band2", "band3"),
        max_dist=3,
    ).collect()
    twin = {
        (r["l_id"], r["r_id"])
        for r in pairs
        if r["r_id"] - r["l_id"] == AUDIO_TWIN_OFFSET and r["hamming"] == 0
    }
    assert len(twin) == 20  # every doc pairs with its own twin exactly


def test_stream_phash_audio_gate_accepts_flac(spark):
    """Round 13: the streaming audio ingest gate hashes FLAC payloads
    through the same container-invariant envelope as WAV — a known WAV
    clip registered in the reference set must match the SAME audio
    arriving as a FLAC stream."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        synth_flac_pcm,
        synth_wav,
        wav_phash,
    )

    pcm = (2500 * np.sin(np.arange(900) / 18)).astype(np.int16).tobytes()
    df = spark.createDataFrame(
        [(0, bytearray(synth_wav(pcm, 16000, 1))), (1, bytearray(synth_flac_pcm(pcm)))],
        "doc_id long, payload binary",
    )
    hashes = {r["doc_id"]: tuple(r[f"band{j}"] for j in range(4)) for r in wav_phash(df).collect()}
    assert hashes[0] == hashes[1]  # gate keys on bands: identical -> match


def test_wav_phash_stereo_flac_matches_stereo_wav(spark):
    """Round 14: a STEREO clip must hash identically as stereo WAV and
    stereo FLAC — the envelope is defined on channel 0, and dropping
    the FLAC form (the pre-fix behavior: the route used the mono-only
    wrapper) was container-dependent behavior."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        synth_flac_stereo,
        synth_wav,
        wav_phash,
    )

    rng = np.random.default_rng(3)
    rows_w, rows_f = [], []
    for i in range(10):
        n = 2 * int(rng.integers(40, 600))
        st = rng.integers(-3000, 3000, n).astype("<i2")
        rows_w.append((i, synth_wav(st.tobytes(), 16000, 2)))
        rows_f.append((i, synth_flac_stereo(st.tobytes())))
    hw = {
        r["doc_id"]: r["phash_hex"]
        for r in wav_phash(
            spark.createDataFrame(rows_w, "doc_id long, payload binary")
        ).collect()
    }
    hf = {
        r["doc_id"]: r["phash_hex"]
        for r in wav_phash(
            spark.createDataFrame(rows_f, "doc_id long, payload binary")
        ).collect()
    }
    assert hw == hf and len(hw) == 10


def test_stream_phash_audio_gate_accepts_mp3(spark):
    """Round 14: the same gate accepts MP3 — audio arriving as a
    profile Layer III stream hashes to the identical envelope bands as
    a WAV carrying the stream's decoded PCM, so a known clip in the
    reference set matches its MP3 ingest form."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _mp3_decode,
        synth_mp3_pcm,
        synth_wav,
        wav_phash,
    )

    rng = np.random.default_rng(5)
    mp3 = synth_mp3_pcm(bytes(rng.integers(0, 256, 144, dtype=np.uint8)))
    _sr, pcm = _mp3_decode(mp3)
    df = spark.createDataFrame(
        [
            (0, bytearray(synth_wav(pcm.astype("<i2").tobytes(), 32000, 1))),
            (1, bytearray(mp3)),
        ],
        "doc_id long, payload binary",
    )
    hashes = {
        r["doc_id"]: tuple(r[f"band{j}"] for j in range(4))
        for r in wav_phash(df).collect()
    }
    assert hashes[0] == hashes[1]


def test_flac_header_parse_inverts_synth():
    """Round 12 (VERDICT r11 #7): the STREAMINFO bit-field unpack must
    invert synth_flac exactly and reject non-FLAC payloads."""
    import pytest

    from polars_sim_spark.operators.multimodal import _try_flac_header, synth_flac

    for sr in (16000, 32000, 48000):
        for ch in (1, 2):
            data = bytes(i % 199 for i in range(1234))
            flac = synth_flac(data, sr, ch)
            assert len(flac) == len(data) + 42
            assert _try_flac_header(flac) == (sr, ch, len(data) * 1000 // sr)
    assert synth_flac(b"", 16000, 1) is None
    with pytest.raises(NotImplementedError):
        _try_flac_header(b"fLaX wrong marker")
    with pytest.raises(NotImplementedError):
        _try_flac_header(b"fLaC" + bytes([0x80, 0, 0, 34]) + b"\x00" * 10)


def test_jpeg_roundtrip_matches_fixedpoint_pipeline():
    """Round 12: baseline-JPEG decode must invert this module's encoder
    EXACTLY per the documented fixed-point profile — the entropy layer
    (canonical Huffman, zigzag, DC prediction, 0xFF stuffing) is
    lossless, so decoded pixels must equal the pure per-block
    DCT→quantize→dequantize→IDCT reference bypassing entropy coding."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _JPEG_QUANT,
        _JPEG_ZIGZAG,
        _jpeg_block_pipeline,
        _jpeg_gray_pixels,
        synth_jpeg,
    )

    assert _JPEG_ZIGZAG[:6] == ((0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2))
    assert len(set(_JPEG_ZIGZAG)) == 64
    rng = np.random.default_rng(3)
    stuffed = False
    for trial in range(20):
        n = int(rng.integers(64, 2000))
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        jp = synth_jpeg(data)
        stuffed = stuffed or b"\xff\x00" in jp
        got = _jpeg_gray_pixels(jp)
        nb = n // 64
        assert got.shape == (nb * 8, 8)
        for b in range(nb):
            block = np.frombuffer(data, np.uint8, 64, b * 64).reshape(8, 8)
            _zz, pix = _jpeg_block_pipeline(block, _JPEG_QUANT)
            assert (got[b * 8 : (b + 1) * 8, :] == pix).all(), (trial, b)
    assert stuffed  # at least one fixture exercised 0xFF00 byte stuffing
    # constant mid-gray block: every coefficient quantizes to 0
    assert (_jpeg_gray_pixels(synth_jpeg(bytes([128] * 128))) == 128).all()
    assert synth_jpeg(b"x" * 63) is None  # no full block
    with pytest.raises(NotImplementedError):
        _jpeg_gray_pixels(b"not a jpeg")
    # SOF2 (progressive) decodes since round 13; lossless (SOF3) stays
    # gated by the drop contract.
    with pytest.raises(NotImplementedError, match="SOF0"):
        _jpeg_gray_pixels(b"\xff\xd8\xff\xc3\x00\x05\x08\x00\x00")  # SOF3


def test_jpeg_pixel_stats_spark_path(spark):
    """The Arrow gray-JPEG stats reader (codec "jpeg"): decoded sums/peaks match the
    per-block reference, non-JPEG payloads drop."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _JPEG_QUANT,
        _jpeg_block_pipeline,
        media_stats,
        synth_jpeg,
    )

    rng = np.random.default_rng(11)
    rows, want = [], {}
    for i in range(8):
        data = rng.integers(0, 256, int(rng.integers(64, 900)), dtype=np.uint8).tobytes()
        rows.append((i, synth_jpeg(data)))
        nb = len(data) // 64
        tot, peak = 0, 0
        for b in range(nb):
            block = np.frombuffer(data, np.uint8, 64, b * 64).reshape(8, 8)
            _zz, pix = _jpeg_block_pipeline(block, _JPEG_QUANT)
            tot += int(pix.astype("int64").sum())
            peak = max(peak, int(pix.max()))
        want[i] = (8, nb * 8, tot, peak)
    rows.append((99, b"not a jpeg"))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["width"], r["height"], r["sum_gray"], r["peak_gray"])
        for r in media_stats(df, "jpeg").collect()
    }
    assert got == want


def test_jpeg_color_roundtrip_and_spark_stats(spark):
    """Round 12: COLOR JPEG (YCbCr 4:4:4) — decoded RGB must equal the
    per-block reference (color transform -> 3x fixed-point pipeline ->
    inverse transform), interleaved-MCU order and per-component DC
    predictors included; gray and color payloads must route to their
    own stats operators only."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _JPEG_QUANT,
        _jpeg_block_pipeline,
        _jpeg_gray_pixels,
        _jpeg_rgb_pixels,
        _rgb_to_ycc,
        _ycc_to_rgb,
        media_stats,
        synth_jpeg,
        synth_jpeg_color,
    )

    rng = np.random.default_rng(21)
    rows, want = [], {}
    for i in range(6):
        n = int(rng.integers(192, 2500))
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        jp = synth_jpeg_color(data)
        got = _jpeg_rgb_pixels(jp)
        nb = n // 192
        assert got.shape == (nb * 8, 8, 3)
        tot, peak = np.zeros(3, dtype=np.int64), np.zeros(3, dtype=np.int64)
        for b in range(nb):
            px = np.frombuffer(data, np.uint8, 192, b * 192).reshape(8, 8, 3)
            comps = _rgb_to_ycc(
                px[:, :, 0].astype(np.int64),
                px[:, :, 1].astype(np.int64),
                px[:, :, 2].astype(np.int64),
            )
            recon = [
                _jpeg_block_pipeline(c, _JPEG_QUANT)[1].astype(np.int64)
                for c in comps
            ]
            ref = np.stack(_ycc_to_rgb(*recon), axis=2)
            assert (got[b * 8 : (b + 1) * 8] == ref).all(), (i, b)
            tot += ref.reshape(64, 3).astype(np.int64).sum(axis=0)
            peak = np.maximum(peak, ref.reshape(64, 3).max(axis=0))
        rows.append((i, jp))
        want[i] = (8, nb * 8, [int(x) for x in tot], [int(x) for x in peak])
    rows.append((90, synth_jpeg(bytes(range(128)))))  # gray: dropped here
    rows.append((91, b"not a jpeg"))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got_stats = {
        r["doc_id"]: (r["width"], r["height"], list(r["sum_rgb"]), list(r["peak_rgb"]))
        for r in media_stats(df, "jpeg_color").collect()
    }
    assert got_stats == want
    with pytest.raises(NotImplementedError):
        _jpeg_gray_pixels(synth_jpeg_color(bytes(300)))


def test_jpeg_420_roundtrip_and_spark_stats(spark):
    """Round 13 (VERDICT r12 #1): 4:2:0 chroma-subsampled JPEG — the
    generalized MCU walk (four luma blocks + one block per decimated
    chroma, raster order, per-component DC predictors) plus the exact
    nearest-neighbor upsample must reproduce the per-block reference
    replay byte-for-byte; 4:4:4 and grayscale must be unaffected."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _JPEG_QUANT,
        _jpeg_block_pipeline,
        _jpeg_decode,
        _jpeg_rgb_pixels,
        _rgb_to_ycc,
        _ycc_to_rgb,
        media_stats,
        synth_jpeg_420,
    )

    def reference_rgb(data: bytes) -> np.ndarray:
        nm = len(data) // 768
        px = np.frombuffer(data, np.uint8, nm * 768).reshape(nm * 16, 16, 3)
        y, cb, cr = _rgb_to_ycc(
            px[:, :, 0].astype(np.int64),
            px[:, :, 1].astype(np.int64),
            px[:, :, 2].astype(np.int64),
        )
        cb_s, cr_s = cb[0::2, 0::2], cr[0::2, 0::2]

        def recon(plane, bh, bw):
            out = np.zeros((bh * 8, bw * 8), dtype=np.int64)
            for by in range(bh):
                for bx in range(bw):
                    out[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = (
                        _jpeg_block_pipeline(
                            plane[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8],
                            _JPEG_QUANT,
                        )[1]
                    )
            return out

        yr = recon(y, nm * 2, 2)
        cbr = np.repeat(np.repeat(recon(cb_s, nm, 1), 2, axis=0), 2, axis=1)
        crr = np.repeat(np.repeat(recon(cr_s, nm, 1), 2, axis=0), 2, axis=1)
        return np.stack(_ycc_to_rgb(yr, cbr, crr), axis=2)

    rng = np.random.default_rng(13)
    rows, want = [], {}
    for i in range(5):
        n = int(rng.integers(768, 4000))
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        jp = synth_jpeg_420(data)
        # SOF declares the 4:2:0 sampling factors
        assert b"\x22" in jp
        got = _jpeg_rgb_pixels(jp)
        ref = reference_rgb(data)
        nm = n // 768
        assert got.shape == (nm * 16, 16, 3)
        assert (got == ref).all(), i
        flat = ref.reshape(-1, 3).astype(np.int64)
        rows.append((i, jp))
        want[i] = (
            16,
            nm * 16,
            [int(x) for x in flat.sum(axis=0)],
            [int(x) for x in flat.max(axis=0)],
        )
    assert synth_jpeg_420(bytes(767)) is None  # below one MCU
    # flat 2x2 groups invert the lossy chroma path's decimation exactly:
    # a constant image reconstructs to a constant image
    const = bytes([120, 64, 200] * 256)
    cj = _jpeg_rgb_pixels(synth_jpeg_420(const))
    assert (cj == cj[0, 0]).all()
    # the Spark stats operator consumes 4:2:0 streams unchanged
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got_stats = {
        r["doc_id"]: (r["width"], r["height"], list(r["sum_rgb"]), list(r["peak_rgb"]))
        for r in media_stats(df, "jpeg_color").collect()
    }
    assert got_stats == want
    # 4:2:2 (x-only decimation): decoded RGB equals the per-block
    # replay with a HORIZONTAL-only replication
    from polars_sim_spark.operators.multimodal import synth_jpeg_422

    data422 = rng.integers(0, 256, 800, dtype=np.uint8).tobytes()
    jp422 = synth_jpeg_422(data422)
    got422 = _jpeg_rgb_pixels(jp422)
    nm = len(data422) // 384
    px = np.frombuffer(data422, np.uint8, nm * 384).reshape(nm * 8, 16, 3)
    y, cb, cr = _rgb_to_ycc(
        px[:, :, 0].astype(np.int64),
        px[:, :, 1].astype(np.int64),
        px[:, :, 2].astype(np.int64),
    )

    def recon422(plane, bh, bw):
        out = np.zeros((bh * 8, bw * 8), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                out[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = (
                    _jpeg_block_pipeline(
                        plane[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8],
                        _JPEG_QUANT,
                    )[1]
                )
        return out

    ref422 = np.stack(
        _ycc_to_rgb(
            recon422(y, nm, 2),
            np.repeat(recon422(cb[:, 0::2], nm, 1), 2, axis=1),
            np.repeat(recon422(cr[:, 0::2], nm, 1), 2, axis=1),
        ),
        axis=2,
    )
    assert got422.shape == (nm * 8, 16, 3) and (got422 == ref422).all()
    assert synth_jpeg_422(bytes(383)) is None
    # sampling factors beyond 2 stay gated
    bad = bytearray(synth_jpeg_420(bytes(range(256)) * 3))
    sof = bad.find(b"\xff\xc0")
    assert bad[sof + 11] == 0x22
    bad[sof + 11] = 0x33
    with pytest.raises(NotImplementedError, match="sampling factors"):
        _jpeg_decode(bytes(bad))


def test_inflate_property_random_payloads():
    """Hypothesis sweep (round 12): the hand-written DEFLATE decoder
    must invert stdlib zlib.compress for arbitrary byte payloads at
    arbitrary levels — repeats, runs, empty tails, and the block-type
    mix the compressor chooses are all adversarially shrunk."""
    import zlib

    from hypothesis import given, settings, strategies as st

    from polars_sim_spark.operators.multimodal import _zlib_inflate

    @settings(max_examples=120, deadline=None)
    @given(
        payload=st.binary(max_size=3000),
        level=st.integers(min_value=0, max_value=9),
    )
    def check(payload: bytes, level: int) -> None:
        assert _zlib_inflate(zlib.compress(payload, level)) == payload

    check()


def test_flac_pcm_property_random_samples():
    """Hypothesis sweep (round 13): the FLAC decoder must losslessly
    invert synth_flac_pcm for arbitrary int16 sample streams —
    adversarially shrunk lengths hit every subframe kind in the
    fixture cycle (verbatim / LPC / fixed), partial last blocks, and
    the constant fast path."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from polars_sim_spark.operators.multimodal import (
        _flac_pcm_samples,
        synth_flac_pcm,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        samples=st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=1,
            max_size=700,
        )
    )
    def check(samples: list) -> None:
        want = np.asarray(samples, dtype=np.int16)
        sr, got = _flac_pcm_samples(synth_flac_pcm(want.tobytes()))
        assert sr == 16000 and (got == want).all()

    check()


def test_flac_stereo_property_random_samples():
    """Hypothesis sweep (round 13): stereo FLAC must losslessly invert
    synth_flac_stereo for arbitrary interleaved int16 streams —
    shrunk lengths cover every channel assignment in the fixture
    cycle, the 17-bit side-channel extremes, and partial last
    frames."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from polars_sim_spark.operators.multimodal import (
        _flac_decode,
        synth_flac_stereo,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        frames=st.lists(
            st.tuples(
                st.integers(min_value=-32768, max_value=32767),
                st.integers(min_value=-32768, max_value=32767),
            ),
            min_size=1,
            max_size=600,
        )
    )
    def check(frames: list) -> None:
        want = np.asarray(frames, dtype=np.int16)
        sr, ch, got = _flac_decode(synth_flac_stereo(want.tobytes()))
        assert (sr, ch) == (16000, 2) and (got == want).all()

    check()


def test_jpeg_progressive_property_random_pixels():
    """Hypothesis sweep (round 13): progressive reconstruction must
    equal baseline reconstruction for arbitrary pixel payloads — the
    EOB-run accounting and correction-bit protocol have no partial
    failure mode that a fixed seed could mask."""
    from hypothesis import given, settings, strategies as st

    from polars_sim_spark.operators.multimodal import (
        _jpeg_gray_pixels,
        synth_jpeg,
        synth_jpeg_progressive,
    )

    @settings(max_examples=40, deadline=None)
    @given(payload=st.binary(min_size=64, max_size=1600))
    def check(payload: bytes) -> None:
        assert (
            _jpeg_gray_pixels(synth_jpeg_progressive(payload))
            == _jpeg_gray_pixels(synth_jpeg(payload))
        ).all()

    check()


def test_jpeg_entropy_property_random_blocks():
    """Hypothesis sweep (round 12): the JPEG entropy layer (Huffman +
    DC prediction + ZRL/EOB + stuffing) must losslessly round-trip the
    quantized coefficients for arbitrary pixel blocks — decode equals
    the per-block fixed-point reference on adversarially shrunk
    payloads."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from polars_sim_spark.operators.multimodal import (
        _JPEG_QUANT,
        _jpeg_block_pipeline,
        _jpeg_gray_pixels,
        synth_jpeg,
    )

    @settings(max_examples=60, deadline=None)
    @given(data=st.binary(min_size=64, max_size=640))
    def check(data: bytes) -> None:
        got = _jpeg_gray_pixels(synth_jpeg(data))
        nb = len(data) // 64
        for b in range(nb):
            block = np.frombuffer(data, np.uint8, 64, b * 64).reshape(8, 8)
            _zz, pix = _jpeg_block_pipeline(block, _JPEG_QUANT)
            assert (got[b * 8 : (b + 1) * 8, :] == pix).all()

    check()


# ---------------------------------------------------------------------------
# RIFF AVI container (round 14: the second video container)
# ---------------------------------------------------------------------------


def test_avi_mjpeg_round_trip():
    from polars_sim_spark.operators.multimodal import (
        _parse_avi_frames,
        synth_avi_mjpeg,
    )

    # odd-length frames exercise the RIFF word-alignment rule
    frames = [b"\xff\xd8" + bytes(range(k + 1)) + b"\xff\xd9" for k in range(5)]
    avi = synth_avi_mjpeg(frames, 12, 7)
    w, h, spans = _parse_avi_frames(avi)
    assert (w, h) == (12, 7)
    assert [avi[o : o + s] for o, s in spans] == frames


def test_avi_malformed_drops():
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _parse_avi_frames,
        synth_avi_mjpeg,
    )

    avi = synth_avi_mjpeg([b"\xff\xd8QQ\xff\xd9"], 8, 8)
    for bad in (b"", b"nonsense bytes here", b"RIFF\x08\x00\x00\x00WAVEdata", avi[:44]):
        with pytest.raises(NotImplementedError):
            _parse_avi_frames(bad)


def test_synth_mp4_frame_sizes_and_codec():
    import pytest

    from polars_sim_spark.operators.multimodal import (
        FRAME_BYTES,
        _parse_mp4_samples,
        synth_mp4,
    )

    data = bytes((7 * i) % 256 for i in range(150))
    # explicit sizes equal to the default cut reproduce the default bytes
    cut = [FRAME_BYTES, FRAME_BYTES, len(data) - 2 * FRAME_BYTES]
    assert synth_mp4(data, 4, 4, 120) == synth_mp4(
        data, 4, 4, 120, frame_sizes=cut, codec=b"mp4v"
    )
    # variable sizes round-trip through the sample-table walk
    sizes = [10, 100, 40]
    m4 = synth_mp4(data, 4, 4, 120, frame_sizes=sizes, codec=b"raw ")
    got = _parse_mp4_samples(m4)
    assert [s for _o, s, _t in got] == sizes
    pos = 0
    for (o, s, _t) in got:
        assert m4[o : o + s] == data[pos : pos + s]
        pos += s
    with pytest.raises(ValueError):
        synth_mp4(data, 4, 4, 120, frame_sizes=[10, 10])  # doesn't sum
    with pytest.raises(ValueError):
        synth_mp4(data, 4, 4, 120, codec=b"toolong")


def test_avi_hostile_nesting_drops_not_crashes():
    import struct

    import pytest

    from polars_sim_spark.operators.multimodal import _parse_avi_frames

    # 5000 nested LISTs: must hit the drop contract, not RecursionError
    inner = b"strl"
    for _ in range(5000):
        inner = b"LIST" + struct.pack("<I", len(inner)) + inner
    avi = b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"AVI " + inner
    with pytest.raises(NotImplementedError):
        _parse_avi_frames(avi)


# ---------------------------------------------------------------------------
# TIFF container (round 14: the sixth codec-free image container)
# ---------------------------------------------------------------------------


def test_tiff_round_trip_all_variants():
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _tiff_logical_pixels,
        synth_tiff,
    )

    rng = np.random.default_rng(11)
    for trial in range(40):
        w = int(rng.integers(1, 13))
        n = int(rng.integers(3, 700))
        data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        h = (n // 3) // w
        for be in (False, True):
            for pb in (False, True):
                for rps in (None, 1, max(1, h // 2)):
                    t = synth_tiff(
                        data, w, big_endian=be, packbits=pb, rows_per_strip=rps
                    )
                    if h < 1:
                        assert t is None
                        continue
                    used = h * w * 3
                    expect = np.frombuffer(data[:used], np.uint8).reshape(h, w, 3)
                    assert (_tiff_logical_pixels(t) == expect).all(), (
                        trial, be, pb, rps,
                    )


def test_packbits_round_trip():
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
    )

    rng = np.random.default_rng(12)
    for _ in range(100):
        n = int(rng.integers(0, 600))
        alphabet = 3 if rng.random() < 0.5 else 256  # runs vs literals
        row = bytes(rng.integers(0, alphabet, n, dtype=np.uint8))
        assert _packbits_decode(_packbits_encode(row), n) == row
    # spec cases: max-length run and literal group boundaries
    assert _packbits_decode(_packbits_encode(b"\x07" * 300), 300) == b"\x07" * 300
    lit = bytes(range(250)) + bytes(range(6))
    assert _packbits_decode(_packbits_encode(lit), 256) == lit


def test_tiff_malformed_drops():
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _tiff_logical_pixels,
        synth_tiff,
    )

    good = synth_tiff(bytes(range(90)), 5)
    for bad in (
        b"",
        b"not a tiff at all",
        b"II+\x00\x08\x00\x00\x00",  # BigTIFF magic 43
        good[:30],  # IFD truncated away
        good[:2] + b"\x2a\x00" + b"\xff\xff\xff\x7f" + good[8:],  # IFD off OOB
    ):
        with pytest.raises(NotImplementedError):
            _tiff_logical_pixels(bad)


def test_tiff_hostile_structures_drop_not_crash():
    """Review findings (round 14): zero-count IFD entries and planar
    (PlanarConfiguration=2) TIFFs must hit the drop contract, never
    IndexError or silently-scrambled pixels."""
    import struct

    import pytest

    from polars_sim_spark.operators.multimodal import (
        _tiff_logical_pixels,
        synth_tiff,
    )

    good = synth_tiff(bytes(range(90)), 5)

    def patch_entry(t: bytes, tag: int, count=None, value=None) -> bytes:
        ifd_off = struct.unpack_from("<I", t, 4)[0]
        n = struct.unpack_from("<H", t, ifd_off)[0]
        out = bytearray(t)
        for k in range(n):
            ep = ifd_off + 2 + 12 * k
            if struct.unpack_from("<H", t, ep)[0] == tag:
                if count is not None:
                    struct.pack_into("<I", out, ep + 4, count)
                if value is not None:
                    struct.pack_into("<I", out, ep + 8, value)
                return bytes(out)
        raise AssertionError(f"tag {tag} not found")

    # zero-count ImageWidth / Compression entries -> drop
    for tag in (256, 259):
        with pytest.raises(NotImplementedError):
            _tiff_logical_pixels(patch_entry(good, tag, count=0))
    # planar configuration: append a 284=2 entry by patching an unused
    # path — simplest: rebuild IFD is overkill, patch SamplesPerPixel's
    # tag id to 284 with value 2 (spp then defaults to 1, photometric
    # stays 2 -> the planar check must fire before the spp mismatch)
    ifd_off = struct.unpack_from("<I", good, 4)[0]
    n = struct.unpack_from("<H", good, ifd_off)[0]
    out = bytearray(good)
    for k in range(n):
        ep = ifd_off + 2 + 12 * k
        if struct.unpack_from("<H", good, ep)[0] == 277:
            struct.pack_into("<H", out, ep, 284)
            struct.pack_into("<H", out, ep + 8, 2)
    with pytest.raises(NotImplementedError):
        _tiff_logical_pixels(bytes(out))


def test_tiff_property_round_trip():
    """Hypothesis sweep (round 14): the TIFF decoder must invert
    synth_tiff for arbitrary payloads across both byte orders, both
    compressions and arbitrary strip cuts — adversarially shrunk
    widths hit 1-pixel rows, single-row strips and partial tails."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from polars_sim_spark.operators.multimodal import (
        _tiff_logical_pixels,
        synth_tiff,
    )

    @settings(max_examples=80, deadline=None)
    @given(
        payload=st.binary(min_size=3, max_size=1500),
        width=st.integers(min_value=1, max_value=12),
        big_endian=st.booleans(),
        packbits=st.booleans(),
        rps=st.integers(min_value=1, max_value=8),
    )
    def check(payload, width, big_endian, packbits, rps) -> None:
        t = synth_tiff(
            payload, width, big_endian=big_endian, packbits=packbits,
            rows_per_strip=rps,
        )
        h = (len(payload) // 3) // width
        if h < 1:
            assert t is None
            return
        used = h * width * 3
        expect = np.frombuffer(payload[:used], np.uint8).reshape(h, width, 3)
        assert (_tiff_logical_pixels(t) == expect).all()

    check()


def test_packbits_property_round_trip():
    """Hypothesis sweep: PackBits decode inverts encode for arbitrary
    byte rows (runs, literals, 128-boundaries shrunk adversarially)."""
    from hypothesis import given, settings, strategies as st

    from polars_sim_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
    )

    @settings(max_examples=200, deadline=None)
    @given(row=st.binary(max_size=1200))
    def check(row: bytes) -> None:
        assert _packbits_decode(_packbits_encode(row), len(row)) == row

    check()


def test_pgm_p5_decodes_and_matches_replicated_ppm():
    """Round 14: binary PGM (P5) — the grayscale netpbm twin — decodes
    through the shared chain, replicating gray to RGB exactly like the
    other single-channel paths."""
    import numpy as np
    import pytest

    from polars_sim_spark.operators.multimodal import (
        _any_logical_pixels,
        _ppm_logical_pixels,
    )

    gray = bytes((7 * k + 3) % 256 for k in range(35))  # 7x5
    pgm = b"P5\n# comment\n7 5\n255\n" + gray
    px = _ppm_logical_pixels(pgm)
    expect = np.repeat(
        np.frombuffer(gray, np.uint8).reshape(5, 7, 1), 3, axis=2
    )
    assert (px == expect).all()
    assert (_any_logical_pixels(pgm) == expect).all()
    # truncated P5 still drops
    with pytest.raises(NotImplementedError):
        _ppm_logical_pixels(pgm[:-10])
