"""Perceptual-hash image dedup (operators/multimodal.ppm_phash +
operators/dedup.phash_near_pairs): the Spark hash is bit-pinned against a
pure-python/numpy dHash reference, and the banded Hamming join is pinned
against brute-force all-pairs — the pigeonhole recall guarantee
(max_dist ≤ bands−1 ⇒ zero missed pairs) checked exactly, not sampled.
"""

from __future__ import annotations

import numpy as np
import pytest

from polars_sim_spark.operators.dedup import phash_near_pairs
from polars_sim_spark.operators.multimodal import ppm_phash, synth_ppm


def _dhash_py(px: np.ndarray) -> int:
    """Local reference: point-sampled 9x8 integer-luma grid, horizontal
    gradient sign bits, bit index y*8+x."""
    h, w, _ = px.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    gray = px[ys][:, xs].astype(np.int64).sum(axis=2) // 3
    bits = (gray[:, :8] < gray[:, 1:]).ravel()
    return sum(int(b) << k for k, b in enumerate(bits))


def _rand_images(seed: int, n: int) -> list[tuple[int, int, bytes]]:
    """(id, width, raw pixel bytes) — sizes span the degenerate (w<9,
    h<8) and comfortable regimes."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        w = int(rng.integers(1, 14))
        h = int(rng.integers(1, 20))
        out.append((i, w, rng.integers(0, 256, size=h * w * 3, dtype=np.uint8).tobytes()))
    return out


def _ppm_df(spark, images):
    rows = [(i, synth_ppm(data, w)) for i, w, data in images]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_ppm_phash_matches_python_reference(spark):
    images = _rand_images(7, 40)
    df = _ppm_df(spark, images)
    got = {r["doc_id"]: r for r in ppm_phash(df, n_bands=8).collect()}
    assert len(got) == len(images)
    for i, w, data in images:
        h = (len(data) // 3) // w
        used = h * w * 3
        px = np.frombuffer(data[:used], dtype=np.uint8).reshape(h, w, 3)
        expect = _dhash_py(px)
        r = got[i]
        assert int(r["phash_hex"], 16) == expect
        # bands reassemble to the same 64-bit value, LSB-first
        assembled = sum(r[f"band{j}"] << (8 * j) for j in range(8))
        assert assembled == expect


@pytest.mark.parametrize("n_bands,max_dist", [(4, 3), (8, 7)])
def test_banded_join_equals_bruteforce_allpairs(spark, n_bands, max_dist):
    """The recall guarantee, checked exactly: banded output ==
    {pairs : hamming <= max_dist} over brute-force all-pairs."""
    images = _rand_images(11, 60)
    df = _ppm_df(spark, images)
    hashes = {}
    for i, w, data in images:
        h = (len(data) // 3) // w
        px = np.frombuffer(data[: h * w * 3], dtype=np.uint8).reshape(h, w, 3)
        hashes[i] = _dhash_py(px)
    expect = {}
    ids = sorted(hashes)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            d = bin(hashes[ids[a]] ^ hashes[ids[b]]).count("1")
            if d <= max_dist:
                expect[(ids[a], ids[b])] = d
    ph = ppm_phash(df, n_bands=n_bands)
    pairs = phash_near_pairs(
        ph,
        id_col="doc_id",
        band_cols=tuple(f"band{j}" for j in range(n_bands)),
        max_dist=max_dist,
    )
    got = {(r["l_id"], r["r_id"]): r["hamming"] for r in pairs.collect()}
    assert got == expect


def test_constructed_near_dup_found_with_exact_distance(spark):
    """A base image and a copy with one sampled pixel's luma flipped hard
    must surface as a pair, with the exact (small) Hamming distance."""
    rng = np.random.default_rng(3)
    w, h = 9, 8  # grid == image: every pixel is sampled exactly once
    base = rng.integers(0, 128, size=h * w * 3, dtype=np.uint8)
    twin = base.copy()
    twin[0:3] = 255  # pixel (0,0) goes bright: flips at most bit 0
    df = _ppm_df(spark, [(0, w, base.tobytes()), (1, w, twin.tobytes())])
    ph = ppm_phash(df, n_bands=8)
    pairs = phash_near_pairs(
        ph, id_col="doc_id", band_cols=tuple(f"band{j}" for j in range(8)), max_dist=7
    ).collect()
    d_true = bin(
        _dhash_py(base.reshape(h, w, 3)) ^ _dhash_py(twin.reshape(h, w, 3))
    ).count("1")
    assert d_true <= 1
    assert [(r["l_id"], r["r_id"], r["hamming"]) for r in pairs] == [(0, 1, d_true)]


def test_phash_cross_format_ppm_equals_bmp(spark):
    """The dHash is defined on LOGICAL pixels, so the same image stored
    as PPM (top-down RGB) and as BMP (bottom-up BGR + stride padding)
    must hash to the identical 64 bits — the row-flip/channel-swap trap
    pinned exactly."""
    from polars_sim_spark.operators.multimodal import synth_bmp

    images = _rand_images(19, 30)
    ppm_rows = [(i, synth_ppm(data, w)) for i, w, data in images]
    bmp_rows = [(i, synth_bmp(data, w)) for i, w, data in images]
    pdf = spark.createDataFrame(ppm_rows, "doc_id long, payload binary")
    bdf = spark.createDataFrame(bmp_rows, "doc_id long, payload binary")
    hp = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(pdf, n_bands=8).collect()}
    hb = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(bdf, n_bands=8).collect()}
    assert hp == hb and len(hp) == len(images)


def test_max_dist_beyond_guarantee_raises(spark):
    df = _ppm_df(spark, _rand_images(5, 3))
    ph = ppm_phash(df, n_bands=4)
    with pytest.raises(ValueError, match="recall guarantee"):
        phash_near_pairs(ph, id_col="doc_id", max_dist=4)


def test_ppm_phash_rejects_bad_band_count(spark):
    df = _ppm_df(spark, _rand_images(5, 3))
    with pytest.raises(ValueError, match="n_bands"):
        ppm_phash(df, n_bands=5)


def test_two_sided_match_equals_bruteforce(spark):
    """phash_match_pairs == brute-force left x right Hamming filter."""
    from polars_sim_spark.operators.dedup import phash_match_pairs
    from polars_sim_spark.operators.multimodal import ppm_phash

    images = _rand_images(23, 50)
    left_imgs = [t for t in images if t[0] % 2 == 0]
    right_imgs = [t for t in images if t[0] % 2 == 1]
    lh = ppm_phash(_ppm_df(spark, left_imgs), n_bands=8)
    rh = ppm_phash(_ppm_df(spark, right_imgs), n_bands=8)

    def hashes(imgs):
        out = {}
        for i, w, data in imgs:
            h = (len(data) // 3) // w
            px = np.frombuffer(data[: h * w * 3], dtype=np.uint8).reshape(h, w, 3)
            out[i] = _dhash_py(px)
        return out

    hl, hr = hashes(left_imgs), hashes(right_imgs)
    expect = {
        (a, b): bin(hl[a] ^ hr[b]).count("1")
        for a in hl
        for b in hr
        if bin(hl[a] ^ hr[b]).count("1") <= 7
    }
    got = {
        (r["l_id"], r["r_id"]): r["hamming"]
        for r in phash_match_pairs(
            lh, rh, id_col="doc_id",
            band_cols=tuple(f"band{j}" for j in range(8)), max_dist=7,
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_phash_cross_format_ppm_equals_gif(spark):
    """Round 11: the same image stored as PPM (raw RGB) and as GIF
    (LZW-compressed strip-split palette rasters) must hash to the
    identical 64 bits — the compression round-trip cannot move a single
    sampled gray value."""
    from polars_sim_spark.operators.multimodal import synth_gif

    images = _rand_images(19, 30)
    ppm_rows = [(i, synth_ppm(data, w)) for i, w, data in images]
    gif_rows = [(i, synth_gif(data, w)) for i, w, data in images]
    assert all(p is not None for _, p in gif_rows)
    pdf = spark.createDataFrame(ppm_rows, "doc_id long, payload binary")
    gdf = spark.createDataFrame(gif_rows, "doc_id long, payload binary")
    hp = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(pdf, n_bands=8).collect()}
    hg = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(gdf, n_bands=8).collect()}
    assert hp == hg and len(hp) == len(images)


def test_phash_cross_format_ppm_equals_palette_png(spark):
    """Round 14: the same LOGICAL image stored as raw PPM and as a
    palette-indexed PNG (color type 3 — indices + the per-image PLTE
    rule) must hash to the identical 64 bits: the PPM twin stores the
    PLTE-EXPANDED RGB bytes, so a wrong palette row, index byte or
    filter reconstruction at bpp 1 moves a sampled gray value and
    breaks the identity."""
    from polars_sim_spark.operators.multimodal import synth_png_palette

    rng = np.random.default_rng(41)
    ppm_rows, png_rows = [], []
    for i in range(25):
        w = 4 + i % 8
        h = int(rng.integers(1, 20))
        idx = rng.integers(0, 256, size=h * w, dtype=np.uint8)
        png = synth_png_palette(idx.tobytes(), w)
        assert png is not None
        m = 2 * (w % 4) + 1
        ii = idx.astype(np.int64)
        rgb = np.stack(
            [
                (m * ii + h) % 256,
                (3 * m * ii + 2 * h + 1) % 256,
                (5 * m * ii + 3 * h + 2) % 256,
            ],
            axis=1,
        ).astype(np.uint8)
        ppm_rows.append((i, synth_ppm(rgb.tobytes(), w)))
        png_rows.append((i, png))
    pdf = spark.createDataFrame(ppm_rows, "doc_id long, payload binary")
    gdf = spark.createDataFrame(png_rows, "doc_id long, payload binary")
    hp = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(pdf, n_bands=8).collect()}
    hg = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(gdf, n_bands=8).collect()}
    assert hp == hg and len(hp) == 25


def test_phash_rgba_png_equals_rgb_twin(spark):
    """Round 14: an RGBA PNG must hash to the identical 64 bits as a
    PPM holding just its RGB channels — alpha is invisible to the
    container-invariant dHash (web PNGs are commonly RGBA; the
    pre-fix behavior dropped them from the hash entirely)."""
    from polars_sim_spark.operators.multimodal import synth_png_rgba

    rng = np.random.default_rng(46)
    ppm_rows, rgba_rows = [], []
    for i in range(15):
        w = 4 + i % 8
        h = int(rng.integers(1, 18))
        rgba = rng.integers(0, 256, size=(h * w, 4), dtype=np.uint8)
        rgba_rows.append((i, synth_png_rgba(rgba.tobytes(), w)))
        ppm_rows.append((i, synth_ppm(rgba[:, :3].tobytes(), w)))
    hp = {
        r["doc_id"]: r["phash_hex"]
        for r in ppm_phash(
            spark.createDataFrame(ppm_rows, "doc_id long, payload binary"),
            n_bands=8,
        ).collect()
    }
    ha = {
        r["doc_id"]: r["phash_hex"]
        for r in ppm_phash(
            spark.createDataFrame(rgba_rows, "doc_id long, payload binary"),
            n_bands=8,
        ).collect()
    }
    assert hp == ha and len(hp) == 15


def test_multiformat_corpus_hashes_equal_ppm_twin(spark):
    """Round 11 (PNG added r12): dHashes over the MIXED-container corpus
    (PPM/BMP/GIF/PNG by id mod 4, attach_payload(df, "multiformat")) must be
    IDENTICAL per doc to a
    twin corpus storing every image as raw PPM — the container must be
    invisible to the hash, which makes the near-dup pair set identical
    by construction (pairs are a function of the hashes)."""
    from polars_sim_spark.operators.multimodal import (
        attach_payload,
        synth_ppm,
    )

    images = _rand_images(31, 45)
    text_rows = [(i, data.decode("latin-1")) for i, _w, data in images]
    docs = spark.createDataFrame(text_rows, "doc_id long, text string")
    mixed = ppm_phash(attach_payload(docs, "multiformat"), n_bands=8)
    got = {r["doc_id"]: r["phash_hex"] for r in mixed.collect()}

    # the attacher reads TEXT and encodes utf-8 (bytes ≥ 0x80 widen to
    # two bytes) — the twin must hash the same utf-8 byte stream.
    ppm_rows = [
        (i, synth_ppm(t.encode("utf-8"), 4 + i % 8)) for i, t in text_rows
    ]
    twin = spark.createDataFrame(
        [(i, p) for i, p in ppm_rows if p is not None],
        "doc_id long, payload binary",
    )
    want = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(twin, n_bands=8).collect()}
    assert got == want and len(got) == sum(1 for _, p in ppm_rows if p is not None)
    assert len(got) > 30  # corpus mostly hashable, all three formats hit


def test_diagnose_hot_buckets_discriminates_replicas_from_degeneracy(spark):
    """Round 12 (VERDICT r11 #3): the no-ground-truth hot-bucket
    composition probe must flag replica-cluster mega-buckets (identical
    FULL hashes — the majority-fold recall-inversion mode) and must NOT
    flag band-degeneracy mega-buckets (one band collapses, full hashes
    stay distinct — the repaired-image-fixture mode where capping is
    safe). cap_guard=True surfaces the former as a UserWarning."""
    import warnings

    import pytest

    from polars_sim_spark.operators.dedup import (
        diagnose_hot_buckets,
        phash_near_pairs,
    )

    bc = ("band0", "band1", "band2", "band3")
    # 30 replicas: every band identical -> hot buckets ARE dup clusters
    homog = spark.createDataFrame(
        [(i, 7, 7, 7, 7) for i in range(30)],
        "id long, band0 int, band1 int, band2 int, band3 int",
    )
    d = diagnose_hot_buckets(homog, band_cols=bc, max_bucket_size=10)
    assert d["n_hot_buckets"] == 4 and d["max_bucket"] == 30
    assert d["same_hash_pair_fraction"] == 1.0 and d["cap_deletes_signal"]

    # 30 docs sharing ONE degenerate band; other bands discriminate
    degen = spark.createDataFrame(
        [(i, 0, 100 + i, 200 + i, 300 + i) for i in range(30)],
        "id long, band0 int, band1 int, band2 int, band3 int",
    )
    d2 = diagnose_hot_buckets(degen, band_cols=bc, max_bucket_size=10)
    assert d2["n_hot_buckets"] == 1 and d2["max_bucket"] == 30
    assert d2["same_hash_pair_fraction"] == 0.0 and not d2["cap_deletes_signal"]

    with pytest.warns(UserWarning, match="replica clusters"):
        phash_near_pairs(
            homog, band_cols=bc, max_bucket_size=10, cap_guard=True
        ).collect()
    # r13 (VERDICT r12 #7): cap_guard defaults ON whenever a cap is set —
    # the same warn path must fire with no explicit cap_guard argument.
    with pytest.warns(UserWarning, match="replica clusters"):
        phash_near_pairs(homog, band_cols=bc, max_bucket_size=10).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> failure
        got = phash_near_pairs(
            degen, band_cols=bc, max_bucket_size=10, cap_guard=True
        ).collect()
    assert got == []  # capping the degenerate bucket drops only false cands
    with warnings.catch_warnings():
        # …and an UNCAPPED call must stay guard-free (nothing to guard)
        # even under the new default.
        warnings.simplefilter("error")
        phash_near_pairs(homog, band_cols=bc, max_dist=3).collect()


def test_diagnose_hot_buckets_counts_are_exact_beyond_sample_k(spark):
    """Round 13 (ADVICE r12): n_hot_buckets / hot_member_rows / the
    pair-mass fraction must be EXACT corpus totals even when more than
    sample_k(=20) buckets are hot — the r12 top-k sample understated
    them."""
    from polars_sim_spark.operators.dedup import diagnose_hot_buckets

    bc = ("band0", "band1")
    # 30 replica groups of 6 members each -> 60 hot (band, value)
    # buckets (2 bands x 30 groups), all over cap=5.
    rows = [
        (g * 6 + j, 1000 + g, 2000 + g) for g in range(30) for j in range(6)
    ]
    ph = spark.createDataFrame(rows, "id long, band0 int, band1 int")
    d = diagnose_hot_buckets(ph, band_cols=bc, max_bucket_size=5)
    assert d["n_hot_buckets"] == 60  # r12 sample would have said 20
    assert d["sampled_buckets"] == 60
    assert d["hot_member_rows"] == 360
    assert d["max_bucket"] == 6
    assert d["same_hash_pair_fraction"] == 1.0 and d["cap_deletes_signal"]


def test_video_near_pairs_auto_routes_on_fold_clustering(spark):
    """Round 12: video_near_pairs_auto must take the frame-aligned path
    on a homogeneous fold corpus (output carries n_frames_matched) and
    the cheap capped fold path on a well-spread corpus (output carries
    hamming); the frame plan must stay LAZY on the fold route."""
    from polars_sim_spark.operators.dedup import video_near_pairs_auto

    bc = ("band0", "band1", "band2", "band3")
    sch = "doc_id long, band0 int, band1 int, band2 int, band3 int"
    fsch = (
        "doc_id long, frame_idx int, band0 int, band1 int, band2 int, band3 int"
    )
    homog_fold = spark.createDataFrame([(i, 7, 7, 7, 7) for i in range(30)], sch)
    frames = spark.createDataFrame(
        [(i, f, 1, 2, 3, 4) for i in range(4) for f in range(3)], fsch
    )
    import pytest

    with pytest.warns(UserWarning, match="frame-aligned"):
        out = video_near_pairs_auto(
            homog_fold, frames, fold_band_cols=bc, max_bucket_size=10
        )
    # r13 (ADVICE r12): the schema is ROUTE-INDEPENDENT — both measure
    # columns always present plus a route discriminator.
    assert out.columns == ["l_id", "r_id", "route", "n_frames_matched", "hamming"]
    assert out.count() == 6  # C(4,2) video pairs, all 3 frames aligned
    assert out.where("n_frames_matched = 3 AND route = 'frames'").count() == 6
    assert out.where("hamming IS NOT NULL").count() == 0

    spread_fold = spark.createDataFrame(
        [(i, i, 2 * i, 3 * i, 4 * i) for i in range(30)] + [(100, 0, 0, 0, 0)],
        sch,
    )
    bad_frames = spark.createDataFrame([], fsch)  # would yield no pairs
    out2 = video_near_pairs_auto(
        spread_fold, bad_frames, fold_band_cols=bc, max_bucket_size=10
    )
    assert out2.columns == out.columns  # same shape on the other route
    # doc 0 and doc 100 share all four band values -> hamming 0 pair
    rows2 = out2.collect()
    assert {(r["l_id"], r["r_id"]) for r in rows2} == {(0, 100)}
    assert all(
        r["route"] == "fold" and r["n_frames_matched"] is None for r in rows2
    )


def test_video_frame_match_pairs_bucket_cap(spark):
    """Round 12 (ADVICE): the frozen-frame mode — many videos sharing
    one per-frame hash — must be cappable via max_bucket_size, and the
    cap must only drop the frozen frame's buckets (distinctive frames
    still match)."""
    from polars_sim_spark.operators.dedup import video_frame_match_pairs

    fsch = (
        "doc_id long, frame_idx int, band0 int, band1 int, band2 int, band3 int"
    )
    rows = []
    # frame 0 is frozen (identical across ALL 40 videos); frame 1 is
    # distinctive and only matches within twin pairs (2k, 2k+1).
    for i in range(40):
        rows.append((i, 0, 9, 9, 9, 9))
        rows.append((i, 1, i // 2, i // 2 + 1, i // 2 + 2, i // 2 + 3))
    ph = spark.createDataFrame(rows, fsch)
    uncapped = video_frame_match_pairs(ph, max_dist=3, min_frames=1)
    assert uncapped.count() == 40 * 39 // 2  # frozen frame links everyone
    capped = video_frame_match_pairs(
        ph, max_dist=3, min_frames=1, max_bucket_size=10
    )
    got = {(r["l_id"], r["r_id"]): r["n_frames_matched"] for r in capped.collect()}
    assert got == {(2 * k, 2 * k + 1): 1 for k in range(20)}


def test_phash_identical_across_ppm_and_png(spark):
    """Round 12: PNG payloads must hash IDENTICALLY to their PPM twins —
    the dHash reads LOGICAL pixels, and the PNG decode path (own
    DEFLATE inflate + five-filter reconstruction) must be invisible."""
    from polars_sim_spark.operators.multimodal import synth_png

    images = _rand_images(23, 30)
    ppm_rows = [(i, synth_ppm(data, w)) for i, w, data in images]
    png_rows = [(i, synth_png(data, w)) for i, w, data in images]
    assert all(p is not None for _, p in png_rows)
    pdf = spark.createDataFrame(ppm_rows, "doc_id long, payload binary")
    gdf = spark.createDataFrame(png_rows, "doc_id long, payload binary")
    hp = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(pdf, n_bands=8).collect()}
    hg = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(gdf, n_bands=8).collect()}
    assert hp == hg and len(hp) == len(images)


# ---------------------------------------------------------------------------
# Decoded-pixel video tier (round 14)
# ---------------------------------------------------------------------------


def test_video_pixel_phash_cross_container_twin(spark):
    """The MJPEG AVI at doc_id and the raw-gray MP4 at doc_id + 10^6
    must produce IDENTICAL per-frame pixel hashes — the lossy twin
    identity the dedup row's oracle certifies."""
    from polars_sim_spark.operators.multimodal import (
        attach_payload,
        video_frame_pixel_phash,
    )

    texts = [
        (0, "A" * 64),  # one frame, constant block
        (1, "".join(chr(32 + (k * 11) % 90) for k in range(200))),  # 3 frames
        (2, "short"),  # below one frame: emits nothing
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    ph = video_frame_pixel_phash(attach_payload(docs, "video_pixel_twin"))
    rows = {(r["doc_id"], r["frame_idx"]): r["phash_hex"] for r in ph.collect()}
    assert rows, "no frames hashed"
    assert not any(d % 1_000_000 == 2 for d, _f in rows)
    left = {(d, f): h for (d, f), h in rows.items() if d < 1_000_000}
    right = {(d - 1_000_000, f): h for (d, f), h in rows.items() if d >= 1_000_000}
    assert left == right
    assert sum(1 for (d, _f) in left if d == 1) == 3  # 200 // 64 frames


def test_video_frame_pixel_hash_matches_image_hash(spark):
    """A video frame hashes identically to the SAME decoded pixels in
    an image container (ppm_phash) — the hash is defined on logical
    pixels, so modality is invisible."""
    import numpy as np

    from polars_sim_spark.operators.multimodal import (
        _jpeg_gray_pixels,
        synth_avi_mjpeg,
        synth_jpeg,
        video_frame_pixel_phash,
    )

    data = bytes((13 * k + 5) % 256 for k in range(64))
    jpeg = synth_jpeg(data)
    gray = _jpeg_gray_pixels(jpeg)
    avi_df = spark.createDataFrame(
        [(0, synth_avi_mjpeg([jpeg], 8, 8))], "doc_id long, payload binary"
    )
    vh = video_frame_pixel_phash(avi_df, n_bands=8).collect()
    ppm_df = _ppm_df(spark, [(0, 8, np.repeat(gray.ravel(), 3).tobytes())])
    ih = ppm_phash(ppm_df, n_bands=8).collect()
    assert len(vh) == 1 and len(ih) == 1
    assert vh[0]["phash_hex"] == ih[0]["phash_hex"]
    assert all(vh[0][f"band{j}"] == ih[0][f"band{j}"] for j in range(8))


def test_video_pixel_phash_drops_undecodable(spark):
    """Garbage payloads, non-video containers and undecodable frames
    are dropped, never crash the task."""
    from polars_sim_spark.operators.multimodal import (
        synth_avi_mjpeg,
        synth_jpeg,
        video_frame_pixel_phash,
    )

    good = synth_avi_mjpeg([synth_jpeg(bytes(64))], 8, 8)
    df = spark.createDataFrame(
        [
            (0, good),
            (1, b"not a container"),
            (2, good[:50]),  # truncated AVI
            (3, synth_avi_mjpeg([b"\xff\xd8 corrupt jpeg"], 8, 8)),
            (4, synth_avi_mjpeg([b"raw bytes of the wrong length"], 8, 8)),
        ],
        "doc_id long, payload binary",
    )
    got = video_frame_pixel_phash(df).collect()
    assert [r["doc_id"] for r in got] == [0]


def test_video_frame_match_pairs_d0_fast_path(spark):
    """max_dist=0 routes through full-hash equality (round 14): output
    must equal the brute-force frame-aligned Hamming-0 pair set."""
    import itertools

    import pandas as pd

    from polars_sim_spark.operators.dedup import video_frame_match_pairs

    rows = []
    rng = np.random.default_rng(3)
    hashes = {}
    for vid in range(12):
        for f in range(vid % 4 + 1):
            # quarter of the frames reuse a shared hash -> real groups
            if (vid + f) % 4 == 0:
                h = 0xDEADBEEF << (f % 3)
            else:
                h = int(rng.integers(0, 1 << 62))
            hashes[(vid, f)] = h
            rows.append(
                (vid, f, *[(h >> (16 * j)) & 0xFFFF for j in range(4)])
            )
    ph = spark.createDataFrame(
        rows, "doc_id long, frame_idx long, band0 int, band1 int, band2 int, band3 int"
    )
    got = {
        (r["l_id"], r["r_id"]): r["n_frames_matched"]
        for r in video_frame_match_pairs(ph, max_dist=0, min_frames=1).collect()
    }
    expect: dict = {}
    for (v1, f1), h1 in hashes.items():
        for (v2, f2), h2 in hashes.items():
            if v1 < v2 and f1 == f2 and h1 == h2:
                expect[(v1, v2)] = expect.get((v1, v2), 0) + 1
    assert got == expect
    # min_frames filters on the fast path too
    got2 = video_frame_match_pairs(ph, max_dist=0, min_frames=2).collect()
    assert {(r["l_id"], r["r_id"]) for r in got2} == {
        p for p, n in expect.items() if n >= 2
    }


def test_video_pixel_vhash_fold_and_container_invariance(spark):
    """video_pixel_vhash = strict-majority fold of the per-frame pixel
    dHashes, and the AVI twin folds to the SAME hash as the raw MP4."""
    from polars_sim_spark.operators.multimodal import (
        attach_payload,
        video_frame_pixel_phash,
        video_pixel_vhash,
    )

    texts = [(i, "".join(chr(33 + (i * 7 + k * 13) % 90) for k in range(64 * (1 + i % 4))))
             for i in range(8)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    twins = attach_payload(docs, "video_pixel_twin")
    vh = {r["doc_id"]: r["phash_hex"] for r in video_pixel_vhash(twins, n_bands=8).collect()}
    assert len(vh) == 16
    for i in range(8):
        assert vh[i] == vh[i + 1_000_000]
    # fold law: majority over the frame tier's bits
    fr = video_frame_pixel_phash(twins, n_bands=8).collect()
    per_doc: dict = {}
    for r in fr:
        per_doc.setdefault(r["doc_id"], []).append(int(r["phash_hex"], 16))
    for d, hs in per_doc.items():
        bits = 0
        for k in range(64):
            votes = sum((h >> k) & 1 for h in hs)
            if 2 * votes > len(hs):
                bits |= 1 << k
        assert f"{bits:016x}" == vh[d].lower()


def test_tiff_hashes_identically_to_ppm_twin(spark):
    """The dHash is defined on logical pixels: a TIFF (either endian,
    PackBits or not, multi-strip or not) hashes identically to the PPM
    carrying the same pixels — the round-14 sixth container joins the
    cross-format identity family."""
    from polars_sim_spark.operators.multimodal import synth_tiff

    images = _rand_images(21, 24)
    ppm = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(_ppm_df(spark, images), n_bands=8).collect()}
    rows = []
    for i, w, data in images:
        h = (len(data) // 3) // w
        t = synth_tiff(
            data, w, big_endian=bool(i % 2), packbits=i % 3 == 0,
            rows_per_strip=(h + 1) // 2 if (i % 5 == 0 and h > 1) else None,
        )
        if t is not None:
            rows.append((i, t))
    tif = {r["doc_id"]: r["phash_hex"] for r in ppm_phash(
        spark.createDataFrame(rows, "doc_id long, payload binary"), n_bands=8
    ).collect()}
    assert len(tif) == len(rows) and len(rows) > 0
    for i, _p in rows:
        assert tif[i] == ppm[i]
