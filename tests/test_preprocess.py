"""Exactly-invertible preprocessing analogs (preprocess.py): warp/dewarp,
upscale/collapse, speckle/denoise, crop vocabulary — M1/M2/M6-M11 parity."""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bitmap_oracle import decode_bitmap  # noqa: E402
from ocr_spark.fonts import render_text  # noqa: E402
from ocr_spark.preprocess import (  # noqa: E402
    CROP_MODES,
    QUARTER_MODES,
    add_speckles,
    crop_image,
    crop_region,
    frame_image,
    quadrant_of,
    rotate_small,
    try_collapse_upscale,
    try_derotate,
    try_dewarp,
    upscale,
    warp_image,
)

TEXTS = [
    "VOUCHER 1234 5678 9012 3456",
    "GRID VALUE\nTOKEN BATCH QUERY",
    "A",
    "CLAIM REDEEM\nOFFER TOTAL\nLINE ORDER PART",
]


@pytest.mark.parametrize("text", TEXTS)
@pytest.mark.parametrize("slope", [-8, -3, 3, 5, 8])
def test_warp_dewarp_roundtrip(text, slope):
    img = render_text(text)
    warped = warp_image(img, slope, 16)
    assert warped.shape != img.shape
    rect = try_dewarp(warped, 64)
    assert np.array_equal(rect, img)
    assert decode_bitmap(warped) == text


def test_dewarp_identity_on_unframed():
    for text in TEXTS:
        img = render_text(text)
        assert try_dewarp(img, 64) is img
        rot = np.ascontiguousarray(np.rot90(img, 1))
        assert try_dewarp(rot, 64) is rot


def test_warp_composes_with_rotation():
    img = render_text("TOKEN 9999 8888 7777 6666\nBATCH LINE")
    for k in (1, 2, 3):
        rot = np.ascontiguousarray(np.rot90(img, k))
        warped = warp_image(rot, 5, 16)
        assert decode_bitmap(warped) == "TOKEN 9999 8888 7777 6666\nBATCH LINE"


@pytest.mark.parametrize("k", [2, 3])
def test_upscale_collapse_roundtrip(k):
    img = render_text("SCAN SORT JOIN\nGROUP WINDOW")
    up = upscale(img, k)
    assert up.shape == (img.shape[0] * k, img.shape[1] * k)
    assert np.array_equal(try_collapse_upscale(up), img)
    assert decode_bitmap(up) == "SCAN SORT JOIN\nGROUP WINDOW"


def test_collapse_identity_on_plain():
    img = render_text("STREAM CODE VOUCHER CARD")
    assert try_collapse_upscale(img) is img


def test_speckle_denoise_decode():
    rng = random.Random(7)
    for text in TEXTS:
        img = render_text(text)
        noisy = add_speckles(img, rng, max(4, img.size // 150))
        assert (noisy != img).sum() > 0
        assert decode_bitmap(noisy) == text


def test_speckle_upscale_rotate_compose():
    rng = random.Random(11)
    text = "MERGE SCAN 4321 8765 2109 6543"
    img = add_speckles(render_text(text), rng, 12)
    up = upscale(img, 2)
    for k in (0, 1, 2, 3):
        rot = np.ascontiguousarray(np.rot90(up, k))
        assert decode_bitmap(rot) == text


@pytest.mark.parametrize("text", TEXTS)
@pytest.mark.parametrize("a", [-12, -8, -5, -2, -1, 1, 2, 3, 5, 8, 12])
def test_skew_derotate_roundtrip(text, a):
    """Continuous-angle three-shear rotation is detected and inverted
    bit-exactly (reference deskew, image_utils.py:268-306)."""
    for ink in (255, 90):
        img = render_text(text, ink=ink)
        rot = rotate_small(img, a, ink=ink)
        assert rot.shape != img.shape
        back = try_derotate(rot, 64)
        if back is rot:
            # degenerate tiny-angle/narrow case: the vertical shear
            # rounded to zero everywhere, so the "rotation" is a pure
            # row-shear — routed to try_dewarp, which inverts it
            assert np.array_equal(try_dewarp(rot, 64), img)
        else:
            assert np.array_equal(back, frame_image(img, ink=ink))
        # full chain: derotate -> dewarp strips the frame -> decode
        assert decode_bitmap(rot) == text


def test_derotate_identity_on_unrotated():
    for text in TEXTS:
        img = render_text(text)
        assert try_derotate(img, 64) is img
    warped = warp_image(render_text("PASS THROUGH"), 5, 16)
    assert try_derotate(warped, 64) is warped
    noise = (np.arange(40 * 40, dtype=np.int64) % 60).astype(
        np.uint8).reshape(40, 40)
    assert try_derotate(noise, 64) is noise


def test_skew_composes_with_variants():
    rng = random.Random(5)
    text = "SKEW MIX 1111 2222 3333 4444"
    base = render_text(text, ink=200)
    for img in (
        add_speckles(base, rng, 10, ink=200),
        upscale(base, 2),
        np.ascontiguousarray(np.rot90(base, 1)),
        np.ascontiguousarray(np.rot90(upscale(base, 3), 2)),
    ):
        for a in (-6, 4):
            assert decode_bitmap(rotate_small(img, a, ink=200)) == text


def test_faint_cascade_decodes_subthreshold_ink():
    """R6 analog: ink below the primary binarize threshold is recovered
    by the confidence-gated faint re-OCR pass (reference
    tesseract.js:136-183), composed with every other variant."""
    rng = random.Random(13)
    text = "FAINT 9876 5432 1098 7654\nLINE TWO"
    for ink in (32, 40, 56):
        img = render_text(text, ink=ink)
        assert decode_bitmap(img) == text
        for v in (
            warp_image(img, 5, 16, ink=ink),
            rotate_small(img, -4, ink=ink),
            upscale(img, 2),
            np.ascontiguousarray(np.rot90(img, 3)),
            add_speckles(img, rng, 8, ink=ink),
        ):
            assert decode_bitmap(v) == text


def test_faint_cascade_rejects_noise():
    """Sub-threshold noise blobs must NOT be resurrected by the faint
    pass — the confidence bar keeps them empty."""
    rng = random.Random(21)
    for _ in range(10):
        h, w = rng.randint(16, 48), rng.randint(16, 48)
        noise = np.array(
            [rng.randrange(0, 60) for _ in range(h * w)], dtype=np.uint8
        ).reshape(h, w)
        assert decode_bitmap(noise) == ""


def test_equalize_hist_cv2_semantics():
    """equalize_hist implements the exact cv2.equalizeHist LUT
    (reference focus_impl.py:37): LUT(v) = round((cdf(v) - cdf_min) /
    (n - cdf_min) * 255)."""
    from ocr_spark.preprocess import equalize_hist

    img = np.array([[10, 10, 10, 200], [10, 200, 200, 50]], dtype=np.uint8)
    # counts: 10 -> 4, 50 -> 1, 200 -> 3; cdf: 4, 5, 8; cdf_min = 4
    # LUT: 10 -> 0, 50 -> round(1/4*255) = 64, 200 -> 255
    out = equalize_hist(img)
    expect = np.array([[0, 0, 0, 255], [0, 255, 255, 64]], dtype=np.uint8)
    assert np.array_equal(out, expect)
    # any two-valued page maps to exactly {0, 255}, minority-low first
    for bg, d in ((100, 2), (250, 1), (96, 90)):
        page = np.full((9, 9), bg, np.uint8)
        page[2:5, 3:6] = bg - d
        eq = equalize_hist(page)
        assert set(np.unique(eq)) == {0, 255}
        assert eq[3, 4] == 0 and eq[0, 0] == 255
    # uniform page: nothing to equalize
    assert not equalize_hist(np.full((4, 4), 77, np.uint8)).any()


@pytest.mark.parametrize("text", TEXTS)
def test_lowcontrast_equalize_roundtrip(text):
    """M9 contrast surface: a flat lit page with ink drop as small as 4
    greys decodes exactly — and ONLY via the equalize router: the fixed
    threshold chain and the adaptive path (c=15 > drop) both fail."""
    from bitmap_oracle import _decode_pass
    from ocr_spark.preprocess import adaptive_binarize, lit_lowcontrast

    img = render_text(text)
    for bg, drop in ((96, 4), (128, 5), (200, 8), (230, 12)):
        page = lit_lowcontrast(img, bg, drop)
        assert decode_bitmap(page) == text
        # load-bearing: without the router the fixed-threshold chain sees
        # a solid ink slab (both levels above 64) and reads garbage
        assert _decode_pass(page, 64)[0] != text
        # distinct surface: the adaptive margin c=15 swallows drops < 15
        assert not adaptive_binarize(page).any()


def test_shaded_adaptive_roundtrip():
    """M10 adaptive-binarize surface: an illumination-gradient page whose
    background spans MORE than the ink drop decodes exactly — no global
    threshold (equalized or not) can separate it."""
    from ocr_spark.preprocess import adaptive_binarize, equalize_hist, lit_shaded

    rng = random.Random(99)
    text = "SHADED 1111 2222 3333 4444\nGRID VALUE TOKEN"
    img = render_text(text)
    h, w = img.shape
    for _ in range(25):
        gx = rng.choice([-0.3, -0.2, -0.1, 0.1, 0.2, 0.3])
        gy = rng.choice([-0.3, -0.2, -0.1, 0.1, 0.2, 0.3])
        span = abs(gx) * (w - 1) + abs(gy) * (h - 1)
        if span > 110:
            gx, gy = gx * 110 / span, gy * 110 / span
            span = 110.0
        lo = 124 + (abs(gx) * (w - 1) if gx < 0 else 0) \
            + (abs(gy) * (h - 1) if gy < 0 else 0)
        base = lo + rng.random() * (244 - 124 - span)
        page = lit_shaded(img, gx, gy, base)
        assert decode_bitmap(page) == text
        # the adaptive threshold recovers the render BIT-EXACTLY
        assert np.array_equal(adaptive_binarize(page),
                              ((img > 0) * 255).astype(np.uint8))
    # load-bearing: background span (~110) > ink drop (64), so even the
    # best global threshold after equalization mixes ink and background
    page = lit_shaded(img, 0.3, 0.2, 170)
    eq = 255 - equalize_hist(page)
    assert decode_bitmap(((eq >= 64) * 255).astype(np.uint8)) != text


def test_lit_pages_compose_with_rot90():
    from ocr_spark.preprocess import lit_lowcontrast, lit_shaded

    text = "ROTLIT 9090 8080 7070 6060"
    img = render_text(text)
    for k in (1, 2, 3):
        low = np.ascontiguousarray(np.rot90(lit_lowcontrast(img, 150, 6), k))
        assert decode_bitmap(low) == text
        sh = np.ascontiguousarray(np.rot90(lit_shaded(img, 0.2, -0.1, 170), k))
        assert decode_bitmap(sh) == text


def test_lit_router_ignores_dark_background_images():
    """normalize_illumination is identity on the canonical domain —
    renders, faint ink, and sub-bright noise all pass through."""
    from ocr_spark.preprocess import normalize_illumination

    rng = random.Random(5)
    img = render_text("PLAIN PAGE", ink=200)
    assert normalize_illumination(img) is img
    faint = render_text("FAINT", ink=40)
    assert normalize_illumination(faint) is faint
    noise = np.array([rng.randrange(0, 60) for _ in range(1600)],
                     dtype=np.uint8).reshape(40, 40)
    assert normalize_illumination(noise) is noise
    # uniform lit page (no ink at all) normalizes to blank, not garbage
    blank = np.full((30, 40), 180, np.uint8)
    assert decode_bitmap(blank) == ""


def test_crop_regions_tile_the_image():
    w, h = 31, 17
    for pair in (("top_half", "bottom_half"), ("left_half", "right_half")):
        areas = [crop_region(w, h, m) for m in pair]
        assert sum(cw * ch for _, _, cw, ch in areas) == w * h
    q_areas = [crop_region(w, h, m) for m in QUARTER_MODES]
    assert sum(cw * ch for _, _, cw, ch in q_areas) == w * h
    full = crop_region(w, h, "full")
    assert full == (0, 0, w, h)


def test_crop_image_matches_slices():
    img = render_text("QUERY TABLE MERGE\nSORT JOIN GROUP")
    h, w = img.shape
    assert np.array_equal(crop_image(img, "top_half"), img[: h // 2])
    assert np.array_equal(crop_image(img, "right_half"), img[:, w // 2:])
    assert np.array_equal(crop_image(img, "quarter_4"),
                          img[h // 2:, w // 2:])


def test_quadrant_of():
    assert quadrant_of(1, 1, 10, 10) == "quarter_1"
    assert quadrant_of(9, 1, 10, 10) == "quarter_2"
    assert quadrant_of(1, 9, 10, 10) == "quarter_3"
    assert quadrant_of(9, 9, 10, 10) == "quarter_4"


def test_corpus_variants_all_decode(spark):
    """Every stored corpus variant round-trips through the full Spark
    recognizer (the flagship equality gate in miniature)."""
    from ocr_spark.datagen import generate_corpus
    from ocr_spark.operators.ocr import recognize_blobs

    tables = generate_corpus(n_docs=400, seed=43)
    pdf = tables["media_blobs"].to_pandas()
    variants = set(pdf["variant"])
    # the generator must actually exercise the new surface
    assert any("warped" in v for v in variants)
    assert any("speckled" in v for v in variants)
    assert any("upscaled" in v for v in variants)
    assert any("rotated" in v for v in variants)
    assert any("lowcontrast" in v for v in variants)
    assert any("shaded" in v for v in variants)
    blobs = spark.createDataFrame(pdf)
    got = {r["media_ref"]: r["text"]
           for r in recognize_blobs(blobs).collect()}
    for _, row in pdf.iterrows():
        assert got[row["media_ref"]] == row["ground_text"], row["variant"]


def test_crop_blob_variants_operator(spark):
    from ocr_spark.datagen import generate_corpus
    from ocr_spark.operators.ocr import crop_blob_variants

    tables = generate_corpus(n_docs=40, seed=44)
    pdf = tables["media_blobs"].to_pandas()
    blobs = spark.createDataFrame(pdf)
    crops = crop_blob_variants(blobs).collect()
    n_modes = len(CROP_MODES) + len(QUARTER_MODES)
    assert len(crops) == len(pdf) * n_modes
    by_ref = {(r["crop"], r["media_ref"]): r for r in crops}
    from ocr_spark.png_codec import blob_to_array

    src = pdf.iloc[0]
    img = blob_to_array(src["pixels"], src["height"], src["width"])
    top = by_ref[("top_half", src["media_ref"])]
    got = np.frombuffer(top["pixels"], dtype=np.uint8).reshape(
        top["height"], top["width"])
    assert np.array_equal(got, img[: img.shape[0] // 2])
