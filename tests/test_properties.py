"""Property-based tests (hypothesis) for the invertible core: renderer /
recognizer, preprocessing analogs, hash family, voucher oracle — the
reference's golden-fixture strategy generalized to arbitrary inputs."""

from __future__ import annotations

import os
import sys

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bitmap_oracle import decode_bitmap  # noqa: E402
from ocr_spark.fonts import ALPHABET, render_text  # noqa: E402
from ocr_spark.functions.hashfam import (  # noqa: E402
    MINHASH_P,
    minhash_coeffs,
)
from ocr_spark.functions.voucher_core import (  # noqa: E402
    BANNED_VOUCHERS,
    extract_voucher_codes,
)
from ocr_spark.preprocess import (  # noqa: E402
    SKEW_DEN,
    add_speckles,
    frame_image,
    rotate_small,
    try_collapse_upscale,
    try_derotate,
    try_dewarp,
    upscale,
    warp_image,
)

# renderable characters (space allowed mid-line; '\n' builds lines)
_CHARS = st.sampled_from(ALPHABET)
_LINE = st.text(_CHARS, min_size=1, max_size=20)
_TEXT = st.lists(_LINE, min_size=1, max_size=5).map("\n".join)


def _expected(text: str) -> str:
    """What decode must return: per-line rstrip, trailing blank lines
    dropped (render_text/decode_bitmap contract)."""
    lines = [ln.rstrip() for ln in text.split("\n")]
    while lines and not lines[-1]:
        lines.pop()
    return "\n".join(lines)


@settings(max_examples=60, deadline=None)
@given(_TEXT)
def test_render_decode_roundtrip(text):
    assert decode_bitmap(render_text(text)) == _expected(text)


@settings(max_examples=30, deadline=None)
@given(_TEXT, st.integers(0, 3))
def test_rotated_roundtrip(text, k):
    img = np.ascontiguousarray(np.rot90(render_text(text), k))
    assert decode_bitmap(img) == _expected(text)


@settings(max_examples=30, deadline=None)
@given(_TEXT, st.integers(-10, 10).filter(lambda s: s != 0),
       st.integers(8, 32))
def test_warp_dewarp_roundtrip(text, slope_num, slope_den):
    img = render_text(text)
    warped = warp_image(img, slope_num, slope_den)
    assert np.array_equal(try_dewarp(warped, 64), img)
    assert decode_bitmap(warped) == _expected(text)


@settings(max_examples=40, deadline=None)
@given(_TEXT, st.integers(-12, 12).filter(lambda a: a != 0),
       st.integers(0, 3))
def test_skew_derotate_roundtrip(text, a, k):
    """Arbitrary planted continuous angles (tan(theta/2) = a/SKEW_DEN)
    round-trip bit-exactly through detect + three-shear inverse, alone
    and composed with right-angle rotation."""
    img = np.ascontiguousarray(np.rot90(render_text(text), k))
    rot = rotate_small(img, a)
    back = try_derotate(rot, 64)
    if back is rot:
        # vertical shear rounded to zero (narrow image / tiny angle):
        # pure row-shear, inverted by try_dewarp instead
        assert np.array_equal(try_dewarp(rot, 64), img)
    else:
        assert np.array_equal(back, frame_image(img))
    assert decode_bitmap(rot) == _expected(text)


@settings(max_examples=30, deadline=None)
@given(_TEXT, st.integers(2, 3))
def test_upscale_collapse_roundtrip(text, k):
    img = render_text(text)
    assert np.array_equal(try_collapse_upscale(upscale(img, k)), img)


@settings(max_examples=30, deadline=None)
@given(_TEXT, st.randoms(use_true_random=False), st.integers(1, 30))
def test_speckle_denoise_roundtrip(text, rng, n):
    img = render_text(text)
    assert decode_bitmap(add_speckles(img, rng, n)) == _expected(text)


# ---------------------------------------------------------------------------
# hash family
# ---------------------------------------------------------------------------

def test_minhash_coeffs_ranges_and_determinism():
    c1 = minhash_coeffs(64)
    c2 = minhash_coeffs(64)
    assert c1 == c2
    for a, b in c1:
        assert 1 <= a <= MINHASH_P - 1
        assert 0 <= b <= MINHASH_P - 1
        # the affine product must never overflow int64
        assert a * (MINHASH_P - 1) + b < 2 ** 63


# ---------------------------------------------------------------------------
# voucher oracle properties
# ---------------------------------------------------------------------------

_DIGIT_RUN = st.text(st.sampled_from("0123456789 "), min_size=0, max_size=24)
_FILLER = st.text(
    st.sampled_from("abc XYZ.,:!\n"), min_size=0, max_size=12)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.tuples(_FILLER, _DIGIT_RUN), min_size=1, max_size=6))
def test_voucher_codes_properties(parts):
    text = "".join(f + d for f, d in parts)
    codes = extract_voucher_codes(text)
    # every result: 16 digits, normalized, not banned
    for c in codes:
        assert len(c) == 16 and c.isdigit()
        assert c not in BANNED_VOUCHERS
    # first-occurrence order, no duplicates
    assert len(codes) == len(set(codes))
    positions = [text.replace(" ", "").find(c) for c in codes]
    assert all(p >= 0 for p in positions)


def test_voucher_known_cases():
    t = ("take 1111 2222 3333 4444 and again 1111222233334444 "
         "but not 1234 1234 1234 1234 nor 123412341234123 "
         "nor 11112222333344445")
    assert extract_voucher_codes(t) == ["1111222233334444"]


@settings(max_examples=60, deadline=None)
@given(_TEXT, st.integers(0, 3),
       st.sampled_from(["warp", "speckle", "skew", "faint"]),
       st.randoms(use_true_random=False),
       st.integers(-8, 8).filter(lambda a: a != 0))
def test_recognizer_matches_pure_oracle(text, k, variant, rng, a):
    """The batch recognizer (operators/ocr._Recognizer) and the pure-numpy
    oracle (fonts.decode_bitmap) must decode every variant identically."""
    from ocr_spark.operators.ocr import _Recognizer

    ink = 40 if variant == "faint" else 255
    img = render_text(text, ink=ink)
    if variant == "warp":
        img = warp_image(np.ascontiguousarray(np.rot90(img, k)), 5, 16)
    elif variant == "skew":
        img = rotate_small(np.ascontiguousarray(np.rot90(img, k)), a)
    elif variant == "faint":
        img = np.ascontiguousarray(np.rot90(
            add_speckles(img, rng, 4, ink=ink), k))
    else:
        img = add_speckles(img, rng, 6)
        img = np.ascontiguousarray(np.rot90(img, k))
    r = _Recognizer.get()
    got = r.recognize(img.tobytes(), img.shape[0], img.shape[1])
    assert got == decode_bitmap(img) == _expected(text)
