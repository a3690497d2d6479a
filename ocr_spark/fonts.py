"""Deterministic bitmap glyph font for the synthetic media corpus.

The reference OCRs real photos with Tesseract/EasyOCR (non-deterministic,
model-dependent). Our corpus must be *exactly invertible* so the
north-rule span-sequence-equality gate is a strict equality test
(FIXTURES.md section 2): the generator renders text with this font, and the
recognizer (ocr_spark.operators.ocr) recovers it bit-exactly via
binarize -> row-projection line segmentation -> fixed-pitch template
classification — the same binarize/segment/classify vocabulary the
reference uses (cf. reference src/ocr/focus_impl.py:21-51,
image_utils.py:123-235), with a deterministic classifier standing in for
the Tesseract LSTM.

Glyphs are 5x7 bitmaps derived from md5(char) bits — arbitrary but fixed,
mutually distinct, with forced ink in the top and bottom rows so a rendered
text line always occupies exactly GLYPH_H consecutive ink rows (makes line
segmentation exact). Space is the all-blank glyph.
"""

from __future__ import annotations

import hashlib

import numpy as np

GLYPH_W = 5
GLYPH_H = 7
CHAR_PITCH = GLYPH_W + 1  # 1 blank separator column
LINE_PITCH = GLYPH_H + 3  # 3 blank separator rows
ALPHABET = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ-.:/ "


def _glyph_for(ch: str) -> np.ndarray:
    if ch == " ":
        return np.zeros((GLYPH_H, GLYPH_W), dtype=np.uint8)
    digest = hashlib.md5(ch.encode("utf-8")).digest()
    bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
    g = bits[: GLYPH_H * GLYPH_W].reshape(GLYPH_H, GLYPH_W).astype(np.uint8)
    # Force ink at the four corners: every non-space glyph then spans the
    # full 7 rows and starts at column 0 of its cell -> exact segmentation.
    g[0, 0] = g[0, -1] = g[-1, 0] = g[-1, -1] = 1
    return g


GLYPHS: dict[str, np.ndarray] = {ch: _glyph_for(ch) for ch in ALPHABET}

# Verify mutual distinctness once at import (35-bit patterns; md5-derived).
_seen: dict[bytes, str] = {}
for _ch, _g in GLYPHS.items():
    _key = _g.tobytes()
    if _key in _seen:  # pragma: no cover - would be a generator bug
        raise RuntimeError(f"glyph collision: {_ch!r} vs {_seen[_key]!r}")
    _seen[_key] = _ch

# Flat template matrix for vectorized classification: (n_chars, 35)
TEMPLATE_CHARS = list(ALPHABET)
TEMPLATE_MATRIX = np.stack([GLYPHS[c].reshape(-1) for c in TEMPLATE_CHARS])


def render_text(text: str, ink: int = 255) -> np.ndarray:
    """Render text (possibly multi-line) to a uint8 grayscale bitmap.

    Background 0, ink `ink`. Lines are top-aligned at multiples of
    LINE_PITCH; chars at multiples of CHAR_PITCH. Unknown chars render as
    '-'. Returns array of shape (h, w).
    """
    lines = text.split("\n")
    lines = [ln.rstrip() for ln in lines]
    width = max((len(ln) for ln in lines), default=0) * CHAR_PITCH
    height = len(lines) * LINE_PITCH
    img = np.zeros((max(height, 1), max(width, 1)), dtype=np.uint8)
    for li, ln in enumerate(lines):
        y = li * LINE_PITCH
        for ci, ch in enumerate(ln):
            g = GLYPHS.get(ch.upper(), GLYPHS["-"])
            x = ci * CHAR_PITCH
            img[y : y + GLYPH_H, x : x + GLYPH_W] = g * ink
    return img
