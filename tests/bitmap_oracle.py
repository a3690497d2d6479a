"""Pure-numpy reference decoder for the synthetic glyph font.

The inverse of ``ocr_spark.fonts.render_text``, one image at a time:
preprocess -> binarize -> segment lines -> classify fixed-pitch cells.
The Spark-side recognizer (``ocr_spark.operators.ocr``) implements the
same algorithm batched; tests compare the two and use this decoder as
the oracle for the preprocessing round trips.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.fonts import (
    CHAR_PITCH,
    GLYPH_H,
    GLYPH_W,
    LINE_PITCH,
    TEMPLATE_CHARS,
    TEMPLATE_MATRIX,
)
from ocr_spark.preprocess import (
    FAINT_ACCEPT_SCORE,
    FAINT_THRESHOLD,
    ROTATION_ACCEPT_SCORE,
    SPECKLE_INK_MAX,
    normalize_illumination,
    try_collapse_upscale,
    try_derotate,
    try_dewarp,
)

# Hamming distance via |c != t| = |c| + |t| - 2*c.t (binary vectors):
# one BLAS matmul instead of a 3D boolean broadcast
_TEMPLATE_T = TEMPLATE_MATRIX.astype(np.int32).T
_TEMPLATE_SUMS = TEMPLATE_MATRIX.sum(axis=1).astype(np.int32)


def detect_rotation(img: np.ndarray, threshold: int = 64) -> int:
    """Detect 0/90/180/270-degree rotation (reference skew-detect +
    upright gate, reference src/ocr/image_utils.py:268-315,
    focus_pytesseract.py:36-48, rotations image_utils.py:238-265).

    Deterministic criterion: for each candidate de-rotation, classify all
    non-blank cells and sum the template Hamming distances; the true
    orientation of a rendered image scores 0 (glyphs align with the
    fixed pitch), wrong ones don't. Ties (noise/blank) resolve to the
    first candidate in (0, 90, 180, 270) — the upright-bias the
    reference's ±2-degree tolerance gate encodes.
    Returns k such that np.rot90(img, k) is upright.
    """
    binary = (img >= threshold).astype(np.uint8)
    if binary.size == 0 or binary.max() == 0:
        return 0
    best_k, best_score = 0, None
    for k in (0, 1, 2, 3):
        b = np.rot90(binary, k)
        h, w = b.shape
        n_lines = (h + LINE_PITCH - 1) // LINE_PITCH
        n_cells = (w + CHAR_PITCH - 1) // CHAR_PITCH
        padded = np.zeros((n_lines * LINE_PITCH, n_cells * CHAR_PITCH),
                          dtype=np.uint8)
        padded[:h, :w] = b
        cells = (
            padded.reshape(n_lines, LINE_PITCH, n_cells, CHAR_PITCH)
            .transpose(0, 2, 1, 3)[:, :, :GLYPH_H, :GLYPH_W]
        )
        flat = cells.reshape(-1, GLYPH_H * GLYPH_W)
        # cells at/below the speckle budget are noise, not glyphs (real
        # glyphs carry >= 4 forced corner px) — see preprocess.py denoise
        sums = flat.sum(axis=1, dtype=np.int32)
        inked = flat[sums > SPECKLE_INK_MAX]
        if inked.size == 0:
            continue
        dots = inked.astype(np.int32) @ _TEMPLATE_T
        dists = (sums[sums > SPECKLE_INK_MAX][:, None]
                 + _TEMPLATE_SUMS[None, :] - 2 * dots)
        score = dists.min(axis=1).sum() / max(len(inked), 1)
        if best_score is None or score < best_score:
            best_k, best_score = k, score
            if score < ROTATION_ACCEPT_SCORE:
                break  # upright (speckled uprights score < 1; wrong
                # right-angle rotations score ~8+) — same early-accept
                # as the batch recognizer so both decode identically
    return best_k


def _decode_pass(img: np.ndarray, threshold: int) -> tuple[str, float]:
    """One preprocess+binarize+classify pass; returns (text, mean
    min-Hamming over inked cells) — score inf when nothing inks."""
    img = try_derotate(img, threshold)
    img = try_dewarp(img, threshold)
    img = try_collapse_upscale(img)
    k = detect_rotation(img, threshold)
    if k:
        img = np.rot90(img, k)
    binary = (img >= threshold).astype(np.uint8)
    if binary.size == 0 or binary.max() == 0:
        return "", float("inf")
    h, w = binary.shape
    n_lines = (h + LINE_PITCH - 1) // LINE_PITCH
    n_cells = (w + CHAR_PITCH - 1) // CHAR_PITCH
    lines: list[str] = []
    dist_total = 0
    inked = 0
    for li in range(n_lines):
        band = binary[li * LINE_PITCH : li * LINE_PITCH + GLYPH_H]
        chars: list[str] = []
        for ci in range(n_cells):
            x = ci * CHAR_PITCH
            cell = np.zeros((GLYPH_H, GLYPH_W), dtype=np.uint8)
            patch = band[:, x : x + GLYPH_W]
            cell[: patch.shape[0], : patch.shape[1]] = patch
            if cell.sum() <= SPECKLE_INK_MAX:
                chars.append(" ")
                continue
            flat = cell.reshape(-1)
            dists = np.count_nonzero(TEMPLATE_MATRIX != flat, axis=1)
            dist_total += int(dists.min())
            inked += 1
            chars.append(TEMPLATE_CHARS[int(np.argmin(dists))])
        lines.append("".join(chars).rstrip())
    while lines and not lines[-1]:
        lines.pop()
    score = dist_total / inked if inked else float("inf")
    return "\n".join(lines), score


def decode_bitmap(img: np.ndarray, threshold: int = 64) -> str:
    """Inverse of render_text: binarize -> segment lines -> classify chars.

    Preprocessing chain (mirrors the reference's dewarp + optimizeForOCR
    order, see preprocess.py): rectify framed row-shear warps, collapse
    integer upscales, then de-rotate; cell-level denoise happens inside
    classification (speckle-budget blank rule). When the primary
    binarization sees nothing, the faint re-OCR cascade retries at
    FAINT_THRESHOLD and accepts only a confident result (reference
    grey/color/binary retry, src/ocr/tesseract.js:136-183).
    """
    # lit-document polarity first (same router as the Spark recognizer,
    # operators/ocr.py _cascade): photographed-page variants equalize /
    # adaptive-binarize into the canonical dark-background domain
    img = normalize_illumination(img)
    text, _ = _decode_pass(img, threshold)
    if text:
        return text
    if threshold > FAINT_THRESHOLD:
        text, score = _decode_pass(img, FAINT_THRESHOLD)
        if text and score <= FAINT_ACCEPT_SCORE:
            return text
    return ""
