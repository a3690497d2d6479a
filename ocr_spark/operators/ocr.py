"""Media branch: synthetic OCR as an Arrow-batched mapInPandas operator.

Tesseract-style recognition re-expressed for Spark (north rule): per blob,
binarize -> fixed-geometry line segmentation -> template character
classification. The recognizer is a per-executor lazy singleton built once
per Python worker process (iterator mapInPandas), mirroring the reference's
shared Tesseract worker lifecycle (reference src/ocr/tesseract.js:13-47:
init once, reuse across jobs, terminate at shutdown) — the canonical Spark
pattern for amortizing heavy model init.

Scale notes (100 TB):
  * OCR runs on the *deduplicated blob set*, not per span — the pipeline
    (operators/extraction_inrow.py) semi-joins blobs against distinct
    media_refs first, so a blob referenced by 10^4 documents is recognized
    once.
  * The operator is a mapInPandas projection: no shuffle of pixel data
    beyond the pruning semi-join; output is (media_ref, text) — orders of
    magnitude smaller than the input — so downstream joins move text, not
    pixels.
  * Within a batch, character classification is one vectorized Hamming
    distance against the template matrix for ALL cells of ALL lines of one
    image (numpy), not per-character Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..fonts import CHAR_PITCH, GLYPH_H, GLYPH_W, LINE_PITCH

OCR_THRESHOLD = 64

OCR_OUTPUT_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("text", T.StringType()),
])


class _Recognizer:
    """Executor-scoped singleton recognizer (template classifier)."""

    _instance: "_Recognizer | None" = None
    init_count = 0  # observable in tests: must be 1 per worker process

    def __init__(self) -> None:
        # import here so the template build cost is paid once per worker
        from ..blas_pin import pin_blas_single_thread
        from ..fonts import TEMPLATE_CHARS, TEMPLATE_MATRIX

        pin_blas_single_thread()

        self.template_matrix = TEMPLATE_MATRIX.astype(np.uint8)
        # Hamming distance via the binary identity |c != t| = |c| + |t|
        # - 2*c.t: one small matmul per image instead of an
        # O(cells x templates x 35) boolean broadcast. float32, because
        # numpy routes integer matmul through a slow generic loop while
        # float32 hits BLAS — and every value here is < 2^24, so float32
        # arithmetic is EXACT (glyph dot products max out at 35)
        self.template_t = TEMPLATE_MATRIX.astype(np.float32).T
        self.template_sums = TEMPLATE_MATRIX.sum(axis=1).astype(np.int32)
        self.template_chars = np.array(TEMPLATE_CHARS)
        _Recognizer.init_count += 1

    @classmethod
    def get(cls) -> "_Recognizer":
        if cls._instance is None:
            cls._instance = cls()
        return cls._instance

    @staticmethod
    def preprocess(img: np.ndarray,
                   threshold: int = OCR_THRESHOLD) -> np.ndarray:
        """Derotate-dewarp-descale chain (reference order: deskew by the
        detected continuous angle, then dewarp, then optimizeForOCR —
        focus_pytesseract.py:41-48, cli.py:148-157; every step gated,
        identity on plain renders — see preprocess.py)."""
        from ..preprocess import (try_collapse_upscale, try_derotate,
                                  try_dewarp)

        img = try_derotate(img, threshold)
        img = try_dewarp(img, threshold)
        return try_collapse_upscale(img)

    def _classify_full(self, binary: np.ndarray):
        """Cell grid -> (char grid, mean min-Hamming over inked cells,
        per-cell min-Hamming grid)."""
        height, width = binary.shape
        n_lines = -(-height // LINE_PITCH)
        n_cells = -(-width // CHAR_PITCH)
        padded = np.zeros((n_lines * LINE_PITCH, n_cells * CHAR_PITCH),
                          dtype=np.uint8)
        padded[:height, :width] = binary
        # (n_lines, n_cells, GLYPH_H, GLYPH_W) cell tensor, one reshape
        cells = (
            padded.reshape(n_lines, LINE_PITCH, n_cells, CHAR_PITCH)
            .transpose(0, 2, 1, 3)[:, :, :GLYPH_H, :GLYPH_W]
        )
        flat = cells.reshape(n_lines * n_cells, GLYPH_H * GLYPH_W)
        # cell-level denoise (preprocess.py): cells at/below the speckle
        # budget are blank — glyphs always carry >= 4 forced corner px
        from ..preprocess import SPECKLE_INK_MAX

        cell_sums = flat.sum(axis=1, dtype=np.int32)
        blank = cell_sums <= SPECKLE_INK_MAX
        # Hamming distance to every template via one BLAS matmul (float32
        # is exact here: all products <= 35 < 2^24)
        dots = (flat.astype(np.float32) @ self.template_t).astype(np.int32)
        dists = cell_sums[:, None] + self.template_sums[None, :] - 2 * dots
        mins = dists.min(axis=1)
        chars = self.template_chars[np.argmin(dists, axis=1)]
        chars[blank] = " "
        inked = (~blank).sum()
        score = mins[~blank].sum() / inked if inked else np.inf
        mins = np.where(blank, 0, mins)
        return chars.reshape(n_lines, n_cells), score, \
            mins.reshape(n_lines, n_cells)

    def _best_grid(self, binary: np.ndarray):
        """Upright gate + corrective rotate fused with classification
        (reference skew pipeline, reference src/ocr/
        focus_pytesseract.py:36-48): try 0/90/180/270, keep the grid with
        the best template alignment; upright renders score 0 on the first
        candidate so the common case classifies ONCE. Returns
        (char grid, score, per-cell min-Hamming grid, rotation k)."""
        from ..preprocess import ROTATION_ACCEPT_SCORE

        best = None
        for k in (0, 1, 2, 3):
            grid, score, mins = self._classify_full(np.rot90(binary, k))
            if best is None or score < best[1]:
                best = (grid, score, mins, k)
                if score < ROTATION_ACCEPT_SCORE:
                    break  # upright (speckles score << wrong rotations)
        return best

    @staticmethod
    def _grid_lines(grid: np.ndarray) -> list[str]:
        lines = ["".join(row).rstrip() for row in grid]
        while lines and not lines[-1]:
            lines.pop()
        return lines

    def _grid_pass(self, img0: np.ndarray, threshold: int):
        """One full preprocess+binarize+classify pass at `threshold`;
        None when the binarization sees nothing."""
        img = self.preprocess(img0, threshold)
        binary = (img >= threshold).astype(np.uint8)
        if binary.size == 0 or not binary.any():
            return None
        grid, score, mins, k = self._best_grid(binary)
        return binary, grid, score, mins, k

    def _cascade(self, img0: np.ndarray):
        """Primary pass at OCR_THRESHOLD; when it sees nothing, the
        reference's re-OCR cascade (grey/color/binary retries,
        src/ocr/tesseract.js:136-183) rebinarizes at FAINT_THRESHOLD and
        accepts only a confident result — faint-ink documents decode,
        sub-threshold noise stays empty."""
        from ..preprocess import (FAINT_ACCEPT_SCORE, FAINT_THRESHOLD,
                                  normalize_illumination)

        # lit-document polarity first (reference grayscale+contrast+
        # threshold chain, focus_impl.py:33-44): equalize / adaptive-
        # binarize photographed-page variants into the canonical domain;
        # identity on dark-background images
        img0 = normalize_illumination(img0)
        out = self._grid_pass(img0, OCR_THRESHOLD)
        if out is not None and self._grid_lines(out[1]):
            return out
        retry = self._grid_pass(img0, FAINT_THRESHOLD)
        if (retry is not None and retry[2] <= FAINT_ACCEPT_SCORE
                and self._grid_lines(retry[1])):
            return retry
        return out

    def recognize(self, pixels: bytes, height: int, width: int) -> str:
        # canonical decode first (PNG payloads sniffed, raw passthrough) —
        # the reference's every-input-through-PNG step (cli.py:100-112)
        from ..png_codec import blob_to_array

        out = self._cascade(blob_to_array(pixels, height, width))
        if out is None:
            return ""
        _, grid, _, _, _ = out
        return "\n".join(self._grid_lines(grid))


def _ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    recognizer = _Recognizer.get()  # singleton: init once per worker
    for pdf in batches:
        texts = [
            recognizer.recognize(px, h, w)
            for px, h, w in zip(pdf["pixels"], pdf["height"], pdf["width"])
        ]
        yield pd.DataFrame({"media_ref": pdf["media_ref"], "text": texts})


def recognize_blobs(blobs: DataFrame) -> DataFrame:
    """(media_ref, width, height, pixels) -> (media_ref, text).

    Caller is responsible for pruning to needed refs first (left-semi join)
    so recognition cost is O(distinct blobs), not O(spans).
    """
    cols = blobs.select("media_ref", "height", "width", "pixels")
    return cols.mapInPandas(_ocr_batches, schema=OCR_OUTPUT_SCHEMA)


# ---------------------------------------------------------------------------
# span-record variant: the reference's OCRResult shape
# ---------------------------------------------------------------------------

OCR_SPAN_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("line_no", T.IntegerType()),
    T.StructField("bbox", T.ArrayType(T.ArrayType(T.IntegerType()))),
    T.StructField("text", T.StringType()),
    T.StructField("confidence", T.DoubleType()),
    T.StructField("section", T.StringType()),
    T.StructField("quadrant", T.StringType()),
])


def _line_spans(recognizer: "_Recognizer", pixels: bytes, height: int,
                width: int) -> list[tuple]:
    """Per-line OCR spans with bbox + confidence + section.

    Mirrors the reference's EasyOCR record shape `{bbox: [[x,y]x4],
    text, confidence, section}` (reference src/ocr/
    easyocr_impl.py:25-29, 108-129): bbox corners are TL/TR/BR/BL of the
    fixed-pitch line band; confidence = fraction of the line's non-space
    chars whose cell matches its template pixel-exactly (min-Hamming 0) —
    identical to re-rendering the decoded line and comparing the band,
    but read directly off the classifier's distance matrix; section =
    top/bottom half (the reference's crop-section vocabulary,
    easyocr_impl.py:183-188) plus the quarter label
    (image_utils.py:78-114 via preprocess.quadrant_of).
    """
    from ..fonts import CHAR_PITCH, GLYPH_H, LINE_PITCH
    from ..preprocess import quadrant_of

    # bbox/confidence math happens in the RECTIFIED UPRIGHT frame
    # (reference order: dewarp -> optimize -> corrective rotate -> OCR,
    # cli.py:148-157, focus_pytesseract.py:41-48); same faint re-OCR
    # cascade as recognize()
    from ..png_codec import blob_to_array

    out = recognizer._cascade(blob_to_array(pixels, height, width))
    if out is None:
        return []
    binary, grid, _, mins, k = out
    height, width = np.rot90(binary, k).shape
    out = []
    for i, line in enumerate(recognizer._grid_lines(grid)):
        if not line:
            continue
        y0 = i * LINE_PITCH
        x1 = len(line) * CHAR_PITCH
        y1 = min(y0 + GLYPH_H, height)
        bbox = [[0, y0], [x1, y0], [x1, y1], [0, y1]]
        chars = np.frombuffer(line.encode("ascii", "replace"), dtype="S1")
        nonspace = chars != b" "
        total = max(1, int(nonspace.sum()))
        wrong = int((nonspace & (mins[i, :len(line)] > 0)).sum())
        conf = round(1.0 - wrong / total, 4)
        section = "top_half" if y0 < height / 2 else "bottom_half"
        quadrant = quadrant_of(x1 / 2, (y0 + y1) / 2, width, height)
        out.append((i, bbox, line, conf, section, quadrant))
    return out


def _ocr_span_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    recognizer = _Recognizer.get()
    for pdf in batches:
        rows = []
        for ref, px, h, w in zip(pdf["media_ref"], pdf["pixels"],
                                 pdf["height"], pdf["width"]):
            for line_no, bbox, text, conf, section, quadrant in _line_spans(
                    recognizer, px, h, w):
                rows.append((ref, line_no, bbox, text, conf, section,
                             quadrant))
        yield pd.DataFrame(
            rows,
            columns=["media_ref", "line_no", "bbox", "text",
                     "confidence", "section", "quadrant"],
        )


def recognize_blob_spans(blobs: DataFrame) -> DataFrame:
    """(media_ref, width, height, pixels) -> one row per recognized line
    in the reference's OCRResult shape (bbox, text, confidence, section,
    quadrant)."""
    cols = blobs.select("media_ref", "height", "width", "pixels")
    return cols.mapInPandas(_ocr_span_batches, schema=OCR_SPAN_SCHEMA)


# ---------------------------------------------------------------------------
# crop variants: the reference's split/crop cascade as a DataFrame operator
# ---------------------------------------------------------------------------

CROP_OUTPUT_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType()),
    T.StructField("crop", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("pixels", T.BinaryType()),
])


def crop_blob_variants(blobs: DataFrame,
                       modes: tuple[str, ...] | None = None) -> DataFrame:
    """Explode each blob into named crop variants (reference
    cropImageVariants halves + quarter splits + 0.5 ratio splits,
    reference src/ocr/image_utils.js:23-67,
    image_utils/split-image.js:31-101, image_utils.py:60-114).

    Scale note: this multiplies pixel bytes by len(modes) — in the
    reference it feeds the per-image recall cascade; here it is a map-side
    projection (no shuffle) and the recognizer still runs once per
    distinct (ref, crop)."""
    from ..png_codec import blob_to_array
    from ..preprocess import CROP_MODES, QUARTER_MODES, crop_image

    modes = tuple(modes) if modes else CROP_MODES + QUARTER_MODES

    def _crop(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, px, h, w in zip(pdf["media_ref"], pdf["pixels"],
                                     pdf["height"], pdf["width"]):
                img = blob_to_array(px, h, w)
                for mode in modes:
                    c = crop_image(img, mode)
                    rows.append((ref, mode, c.shape[1], c.shape[0],
                                 c.tobytes()))
            yield pd.DataFrame(
                rows, columns=["media_ref", "crop", "width", "height",
                               "pixels"])

    cols = blobs.select("media_ref", "height", "width", "pixels")
    return cols.mapInPandas(_crop, schema=CROP_OUTPUT_SCHEMA)
