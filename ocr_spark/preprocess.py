"""Deterministic image-preprocessing analogs of the reference's chain.

The reference preprocesses every image before recognition:

  * dewarp: adaptive threshold -> largest contour -> 4-corner perspective
    rectify (reference src/ocr/image_utils.py:123-235), run on every
    image in both the CLI path (cli.py:148-157) and the focus path
    (focus_pytesseract.py:49-55).
  * optimizeForOCR: grayscale -> upscale x2 (cubic) -> contrast/brightness
    -> sharpen -> median denoise -> normalize
    (reference src/ocr/image_utils/optimize-image.js:11-62,
    focus_impl.py:21-51).
  * crop variants: full / top_half / bottom_half / left_half / right_half
    and quarters, driving the recall cascade
    (reference src/ocr/image_utils.js:23-67,
    image_utils/split-image.js:31-101, image_utils.py:60-114).

Those operators are continuous-image transforms; this engine's correctness
bar is EXACT span equality, so each gets an exactly-invertible analog over
the synthetic bitmap font:

  * warp_image / try_dewarp — the corpus stores "photographed" variants:
    the render is framed by a 1-px document border (the contour the
    reference detects) and row-sheared by an integer-shift linear ramp (a
    rasterized affine shear = small-skew perspective). try_dewarp detects
    the frame (every row inked, constant row width, solid top/bottom
    borders — the 4-corner test), shifts each row back by its left-border
    offset and crops the frame: bit-exact inverse. The shear slope is the
    analog of the reference's continuous skew angle (-45..+45 deg,
    image_utils.py:268-306): skew = atan(slope).
  * upscale / try_collapse_upscale — nearest-neighbor integer upscale
    (reference scale=2) stored in the corpus; recognition detects
    k-block-constant images and collapses them: bit-exact inverse.
  * speckle noise / cell-level denoise — the corpus adds salt speckles
    (<= MAX_SPECKLES_PER_CELL per glyph cell); the classifier treats any
    cell with <= SPECKLE_INK_MAX ink pixels as blank (real glyphs always
    carry >= 4 forced corner pixels plus md5 bits), and speckles landing
    inside a glyph cell only add Hamming distance well under half the
    minimum inter-template distance (7). This is the denoise step of
    optimizeForOCR, restated as a rule the 5x7-cell domain makes exact.
  * lit-document contrast chain — the corpus stores "photographed page"
    polarity variants (dark ink on a light background, like every input
    the reference OCRs): `lowcontrast` (flat background B, ink B-d with
    d as small as 4) and `shaded` (smooth illumination gradient, ink a
    constant drop below the LOCAL background). normalize_illumination
    routes them by background polarity and rescues each with the exact
    analog of the reference op that exists for precisely this failure:
    equalize_hist (cv2.equalizeHist, focus_impl.py:37) for flat
    low-contrast pages — a fixed threshold cannot place itself between
    B-d and B for every (B, d), histogram equalization can; and
    adaptive_binarize (cv2.adaptiveThreshold block=21 C=15,
    image_utils.py:153-155) for shaded pages — NO global threshold
    separates a gradient whose background spans more than the ink drop,
    a local-mean threshold does, exactly (margin arithmetic at
    adaptive_binarize). Sharpen alone retains the documented stance: an
    unsharp kernel over clipped uint8 is not exactly invertible, so it
    has no surface under a bit-exact equality gate.
"""

from __future__ import annotations

import numpy as np

FRAME_MARGIN = 2          # frame line + 1 blank row/col on each side
SPECKLE_INK_MAX = 2       # cells with <= this many ink px are noise
MAX_SPECKLES_PER_CELL = 2
UPSCALE_FACTORS = (3, 2)  # detection order (largest first)
# Rotation search early-accept: a candidate orientation scoring below this
# mean min-Hamming is upright (speckled uprights score well under 1 bit
# per inked cell; wrong right-angle rotations score ~8+ against 5x7
# templates with min pairwise distance 7). Shared by the recognizer and
# the pure-numpy oracle so both decode identically.
ROTATION_ACCEPT_SCORE = 1.0
# Re-OCR cascade (reference grey/color/binary retry, src/ocr/
# tesseract.js:136-183): when the primary binarize (threshold 64) sees
# nothing, rebinarize at FAINT_THRESHOLD and accept the result only when
# its mean min-Hamming clears FAINT_ACCEPT_SCORE — faint-ink renders
# (ink 32..59) decode perfectly, sub-threshold noise blobs score far
# above the bar and stay "".
FAINT_THRESHOLD = 24
FAINT_ACCEPT_SCORE = 2.0


# --------------------------------------------------------------------------
# warp (datagen side) / dewarp (recognizer side)
# --------------------------------------------------------------------------

def frame_image(img: np.ndarray, ink: int = 255) -> np.ndarray:
    """Surround the render with a 1-px solid document border plus a blank
    ring (FRAME_MARGIN) — the contour the reference's dewarp detects."""
    h, w = img.shape
    m = FRAME_MARGIN
    framed = np.zeros((h + 2 * m, w + 2 * m), dtype=np.uint8)
    framed[m:m + h, m:m + w] = img
    framed[0, :] = framed[-1, :] = ink
    framed[:, 0] = framed[:, -1] = ink
    return framed


def _shear_rows(img: np.ndarray, num: int, den: int) -> np.ndarray:
    """Horizontal integer shear: row y shifts right by (y*num)//den,
    normalized to non-negative; canvas grows to fit. One vectorized
    scatter — no per-row Python loop."""
    h, w = img.shape
    shifts = (np.arange(h, dtype=np.int64) * num) // den
    shifts -= shifts.min()
    out = np.zeros((h, w + int(shifts.max())), dtype=np.uint8)
    cols = shifts[:, None] + np.arange(w, dtype=np.int64)[None, :]
    out[np.arange(h)[:, None], cols] = img
    return out


def _unshear_rows(img: np.ndarray, num: int, den: int) -> np.ndarray | None:
    """Exact inverse of _shear_rows given the same (num, den): the input
    width of the forward op is recoverable as w_out - max(shift)."""
    h, w = img.shape
    shifts = (np.arange(h, dtype=np.int64) * num) // den
    shifts -= shifts.min()
    w_in = w - int(shifts.max())
    if w_in < 1:
        return None
    cols = shifts[:, None] + np.arange(w_in, dtype=np.int64)[None, :]
    return img[np.arange(h)[:, None], cols]


def _shear_cols(img: np.ndarray, num: int, den: int) -> np.ndarray:
    return np.ascontiguousarray(_shear_rows(img.T, num, den).T)


def _unshear_cols(img: np.ndarray, num: int, den: int) -> np.ndarray | None:
    r = _unshear_rows(np.ascontiguousarray(img.T), num, den)
    return None if r is None else np.ascontiguousarray(r.T)


def warp_image(img: np.ndarray, slope_num: int, slope_den: int,
               ink: int = 255) -> np.ndarray:
    """Frame the image with a 1-px document border and apply an integer
    row-shear: row y is shifted right by (y * slope_num) // slope_den
    (normalized to non-negative). Exactly inverted by try_dewarp."""
    return _shear_rows(frame_image(img, ink), slope_num, slope_den)


def try_dewarp(img: np.ndarray, threshold: int) -> np.ndarray:
    """Rectify a framed row-sheared image; return `img` unchanged when no
    document frame is detected (the reference's could-not-find-4-corners
    fallback, image_utils.py:219-235).

    Frame signature (binarized): every row between the first and last
    inked row carries ink, the inked row width is constant, and the first
    and last rows are solid ink runs (top/bottom borders). Plain renders
    fail the every-row test (blank line gaps); rotated plain renders fail
    it at the char-pitch separator columns.
    """
    b = img >= threshold
    rows_any = b.any(axis=1)
    if not rows_any.any():
        return img
    inked = np.flatnonzero(rows_any)
    y0, y1 = int(inked[0]), int(inked[-1])
    if y1 - y0 < 2 * FRAME_MARGIN:
        return img
    if not rows_any[y0:y1 + 1].all():
        return img
    band = b[y0:y1 + 1]
    xs_min = band.argmax(axis=1)
    xs_max = band.shape[1] - 1 - band[:, ::-1].argmax(axis=1)
    widths = xs_max - xs_min
    if not (widths == widths[0]).all():
        return img
    fw = int(widths[0]) + 1
    if fw < 2 * FRAME_MARGIN + 1:
        return img
    if not (band[0, xs_min[0]:xs_max[0] + 1].all()
            and band[-1, xs_min[-1]:xs_max[-1] + 1].all()):
        return img
    rect = np.zeros((y1 - y0 + 1, fw), dtype=img.dtype)
    for i, y in enumerate(range(y0, y1 + 1)):
        rect[i] = img[y, xs_min[i]:xs_min[i] + fw]
    m = FRAME_MARGIN
    return np.ascontiguousarray(rect[m:-m, m:-m])


# --------------------------------------------------------------------------
# continuous-angle rotation (datagen side) / derotate (recognizer side)
# --------------------------------------------------------------------------

# Shear denominator for the three-shear rotation: tan(theta/2) = a / SKEW_DEN.
# a in [-8, 8] covers roughly -14.3 .. +14.3 degrees — the small-skew band
# the reference's deskew targets (image_utils.py:268-306 normalizes the
# minAreaRect angle into this regime before cv2.warpAffine).
SKEW_DEN = 64
# Largest |a| try_derotate searches (about 21 degrees).
MAX_SKEW_A = 12


def _rot_shears(a: int) -> tuple[int, int, int, int]:
    """(x_num, x_den, y_num, y_den) for the three-shear rotation with
    tan(theta/2) = a/SKEW_DEN: x-shear twice by a/SKEW_DEN, y-shear once
    by sin(theta) = 2*a*SKEW_DEN / (SKEW_DEN^2 + a^2) — all integer
    rationals."""
    return a, SKEW_DEN, 2 * a * SKEW_DEN, SKEW_DEN * SKEW_DEN + a * a


def rotate_small(img: np.ndarray, a: int, ink: int = 255) -> np.ndarray:
    """Frame the render and rotate it by theta = 2*atan(a/SKEW_DEN) using
    Paeth's three-shear decomposition (shear-x, shear-y, shear-x), each
    shear an integer per-row/column shift — the rasterized analog of the
    reference's continuous-angle corrective rotation
    (reference src/ocr/focus_pytesseract.py:41-48,
    image_utils.py:268-306), built exactly invertible: try_derotate
    recovers the framed upright image bit-for-bit.
    """
    xn, xd, yn, yd = _rot_shears(a)
    out = _shear_rows(frame_image(img, ink), xn, xd)
    out = _shear_cols(out, yn, yd)
    return _shear_rows(out, xn, xd)


def _inverse_rotate(img: np.ndarray, a: int) -> np.ndarray | None:
    """Exact inverse of rotate_small's shear stack for a known `a`; None
    when the canvas is too small to have been produced by it."""
    xn, xd, yn, yd = _rot_shears(a)
    out = _unshear_rows(img, xn, xd)
    if out is not None:
        out = _unshear_cols(out, yn, yd)
    if out is not None:
        out = _unshear_rows(out, xn, xd)
    return out


def _is_framed_upright(b: np.ndarray) -> bool:
    """Strict frame signature of an UNSHEARED framed image: solid ink
    perimeter, plausible dims. Wrong shear inverses misalign the border
    into the blank ring, so this acts as the exact verification oracle
    for derotation candidates."""
    m = FRAME_MARGIN
    if b.shape[0] < 2 * m + 1 or b.shape[1] < 2 * m + 1:
        return False
    return bool(b[0].all() and b[-1].all() and b[:, 0].all()
                and b[:, -1].all())


def try_derotate(img: np.ndarray, threshold: int) -> np.ndarray:
    """Detect and exactly invert a rotate_small three-shear rotation;
    return `img` unchanged when no rotated document frame is found (the
    reference's deskew no-ops on already-upright inputs).

    Detection estimates sin(theta) from the top-edge ramp of the rotated
    frame (median per-column gradient of the first-ink profile — robust
    to the corner columns where the side border dominates), maps it to a
    candidate integer shear parameter, then verifies candidates in a
    small window with the EXACT inverse + frame-signature check. The
    estimate only needs to land within the window; correctness comes
    from the bit-exact verification, never from the fit.
    """
    b = img >= threshold
    h, w = b.shape
    if h < 2 * FRAME_MARGIN + 1 or w < 2 * FRAME_MARGIN + 1:
        return img
    # document frames are SPARSE (1-px border + glyph ink, ~5-15%);
    # dense ink means noise, not a frame — bail before the candidate
    # scan (noise blobs otherwise pay the full-range scan every time the
    # faint cascade retries them at the low threshold). The 2*(h+w)
    # allowance keeps tiny framed canvases (border-dominated) eligible.
    if int(b.sum()) > b.size // 3 + 2 * (h + w):
        return img
    cols_any = b.any(axis=0)
    if not cols_any.any():
        return img
    x0, x1 = int(cols_any.argmax()), w - 1 - int(cols_any[::-1].argmax())
    span = x1 - x0 + 1
    # rotated frames ink (almost) every column of their bounding box (top
    # border + side edges; the shear staircase can skip a column at a
    # corner) — plain renders have a blank separator every CHAR_PITCH
    blank_cols = int((~cols_any[x0:x1 + 1]).sum())
    if span < 2 * FRAME_MARGIN + 1 or blank_cols > max(2, span // 32):
        return img
    # row-shear warps (the other framed family) also ink every bbox
    # column, but carry the warp signature instead: every row inked at
    # CONSTANT width. One vectorized check routes them to try_dewarp
    # without paying the candidate scan below.
    rows_any = b.any(axis=1)
    inked_rows = np.flatnonzero(rows_any)
    if len(inked_rows) and rows_any[inked_rows[0]:inked_rows[-1] + 1].all():
        band = b[inked_rows[0]:inked_rows[-1] + 1]
        rx0 = band.argmax(axis=1)
        rx1 = band.shape[1] - 1 - band[:, ::-1].argmax(axis=1)
        widths = rx1 - rx0
        if (widths == widths[0]).all():
            return img
    y_top = b[:, x0:x1 + 1].argmax(axis=0)
    # trim the corner zone where the steep side border owns the profile
    # (width ~ h*tan(theta/2)); the fit only needs window accuracy —
    # exact verification below decides
    lo, hi = span // 8, span - span // 8
    if hi - lo < 3:
        lo, hi = 0, span
    ys = y_top[lo:hi].astype(np.float64)
    slope = float(np.polyfit(np.arange(len(ys), dtype=np.float64), ys, 1)[0])
    # clamp, don't bail: tiny frames give wild fits but the full-range
    # exact scan below still resolves them
    a_est = max(-MAX_SKEW_A,
                min(MAX_SKEW_A, int(round(slope * SKEW_DEN / 2.0))))
    # window around the estimate first (the common case resolves in 1-2
    # exact checks), then the full range ordered by distance — narrow/tall
    # frames can defeat the fit, but never the exact verification; an
    # "off" parameter whose shift pattern coincides at this canvas size
    # yields the identical (correct) inverse
    candidates = sorted(
        (a for a in range(-MAX_SKEW_A, MAX_SKEW_A + 1) if a != 0),
        key=lambda a: abs(a - a_est),
    )
    for a in candidates:
        rect = _inverse_rotate(img, a)
        if rect is not None and _is_framed_upright(rect >= threshold):
            return rect
    return img


# --------------------------------------------------------------------------
# upscale (datagen side) / collapse (recognizer side)
# --------------------------------------------------------------------------

def upscale(img: np.ndarray, k: int) -> np.ndarray:
    """Nearest-neighbor integer upscale (reference optimizeForOCR scale=2,
    optimize-image.js:28-32, made exactly invertible)."""
    return np.ascontiguousarray(np.repeat(np.repeat(img, k, axis=0), k, axis=1))


def try_collapse_upscale(img: np.ndarray) -> np.ndarray:
    """Collapse a k-block-constant image back to base resolution (largest
    k in UPSCALE_FACTORS whose blocks are all constant); identity when the
    image is not an integer upscale (1-px glyph features break block
    constancy on plain renders)."""
    h, w = img.shape
    # cheap reject: any k>=2 upscale duplicates row 0 into row 1; plain
    # renders differ there almost surely (1-px glyph features), so most
    # images skip the O(pixels) block comparison entirely
    if h < 2 or not np.array_equal(img[0], img[1]):
        return img
    for k in UPSCALE_FACTORS:
        if k < 2 or h % k or w % k or h == 0 or w == 0:
            continue
        blocks = img.reshape(h // k, k, w // k, k)
        if (blocks == blocks[:, :1, :, :1]).all():
            return np.ascontiguousarray(blocks[:, 0, :, 0])
    return img


# --------------------------------------------------------------------------
# speckle noise (datagen side) — the denoise rule lives in the classifier
# --------------------------------------------------------------------------

def add_speckles(img: np.ndarray, rng, n: int, ink: int = 255) -> np.ndarray:
    """Salt noise over a rendered text image, respecting the per-cell
    budget that keeps cell-level denoise exact (<= MAX_SPECKLES_PER_CELL
    added ink px per glyph cell). Mutates a copy; returns it."""
    from .fonts import CHAR_PITCH, LINE_PITCH

    out = img.copy()
    budget: dict[tuple[int, int], int] = {}
    placed = 0
    for _ in range(n * 8):  # bounded retry
        if placed >= n:
            break
        y = rng.randrange(out.shape[0])
        x = rng.randrange(out.shape[1])
        cell = (y // LINE_PITCH, x // CHAR_PITCH)
        if budget.get(cell, 0) >= MAX_SPECKLES_PER_CELL:
            continue
        if out[y, x]:
            continue  # only background pixels become salt
        out[y, x] = ink
        budget[cell] = budget.get(cell, 0) + 1
        placed += 1
    return out


# --------------------------------------------------------------------------
# lit-document contrast chain: equalize (M9) + adaptive binarize (M10)
# --------------------------------------------------------------------------

# Background-polarity router: canonical engine images are bright ink on a
# black background (median pixel 0; noise blobs median < 60). The
# reference's photo domain is the opposite — dark ink on a lit page — and
# that is what the contrast ops exist for. median >= LIT_BG_MIN routes an
# image through the lit-document chain.
LIT_BG_MIN = 80
# Local-mean adaptive threshold parameters — the reference's
# cv2.adaptiveThreshold(gray, 255, ADAPTIVE_THRESH_GAUSSIAN_C,
# THRESH_BINARY, 21, 15) (reference src/ocr/image_utils.py:153-155),
# restated mean-based so the exactness argument below is closed-form.
ADAPTIVE_BLOCK = 21
ADAPTIVE_C = 15
# Ink drop of the shaded corpus variant: local background minus ink value.
SHADED_INK_DROP = 64


def equalize_hist(img: np.ndarray,
                  hist: np.ndarray | None = None) -> np.ndarray:
    """Histogram equalization, exact cv2.equalizeHist semantics
    (reference src/ocr/focus_impl.py:37): LUT(v) = round((cdf(v) -
    cdf_min) / (n - cdf_min) * 255), cdf_min = cdf at the lowest occupied
    bin. Any two-valued low-contrast page maps to full-range {0, 255}
    regardless of its absolute levels — which is why it rescues pages a
    fixed threshold cannot. `hist` lets a caller that already counted
    the 256-bin histogram skip the recount."""
    if hist is None:
        hist = np.bincount(img.ravel(), minlength=256)
    cdf = hist.cumsum()
    nz = np.flatnonzero(hist)
    if nz.size <= 1:
        return np.zeros_like(img)  # uniform page: nothing to equalize
    cdf_min = int(cdf[nz[0]])
    denom = int(cdf[-1]) - cdf_min
    lut = np.rint((cdf - cdf_min) / denom * 255.0).clip(0, 255).astype(np.uint8)
    return lut[img]


def _local_mean(img: np.ndarray, block: int) -> np.ndarray:
    """Mean of the (clipped) block x block window around each pixel via an
    integral image — O(pixels), no Python loop."""
    h, w = img.shape
    r = block // 2
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(img, axis=0, dtype=np.int64), axis=1, out=ii[1:, 1:])
    y0 = np.clip(np.arange(h) - r, 0, h)
    y1 = np.clip(np.arange(h) + r + 1, 0, h)
    x0 = np.clip(np.arange(w) - r, 0, w)
    x1 = np.clip(np.arange(w) + r + 1, 0, w)
    sums = (ii[y1][:, x1] - ii[y0][:, x1] - ii[y1][:, x0] + ii[y0][:, x0])
    counts = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return sums / counts


def adaptive_binarize(img: np.ndarray) -> np.ndarray:
    """Local-mean adaptive threshold (reference cv2.adaptiveThreshold,
    image_utils.py:153-155): ink where the pixel sits more than
    c = ADAPTIVE_C below its mean over an ADAPTIVE_BLOCK window. Returns
    canonical polarity (ink 255, bg 0).

    Exact on the shaded corpus family by margin arithmetic: with ink drop
    d = SHADED_INK_DROP = 64, window ink fraction f <= 0.583 (the
    glyph-grid ceiling: GLYPH_H*GLYPH_W / (LINE_PITCH*CHAR_PITCH) even if
    every glyph bit were ink) and ramp deviation |r - rbar| <= 6 (slope
    budget |gx|+|gy| <= 0.6 over a 21-px window), an ink pixel satisfies
    r - d < rbar - d*f - c because 6 < d*(1-f) - c = 64*0.417 - 15 = 11.7,
    and a background pixel never does because -6 > -d*f - c <= -15."""
    mean = _local_mean(img, ADAPTIVE_BLOCK)
    return ((img.astype(np.float64) < mean - ADAPTIVE_C) * 255
            ).astype(np.uint8)


def normalize_illumination(img: np.ndarray) -> np.ndarray:
    """Map a lit-background document (dark ink on a light page — the
    reference's entire photo domain) into the engine's canonical
    bright-ink-on-black domain; identity on canonical images.

    Routing is deterministic: background polarity by majority (more than
    half the pixels at or above LIT_BG_MIN — the histogram-median rule),
    then flat two-valued pages (lowcontrast family) through
    equalize_hist + inversion, many-valued pages (shaded family) through
    adaptive_binarize. Each rescuer is load-bearing for its family ONLY
    (tests prove the cross-assignments fail): equalize's global map
    cannot split a gradient page, and the adaptive margin c = 15 rejects
    flat pages with ink drop d < c.

    Hot-path cost discipline: the router runs on EVERY blob, so the
    polarity test is one 256-bin bincount pass — no np.median (full
    partition copy) and no np.unique (full sort); dark-background images
    pay only that single pass."""
    if img.size == 0:
        return img
    hist = np.bincount(img.ravel(), minlength=256)
    if 2 * int(hist[LIT_BG_MIN:].sum()) <= img.size:
        return img  # dark background: canonical domain, untouched
    occupied = np.count_nonzero(hist)
    if occupied == 1:
        return np.zeros_like(img)  # uniform lit page: blank, not ink
    if occupied == 2:
        return 255 - equalize_hist(img, hist=hist)
    return adaptive_binarize(img)


def lit_lowcontrast(img: np.ndarray, bg: int, drop: int) -> np.ndarray:
    """Datagen side: canonical render -> flat lit page, ink = bg - drop."""
    return (bg - drop * (img > 0)).astype(np.uint8)


def lit_shaded(img: np.ndarray, gx: float, gy: float,
               base: float) -> np.ndarray:
    """Datagen side: canonical render -> lit page under a linear
    illumination ramp, ink a constant SHADED_INK_DROP below the local
    background.
    Callers keep |gx|+|gy| <= 0.6 and the ramp inside [LIT_BG_MIN+40,
    250] so adaptive_binarize's exactness margins hold."""
    h, w = img.shape
    ramp = base + gx * np.arange(w)[None, :] + gy * np.arange(h)[:, None]
    gray = np.rint(ramp) - SHADED_INK_DROP * (img > 0)
    return gray.clip(0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# crop variants (reference cropImageVariants / splitImage vocabulary)
# --------------------------------------------------------------------------

CROP_MODES = ("full", "top_half", "bottom_half", "left_half", "right_half")
QUARTER_MODES = ("quarter_1", "quarter_2", "quarter_3", "quarter_4")


def crop_region(width: int, height: int,
                mode: str) -> tuple[int, int, int, int]:
    """(left, top, w, h) of a named crop — the reference's crop regions
    (image_utils.js:29-41 halves, image_utils.py:60-114 quarters,
    split-image.js:60-78 ratio splits at its default 0.5)."""
    mw, mh = width // 2, height // 2
    regions = {
        "full": (0, 0, width, height),
        "top_half": (0, 0, width, mh),
        "bottom_half": (0, mh, width, height - mh),
        "left_half": (0, 0, mw, height),
        "right_half": (mw, 0, width - mw, height),
        "quarter_1": (0, 0, mw, mh),
        "quarter_2": (mw, 0, width - mw, mh),
        "quarter_3": (0, mh, mw, height - mh),
        "quarter_4": (mw, mh, width - mw, height - mh),
    }
    if mode not in regions:
        raise ValueError(f"unknown crop mode: {mode}")
    return regions[mode]


def crop_image(img: np.ndarray, mode: str) -> np.ndarray:
    left, top, w, h = crop_region(img.shape[1], img.shape[0], mode)
    return np.ascontiguousarray(img[top:top + h, left:left + w])


def quadrant_of(x_center: float, y_center: float,
                width: int, height: int) -> str:
    """Quarter label of a point (reference quarter numbering: 1=TL, 2=TR,
    3=BL, 4=BR — image_utils.py:78-114)."""
    right = x_center >= width / 2
    bottom = y_center >= height / 2
    return QUARTER_MODES[(2 if bottom else 0) + (1 if right else 0)]
