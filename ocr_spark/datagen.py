"""Deterministic synthetic interleaved text+media corpus (FIXTURES.md).

Generates, with a fixed seed and no external data:

  documents_interleaved(doc_id string,
                        spans array<struct<kind,text,media_ref,offset:int>>)
  media_blobs(media_ref string, width int, height int,
              pixels binary, ground_text string)
  expected_spans(doc_id string,
                 out_spans array<struct<kind,text,media_ref,order:int>>,
                 codes array<string>)

The expected table is the *golden oracle* for the north rule's
span-sequence equality gate. Expected text for text spans is the payload
the generator itself embedded (NOT produced by running the stripper, so the
equality test is meaningful); expected text for media spans is the blob's
ground_text (the renderer/recognizer pair in fonts.py is exactly
invertible). Expected codes run the tiny inspectable voucher oracle
(functions/voucher_core.py) over the in-order extracted texts, mirroring
the reference pipeline order OCR text -> lines -> codes
(reference src/ocr/cli.js:21-27, src/ocr/ocrQueue.js:45-61).

Corpus knobs follow FIXTURES.md: ~60/40 text/media span mix, ~2%
media-heavy skew documents (32-128 media spans), edge documents (empty
spans, all-text, all-media, duplicate codes across offsets, banned codes,
15/17-digit near-misses).
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .fonts import render_text
from .functions.voucher_core import extract_voucher_codes

SEED = 42

_WORDS = (
    "GRID VALUE TOKEN BATCH QUERY TABLE MERGE SCAN SORT JOIN GROUP WINDOW "
    "STREAM CODE VOUCHER CARD GIFT BONUS PRIZE CLAIM REDEEM OFFER TOTAL "
    "LINE ORDER PART ITEM UNIT PRICE DISCOUNT"
).split()

_SENTENCE_WORDS = (
    "the quick analytics engine processes interleaved documents at scale "
    "spark partitions shuffle broadcast join window aggregate collect "
    "voucher codes appear within payload sentences for extraction tests "
    "main content blocks carry meaningful long sentences unlike navigation"
).split()


def _code(rng: random.Random) -> str:
    return "".join(str(rng.randrange(10)) for _ in range(16))


def _spaced_code(code: str, rng: random.Random) -> str:
    # 0-3 spaces between the four digit groups (regex allows \s*)
    sep = rng.choice(["", " ", "  ", "   "])
    return sep.join(code[i : i + 4] for i in range(0, 16, 4))


def _sentence(rng: random.Random, min_words: int = 10, max_words: int = 28) -> str:
    n = rng.randint(min_words, max_words)
    return " ".join(rng.choice(_SENTENCE_WORDS) for _ in range(n))


def _nav_block(rng: random.Random) -> str:
    links = " ".join(
        f'<a href="/{w.lower()}">{w.title()}</a>'
        for w in rng.sample(_WORDS, rng.randint(3, 6))
    )
    return f"<nav>{links}</nav>"


def _linkfarm_block(rng: random.Random) -> str:
    # div (content-eligible tag) whose link density exceeds the threshold
    links = " ".join(
        f'<a href="/x/{w.lower()}">{w.lower()} {w.lower()}</a>'
        for w in rng.sample(_WORDS, rng.randint(4, 7))
    )
    return f'<div class="related">{links}</div>'


def _short_block(rng: random.Random) -> str:
    return f"<div>{rng.choice(_WORDS).lower()}</div>"


def make_text_span(rng: random.Random, codes: list[str]) -> tuple[str, str]:
    """Return (raw_html_text, expected_extracted_text).

    Sized like real web extraction input (KBs of markup per span, most of
    it boilerplate) so per-doc CPU work dominates scheduling overhead in
    benchmarks — a 400-byte toy doc measures Spark's stage latency, not
    the pipeline.
    """
    payload: list[str] = []
    n_par = rng.randint(3, 10)
    code_idx = 0
    for _ in range(n_par):
        s = _sentence(rng)
        if code_idx < len(codes) and rng.random() < 0.9:
            s = f"{s} code {_spaced_code(codes[code_idx], rng)} valid"
            code_idx += 1
        payload.append(s)
    # leftover codes appended to the last paragraph
    while code_idx < len(codes):
        payload[-1] += f" extra {_spaced_code(codes[code_idx], rng)} end"
        code_idx += 1
    if rng.random() < 0.15:
        # plain-text span: whole-span passthrough (no block tags);
        # multi-space code separators survive here (regex \s* coverage)
        raw = "\n".join(payload)
        return raw, raw.strip()
    # HTML branch: the stripper collapses runs of whitespace, so normalize
    # the payload identically before embedding it (keeps the golden exact)
    import re as _re
    payload = [_re.sub(r"\s+", " ", p).strip() for p in payload]
    parts = [
        "<html><head><title>Synthetic Doc</title></head><body>",
        _nav_block(rng),
    ]
    for p in payload:
        parts.append(f"<p>{p}</p>")
        if rng.random() < 0.5:
            parts.append(_short_block(rng))
        if rng.random() < 0.3:
            parts.append(_linkfarm_block(rng))
    if rng.random() < 0.5:
        parts.append(_linkfarm_block(rng))
    for _ in range(rng.randint(1, 4)):
        parts.append(_nav_block(rng))
    parts.append(f"<footer><a href='/privacy'>Privacy</a> {_sentence(rng, 3, 5)}</footer>")
    parts.append("</body></html>")
    return "".join(parts), "\n".join(payload)


def make_ground_text(rng: random.Random, codes: list[str]) -> str:
    """Uppercase, font-alphabet-constrained text for a media blob."""
    lines: list[str] = []
    n_lines = rng.randint(2, 7)
    code_idx = 0
    for _ in range(n_lines):
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 8)))
        if code_idx < len(codes):
            grouped = " ".join(
                codes[code_idx][i : i + 4] for i in range(0, 16, 4)
            )
            lines.append(f"{words} {grouped}")
            code_idx += 1
        else:
            lines.append(words)
    while code_idx < len(codes):
        grouped = " ".join(codes[code_idx][i : i + 4] for i in range(0, 16, 4))
        lines.append(f"CODE {grouped}")
        code_idx += 1
    return "\n".join(lines)


BANNED = ["1234123412341234", "1234123422341234"]


def _item_seed(seed: int, kind: int, idx: int) -> int:
    import hashlib

    digest = hashlib.md5(f"{seed}:{kind}:{idx}".encode()).digest()
    return int.from_bytes(digest[:8], "big")


def _make_blob(bi: int, seed: int) -> dict:
    """One media blob, from a per-blob RNG (order-independent, shardable).

    RNG seeds are md5-derived ints (stable across processes and runs).

    Stored variants mirror the reference's preprocessing surface
    (ocr_spark/preprocess.py docstring): salt speckles (median-denoise
    analog), nearest-neighbor upscale (optimizeForOCR scale), 90-degree
    rotations, framed row-shear warps (dewarp analog), framed
    continuous-angle three-shear rotations (deskew analog), faint
    sub-threshold ink (re-OCR cascade analog), and lit "photographed
    page" polarity variants (equalize-hist / adaptive-binarize analogs).
    Speckle and upscale compose with rotation; warp and skew are
    exclusive with each other (one outermost document frame) but compose
    with rot90; faint is an ink level and composes with the
    dark-background family; lit pages are one polarity per page
    (exclusive with the dark-background degradations) and compose with
    rot90. The recognizer must invert every variant exactly —
    ground_text is the golden.
    """
    from .preprocess import (add_speckles, lit_lowcontrast, lit_shaded,
                             rotate_small, upscale, warp_image)

    rng = random.Random(_item_seed(seed, 0, bi))
    ref = f"img-{bi:08d}"
    if rng.random() < 0.05:
        # noise blob: sub-threshold speckle, no text
        h, w = rng.randint(16, 48), rng.randint(16, 48)
        noise = np.array(
            [rng.randrange(0, 60) for _ in range(h * w)], dtype=np.uint8
        ).reshape(h, w)
        img, gt, variant = noise, "", "noise"
    else:
        n_codes = 1 if rng.random() < 0.5 else 0
        codes = [_code(rng) for _ in range(n_codes)]
        gt = make_ground_text(rng, codes)
        ink = rng.choice([255, 200, 160, 90])  # incl. low-contrast
        tags = []
        if rng.random() < 0.06:
            # faint ink below the primary binarize threshold: only the
            # re-OCR cascade (grey/binary retry, reference
            # tesseract.js:136-183) recovers these
            ink = rng.choice([32, 40, 56])
            tags.append("faint")
        img = render_text(gt, ink=ink)
        # lit "photographed page" polarity variants (dark ink on a light
        # background — the reference's whole photo domain): flat
        # low-contrast pages need equalize_hist (focus_impl.py:37), shaded
        # gradient pages need adaptive_binarize (image_utils.py:153-155).
        # Exclusive with the dark-background degradations (one polarity
        # per page); composes with rot90 below.
        lit = "faint" not in tags and rng.random() < 0.10
        if lit:
            base = render_text(gt)  # full-ink canonical render
            if rng.random() < 0.5:
                bg = rng.randrange(96, 231)
                drop = rng.randrange(4, 13)  # < ADAPTIVE_C: equalize-only
                img = lit_lowcontrast(base, bg, drop)
                tags.append("lowcontrast")
            else:
                gx = rng.choice([-0.3, -0.2, -0.1, 0.1, 0.2, 0.3])
                gy = rng.choice([-0.3, -0.2, -0.1, 0.1, 0.2, 0.3])
                h, w = base.shape
                span = abs(gx) * (w - 1) + abs(gy) * (h - 1)
                if span > 110:  # keep the ramp inside [124, 244]
                    gx, gy = gx * 110 / span, gy * 110 / span
                    span = 110.0
                lo = 124 + (abs(gx) * (w - 1) if gx < 0 else 0) \
                    + (abs(gy) * (h - 1) if gy < 0 else 0)
                b0 = lo + rng.random() * (244 - 124 - span)
                img = lit_shaded(base, gx, gy, b0)
                tags.append("shaded")
            if rng.random() < 0.3:
                img = np.ascontiguousarray(
                    np.rot90(img, rng.choice([1, 2, 3])))
                tags.append("rotated")
        warped = not lit and rng.random() < 0.10
        # continuous-angle skew (three-shear rotation, preprocess.py
        # rotate_small): exclusive with warp (one outermost document
        # frame), composes with speckle/upscale/rot90
        skewed = not warped and not lit and rng.random() < 0.08
        if not warped and not lit and rng.random() < 0.10:
            n = max(4, img.size // 150)
            img = add_speckles(img, rng, n, ink=ink)
            tags.append("speckled")
        if not warped and not lit and rng.random() < 0.08:
            img = upscale(img, rng.choice([2, 3]))
            tags.append("upscaled")
        if not lit and rng.random() < 0.15:
            # stored rotated (reference rotation fixtures,
            # image_utils.py:238-265); recognizer must de-rotate
            img = np.ascontiguousarray(np.rot90(img, rng.choice([1, 2, 3])))
            tags.append("rotated")
        if warped:
            # framed + row-sheared "photographed document" (reference
            # dewarp fixtures, image_utils.py:123-235)
            slope_den = 16
            slope_num = rng.choice([-8, -5, -3, 3, 5, 8])
            img = warp_image(img, slope_num, slope_den, ink=ink)
            tags.append("warped")
        elif skewed:
            # framed + rotated by a continuous small angle (reference
            # deskew fixtures, image_utils.py:268-306); recognizer must
            # detect the angle and invert the three-shear exactly
            a = rng.choice([-8, -6, -5, -4, -3, -2, 2, 3, 4, 5, 6, 8])
            img = rotate_small(img, a, ink=ink)
            tags.append("skewed")
        variant = "+".join(tags) if tags else "plain"
    # fmt=7: half the pool ships PNG-encoded (the reference canonicalizes
    # every input through PNG decode, cli.py:100-112); the rest stays the
    # raw fast format. Filter choice exercises the codec's vectorized
    # decode paths (None/Sub/Up). fmt=11: a further 15% slice of the
    # plain/rotated pages ships baseline JPEG (jpeg_codec.py, quant=1
    # near-lossless: |err| <= 1). Those variants flow binarize->classify,
    # where +-1 sits far inside the threshold margins; the exactly-
    # invertible families (warp/upscale/lit/speckle) stay PNG/raw — their
    # inverses verify BIT-EXACT pixel identities (block equality,
    # two-valued histograms, frame signatures) that any lossy codec
    # legitimately breaks, exactly as real scanned-JPEG pipelines accept
    # OCR-level rather than pixel-level fidelity.
    # fmt=12: a 12% slice ships as HEIF uncompressed image items
    # (isobmff.py, ISO 23001-17 unci — the AVIF container with a
    # lossless payload, so it is safe for the bit-exact invertible
    # variant families too).
    r = rng.random()
    if r < 0.15 and img.size and variant in ("plain", "rotated"):
        from .jpeg_codec import encode_jpeg

        payload, codec = encode_jpeg(img), "jpeg"
    elif r < 0.60 and img.size:
        from .png_codec import encode_png

        payload, codec = encode_png(img, filter_type=rng.choice([0, 1, 2])), "png"
    elif r < 0.72 and img.size:
        from .isobmff import encode_heif_unci

        payload, codec = encode_heif_unci(img), "unci"
    else:
        payload, codec = img.tobytes(), "raw"
    return {"media_ref": ref, "width": img.shape[1], "height": img.shape[0],
            "pixels": payload, "ground_text": gt, "variant": variant,
            "codec": codec}


def _make_doc(di: int, seed: int, blob_refs: list[str],
              blob_text: dict[str, str]) -> tuple[dict, dict]:
    """One document + its golden, from a per-doc RNG."""
    rng = random.Random(_item_seed(seed, 1, di))
    doc_id = f"doc-{di:08d}"
    edge = di % 97  # deterministic edge-case slots
    spans: list[dict] = []
    expected: list[dict] = []

    if edge == 0 and di > 0:
        pass  # empty-spans document
    elif edge == 1:
        # all-media doc
        for off in range(rng.randint(2, 5)):
            ref = rng.choice(blob_refs)
            spans.append({"kind": "media", "text": None,
                          "media_ref": ref, "offset": off})
            expected.append({"kind": "media", "text": blob_text[ref],
                             "media_ref": ref, "order": off})
    elif edge == 2:
        # duplicate + banned + near-miss codes across offsets
        dup = _code(rng)
        near15 = dup[:15]
        near17 = dup + "9"
        texts = [
            f"first mention of the voucher {_spaced_code(dup, rng)} here today",
            f"banned code {_spaced_code(BANNED[0], rng)} and also "
            f"{_spaced_code(BANNED[1], rng)} must be dropped entirely",
            f"repeat {_spaced_code(dup, rng)} and near miss {near15} "
            f"plus overlong {near17} trailing words",
        ]
        for off, t in enumerate(texts):
            spans.append({"kind": "text", "text": t,
                          "media_ref": None, "offset": off})
            expected.append({"kind": "text", "text": t.strip(),
                             "media_ref": None, "order": off})
    else:
        heavy = rng.random() < 0.02
        if heavy:
            n_media = rng.randint(32, 128)
            n_text = rng.randint(0, 2)
        else:
            n_spans = rng.randint(2, 8)
            n_text = max(1, round(n_spans * 0.6))
            n_media = n_spans - n_text
        kinds = ["text"] * n_text + ["media"] * n_media
        rng.shuffle(kinds)
        for off, kind in enumerate(kinds):
            if kind == "text":
                n_codes = 1 if rng.random() < 0.3 else 0
                codes = [_code(rng) for _ in range(n_codes)]
                raw, exp_text = make_text_span(rng, codes)
                spans.append({"kind": "text", "text": raw,
                              "media_ref": None, "offset": off})
                expected.append({"kind": "text", "text": exp_text,
                                 "media_ref": None, "order": off})
            else:
                ref = rng.choice(blob_refs)
                spans.append({"kind": "media", "text": None,
                              "media_ref": ref, "offset": off})
                expected.append({"kind": "media", "text": blob_text[ref],
                                 "media_ref": ref, "order": off})

    doc_text = "\n".join(e["text"] for e in expected)
    codes = extract_voucher_codes(doc_text)
    doc_row = {"doc_id": doc_id, "spans": spans}
    exp_row = {"doc_id": doc_id, "out_spans": expected, "codes": codes}
    return doc_row, exp_row


def _blob_chunk(args: tuple) -> list[dict]:
    lo, hi, seed = args
    return [_make_blob(bi, seed) for bi in range(lo, hi)]


def _doc_chunk(args: tuple) -> list[tuple[dict, dict]]:
    lo, hi, seed, blob_refs, blob_text = args
    return [_make_doc(di, seed, blob_refs, blob_text) for di in range(lo, hi)]


def generate_corpus(n_docs: int, seed: int = SEED,
                    workers: int | None = None) -> dict[str, pa.Table]:
    """Build the three tables as pyarrow Tables (columnar, no Spark).

    Every blob/document derives from its own (seed, kind, index) RNG, so
    generation is order-independent and shards perfectly — the same
    property a 100 TB corpus generator needs to run AS a Spark job. Large
    corpora fan out over a process pool; small ones stay in-process.
    """
    # pool grows sublinearly past 100k docs: at web scale hot media is
    # shared across many documents (the semi-join dedup is the point)
    n_blobs = max(32, min(int(n_docs * 0.3), 30000 + int(n_docs * 0.03)))
    if workers is None:
        workers = min(os.cpu_count() or 1, 16) if n_docs >= 20000 else 0

    def _fan(fn, n, extra):
        chunks = max(1, min(workers * 4, n // 256)) if workers else 1
        step = -(-n // chunks)
        jobs = [(lo, min(lo + step, n), seed, *extra)
                for lo in range(0, n, step)]
        if workers:
            from concurrent.futures import ProcessPoolExecutor

            with ProcessPoolExecutor(workers) as pool:
                return [row for part in pool.map(fn, jobs) for row in part]
        return [row for job in jobs for row in fn(job)]

    blob_list = _fan(_blob_chunk, n_blobs, ())
    blob_refs = [b["media_ref"] for b in blob_list]
    blob_text = {b["media_ref"]: b["ground_text"] for b in blob_list}
    blob_rows = {k: [b[k] for b in blob_list]
                 for k in ("media_ref", "width", "height", "pixels",
                           "ground_text", "variant", "codec")}

    pairs = _fan(_doc_chunk, n_docs, (blob_refs, blob_text))
    doc_rows = {"doc_id": [p[0]["doc_id"] for p in pairs],
                "spans": [p[0]["spans"] for p in pairs]}
    exp_rows = {"doc_id": [p[1]["doc_id"] for p in pairs],
                "out_spans": [p[1]["out_spans"] for p in pairs],
                "codes": [p[1]["codes"] for p in pairs]}

    span_type = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
    out_span_type = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("order", pa.int32()),
    ])
    docs = pa.table({
        "doc_id": pa.array(doc_rows["doc_id"], pa.string()),
        "spans": pa.array(doc_rows["spans"], pa.list_(span_type)),
    })
    blobs = pa.table({
        "media_ref": pa.array(blob_rows["media_ref"], pa.string()),
        "width": pa.array(blob_rows["width"], pa.int32()),
        "height": pa.array(blob_rows["height"], pa.int32()),
        "pixels": pa.array(blob_rows["pixels"], pa.binary()),
        "ground_text": pa.array(blob_rows["ground_text"], pa.string()),
        "variant": pa.array(blob_rows["variant"], pa.string()),
        "codec": pa.array(blob_rows["codec"], pa.string()),
    })
    expected_tbl = pa.table({
        "doc_id": pa.array(exp_rows["doc_id"], pa.string()),
        "out_spans": pa.array(exp_rows["out_spans"], pa.list_(out_span_type)),
        "codes": pa.array(exp_rows["codes"], pa.list_(pa.string())),
    })
    return {"documents_interleaved": docs, "media_blobs": blobs,
            "expected_spans": expected_tbl}


# document-count knobs per FIXTURES.md section 6
SF_DOCS = {0.001: 200, 0.01: 2000, 0.1: 20000}


def write_corpus(out_dir: str, n_docs: int, overwrite: bool = False) -> str:
    """Write the three tables as sharded parquet directories; returns out_dir.

    Parquet is the local stand-in for Iceberg data files (no Iceberg
    runtime jar ships in this sandbox); the snapshot/MERGE layer lives in
    sources/snapstore.py.

    Each table is a DIRECTORY of shard files with 256-row groups —
    the shape a real 100 TB Iceberg table has (many data files), and what
    lets Spark's file-split planner hand every core work at bench scale.
    A single-file single-row-group table silently serializes the whole
    scan (and every map-side UDF stage) onto one task.
    """
    shards = min(128, max(8, n_docs // 128))
    stamp = f"n_docs={n_docs} seed={SEED} fmt=12 shards={shards}\n"
    marker = os.path.join(out_dir, "_COMPLETE")
    if not overwrite and os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            if fh.read() == stamp:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    tables = generate_corpus(n_docs)
    for name, tbl in tables.items():
        dest = os.path.join(out_dir, f"{name}.parquet")
        if os.path.isfile(dest):
            os.remove(dest)  # pre-fmt2 single-file layout
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        n = tbl.num_rows
        per = -(-n // shards)
        for i in range(shards):
            part = tbl.slice(i * per, per)
            if part.num_rows == 0:
                break
            pq.write_table(
                part,
                os.path.join(dest, f"part-{i:05d}.parquet"),
                row_group_size=256,
            )
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write(stamp)
    return out_dir


def corpus_dir(sf: float, base: str | None = None) -> str:
    """Materialize (once) and return the corpus dir for a scale factor."""
    base = base or os.path.join(os.path.dirname(os.path.dirname(__file__)),
                                "data", "interleaved")
    out = os.path.join(base, f"sf{sf}")
    return write_corpus(out, SF_DOCS.get(sf, int(200_000 * sf)))
