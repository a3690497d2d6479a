"""PNG codec: round-trips, hand-built streams, reject paths (no Spark).

The decoder must accept PNGs this repo did NOT encode — the hand-built
stream below is assembled chunk-by-chunk in the test with an independent
scalar filterer, covering mixed per-row filters (incl. Average/Paeth,
which the corpus encoder never emits), split IDAT chunks, and ancillary
chunks. Mirrors the reference's canonical-PNG input contract
(reference src/ocr/cli.py:100-112)."""

import struct
import zlib

import numpy as np
import pytest

from ocr_spark.png_codec import (
    PNG_SIGNATURE,
    blob_to_array,
    decode_png,
    encode_png,
)


def _rng_img(h, w, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w), np.uint8)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter(ftype):
    img = _rng_img(23, 37, seed=ftype)
    out = decode_png(encode_png(img, filter_type=ftype))
    assert np.array_equal(out, img)


def test_roundtrip_rendered_glyphs():
    from bitmap_oracle import decode_bitmap
    from ocr_spark.fonts import render_text

    img = render_text("GRID VALUE 1234\nTOKEN 5678")
    data = encode_png(img, filter_type=2)
    assert data[:8] == PNG_SIGNATURE
    got = decode_png(data)
    assert np.array_equal(got, img)
    assert decode_bitmap(got) == "GRID VALUE 1234\nTOKEN 5678"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def _scalar_filter(img: np.ndarray, ftypes: list[int], bpp: int = 1) -> bytes:
    """Independent per-byte scanline filterer (RFC 2083 reference math)."""
    h = img.shape[0]
    stride = img.shape[1] * (1 if img.ndim == 2 else img.shape[2])
    flat = img.reshape(h, stride).astype(int)
    out = bytearray()
    for y in range(h):
        ft = ftypes[y]
        out.append(ft)
        for x in range(stride):
            raw = flat[y, x]
            a = flat[y, x - bpp] if x >= bpp else 0
            b = flat[y - 1, x] if y > 0 else 0
            c = flat[y - 1, x - bpp] if (y > 0 and x >= bpp) else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((raw - pred) & 0xFF)
    return bytes(out)


def test_decode_handbuilt_mixed_filters_split_idat():
    img = _rng_img(5, 9, seed=7)
    scan = _scalar_filter(img, [0, 1, 2, 3, 4])
    comp = zlib.compress(scan)
    mid = len(comp) // 2
    data = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 5, 8, 0, 0, 0, 0))
        + _chunk(b"tEXt", b"Comment\x00hand-built")   # ancillary: skipped
        + _chunk(b"IDAT", comp[:mid])
        + _chunk(b"IDAT", comp[mid:])                  # split IDAT
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data), img)


def test_decode_rgb_luma_fold():
    rgb = np.random.default_rng(3).integers(0, 256, (4, 6, 3), np.uint8)
    scan = _scalar_filter(rgb, [0, 4, 1, 2], bpp=3)
    data = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 4, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(scan))
        + _chunk(b"IEND", b"")
    )
    got = decode_png(data)
    r, g, b = (rgb[..., i].astype(np.uint32) for i in range(3))
    want = ((r * 299 + g * 587 + b * 114 + 500) // 1000).astype(np.uint8)
    assert np.array_equal(got, want)


def test_decode_rejects():
    img = _rng_img(4, 4)
    good = encode_png(img)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\x00" + good[1:])
    # corrupt one IDAT payload byte -> CRC mismatch
    bad = bytearray(good)
    bad[len(good) - 20] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    # interlaced / 16-bit / paletted headers
    for ihdr in (
        struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1),
        struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0),
        struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0),
    ):
        data = (PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(b"")) + _chunk(b"IEND", b""))
        with pytest.raises(ValueError):
            decode_png(data)
    with pytest.raises(ValueError, match="IEND"):
        decode_png(good[:-12])


def test_blob_to_array_sniffs_both_formats():
    img = _rng_img(8, 5, seed=11)
    assert np.array_equal(blob_to_array(img.tobytes(), 8, 5), img)
    assert np.array_equal(blob_to_array(encode_png(img), 8, 5), img)
    with pytest.raises(ValueError, match="metadata"):
        blob_to_array(encode_png(img), 5, 8)


def test_corpus_ships_all_codecs_and_decodes():
    """fmt=12 corpus: raw, PNG, baseline-JPEG and HEIF-unci payloads
    coexist in one column; the pure oracle decodes every codec through
    blob_to_array to ground_text (JPEG's +-1 rounding sits inside the
    binarize margin, so recognition stays exact)."""
    from ocr_spark.datagen import generate_corpus
    from bitmap_oracle import decode_bitmap

    blobs = generate_corpus(n_docs=120, seed=45)["media_blobs"].to_pylist()
    codecs = {b["codec"] for b in blobs}
    assert codecs == {"png", "raw", "jpeg", "unci"}
    # JPEG only for the binarize-robust families — the bit-exact-inverse
    # variants must stay lossless
    jpeg_variants = {b["variant"] for b in blobs if b["codec"] == "jpeg"}
    assert jpeg_variants <= {"plain", "rotated"}
    for b in blobs:
        head = bytes(b["pixels"])[:8]
        assert (head[:8] == PNG_SIGNATURE) == (b["codec"] == "png")
        assert (head[:2] == b"\xff\xd8") == (b["codec"] == "jpeg")
        assert (head[4:8] == b"ftyp") == (b["codec"] == "unci")
        if b["variant"] in ("plain", "noise"):
            img = blob_to_array(b["pixels"], b["height"], b["width"])
            assert decode_bitmap(img) == b["ground_text"]
