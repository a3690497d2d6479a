"""ISOBMFF/HEIF container codec: unci round-trip, AVIF metadata parse,
gated AV1 decode, blob_to_array sniffing."""

from __future__ import annotations

import os
import struct
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.isobmff import (  # noqa: E402
    _box,
    _build_container,
    decode_isobmff,
    encode_heif_unci,
    parse_isobmff_meta,
)
from ocr_spark.png_codec import blob_to_array  # noqa: E402


def build_avif_container(av1_payload: bytes, width: int,
                         height: int) -> bytes:
    """Wrap an AV1 payload as AVIF.

    av1C config record: marker/version 0x81, profile/level 0,
    high_bitdepth etc. 0, reserved+initial_presentation 0.
    """
    av1c = _box(b"av1C", bytes([0x81, 0x00, 0x00, 0x00]))
    return _build_container(b"avif", b"av01", width, height,
                            av1_payload, [av1c])


def _img(h=23, w=31, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w), dtype=np.uint8)


def test_unci_round_trip_bit_exact():
    img = _img()
    blob = encode_heif_unci(img)
    assert blob[4:8] == b"ftyp"
    out = decode_isobmff(blob)
    assert out.dtype == np.uint8
    np.testing.assert_array_equal(out, img)


def test_unci_meta_fields():
    img = _img(h=5, w=9)
    meta = parse_isobmff_meta(encode_heif_unci(img))
    assert meta["brand"] == "mif1"
    assert meta["item_type"] == "unci"
    assert (meta["width"], meta["height"]) == (9, 5)
    assert meta["payload_size"] == 45


def test_avif_container_parse_and_gated_decode():
    fake_av1 = b"\x12\x00not-a-real-av1-obu" * 4
    blob = build_avif_container(fake_av1, width=64, height=48)
    meta = parse_isobmff_meta(blob)
    assert meta["brand"] == "avif"
    assert meta["item_type"] == "av01"
    assert (meta["width"], meta["height"]) == (64, 48)
    # iloc points exactly at the payload inside mdat
    off, ln = meta["payload_offset"], meta["payload_size"]
    assert blob[off:off + ln] == fake_av1
    # no AV1 decoder in this sandbox -> the gate must name the problem
    try:
        import imageio.v3  # noqa: F401
        pytest.skip("external AVIF decoder present")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="AV1"):
        decode_isobmff(blob)


def test_blob_to_array_sniffs_isobmff():
    img = _img(h=12, w=17)
    out = blob_to_array(encode_heif_unci(img), 12, 17)
    np.testing.assert_array_equal(out, img)
    with pytest.raises(ValueError, match="HEIF dims"):
        blob_to_array(encode_heif_unci(img), 13, 17)


def test_truncated_and_corrupt_containers_raise():
    blob = encode_heif_unci(_img())
    with pytest.raises(ValueError):
        decode_isobmff(blob[:40])
    # box size pointing past the end of file
    bad = bytearray(blob)
    struct.pack_into(">I", bad, 0, len(blob) + 100)
    with pytest.raises(ValueError):
        decode_isobmff(bytes(bad))
    # payload size inconsistent with ispe dims
    short = encode_heif_unci(_img(h=4, w=4))
    mdat_at = short.rindex(b"mdat")
    truncated = short[:mdat_at + 4 + 15]  # drop one pixel
    with pytest.raises(ValueError):
        decode_isobmff(truncated)
