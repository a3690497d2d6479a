"""From-scratch ISOBMFF/HEIF container codec (AVIF's wrapper format).

The reference accepts AVIF inputs and canonicalizes them through an
image decode before OCR (reference src/ocr/cli.py:100-112 imageio
fallback; test fixture test/fixtures/noise.avif). AVIF is an AV1
payload inside an ISOBMFF/HEIF container (ISO/IEC 14496-12 boxes,
ISO/IEC 23008-12 image items). This module implements that container
layer from scratch on stdlib ``struct``:

  * a generic box walker (size/type framing, FullBox version/flags),
  * ``meta`` parsing: ``pitm`` primary item, ``iloc`` extents, ``iinf``
    item types, ``iprp/ipco`` + ``ipma`` property association — enough
    to locate the coded payload and read ``ispe`` dimensions for ANY
    HEIF-family file (AVIF included) without decoding the codec payload,
  * a complete encoder + decoder for the HEIF *uncompressed image item*
    profile (``unci`` items per the ISO/IEC 23001-17 structure, 8-bit
    single-component, row-major) — a real lossless interchange format
    that round-trips bit-exactly with no codec library,
  * AVIF (``av01`` item) handling: container metadata parse is real;
    the AV1 bitstream decode itself is gated behind an import-try on an
    external decoder (imageio / a PIL AVIF plugin — not present in this
    sandbox), with a clear NotImplementedError otherwise. Building an
    AV1 entropy decoder from scratch is out of scope; everything up to
    the codec payload boundary is implemented and tested here.

``uncC`` note: we emit version 0 with one ``cmpd`` monochrome component
and the field layout documented inline; the encoder and decoder share
it, and every field we do not exercise is pinned to the written
default. The interoperable container boxes (ftyp/meta/pitm/iloc/iinf/
ispe/ipma/mdat) follow ISO/IEC 14496-12 exactly.

Scale note: like png_codec/jpeg_codec, this runs inside the
Arrow-batched recognizer UDF on executor-local deduplicated blobs; the
container walk is a few dozen struct unpacks per image.
"""

from __future__ import annotations

import struct

import numpy as np


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def _full_box(tag: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + payload)


def _walk(buf: bytes, start: int, end: int):
    """Yield (tag, body_start, body_end) for each box in buf[start:end]."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", buf, pos)[0]
        tag = buf[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            size = struct.unpack_from(">Q", buf, pos + 8)[0]
            body = pos + 16
        elif size == 0:  # to end of enclosing box
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(
                f"ISOBMFF: bad box size {size} for {tag!r} at {pos}"
            )
        yield tag, body, pos + size
        pos += size


def _find(buf: bytes, start: int, end: int, tag: bytes) -> tuple[int, int]:
    for t, b, e in _walk(buf, start, end):
        if t == tag:
            return b, e
    raise ValueError(f"ISOBMFF: missing {tag!r} box")


# --------------------------------------------------------------------------
# encode: HEIF uncompressed image item
# --------------------------------------------------------------------------

def _build_container(major_brand: bytes, item_type: bytes, width: int,
                     height: int, payload: bytes,
                     codec_props: list[bytes]) -> bytes:
    """ftyp + meta + mdat with one primary image item.

    iloc uses construction_method 0 (absolute file offsets), so the meta
    box is assembled once with a placeholder offset, its length measured,
    and the real offset (ftyp + meta sizes + mdat header) patched in —
    the layout is deterministic, no second fixpoint pass needed.
    """
    ftyp = _box(b"ftyp", major_brand + struct.pack(">I", 0)
                + major_brand + b"mif1" + b"miaf")

    hdlr = _full_box(b"hdlr", 0, 0,
                     struct.pack(">I", 0) + b"pict"
                     + struct.pack(">III", 0, 0, 0) + b"\x00")
    pitm = _full_box(b"pitm", 0, 0, struct.pack(">H", 1))
    infe = _full_box(b"infe", 2, 0,
                     struct.pack(">HH", 1, 0) + item_type + b"\x00")
    iinf = _full_box(b"iinf", 0, 0, struct.pack(">H", 1) + infe)
    ispe = _full_box(b"ispe", 0, 0, struct.pack(">II", width, height))
    pixi = _full_box(b"pixi", 0, 0, struct.pack(">BB", 1, 8))
    props = [ispe, pixi] + codec_props
    ipco = _box(b"ipco", b"".join(props))
    # ipma v0/flags0: one entry, item 1 -> every property, none essential
    ipma = _full_box(b"ipma", 0, 0,
                     struct.pack(">IHB", 1, 1, len(props))
                     + bytes(i + 1 for i in range(len(props))))
    iprp = _box(b"iprp", ipco + ipma)

    def iloc_for(offset: int) -> bytes:
        # v0: offset_size=4 length_size=4 base_offset_size=0; 1 item,
        # data_reference_index 0 (this file), 1 extent
        return _full_box(b"iloc", 0, 0,
                         struct.pack(">BBH", 0x44, 0x00, 1)
                         + struct.pack(">HHH", 1, 0, 1)
                         + struct.pack(">II", offset, len(payload)))

    meta_body = hdlr + pitm + iloc_for(0) + iinf + iprp
    meta = _full_box(b"meta", 0, 0, meta_body)
    mdat_payload_offset = len(ftyp) + len(meta) + 8
    meta = _full_box(b"meta",
                     0, 0,
                     hdlr + pitm + iloc_for(mdat_payload_offset)
                     + iinf + iprp)
    return ftyp + meta + _box(b"mdat", payload)


# uncC version 0 layout we write/read (ISO/IEC 23001-17 structure), all
# integers big-endian: profile 4cc ('gene'ric), component_count u32=1,
# {component_index u16=0, bit_depth_minus_one u8=7, format u8=0,
# align_size u8=0}, sampling_type u8=0 (4:4:4 / n-a), interleave_type
# u8=0 (planar; moot for 1 component), block_size u8=0, flags u8=0
# (little_endian/pad bits unset), pixel_size u32=0, row_align_size
# u32=0, tile_align_size u32=0, num_tile_cols_minus_one u32=0,
# num_tile_rows_minus_one u32=0.
_UNCC_MONO = (b"gene" + struct.pack(">I", 1)
              + struct.pack(">HBBB", 0, 7, 0, 0)
              + struct.pack(">BBBB", 0, 0, 0, 0)
              + struct.pack(">IIIII", 0, 0, 0, 0, 0))
# cmpd: component_count u32, component_type u16 (0 = monochrome)
_CMPD_MONO = struct.pack(">IH", 1, 0)


def encode_heif_unci(img: np.ndarray) -> bytes:
    """8-bit single-component image -> HEIF uncompressed-image file."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_heif_unci expects a 2-D uint8 array")
    h, w = img.shape
    return _build_container(
        b"mif1", b"unci", w, h, img.tobytes(),
        [_box(b"cmpd", _CMPD_MONO), _full_box(b"uncC", 0, 0, _UNCC_MONO)],
    )


# --------------------------------------------------------------------------
# decode / metadata
# --------------------------------------------------------------------------

def parse_isobmff_meta(payload: bytes) -> dict:
    """Container-level metadata for any HEIF-family file (AVIF incl.):
    {brand, item_type, width, height, payload_offset, payload_size}.
    Reads only box headers — never the codec payload."""
    buf = bytes(payload)
    end = len(buf)
    ftyp_b, ftyp_e = _find(buf, 0, end, b"ftyp")
    brand = buf[ftyp_b:ftyp_b + 4].decode("latin-1")
    meta_b, meta_e = _find(buf, 0, end, b"meta")
    meta_b += 4  # FullBox version/flags

    pitm_b, _ = _find(buf, meta_b, meta_e, b"pitm")
    pitm_ver = buf[pitm_b]
    item_id = (struct.unpack_from(">H", buf, pitm_b + 4)[0]
               if pitm_ver == 0
               else struct.unpack_from(">I", buf, pitm_b + 4)[0])

    # iinf -> item_type of the primary item
    iinf_b, iinf_e = _find(buf, meta_b, meta_e, b"iinf")
    iinf_ver = buf[iinf_b]
    pos = iinf_b + 4 + (2 if iinf_ver == 0 else 4)
    item_type = None
    for tag, b, e in _walk(buf, pos, iinf_e):
        if tag != b"infe":
            continue
        ver = buf[b]
        iid = struct.unpack_from(">H" if ver < 3 else ">I", buf, b + 4)[0]
        tpos = b + 4 + (2 if ver < 3 else 4) + 2
        if iid == item_id:
            item_type = buf[tpos:tpos + 4].decode("latin-1")
    if item_type is None:
        raise ValueError("ISOBMFF: primary item missing from iinf")

    # iprp/ipco -> ispe (first one; single-item files)
    iprp_b, iprp_e = _find(buf, meta_b, meta_e, b"iprp")
    ipco_b, ipco_e = _find(buf, iprp_b, iprp_e, b"ipco")
    ispe_b, _ = _find(buf, ipco_b, ipco_e, b"ispe")
    width, height = struct.unpack_from(">II", buf, ispe_b + 4)

    # iloc -> first extent of the primary item
    iloc_b, iloc_e = _find(buf, meta_b, meta_e, b"iloc")
    ver = buf[iloc_b]
    p = iloc_b + 4
    sizes = buf[p]
    offset_size, length_size = sizes >> 4, sizes & 0xF
    base_offset_size = buf[p + 1] >> 4
    index_size = (buf[p + 1] & 0xF) if ver in (1, 2) else 0
    p += 2
    if ver < 2:
        item_count = struct.unpack_from(">H", buf, p)[0]
        p += 2
    else:
        item_count = struct.unpack_from(">I", buf, p)[0]
        p += 4

    def read_int(pos: int, nbytes: int) -> int:
        return int.from_bytes(buf[pos:pos + nbytes], "big") if nbytes else 0

    for _ in range(item_count):
        if ver < 2:
            iid = struct.unpack_from(">H", buf, p)[0]
            p += 2
        else:
            iid = struct.unpack_from(">I", buf, p)[0]
            p += 4
        if ver in (1, 2):
            # reserved(12) + construction_method(4): 0 = file offsets.
            # method 1 (idat-relative) / 2 (item-relative) would make the
            # extents below NOT file-absolute — refuse loudly rather than
            # return wrong payload bytes for the item we're locating.
            method = struct.unpack_from(">H", buf, p)[0] & 0xF
            if method != 0 and iid == item_id:
                raise ValueError(
                    f"ISOBMFF: iloc construction_method {method} "
                    "unsupported (only file-offset items)"
                )
            p += 2
        p += 2  # data_reference_index
        base = read_int(p, base_offset_size)
        p += base_offset_size
        extent_count = struct.unpack_from(">H", buf, p)[0]
        p += 2
        first = None
        for _ in range(extent_count):
            p += index_size
            off = read_int(p, offset_size)
            p += offset_size
            ln = read_int(p, length_size)
            p += length_size
            if first is None:
                first = (base + off, ln)
        if iid == item_id:
            if first is None or extent_count != 1:
                raise ValueError(
                    "ISOBMFF: multi-extent items not supported"
                )
            off, ln = first
            if off + ln > end:
                raise ValueError("ISOBMFF: extent outside file")
            return {
                "brand": brand, "item_type": item_type,
                "width": int(width), "height": int(height),
                "payload_offset": off, "payload_size": ln,
            }
    raise ValueError("ISOBMFF: primary item missing from iloc")


def decode_isobmff(payload: bytes) -> np.ndarray:
    """HEIF-family file -> 8-bit grayscale array.

    unci items decode here (bit-exact, no external code). av01 (AVIF)
    items need an AV1 decoder: tried via imageio/PIL if present, else a
    clear NotImplementedError — the container metadata (dims, payload
    location) is still parsed and reported either way.
    """
    buf = bytes(payload)
    meta = parse_isobmff_meta(buf)
    off, ln = meta["payload_offset"], meta["payload_size"]
    w, h = meta["width"], meta["height"]
    if meta["item_type"] == "unci":
        if ln != w * h:
            raise ValueError(
                f"unci payload {ln} bytes != {w}x{h} mono8"
            )
        return np.frombuffer(buf, dtype=np.uint8,
                             count=ln, offset=off).reshape(h, w)
    if meta["item_type"] == "av01":
        try:
            import imageio.v3 as iio  # the reference's own fallback
        except ImportError:
            raise NotImplementedError(
                f"AVIF {w}x{h}: container parsed, but AV1 bitstream "
                "decode needs an external decoder (imageio/libavif) "
                "not present in this environment"
            ) from None
        img = iio.imread(buf, extension=".avif")
        if img.ndim == 3:  # luma-fold like png_codec
            rgb = img[..., :3].astype(np.uint32)
            img = ((rgb[..., 0] * 299 + rgb[..., 1] * 587
                    + rgb[..., 2] * 114 + 500) // 1000).astype(np.uint8)
        return img
    raise ValueError(
        f"ISOBMFF: unsupported item type {meta['item_type']!r}"
    )
