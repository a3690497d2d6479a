"""From-scratch baseline JPEG codec for media blob payloads.

PNG closed the "real corpus arrives encoded" gap for lossless inputs
(png_codec.py); JPEG is the other format every real crawl is full of.
The reference canonicalizes arbitrary encoded inputs (JPEG included)
through its decode step before OCR (reference src/ocr/cli.py:
100-112 — PIL opens any format; sharp likewise in the Node path). This
module implements the decode for baseline JPEG — and the matching
encoder so the synthetic corpus can ship real JPEG payloads — from the
public ITU T.81 spec only, on numpy + stdlib: no codec library.

Scope:
  * baseline sequential DCT, 8-bit, single grayscale component (the
    engine's canonical domain; the reference grayscales first anyway)
  * standard Annex K luminance Huffman tables (written into DHT, so
    any external JPEG tool can decode our files)
  * quant table all-ones by default: the encoder is then near-lossless
    (|error| <= 2 from FDCT/IDCT rounding), far inside every binarize
    threshold margin the recognizer uses (preprocess.py) — glyph
    recognition over JPEG payloads stays EXACT
  * decoder: marker parse, DHT canonical-code reconstruction with a
    16-bit peek LUT (no per-bit Python in the hot loop), byte
    unstuffing, differential DC, run-length AC, dequant, IDCT, crop

Scale note: like PNG, decode runs inside the Arrow-batched recognizer
UDF on the per-executor deduplicated blob set; payloads are
signature-sniffed (FFD8) by png_codec.blob_to_array, so raw / PNG /
JPEG payloads coexist in one table column.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

JPEG_SIGNATURE = b"\xff\xd8"

# standard zigzag scan order (T.81 figure 5) in row-major 8x8 indexing
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# standard luminance Huffman tables (T.81 Annex K.3.1)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix T: FDCT = T B T', IDCT = T' F T
    (T.81 A.3.3 scaling — C(0)=1/sqrt(2))."""
    x = np.arange(8)
    t = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    t[0] /= np.sqrt(2.0)
    return t


_T = _dct_matrix()


def _canonical_codes(bits: list[int]) -> list[tuple[int, int]]:
    """(length, code) pairs in symbol order from a BITS table (T.81
    C.2 canonical code construction)."""
    out = []
    code = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out.append((length, code))
            code += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:            # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, bits) for a DC diff / AC coefficient (T.81 F.1.2.1)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def encode_jpeg(img: np.ndarray, quant: int | np.ndarray = 1) -> bytes:
    """Grayscale uint8 image -> baseline JPEG bytes.

    `quant` is either a uniform quantization step (1 = near-lossless,
    |error| <= 2) or a 64-entry table IN ZIGZAG ORDER — the order T.81
    B.2.4.1 prescribes for the DQT payload, which is also how this
    encoder writes it (so any external baseline decoder dequantizes our
    streams correctly, and vice versa)."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("encode_jpeg expects a 2-D uint8 array")
    h, w = img.shape
    if not h or not w:
        raise ValueError("empty image")
    if np.isscalar(quant):
        qtab_z = np.full(64, quant, dtype=np.int64)   # zigzag-ordered
    else:
        qtab_z = np.asarray(quant, dtype=np.int64).reshape(64)
    if (qtab_z < 1).any() or (qtab_z > 255).any():
        raise ValueError("quant steps must be in 1..255")
    # the DCT coefficients are row-major; de-zigzag the table to divide
    qt_rm = np.empty(64, dtype=np.int64)
    qt_rm[ZIGZAG] = qtab_z

    # pad to 8x8 multiples with edge replication
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(img.astype(np.float64) - 128.0,
                    ((0, ph - h), (0, pw - w)), mode="edge")
    blocks = padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
    coeffs = np.einsum("ux,rcxy,vy->rcuv", _T, blocks, _T)
    q = np.round(coeffs / qt_rm.reshape(8, 8)).astype(np.int64)
    zz = q.reshape(-1, 64)[:, ZIGZAG]  # (nblocks, 64) in zigzag order

    dc_codes = _canonical_codes(DC_BITS)
    ac_codes = {sym: lc for sym, lc in zip(AC_VALS, _canonical_codes(AC_BITS))}
    bw = _BitWriter()
    prev_dc = 0
    for row in zz:
        size, bits = _magnitude(int(row[0]) - prev_dc)
        prev_dc = int(row[0])
        length, code = dc_codes[size]
        bw.write(code, length)
        if size:
            bw.write(bits, size)
        nz = np.flatnonzero(row[1:])
        prev = 0
        for idx in nz:
            run = int(idx) - prev
            prev = int(idx) + 1
            while run >= 16:
                length, code = ac_codes[0xF0]    # ZRL
                bw.write(code, length)
                run -= 16
            size, bits = _magnitude(int(row[1 + idx]))
            length, code = ac_codes[(run << 4) | size]
            bw.write(code, length)
            bw.write(bits, size)
        if not nz.size or nz[-1] != 62:
            length, code = ac_codes[0x00]        # EOB
            bw.write(code, length)
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = seg(0xFFDB, b"\x00" + bytes(int(qtab_z[i]) for i in range(64)))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    dht = seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS)) + seg(
        0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    sos = seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    return (b"\xff\xd8" + dqt + sof + dht + sos + entropy + b"\xff\xd9")


def _build_lut(bits: list[int], vals: list[int]) -> np.ndarray:
    """16-bit peek LUT: lut[peek16] = (symbol << 5) | code_length, so the
    decoder resolves any Huffman symbol with ONE array lookup."""
    lut = np.zeros(1 << 16, dtype=np.int32)
    for sym, (length, code) in zip(vals, _canonical_codes(bits)):
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        lut[lo:hi] = (sym << 5) | length
    return lut


@lru_cache(maxsize=16)
def _lut_cached(table_bytes: bytes) -> list[int]:
    """LUT as a plain Python list (C-speed scalar indexing in the symbol
    loop), cached on the raw DHT table payload — every corpus JPEG
    carries the same Annex K tables, so each worker builds each LUT
    once, mirroring the shared-recognizer lifecycle."""
    bits = list(table_bytes[:16])
    vals = list(table_bytes[16:])
    return _build_lut(bits, vals).tolist()


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> grayscale uint8 array.

    Supports the single-component baseline stream this codec writes and
    any equivalent from external encoders (one scan, no subsampling, no
    restart intervals, 8-bit quant tables)."""
    if data[:2] != JPEG_SIGNATURE:
        raise ValueError("not a JPEG stream")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    luts: dict[tuple[int, int], list[int]] = {}
    h = w = 0
    entropy = b""
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:           # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos)
        payload = data[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:           # DQT (possibly several tables)
            p = 0
            while p < len(payload):
                prec_id = payload[p]
                if prec_id >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                qtabs[prec_id & 0x0F] = np.frombuffer(
                    payload, np.uint8, 64, p + 1).astype(np.int64)
                p += 65
        elif marker == 0xC0:         # SOF0 baseline
            _, h, w, ncomp = struct.unpack_from(">BHHB", payload, 0)
            # component spec: id, sampling, quant-table id (offset 6..8)
            if ncomp != 1 or payload[7] != 0x11:
                raise ValueError("only 1-component 8x8-sampled baseline")
            comp_qtab = payload[8]
        elif marker == 0xC4:         # DHT (possibly several tables)
            p = 0
            while p < len(payload):
                tclass, tid = payload[p] >> 4, payload[p] & 0x0F
                nvals = sum(payload[p + 1:p + 17])
                luts[(tclass, tid)] = _lut_cached(
                    bytes(payload[p + 1:p + 17 + nvals])
                )
                p += 17 + nvals
        elif marker == 0xDA:         # SOS: entropy data follows
            dc_id, ac_id = payload[2] >> 4, payload[2] & 0x0F
            # scan to EOI, unstuffing FF00
            raw = data[pos:]
            end = raw.find(b"\xff\xd9")
            entropy = raw[: end if end >= 0 else len(raw)]
            pos = len(data)
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("non-baseline SOF unsupported")
        # APPn/COM/DRI(0) etc.: skipped
    if not h or not entropy:
        raise ValueError("truncated JPEG")

    stream = entropy.replace(b"\xff\x00", b"\xff")
    # 24-bit byte-aligned windows: the 16-bit peek at bit offset p is
    # (w24[p >> 3] >> (8 - (p & 7))) & 0xFFFF — a handful of C-speed int
    # ops per symbol on a SMALL (one-entry-per-byte) Python list. This
    # replaces both the per-symbol numpy slice-dot of the first decoder
    # (~29 ms/page) and the per-bit precomputed peek table of the second
    # (~11 ms/page: the 8x-larger tolist dominated); measured
    # ~7 ms/page for a dense quant=1 stream. Trailing 1-bits pad the
    # final window per the spec's 1-padding.
    sb = np.frombuffer(stream + b"\xff\xff\xff", dtype=np.uint8
                       ).astype(np.int64)
    w24 = ((sb[:-2] << 16) | (sb[1:-1] << 8) | sb[2:]).tolist()
    dc_lut, ac_lut = luts[(0, dc_id)], luts[(1, ac_id)]
    qtab = qtabs[comp_qtab]

    nbx, nby = -(-w // 8), -(-h // 8)
    nblocks = nbx * nby
    zzflat = [0] * (nblocks * 64)
    p = 0
    prev_dc = 0

    nbits = len(stream) * 8
    for base in range(0, nblocks * 64, 64):
        if p >= nbits:
            raise ValueError("entropy stream overrun")
        ent = dc_lut[(w24[p >> 3] >> (8 - (p & 7))) & 0xFFFF]
        size, length = ent >> 5, ent & 31
        if not length:
            raise ValueError("bad DC code")
        p += length
        if size:
            v = ((w24[p >> 3] >> (8 - (p & 7))) & 0xFFFF) >> (16 - size)
            if v < (1 << (size - 1)):
                v -= (1 << size) - 1
            prev_dc += v
            p += size
        zzflat[base] = prev_dc
        k = 1
        while k < 64:
            ent = ac_lut[(w24[p >> 3] >> (8 - (p & 7))) & 0xFFFF]
            sym, length = ent >> 5, ent & 31
            if not length:
                raise ValueError("bad AC code")
            p += length
            if sym == 0x00:          # EOB
                break
            if sym == 0xF0:          # ZRL
                k += 16
                continue
            k += sym >> 4
            if k > 63:
                raise ValueError("AC run overflow")
            size = sym & 0x0F
            if size:
                v = ((w24[p >> 3] >> (8 - (p & 7)))
                     & 0xFFFF) >> (16 - size)
                if v < (1 << (size - 1)):
                    v -= (1 << size) - 1
                p += size
            else:
                v = 0
            zzflat[base + k] = v
            k += 1

    # DQT tables are stored in zigzag order (T.81 B.2.4.1), same as the
    # entropy-decoded coefficients — dequantize IN THE ZIGZAG DOMAIN, then
    # scatter to row-major. (Multiplying after the scatter silently
    # mis-dequantizes any stream with a non-uniform table.)
    zz = np.asarray(zzflat, dtype=np.int64).reshape(nblocks, 64)
    zz *= qtab[None, :]
    q = np.zeros((nblocks, 64), dtype=np.int64)
    q[:, ZIGZAG] = zz
    coeffs = q.reshape(nby, nbx, 8, 8).astype(np.float64)
    blocks = np.einsum("xu,rcuv,yv->rcxy", _T.T, coeffs, _T.T)
    img = blocks.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8) + 128.0
    return np.clip(np.round(img), 0, 255).astype(np.uint8)[:h, :w]
