"""Pure-Python invariants of the synthetic corpus (no Spark)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from bitmap_oracle import decode_bitmap
from ocr_spark.datagen import generate_corpus
from ocr_spark.fonts import ALPHABET, render_text
from ocr_spark.functions.boilerplate_core import strip_boilerplate
from ocr_spark.functions.voucher_core import extract_voucher_codes


def test_render_decode_roundtrip_fuzz():
    rng = random.Random(1234)
    for _ in range(200):
        lines = []
        for _ in range(rng.randint(1, 4)):
            n = rng.randint(0, 30)
            lines.append(
                "".join(rng.choice(ALPHABET) for _ in range(n)).rstrip()
            )
        while lines and not lines[-1]:
            lines.pop()
        text = "\n".join(lines)
        for ink in (255, 160, 90):
            assert decode_bitmap(render_text(text, ink=ink)) == text


def test_decode_empty_and_noise():
    assert decode_bitmap(np.zeros((10, 10), dtype=np.uint8)) == ""
    noise = np.full((20, 20), 50, dtype=np.uint8)  # sub-threshold
    assert decode_bitmap(noise) == ""


def test_generator_deterministic():
    a = generate_corpus(50)
    b = generate_corpus(50)
    for k in a:
        assert a[k].equals(b[k]), k


def test_generator_oracles_consistent():
    tables = generate_corpus(150)
    docs = tables["documents_interleaved"].to_pylist()
    exp = tables["expected_spans"].to_pylist()
    blobs = {r["media_ref"]: r for r in tables["media_blobs"].to_pylist()}
    for d, e in zip(docs, exp):
        assert d["doc_id"] == e["doc_id"]
        for s, o in zip(d["spans"], e["out_spans"]):
            assert s["offset"] == o["order"]
            if s["kind"] == "text":
                assert strip_boilerplate(s["text"]) == o["text"]
            else:
                r = blobs[s["media_ref"]]
                from ocr_spark.png_codec import blob_to_array

                img = blob_to_array(r["pixels"], r["height"], r["width"])
                assert decode_bitmap(img) == o["text"]
        doc_text = "\n".join(o["text"] for o in e["out_spans"])
        assert extract_voucher_codes(doc_text) == e["codes"]


def test_generator_covers_edges():
    tables = generate_corpus(200)
    docs = tables["documents_interleaved"].to_pylist()
    exp = tables["expected_spans"].to_pylist()
    assert any(len(d["spans"]) == 0 for d in docs), "empty-spans doc"
    assert any(
        d["spans"] and all(s["kind"] == "media" for s in d["spans"])
        for d in docs
    ), "all-media doc"
    # banned codes present in raw text but never in expected codes
    raw = "\n".join(
        s["text"] or "" for d in docs for s in d["spans"]
    )
    assert "1234" in raw
    all_codes = [c for e in exp for c in e["codes"]]
    assert "1234123412341234" not in all_codes
    assert "1234123422341234" not in all_codes
    assert len(all_codes) > 50


@pytest.mark.parametrize(
    "text,expected",
    [
        ("code 1111 2222 3333 4444 ok", ["1111222233334444"]),
        ("a 11112222 3333  4444 b", ["1111222233334444"]),
        ("compact 1111222233334444 end", ["1111222233334444"]),
        ("dup 1111222233334444 and 1111 2222 3333 4444", ["1111222233334444"]),
        ("banned 1234 1234 1234 1234 gone", []),
        ("short 111 2222 3333 4444 no", []),
        ("15digits 123456789012345 no", []),
        ("17digits 12345678901234567 no", []),
        ("two 1111222233334444 then 5555666677778888",
         ["1111222233334444", "5555666677778888"]),
        ("", []),
        (None, []),
    ],
)
def test_voucher_core(text, expected):
    assert extract_voucher_codes(text) == expected


def test_boilerplate_rules():
    html = (
        "<html><head><title>T</title></head><body>"
        "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
        "<p>this is a long enough content sentence to keep</p>"
        "<div>tiny</div>"
        "<div class='related'><a href='/x'>link link</a> "
        "<a href='/y'>more links here</a></div>"
        "<footer><a href='/p'>Privacy</a> contact</footer>"
        "</body></html>"
    )
    assert strip_boilerplate(html) == (
        "this is a long enough content sentence to keep"
    )
    assert strip_boilerplate("plain text, no tags") == "plain text, no tags"
    assert strip_boilerplate("") == ""
    assert strip_boilerplate(None) == ""


def test_rotation_detect_and_decode_roundtrip():
    """M3/M4/M5 parity: rotated renders decode to the same text."""
    import numpy as np

    from bitmap_oracle import decode_bitmap, detect_rotation
    from ocr_spark.fonts import render_text

    texts = ["HELLO WORLD", "CODE 1234 5678 9012 3456\nSECOND LINE",
             "A", "0123456789"]
    for gt in texts:
        img = render_text(gt)
        for k in range(4):
            rot = np.ascontiguousarray(np.rot90(img, k))
            assert detect_rotation(rot) == (-k) % 4 or decode_bitmap(rot) == gt
            assert decode_bitmap(rot) == gt, (gt, k)


def test_recognizer_handles_rotated_blobs():
    import numpy as np

    from ocr_spark.fonts import render_text
    from ocr_spark.operators.ocr import _Recognizer

    r = _Recognizer.get()
    gt = "GRID VALUE 1111 2222 3333 4444\nBATCH LINE"
    img = render_text(gt, ink=200)
    for k in range(4):
        rot = np.ascontiguousarray(np.rot90(img, k))
        assert r.recognize(rot.tobytes(), rot.shape[0], rot.shape[1]) == gt
