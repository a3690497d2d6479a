"""OCRResult-shaped span records: bbox / confidence / section parity."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.datagen import generate_corpus  # noqa: E402
from ocr_spark.fonts import GLYPH_H, LINE_PITCH  # noqa: E402
from ocr_spark.operators.ocr import recognize_blob_spans  # noqa: E402


@pytest.fixture(scope="module")
def blob_spans(spark):
    tables = generate_corpus(n_docs=240, seed=41)
    blobs = spark.createDataFrame(tables["media_blobs"].to_pandas())
    meta = {
        r["media_ref"]: (r["ground_text"], r["variant"])
        for r in blobs.select("media_ref", "ground_text", "variant").collect()
    }
    gt = {ref: g for ref, (g, _) in meta.items()}
    variants = {ref: v for ref, (_, v) in meta.items()}
    return recognize_blob_spans(blobs).collect(), gt, variants


def test_span_texts_reassemble_ground_truth(blob_spans):
    rows, gt, _ = blob_spans
    by_ref: dict[str, list] = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for ref, spans in by_ref.items():
        lines = [s["text"] for s in sorted(spans, key=lambda s: s["line_no"])]
        expected_lines = [ln for ln in gt[ref].split("\n") if ln.strip()]
        # clean renders: every non-empty ground line appears, in order
        got_nonempty = [ln for ln in lines if ln.strip()]
        if gt[ref]:
            assert got_nonempty == [ln.rstrip() for ln in expected_lines]


def test_bbox_geometry(blob_spans):
    rows, _, _ = blob_spans
    assert rows, "no spans recognized"
    for r in rows:
        (x0, y0), (x1, _), (_, y1), _ = [tuple(p) for p in r["bbox"]]
        assert x0 == 0 and x1 > 0
        assert y0 == r["line_no"] * LINE_PITCH
        assert y1 <= y0 + GLYPH_H
        assert r["section"] in ("top_half", "bottom_half")
        assert r["quadrant"] in (
            "quarter_1", "quarter_2", "quarter_3", "quarter_4")


def test_confidence_full_on_clean_renders(blob_spans):
    rows, gt, variants = blob_spans
    clean = [r for r in rows
             if gt[r["media_ref"]]
             and "speckled" not in variants[r["media_ref"]]]
    assert clean
    # rendered (non-noise, non-speckled) blobs decode cell-exactly
    assert all(r["confidence"] == 1.0 for r in clean)


def test_confidence_degrades_on_speckles(blob_spans):
    """Speckles never change the TEXT (cell denoise) but do lower the
    pixel-exact confidence for lines whose glyph cells caught salt."""
    rows, gt, variants = blob_spans
    speckled = [r for r in rows if "speckled" in variants[r["media_ref"]]]
    assert speckled, "corpus must contain speckled variants at this seed"
    assert all(r["confidence"] <= 1.0 for r in speckled)
    assert any(r["confidence"] < 1.0 for r in speckled)


def test_section_grouping_a5(spark, blob_spans):
    """Reference A5: group spans by section, concat texts in order
    (reference src/ocr/easyocr_impl.py:183-196)."""
    rows, _, _ = blob_spans
    df = spark.createDataFrame(rows)
    grouped = (
        df.groupBy("media_ref", "section")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("line_no", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("section_text")
        )
    )
    assert grouped.count() > 0
    assert grouped.filter(F.length("section_text") == 0).count() == 0
