"""End-to-end span-sequence equality — the north-rule correctness gate.

Every document's extracted span sequence (kind, text, media_ref, order)
and its ordered code list must equal the golden oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.operators.extraction import extract_spans, run_extraction


def _rows_to_dict(rows):
    return {
        r["doc_id"]: (
            [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in r["out_spans"]
            ],
            list(r["codes"]),
        )
        for r in rows
    }


def test_span_sequence_equality(corpus_tables):
    docs = corpus_tables["docs"]
    blobs = corpus_tables["blobs"]
    expected = corpus_tables["expected"]

    got = _rows_to_dict(run_extraction(docs, blobs).collect())
    want = _rows_to_dict(expected.collect())

    assert set(got) == set(want)
    mismatches = [d for d in want if got[d] != want[d]]
    assert mismatches == [], (
        f"{len(mismatches)} docs mismatch; first: "
        f"{mismatches[0]}: got={got[mismatches[0]]}, want={want[mismatches[0]]}"
    )


def test_span_equality_under_shuffled_partitioning(corpus_tables):
    """Ordering must be explicit, not shuffle-order luck (SURVEY 7.4)."""
    docs = corpus_tables["docs"].repartition(13)
    blobs = corpus_tables["blobs"].repartition(7)
    expected = corpus_tables["expected"]
    got = _rows_to_dict(run_extraction(docs, blobs).collect())
    want = _rows_to_dict(expected.collect())
    assert got == want


def test_empty_docs_survive(corpus_tables):
    docs = corpus_tables["docs"]
    n_empty = docs.filter(F.size("spans") == 0).count()
    assert n_empty > 0
    out = run_extraction(docs, corpus_tables["blobs"])
    out_empty = out.filter(F.size("out_spans") == 0)
    assert out_empty.count() == n_empty
    assert out.count() == docs.count()


def test_extracted_spans_shape(corpus_tables):
    ext = extract_spans(corpus_tables["docs"], corpus_tables["blobs"])
    assert set(ext.columns) == {"doc_id", "offset", "kind", "text", "media_ref"}
    # media spans got recognized text; text spans keep media_ref null
    sample = ext.filter(F.col("kind") == "media").filter(
        F.length("text") > 0
    )
    assert sample.count() > 0


def test_ocr_singleton_initialized_once():
    from ocr_spark.operators.ocr import _Recognizer

    _Recognizer._instance = None
    _Recognizer.init_count = 0
    a = _Recognizer.get()
    b = _Recognizer.get()
    assert a is b
    assert _Recognizer.init_count == 1
