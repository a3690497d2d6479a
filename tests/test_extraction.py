"""Extraction through the one front door, ``run_extraction_inrow``.

The north-rule correctness gate: every document's extracted span sequence
(kind, text, media_ref, order) and its ordered code list must equal the
golden oracle exactly, on the in-row path and on its cold-media fallback
(forced with a broadcast budget no batch fits). A seeded differential test
holds both plans to the pure-Python span rules on adversarial input.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ocr_spark.functions.boilerplate_core import strip_boilerplate
from ocr_spark.functions.voucher_core import extract_voucher_codes
from ocr_spark.operators import extraction_inrow
from ocr_spark.operators.extraction_inrow import run_extraction_inrow
from ocr_spark.operators.ocr import recognize_blobs
from ocr_spark.schemas import DOCUMENTS_SCHEMA


def _force_cold(monkeypatch) -> None:
    """No batch fits this budget: the front door runs the fallback plan."""
    monkeypatch.setattr(extraction_inrow, "MAX_BROADCAST_REFS", -1)


def _row(r):
    """(doc_id, [(kind, text, media_ref, order)], codes) of one result row."""
    return (
        r["doc_id"],
        [(s["kind"], s["text"], s["media_ref"], s["order"])
         for s in r["out_spans"]],
        list(r["codes"]),
    )


def _rows_to_dict(rows):
    return {d: (spans, codes) for d, spans, codes in map(_row, rows)}


def _multiset(rows):
    """Rows as a sorted list: documents that share a doc_id stay apart."""
    return sorted(rows, key=repr)


def _assert_golden(out, expected) -> None:
    got = _rows_to_dict(out.collect())
    want = _rows_to_dict(expected.collect())
    assert set(got) == set(want)
    mismatches = [d for d in want if got[d] != want[d]]
    assert mismatches == [], (
        f"{len(mismatches)} docs mismatch; first: "
        f"{mismatches[0]}: got={got[mismatches[0]]}, want={want[mismatches[0]]}"
    )


def test_span_sequence_equality(corpus_tables, monkeypatch):
    docs = corpus_tables["docs"]
    blobs = corpus_tables["blobs"]
    expected = corpus_tables["expected"]
    _assert_golden(run_extraction_inrow(docs, blobs), expected)
    _force_cold(monkeypatch)
    _assert_golden(run_extraction_inrow(docs, blobs), expected)


def test_span_equality_under_shuffled_partitioning(corpus_tables):
    """Ordering must be explicit, not shuffle-order luck (SURVEY 7.4)."""
    docs = corpus_tables["docs"].repartition(13)
    blobs = corpus_tables["blobs"].repartition(7)
    _assert_golden(run_extraction_inrow(docs, blobs), corpus_tables["expected"])


def test_empty_docs_survive(corpus_tables, monkeypatch):
    docs = corpus_tables["docs"]
    n_docs = docs.count()
    n_empty = docs.filter(F.size("spans") == 0).count()
    assert n_empty > 0
    for cold in (False, True):
        if cold:
            _force_cold(monkeypatch)
        out = run_extraction_inrow(docs, corpus_tables["blobs"])
        assert out.filter(F.size("out_spans") == 0).count() == n_empty
        assert out.count() == n_docs


def test_extracted_spans_shape(corpus_tables, monkeypatch):
    """Each out_spans element is (kind, text, media_ref, order), and media
    spans get recognized text, in both regimes."""
    for cold in (False, True):
        if cold:
            _force_cold(monkeypatch)
        out = run_extraction_inrow(
            corpus_tables["docs"], corpus_tables["blobs"])
        span_type = out.schema["out_spans"].dataType.elementType
        assert span_type.fieldNames() == [
            "kind", "text", "media_ref", "order"]
        media = out.select(F.explode(
            F.filter("out_spans", lambda s: s["kind"] == F.lit("media"))
        ).alias("s"))
        assert media.filter(F.length("s.text") > 0).count() > 0, cold


def test_ocr_singleton_initialized_once():
    from ocr_spark.operators.ocr import _Recognizer

    _Recognizer._instance = None
    _Recognizer.init_count = 0
    a = _Recognizer.get()
    b = _Recognizer.get()
    assert a is b
    assert _Recognizer.init_count == 1


def test_inrow_unresolvable_media_ref_empty_text(corpus_tables):
    # empty blob table -> every media span text must be ''
    got = run_extraction_inrow(
        corpus_tables["docs"], corpus_tables["blobs"].limit(0))
    media_texts = got.select(
        F.explode(
            F.filter("out_spans", lambda s: s["kind"] == F.lit("media"))
        ).alias("s")
    ).select(F.col("s.text").alias("t"))
    assert media_texts.filter(F.col("t") != "").count() == 0


def test_inrow_sorts_out_of_order_offsets(corpus_tables):
    """Contract: out_spans ordered by offset even if the input array isn't."""
    docs, blobs = corpus_tables["docs"], corpus_tables["blobs"]
    shuffled = docs.select("doc_id", F.reverse("spans").alias("spans"))
    assert (_rows_to_dict(run_extraction_inrow(shuffled, blobs).collect())
            == _rows_to_dict(run_extraction_inrow(docs, blobs).collect()))


def test_recognized_map_covers_exactly_used_refs(corpus_tables, monkeypatch):
    """The front door recognizes exactly the refs its documents use that
    have a blob, through the module-level ``recognized_map``."""
    docs, blobs = corpus_tables["docs"], corpus_tables["blobs"]
    maps = []
    real = extraction_inrow.recognized_map

    def spy(pruned):
        maps.append(real(pruned))
        return maps[-1]

    monkeypatch.setattr(extraction_inrow, "recognized_map", spy)
    run_extraction_inrow(docs, blobs)
    used = {
        r["m"]
        for r in docs.select(
            F.explode("spans.media_ref").alias("m")
        ).where(F.col("m").isNotNull()).distinct().collect()
    }
    have = {r["media_ref"] for r in blobs.select("media_ref").collect()}
    assert len(maps) == 1
    assert set(maps[0]) == used & have


def test_budget_guard_falls_back_to_shuffle_mode(corpus_tables, monkeypatch):
    """A batch whose recognized-media map exceeds the broadcast budget must
    auto-fall-back to the per-document media join (no silent driver OOM
    path), with identical results."""
    docs, blobs = corpus_tables["docs"], corpus_tables["blobs"]
    expected = corpus_tables["expected"]

    with monkeypatch.context() as m:
        m.setattr(extraction_inrow, "MAX_BROADCAST_REFS", 1)
        out = run_extraction_inrow(docs, blobs)
    # the fallback joins each document to its media -> it has exchanges,
    # unlike the zero-exchange broadcast plan (tests/test_plans.py pins it)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan
    _assert_golden(out, expected)

    # byte-budget trips identically
    monkeypatch.setattr(extraction_inrow, "MAX_BROADCAST_EST_BYTES", 10)
    out2 = run_extraction_inrow(docs, blobs)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan2


# --------------------------------------------------------------------------
# seeded differential test: front door vs fallback vs pure-Python rules
# --------------------------------------------------------------------------

_TEXTS = [
    None, "", "   ", "plain words",
    "\xa0 padded plain text\xa0 ",
    "pay 4321\xa08765\xa02109\xa06543 now",
    "em 1111 2222 3333 4444 space",
    "arabic ١٢٣٤567812345678 digits",
    "caf\xe99876543210987654 glued",
    "banned 1234 1234 1234 1234 code",
    "<p>Main content paragraph with code 5555 6666 7777 8888 inside.</p>"
    "<nav>Home | About | 9999 0000 1111 2222</nav>",
    "<div>Short</div><P>UPPER CASE paragraph that is long enough.</P>",
    "<li><a href='/x'>link link link link link link</a> few words</li>",
    "<script>var c = '1212343456567878';</script>"
    "<h2>Heading text long enough to be kept</h2>",
    "<p>never closed paragraph with 2468 1357 2468 1357",
    "<div>nbsp\xa0inside\xa0a\xa0block\xa0that\xa0is\xa0long</div>",
    "line one\nline two 3141 5926 5358 9793\n",
]


def _random_docs(rng: random.Random, refs: list[str], n_docs: int):
    rows = []
    for i in range(n_docs):
        # a few rows reuse an earlier doc_id, and one in ~30 has none
        roll = rng.random()
        doc_id = (rng.choice(rows)[0] if rows and roll < 0.1
                  else None if roll < 0.13 else f"d{i}")
        roll = rng.random()
        if roll < 0.08:
            rows.append((doc_id, None))
            continue
        if roll < 0.16:
            rows.append((doc_id, []))
            continue
        spans = []
        for _ in range(rng.randint(1, 7)):
            if rng.random() < 0.08:
                spans.append(None)
                continue
            spans.append((
                rng.choice(["text", "text", "media", "media", None, "video"]),
                rng.choice(_TEXTS),
                rng.choice(refs + ["no-such-blob", None]),
                rng.choice([None, rng.randint(0, 3), rng.randint(0, 900)]),
            ))
        rows.append((doc_id, spans))
    return rows


def _python_rules(rows, recognized: dict[str, str]):
    """The span rules in plain Python: sort by (offset nulls first, input
    position); text spans strip, every other span takes its recognized
    text ('' without a blob); codes over the texts joined by newlines.
    Returns the rows as a multiset of (doc_id, spans, codes)."""
    out = []
    for doc_id, spans in rows:
        spans = [s or (None, None, None, None) for s in spans or []]
        ordered = sorted(
            range(len(spans)),
            key=lambda j: (spans[j][3] is not None, spans[j][3] or 0, j))
        res = []
        for j in ordered:
            kind, text, ref, offset = spans[j]
            res.append((
                kind,
                strip_boilerplate(text) if kind == "text"
                else recognized.get(ref, ""),
                ref, offset,
            ))
        codes = extract_voucher_codes("\n".join(t for _, t, _, _ in res))
        out.append((doc_id, res, codes))
    return _multiset(out)


def test_differential_front_door_fallback_python(spark, corpus_tables,
                                                 monkeypatch):
    """Random span arrays at three seeds: null/empty/null-element arrays,
    unsorted, tied and null offsets, null and unknown kinds, refs without a
    blob, HTML edge cases and non-ASCII whitespace, and rows that share a
    doc_id or have none. The in-row path, the forced fallback and the
    pure-Python rules agree row for row."""
    all_refs = sorted(
        r[0] for r in corpus_tables["blobs"].select("media_ref").collect())
    pool = random.Random(5).sample(all_refs, min(16, len(all_refs)))
    # blobs no span uses stay in the frame: the fallback recognizes them
    # and must drop them in its join
    blobs = corpus_tables["blobs"].where(F.col("media_ref").isin(pool))
    pdf = recognize_blobs(blobs).toPandas()
    recognized = dict(zip(pdf["media_ref"], pdf["text"]))
    assert any(recognized.values())
    # a null doc_id row whose ref no other row uses: in the cold regime
    # only its own media column can resolve it
    lone = next(r for r in pool[12:] if recognized.get(r))

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows = _random_docs(rng, pool[:12], 60)
        rows.append((None, [("media", None, lone, 0)]))
        ids = [r[0] for r in rows if r[0] is not None]
        assert len(set(ids)) < len(ids), "no doc_id repeats"
        docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
        want = _python_rules(rows, recognized)
        with monkeypatch.context() as m:
            front = run_extraction_inrow(docs, blobs).collect()
            _force_cold(m)
            cold = run_extraction_inrow(docs, blobs).collect()
        for name, got in (("front door", front), ("fallback", cold)):
            got = _multiset(map(_row, got))
            bad = [(g, w) for g, w in zip(got, want) if g != w]
            assert len(got) == len(want) and not bad, (
                f"seed {seed}, {name}: {len(got)} rows vs {len(want)}, "
                f"{len(bad)} differ; first (got, want): {bad[:1]}")
