"""In-row extraction mode: golden equality + mode equivalence."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.datagen import generate_corpus  # noqa: E402
from ocr_spark.operators.extraction import run_extraction  # noqa: E402
from ocr_spark.operators import extraction_inrow  # noqa: E402
from ocr_spark.operators.extraction_inrow import (  # noqa: E402
    recognized_map,
    run_extraction_inrow,
)


@pytest.fixture(scope="module")
def corpus(spark):
    tables = generate_corpus(n_docs=120, seed=23)
    docs = spark.createDataFrame(tables["documents_interleaved"].to_pandas())
    blobs = spark.createDataFrame(tables["media_blobs"].to_pandas())
    expected = spark.createDataFrame(tables["expected_spans"].to_pandas())
    return docs, blobs, expected


def _canon(df):
    spans = F.transform(
        "out_spans",
        lambda s: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["order"].cast("int").alias("order"),
        ),
    )
    return df.select(
        "doc_id",
        F.md5(F.to_json(F.struct(spans.alias("out_spans"), "codes"))).alias("d"),
    )


def test_inrow_matches_golden(spark, corpus):
    docs, blobs, expected = corpus
    got = run_extraction_inrow(docs, blobs)
    assert _canon(got).exceptAll(_canon(expected)).count() == 0
    assert got.count() == 120  # empty-span docs retained


def test_inrow_equals_shuffle_mode(spark, corpus):
    """Both physical strategies must be observationally identical."""
    docs, blobs, _ = corpus
    a = _canon(run_extraction_inrow(docs, blobs))
    b = _canon(run_extraction(docs, blobs))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_inrow_unresolvable_media_ref_empty_text(spark, corpus):
    docs, blobs, _ = corpus
    # empty blob table -> every media span text must be ''
    empty_blobs = blobs.limit(0)
    got = run_extraction_inrow(docs, empty_blobs)
    media_texts = got.select(
        F.explode(
            F.filter("out_spans", lambda s: s["kind"] == F.lit("media"))
        ).alias("s")
    ).select(F.col("s.text").alias("t"))
    n_nonempty = media_texts.filter(F.col("t") != "").count()
    assert n_nonempty == 0


def test_inrow_sorts_out_of_order_offsets(spark, corpus):
    """Contract: out_spans ordered by offset even if the input array isn't."""
    docs, blobs, _ = corpus
    shuffled = docs.select("doc_id", F.reverse("spans").alias("spans"))
    a = _canon(run_extraction_inrow(shuffled, blobs))
    b = _canon(run_extraction_inrow(docs, blobs))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_recognized_map_covers_exactly_used_refs(spark, corpus):
    docs, blobs, _ = corpus
    m = recognized_map(docs, blobs)
    used = {
        r["m"]
        for r in docs.select(
            F.explode("spans.media_ref").alias("m")
        ).where(F.col("m").isNotNull()).distinct().collect()
    }
    have = {r["media_ref"] for r in blobs.select("media_ref").collect()}
    assert set(m) == used & have


def test_budget_guard_falls_back_to_shuffle_mode(spark, corpus, monkeypatch):
    """A batch whose recognized-media map exceeds the broadcast budget must
    auto-fall-back to the shuffle-mode plan (no silent driver OOM path),
    with identical results."""
    docs, blobs, expected = corpus

    with monkeypatch.context() as m:
        m.setattr(extraction_inrow, "MAX_BROADCAST_REFS", 1)
        out = run_extraction_inrow(docs, blobs)
    # fallback plan reassembles via shuffle -> it has exchanges, unlike
    # the zero-exchange in-row plan (tests/test_plans.py pins that)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan
    assert _canon(out).exceptAll(_canon(expected)).count() == 0
    assert out.count() == expected.count()

    # byte-budget trips identically
    monkeypatch.setattr(extraction_inrow, "MAX_BROADCAST_EST_BYTES", 10)
    out2 = run_extraction_inrow(docs, blobs)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan2


def test_budget_guard_fallback_never_rebroadcasts(spark, corpus, monkeypatch):
    """Round-3 VERDICT defect: the shuffle-mode fallback used to force
    F.broadcast on the same corpus-proportional recognized relation whose
    size tripped the guard. Pin the fix: when the guard trips, NO
    BroadcastExchange carries the recognized (media_ref, text) relation,
    no exchange carries pixel bytes, and results are still exactly the
    golden spans."""
    import re

    from plan_checks import exchange_inputs, explain_formatted

    docs, blobs, expected = corpus
    # Distinguish a FORCED broadcast (the defect: an F.broadcast hint that
    # overrides the planner even on a corpus-sized relation) from a
    # stats-based planner choice (fine — at real scale the stats say huge
    # and the planner won't pick it): with auto-broadcast disabled, only a
    # hint can still produce a BroadcastExchange on the recognized side.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        monkeypatch.setattr(extraction_inrow, "MAX_BROADCAST_EST_BYTES", 1)
        out = run_extraction_inrow(docs, blobs)

        # pixels never cross any exchange (the 100-TB invariant)
        for cols in exchange_inputs(out):
            assert "pixels" not in cols, cols
        plan = explain_formatted(out)
        for cols in re.findall(
            r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan
        ):
            assert not ("media_ref" in cols and "text#" in cols), cols

        assert _canon(out).exceptAll(_canon(expected)).count() == 0
        assert out.count() == expected.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
