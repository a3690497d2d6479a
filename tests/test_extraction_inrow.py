"""The in-row front door, ``run_extraction_inrow``: golden equality on the
broadcast path, and the plan shape of its over-budget fallback.

The remaining front-door behaviour (forced fallback, ordering, unresolvable
refs, the seeded differential test) lives in ``test_extraction.py``.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ocr_spark.operators import extraction_inrow
from ocr_spark.operators.extraction_inrow import run_extraction_inrow


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


def test_inrow_matches_golden(corpus_tables):
    docs, blobs = corpus_tables["docs"], corpus_tables["blobs"]
    expected = corpus_tables["expected"]
    got = run_extraction_inrow(docs, blobs)
    assert _canon(got).exceptAll(_canon(expected)).count() == 0
    assert _canon(expected).exceptAll(_canon(got)).count() == 0
    assert got.count() == docs.count()  # empty-span docs retained


def test_budget_guard_fallback_never_rebroadcasts(spark, corpus_tables,
                                                  monkeypatch):
    """A past defect: the cold-media fallback used to force
    F.broadcast on the same corpus-proportional recognized relation whose
    size tripped the guard. Pin the fix: when the guard trips, NO
    BroadcastExchange carries the recognized (media_ref, text) relation,
    no exchange carries pixel bytes, and results are still exactly the
    golden spans."""
    from plan_checks import exchange_inputs, explain_formatted

    docs, blobs = corpus_tables["docs"], corpus_tables["blobs"]
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

        # pixels never cross any exchange (the 100-TB invariant); an empty
        # list would mean the Exchange-Input regex went vacuous, not that
        # the plan is shuffle-free
        inputs = exchange_inputs(out)
        assert inputs, "exchange_inputs matched nothing"
        for cols in inputs:
            assert "pixels" not in cols, cols
        plan = explain_formatted(out)
        for cols in re.findall(
            r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan
        ):
            assert not ("media_ref" in cols and "text#" in cols), cols

        expected = corpus_tables["expected"]
        assert _canon(out).exceptAll(_canon(expected)).count() == 0
        assert _canon(expected).exceptAll(_canon(out)).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
