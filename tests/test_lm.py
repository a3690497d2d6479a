"""Hand-computed oracle for the corpus-LM quality ops (operators/lm.py).

Planted 3-document corpus; every expected value derived by hand from
the add-one bigram model / tf-idf definitions (micro-nat grid), so the
test is independent of both engines.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.operators.lm import bigram_perplexity, tfidf_topk  # noqa: E402


def _micro(x: float) -> int:
    return math.floor(x * 1_000_000.0 + 0.5)


def _docs(spark):
    return spark.createDataFrame(
        [(0, "a b a"), (1, " a  b "), (2, "c")], ["doc_id", "text"]
    )


def test_bigram_perplexity_planted(spark):
    # V=3; counts: (a,b)=2 (b,a)=1; contexts: a=2 b=1
    nll_ab = _micro(math.log((2 + 3) / (2 + 1.0)))
    nll_ba = _micro(math.log((1 + 3) / (1 + 1.0)))
    rows = {
        r["doc_id"]: r.asDict()
        for r in bigram_perplexity(_docs(spark)).collect()
    }
    assert set(rows) == {0, 1}  # single-token doc 2 carries no bigrams
    assert rows[0]["n_bigrams"] == 2
    assert rows[0]["nll_micro_total"] == nll_ab + nll_ba
    assert rows[0]["avg_nll_micro"] == math.floor(
        (nll_ab + nll_ba) / 2.0 + 0.5
    )
    assert rows[1]["n_bigrams"] == 1
    assert rows[1]["nll_micro_total"] == nll_ab
    assert rows[1]["avg_nll_micro"] == nll_ab


def test_tfidf_topk_planted(spark):
    # N=3; df: a=2 b=2 c=1 -> idf(a)=idf(b)=ln(1.5), idf(c)=ln(3)
    idf_ab = _micro(math.log(3 / 2.0))
    idf_c = _micro(math.log(3.0))
    got = sorted(
        tuple(r) for r in tfidf_topk(_docs(spark), k=2).collect()
    )
    assert got == sorted(
        [
            (0, 1, "a", 2 * idf_ab),
            (0, 2, "b", 1 * idf_ab),
            (1, 1, "a", idf_ab),  # tie with b -> word asc
            (1, 2, "b", idf_ab),
            (2, 1, "c", idf_c),
        ]
    )


def test_lm_plans_stay_jvm_side(spark):
    from plan_checks import executed_plan

    for df in (bigram_perplexity(_docs(spark)), tfidf_topk(_docs(spark))):
        plan = executed_plan(df)
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_char_entropy_known_values(spark):
    """H("aaaa") = 0; H("ab") = ln 2; H of a 4-symbol uniform string =
    ln 4 — all in micro-nats with < 2 micro-nats truncation."""
    import math

    from ocr_spark.operators.lm import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd" * 5), (4, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert set(out) == {1, 2, 3}  # empty doc produces no row
    assert out[1]["entropy_micro"] == 0
    assert abs(out[2]["entropy_micro"] - round(math.log(2) * 1e6)) <= 2
    assert abs(out[3]["entropy_micro"] - round(math.log(4) * 1e6)) <= 2
    assert out[3]["n_chars_counted"] == 20
