"""BM25 retrieval: idf ordering, tf saturation, length normalization,
deterministic ties."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.operators.search import bm25_topk  # noqa: E402


def _corpus(spark):
    filler = " ".join(f"f{i}" for i in range(20))
    rows = [
        (1, "rare " + filler),            # one rare-term hit
        (2, "common " + filler),          # one common-term hit
        (3, "common common common " + filler),   # tf saturation probe
        (4, ("common " + filler + " ") * 4),     # long doc, same tf=4
        (5, filler),                      # no hits
    ] + [(10 + i, "common " + filler) for i in range(6)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bm25_idf_and_saturation(spark):
    docs = _corpus(spark)
    out = {r["doc_id"]: r for r in bm25_topk(
        docs, ["rare", "common"]).collect()}
    assert 5 not in out  # no matching term -> absent
    # rare term (df=1) beats a single common-term hit (df=8)
    assert out[1]["score_micro"] > out[2]["score_micro"]
    # tf=3 scores more than tf=1 but far less than 3x (saturation)
    assert out[3]["score_micro"] > out[2]["score_micro"]
    assert out[3]["score_micro"] < 2.5 * out[2]["score_micro"]
    # same tf in a longer doc scores less (length normalization);
    # doc 4 has tf=4 > tf=3 of doc 3, yet 4x the length
    assert out[4]["score_micro"] < out[3]["score_micro"]


def test_bm25_rank_ties_deterministic(spark):
    docs = _corpus(spark)
    out = bm25_topk(docs, ["common"]).collect()
    # docs 2 and 10..15 are identical -> equal scores, rank by doc_id
    tied = [r for r in out if r["doc_id"] in {2, 10, 11, 12, 13, 14, 15}]
    scores = {r["score_micro"] for r in tied}
    assert len(scores) == 1
    ids = [r["doc_id"] for r in sorted(tied, key=lambda r: r["rank"])]
    assert ids == sorted(ids)
    again = bm25_topk(docs, ["common"]).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))

