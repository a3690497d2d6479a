"""BPE merge learning: exact greedy-merge semantics on planted corpora
(consecutive-pair handling, cross-symbol boundary protection,
deterministic tie-breaks)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.operators.bpe import learn_bpe_merges  # noqa: E402


def _vocab(df):
    return {r["word"]: r.asDict() for r in df.collect()}


def test_learns_most_frequent_pair_first(spark):
    # "ab" appears in 3 words x high freq -> (a,b) must merge first
    docs = spark.createDataFrame(
        [(1, "abc abd abe xy xy"), (2, "abc abd abe")],
        ["doc_id", "text"],
    )
    merges, vocab = learn_bpe_merges(docs, n_merges=1)
    assert merges == [(1, "a b", 6)]
    v = _vocab(vocab)
    assert v["abc"]["tokens"] == "ab c"
    assert v["abc"]["n_tokens"] == 2
    assert v["xy"]["tokens"] == "x y"


def test_consecutive_pairs_merge_greedily(spark):
    # classic edge: merging (c,c) in "ccc" must give [cc, c], and in
    # "cccc" -> [cc, cc] — left-to-right greedy, not single-shot
    docs = spark.createDataFrame(
        [(1, "ccc cccc cc cc cc")], ["doc_id", "text"]
    )
    merges, vocab = learn_bpe_merges(docs, n_merges=1)
    assert merges[0][1] == "c c"
    v = _vocab(vocab)
    assert v["ccc"]["tokens"] == "cc c"
    assert v["cccc"]["tokens"] == "cc cc"
    assert v["cc"]["tokens"] == "cc"


def test_merged_symbols_protect_boundaries(spark):
    # after (a,b)->ab, a later pair (b,c) must NOT match inside "ab c"
    # via the b that is now interior to the ab symbol
    docs = spark.createDataFrame(
        # freq(a,b)=4 > freq(b,c)=2 in round 1; round 2 best is (ab,c)
        [(1, "abc abc ab ab bc bc")], ["doc_id", "text"]
    )
    merges, vocab = learn_bpe_merges(docs, n_merges=2)
    assert merges[0][1] == "a b"
    assert merges[1][1] == "ab c"
    v = _vocab(vocab)
    assert v["abc"]["tokens"] == "abc"
    assert v["bc"]["tokens"] == "b c"  # untouched: no 'a b' and no 'ab c'


def test_tie_breaks_lexicographic(spark):
    # (a,b) and (c,d) both weight 2 -> lexicographically smaller wins
    docs = spark.createDataFrame([(1, "ab ab cd cd")], ["doc_id", "text"])
    merges, _ = learn_bpe_merges(docs, n_merges=1)
    assert merges == [(1, "a b", 2)]


def test_merge_count_is_frequency_weighted(spark):
    docs = spark.createDataFrame(
        [(1, "zz zz zz"), (2, "zz qq")], ["doc_id", "text"]
    )
    merges, _ = learn_bpe_merges(docs, n_merges=1)
    assert merges == [(1, "z z", 4)]


def test_encode_counts_match_vocab_segmentation(spark):
    """bpe_encode: per-doc token counts equal the sum over the doc's
    words of each word's vocab segmentation length; more merges never
    increase a document's token count; whitespace docs vanish."""
    from ocr_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(1, "aa ab aa"), (2, "ab"), (3, "   "), (4, "aa aa aa aa")],
        ["doc_id", "text"],
    )
    _, v0 = learn_bpe_merges(docs, n_merges=0)
    _, v2 = learn_bpe_merges(docs, n_merges=2)
    seg0 = {r["word"]: r["n_tokens"] for r in v0.collect()}
    seg2 = {r["word"]: r["n_tokens"] for r in v2.collect()}
    out0 = {r["id"]: r for r in
            bpe_encode(docs, "doc_id", "text", v0).collect()}
    out2 = {r["id"]: r for r in
            bpe_encode(docs, "doc_id", "text", v2).collect()}
    assert set(out0) == {1, 2, 4}  # doc 3 is whitespace-only
    assert out0[1]["n_bpe_tokens"] == 2 * seg0["aa"] + seg0["ab"]
    assert out2[1]["n_bpe_tokens"] == 2 * seg2["aa"] + seg2["ab"]
    for d in (1, 2, 4):
        assert out2[d]["n_bpe_tokens"] <= out0[d]["n_bpe_tokens"]
        assert out2[d]["n_words"] == out0[d]["n_words"]
    # after 2 merges 'aa' is one token
    assert seg2["aa"] == 1 and out2[4]["n_bpe_tokens"] == 4
