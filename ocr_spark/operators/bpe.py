"""Distributed BPE tokenizer training (merge learning) on a corpus.

The missing piece between this engine's token *counting*
(functions/textstats.py, the BPE-ish pre-tokenizer regex) and a real
training-data pipeline: learning the merge table itself (Sennrich et
al. 2016 — the algorithm behind GPT-2/LLaMA vocabularies). Classic
BPE, expressed Spark-first:

  1. word vocabulary with frequencies — ONE corpus pass + one shuffle
     on the word (map-side partial counts). Everything after operates
     on the vocab table, which is tiny relative to the corpus (Zipf),
     NOT on the documents — the reason BPE training is feasible at
     100 TB.
  2. per merge round: symbol-pair counts weighted by word frequency
     (array-side ``zip_with(slice, slice)`` bigrams, explode + one
     keyed aggregation), a deterministic global argmax (max count, ties
     to the lexicographically smallest pair — a single-row collect),
     then the merge applied to the vocab with a literal replace-all
     projection.

Exact-merge representation: a word's symbol sequence is stored as the
symbols joined by TWO spaces, and the merge rewrite runs on the string
wrapped in single spaces, replacing ``' A  B '`` with ``' AB '``.
The double boundary gives every occurrence its own delimiters, so
plain non-overlapping left-to-right replace — identical semantics in
Spark's ``replace`` and DuckDB's — implements exactly the greedy
simultaneous pair merge of reference BPE trainers, including
consecutive occurrences (``c c c`` + merge (c,c) -> ``cc c``) and
without cross-symbol false matches (``a ab c`` never matches pair
``b c``). That makes the whole training loop value-checkable by an
unrolled SQL oracle (the trained-IVF device).

Iterative-lineage discipline: each round's vocab is persisted and
materialized before the parent is released, because an unpersisted loop
re-derives every earlier round (exponential recompute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sym_array(syms):
    return F.split(syms, "  ")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    w = _sym_array(F.col("syms"))
    n = F.size(w)
    pairs = F.zip_with(
        F.slice(w, F.lit(1), n - 1),
        F.slice(w, F.lit(2), n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        vocab.filter(n >= 2)
        .select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 3,
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges over the ``text`` column; returns
    (merges, vocab).

    merges: [(merge_no, "A B", weighted_count), ...] in learned order.
    vocab: (word, freq, tokens, n_tokens) with `tokens` the final
    single-space-joined symbol sequence.
    """
    words = (
        df.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.length("word") > 0)
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn(
            "syms",
            F.concat_ws(
                "  ", F.filter(F.split("word", ""), lambda c: c != "")
            ),
        )
        .persist()
    )
    vocab.count()

    merges: list[tuple[int, str, int]] = []
    for round_no in range(1, n_merges + 1):
        best = (
            _pair_counts(vocab)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg"),
                        F.col("pair").alias("pair"),
                    )
                ).alias("m")
            )
            .select(F.col("m.pair").alias("pair"), (-F.col("m.neg")).alias("cnt"))
            .first()
        )
        if best is None or best["pair"] is None:
            break
        pair, cnt = best["pair"], int(best["cnt"])
        merges.append((round_no, pair, cnt))
        a, b = pair.split(" ")
        nxt = vocab.withColumn(
            "syms",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("syms"), F.lit(" ")),
                    F.lit(f" {a}  {b} "),
                    F.lit(f" {a}{b} "),
                )
            ),
        ).persist()
        nxt.count()
        vocab.unpersist()
        vocab = nxt

    out = vocab.select(
        "word",
        "freq",
        F.replace(F.col("syms"), F.lit("  "), F.lit(" ")).alias("tokens"),
        F.size(_sym_array(F.col("syms"))).cast("long").alias("n_tokens"),
    )
    # The learned pairs are driver-side literals, so `out`'s lineage is
    # one corpus pass + narrow projections; release the loop's cache and
    # let the single downstream evaluation recompute it.
    vocab.unpersist()
    return merges, out


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
) -> DataFrame:
    """Apply a learned merge table to the corpus: per-document BPE
    token counts. Returns (id, n_words, n_bpe_tokens).

    The scale trick mirrors training: the SEGMENTATION happens on the
    vocabulary (already materialized by `learn_bpe_merges` as
    `n_tokens` per word — Zipf-small), and the corpus pass is a plain
    word-explode joined to that table. At 100 TB the vocab side
    broadcasts (a few million words regardless of corpus size), so the
    only shuffle is the per-document aggregate, which combines
    map-side. Every corpus word appears in the vocab by construction
    (trained on the same corpus), so the inner join drops nothing;
    whitespace-only docs produce no row, matching the oracle."""
    words = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
        )
        .filter(F.length("word") > 0)
    )
    seg = vocab.select("word", "n_tokens")
    return (
        words.join(F.broadcast(seg), "word")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tokens").alias("n_bpe_tokens"),
        )
    )
