"""Corpus retrieval: distributed BM25 scoring.

A training-data platform needs targeted retrieval over the corpus it
curates — "find the documents about X" for auditing, eval-set
construction, and topical subset extraction. BM25 (Robertson/Spärck
Jones; the Lucene default) is the standard lexical ranker.

Spark-first shape: term statistics (tf, df, doc length) come from ONE
word-explode aggregate each; the query term set is a literal filter
pushed before every aggregate, so at 100 TB the plan touches only
postings of the queried terms (plus the one corpus pass for document
lengths, shared/cacheable across queries).

Cross-engine exactness (DuckDB oracle in `__spark_entry__`): the
Lucene idf ``ln(1 + (N - df + 0.5)/(df + 0.5))`` is pinned to the
integer micro-nat grid; each per-term score is computed in ONE fixed
IEEE expression and pinned to the micro grid BEFORE the per-document
sum, so document scores are BIGINT sums — no summation-order freedom.
The Lucene k1 = 1.2 and b = 0.75 literals are written identically on
both engines (both parse to the same nearest double).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

MICRO = 1_000_000
WS_SPLIT = r"\s+"


def bm25_topk(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """Top-20 documents for a bag of query terms under BM25.

    Returns (doc_id, score_micro, rank): score_micro is the BIGINT sum
    of per-term micro-pinned scores; rank breaks ties by doc_id
    ascending. Documents matching no term do not appear.
    """
    k1, b = 1.2, 0.75
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.trim(F.col("text")), WS_SPLIT))
        .alias("word"),
    ).filter(F.length("word") > 0)
    dl = toks.groupBy("id").agg(F.count("*").alias("dl"))
    # term filter BEFORE the tf aggregate: only queried postings shuffle
    tf = (
        toks.filter(F.col("word").isin(list(query_terms)))
        .groupBy("id", "word")
        .agg(F.count("*").alias("tf"))
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tokens")
    ).collect()[0]
    n_docs = int(stats[0])
    if n_docs == 0:
        # checked before touching the sum: an empty corpus yields a
        # NULL total and int(None) would mask this error as a TypeError
        raise ValueError("bm25: empty corpus (no doc-length rows)")
    total_tokens = int(stats[1])
    avgdl = total_tokens / n_docs  # one IEEE division, both engines

    dfw = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = dfw.select(
        "word",
        F.floor(
            F.log(
                1.0
                + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            )
            * F.lit(MICRO)
            + F.lit(0.5)
        ).cast("long").alias("idf_micro"),
    )
    term_score = F.floor(
        F.col("idf_micro").cast("double")
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (1.0 - b + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
        + F.lit(0.5)
    ).cast("long")
    scored = (
        tf.join(F.broadcast(idf), "word")
        .join(dl, "id")
        .select("id", term_score.alias("s"))
        .groupBy("id")
        .agg(F.sum("s").alias("score_micro"))
    )
    # orderBy+limit plans as TakeOrdered (per-partition top-k, then a
    # k-row merge on the driver) — no global sort of the scored set;
    # the row_number window then runs over k rows only.
    top = scored.orderBy(
        F.col("score_micro").desc(), F.col("id").asc()
    ).limit(20)
    w = W.orderBy(F.col("score_micro").desc(), F.col("id").asc())
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(F.col("id").alias("doc_id"), "score_micro", "rank")

