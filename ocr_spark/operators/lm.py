"""Statistical language-model quality signals over the document corpus.

Two classic training-data curation devices the reference pipeline's
ecosystem uses downstream of extraction (CCNet / Gopher style corpus
filtering), expressed Spark-first with exact cross-engine semantics:

``bigram_perplexity``
    Train an add-one-smoothed bigram LM on the corpus itself (one
    aggregation over exploded bigrams) and score every document by its
    mean negative log-likelihood — the standard "does this document
    look like the corpus" quality signal (CCNet buckets documents by
    LM perplexity; Wenzek et al. 2020). Self-scoring means every
    document bigram exists in the count table, so the score join is an
    inner equi-join with no unseen-bigram fallback branch. (Scoring
    held-out text against a frozen model would add one coalesce to the
    smoothing floor — same plan shape.)

``tfidf_topk``
    Per-document top-k keywords by tf-idf with a deterministic
    tie-break (score desc, then word asc) — the summarization /
    topic-tagging primitive.

Exactness discipline (the value-hash oracle must match DuckDB bit for
bit): every logarithm is taken of a ratio of exact integers — an IEEE
double division both engines compute identically — then immediately
pinned to an integer micro-nat grid ``CAST(floor(ln(x)*1e6 + 0.5) AS
BIGINT)``. All downstream arithmetic (weighted sums, tf*idf products,
means) is BIGINT-exact, so cross-engine float summation order cannot
drift the result. The only residual risk is a 1-ulp libm-vs-JVM ``ln``
difference landing within ~1e-10 of a grid boundary — negligible at
corpus scale and the same device the trained-IVF oracle pins with.

100 TB shape: the corpus is scanned once per op (text column only —
column-pruned parquet scan). Per-document bigram/token multiplicities
aggregate map-side (a document's array explodes within one partition,
so the (doc_id, w1, w2) partial combine collapses before the shuffle).
The model tables (bigram counts, document frequencies) are Zipf-small
relative to the corpus; the score join shuffles on the bigram/word key
where AQE's skew handling absorbs the head of the Zipf distribution.
The vocabulary-size / corpus-size scalars stay plan-side via a
broadcast cross join — no driver collect anywhere.

Reference parity note: the reference repo (dimaslanjaka/ocr) stops at
extraction; these operators are part of the training-pipeline extras
this engine adds on top (SURVEY.md "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MICRO = 1_000_000.0


def _tokens(text_col: Column) -> Column:
    """Whitespace tokens, empties dropped — mirrors the p1 oracle's
    ``string_split_regex(trim(text), '\\s+')`` convention exactly."""
    return F.filter(
        F.split(F.trim(text_col), r"\s+"), lambda t: F.length(t) > 0
    )


def _micro_ln(x: Column) -> Column:
    """ln(x) pinned to the integer micro-nat grid (round-half-up)."""
    return F.floor(F.log(x) * F.lit(MICRO) + F.lit(0.5)).cast("long")


def bigram_perplexity(docs: DataFrame) -> DataFrame:
    """Per-document mean negative log-likelihood under an add-one
    bigram LM trained on the corpus itself.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), V = |vocabulary|.
    Documents with fewer than two tokens carry no bigrams and are
    excluded (consistently on both engines).

    Returns (doc_id, n_bigrams, nll_micro_total, avg_nll_micro) — all
    BIGINT; avg is the mean per-bigram NLL in micro-nats.
    """
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("w"))
    n = F.size("w")
    bigrams = F.zip_with(
        F.slice("w", F.lit(1), n - 1),
        F.slice("w", F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = toks.filter(n >= 2).select(
        "doc_id", F.explode(bigrams).alias("bg")
    ).select("doc_id", "bg.w1", "bg.w2")

    # per-document bigram multiplicities first (map-side combine — a
    # document's bigrams are colocated), then the global model tables
    # derive from this already-collapsed relation: one corpus pass.
    dtf = big.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf"))
    cb = dtf.groupBy("w1", "w2").agg(F.sum("tf").alias("cnt"))
    cw = cb.groupBy("w1").agg(F.sum("cnt").alias("ctx"))
    vocab = (
        toks.select(F.explode("w").alias("tok"))
        .agg(F.countDistinct("tok").alias("vsz"))
    )

    scored = (
        cb.join(cw, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            _micro_ln(
                (F.col("ctx") + F.col("vsz")) / (F.col("cnt") + F.lit(1.0))
            ).alias("nll"),
        )
    )
    return (
        dtf.join(scored, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("nll")).alias("nll_micro_total"),
        )
        .withColumn(
            "avg_nll_micro",
            F.floor(
                F.col("nll_micro_total")
                / F.col("n_bigrams").cast("double")
                + F.lit(0.5)
            ).cast("long"),
        )
    )


def tfidf_topk(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k keywords per document by tf-idf.

    idf is ln(N/df) in micro-nats (N = total documents, df = documents
    containing the word); score = tf * idf_micro, BIGINT-exact. Words
    present in every document (idf = 0) are not keywords and are
    dropped before ranking. Ties break by word ascending.

    Returns (doc_id, rank, word, score_micro).
    """
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfw = tf.groupBy("word").agg(F.count("*").alias("df"))
    ndocs = docs.agg(F.count("*").alias("n_docs"))

    scored = (
        tf.join(dfw, "word")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "idf_micro",
            _micro_ln(F.col("n_docs").cast("double") / F.col("df")),
        )
        .filter(F.col("idf_micro") > 0)
        .withColumn("score_micro", F.col("tf") * F.col("idf_micro"))
    )
    rank = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("score_micro").desc(), F.col("word").asc()
        )
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "word", "score_micro")
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon character entropy in exact integer
    micro-nats — the compressibility-style quality signal (low-entropy
    documents are repetitive boilerplate/filler; Gopher's repetition
    family measures the same thing at word level).

    H = ln(n) - (1/n) * sum_c c_count * ln(c_count). Each
    ``c * ln(c)`` term is pinned to the micro-nat grid BEFORE the sum
    (``floor(x * 1e6 + 0.5)``), so the per-document reduction is a
    BIGINT sum (associative-exact, any engine); the final 1/n is a
    floor division. Truncation error < 2 micro-nats, 7 orders below
    signal. Returns (doc_id, n_chars_counted, entropy_micro).

    Scale shape: one shuffle on (doc, char) with map-side combine
    (alphabet-bounded partial states), then a per-doc aggregate that
    reuses the doc-prefixed partitioning. Empty documents produce no
    row (ln(0) has no meaning), matching the oracle.
    """
    chars = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), ""), lambda c: c != "")
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    term = F.floor(
        F.col("c").cast("double") * F.log(F.col("c").cast("double"))
        * F.lit(MICRO) + F.lit(0.5)
    ).cast("long")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_counted"),
        F.sum(term).alias("t"),
    )
    return per_doc.select(
        "doc_id",
        "n_chars_counted",
        (
            _micro_ln(F.col("n_chars_counted").cast("double"))
            - F.expr("t div n_chars_counted")
        ).cast("long").alias("entropy_micro"),
    )
