"""Corpus-curation operators over extracted text and crawl metadata.

The steps a training-data pipeline runs after extraction, each one
DataFrame-native and run by a registered query in ``__spark_entry__.py``:
repetition quality signals, sequence packing, stratified / temperature /
weighted sampling, stable split and shard assignment, the per-rule
curation funnel, per-group caps, and the two crawl gates (URL blocklist
and robots.txt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repetition_metrics(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1 repetition filters — the standard pre-training curation
    gate the reference's OCR text would feed at corpus scale):

      * ``dup_word_frac``   — fraction of word occurrences whose word
        appears more than once in the document,
      * ``top_bigram``      — the most frequent word 2-gram (ties break
        to the lexicographically smallest, so the answer is engine-
        neutral and oracle-checkable),
      * ``top_bigram_frac`` — its share of all 2-gram occurrences.

    All-Catalyst: the 2-gram list is built array-side with
    ``zip_with(slice, slice)`` (no per-doc window, no Python), then one
    explode + two-level aggregation per signal. Scale shape: both
    aggregations shuffle on (id, token) with map-side partial counts —
    token skew is bounded because the key includes the doc id; nothing
    is quadratic. Fractions are integer/integer divisions rounded via
    the engines-agree ``floor(x*1e6+0.5)/1e6`` grid (BASELINE.md
    rounding note).
    """
    def _round6(c):
        return F.floor(c * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000)

    words = F.split(F.trim(F.col("text")), r"\s+")
    base = df.select(F.col("doc_id"), words.alias("w"))

    wc = (
        base.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    dup = wc.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        _round6(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            / F.sum("cnt")
        ).alias("dup_word_frac"),
    )

    n = F.size("w")
    bigrams = F.zip_with(
        F.slice("w", F.lit(1), n - 1),
        F.slice("w", F.lit(2), n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bgc = (
        base.filter(n >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    top = bgc.groupBy("doc_id").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("neg"), F.col("bigram").alias("bg"))
        ).alias("m"),
        F.sum("cnt").alias("n_bigrams"),
    )
    top = top.select(
        "doc_id",
        F.col("m.bg").alias("top_bigram"),
        _round6((-F.col("m.neg")) / F.col("n_bigrams"))
        .alias("top_bigram_frac"),
    )
    return dup.join(top, "doc_id", "left")


def pack_sequences(df: DataFrame) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in ``doc_id``
    order and chunk their ``n_tokens`` into fixed 512-token contexts
    (the standard pre-training batch layout). Pure prefix-sum
    arithmetic — for each doc:

      * ``start_pack`` / ``end_pack`` — first/last context window the
        doc lands in (docs may straddle boundaries, exactly like the
        concat-then-chunk pipelines they model),
      * ``pack_offset`` — position of the doc's first token inside
        ``start_pack``.

    One global ordering window (running sum over ``doc_id``). At 100 TB
    a single total order is the known scale limit of any packing step;
    the production form runs the identical statement per shard/day
    partition (pack ids then namespace by shard), which this operator
    supports by simply pre-partitioning the input — the arithmetic is
    per-row after the running sum either way. Empty docs (0 tokens)
    get end_pack = start_pack (they occupy no tokens but keep a
    deterministic slot).
    """
    from pyspark.sql import Window as W

    window = 512
    cum = F.sum("n_tokens").over(
        W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    )
    prev = (cum - F.col("n_tokens")).alias("prev_cum")
    return df.select(
        "doc_id",
        F.col("n_tokens"),
        F.floor(prev / window).cast("long").alias("start_pack"),
        F.floor(
            F.greatest(cum - 1, prev) / window
        ).cast("long").alias("end_pack"),
        (prev % window).cast("long").alias("pack_offset"),
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_per_group: int,
) -> DataFrame:
    """Deterministic per-stratum sample: within each `group_col` value
    keep the `n_per_group` rows ranked first by (md5(key), key) — an
    engine-neutral pseudo-random order (the same keyed-permutation
    device as the w3 seeded shuffle), so the sample is reproducible,
    oracle-checkable, and free of RNG state.

    The balanced-subset primitive of training-data curation (cap each
    class/language/source at a quota). Scale shape: one hash shuffle on
    `group_col` + a per-partition rank — no global sort; group skew is
    bounded by the quota ranking, and at extreme per-group cardinality
    the same statement runs with a pre-aggregated (group, md5-prefix)
    bucket filter before ranking. Appends `sample_rank` (1-based).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= n_per_group)
    )


def temperature_mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    total: int,
) -> DataFrame:
    """Temperature-balanced mixture sampling (the GPT-3 / DoReMi-style
    data-mixing primitive at temperature T = 2): per-group quotas
    proportional to sqrt(group frequency), flattening the source
    distribution toward the mix actually used for LM training, then the
    deterministic (md5(key), key) within-group selection of
    `stratified_sample`.

    Cross-engine exactness: sqrt is IEEE correctly-rounded on every
    engine (unlike pow — which is why the temperature is fixed at 2
    rather than a free alpha), each weight is pinned to an integer grid
    ``floor(sqrt(f) * 10^6 + 0.5)`` before the normalizing sum, and the
    quota is a BIGINT floor division ``(total * w) div W``. Quotas sum
    to <= total (floor rounding); no largest-remainder top-up, so a
    group's quota depends only on its own frequency and the scalar W —
    stable under group additions, and oracle-checkable row for row.

    Scale shape: frequencies are one map-side-combined aggregate; the
    quota table is group-cardinality-sized and BROADCASTS; selection is
    the same single-shuffle windowed rank as stratified_sample.
    Returns the sampled rows + (sample_rank, quota).
    """
    from pyspark.sql import Window

    freqs = df.groupBy(group_col).agg(F.count("*").alias("f"))
    weights = freqs.select(
        group_col,
        F.floor(
            F.sqrt(F.col("f").cast("double")) * F.lit(10**6) + F.lit(0.5)
        ).cast("long").alias("w"),
    )
    # ONE aggregate pass: the weight table is group-cardinality-sized,
    # so collect it once and derive both the normalizer and the quota
    # table driver-side (re-deriving quotas as a second groupBy would
    # scan the corpus twice)
    wrows = weights.collect()
    big_w = sum(r["w"] for r in wrows)
    if not big_w:
        raise ValueError("temperature_mixture_sample: empty input")
    from pyspark.sql import types as T

    quotas = df.sparkSession.createDataFrame(
        [(r[group_col], (total * r["w"]) // big_w) for r in wrows],
        schema=T.StructType([
            weights.schema[group_col],
            T.StructField("quota", T.LongType()),
        ]),
    )
    win = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(win).cast("long"))
        .join(F.broadcast(quotas), group_col)
        .filter(F.col("sample_rank") <= F.col("quota"))
    )


def split_assign(
    df: DataFrame,
    key_col: str,
    train_pct: int = 90,
) -> DataFrame:
    """Deterministic train/val/test split: bucket = md5-60 of the key
    mod 100, split = [0, train_pct) -> 'train', [train_pct,
    train_pct+5) -> 'val', rest -> 'test'. Keyed on a stable id,
    the assignment survives corpus regrowth (a document never migrates
    between splits as data is added — the property random-number splits
    lack) and is engine-neutral for the oracle. Appends (bucket,
    split)."""
    val_pct = 5
    if not 0 < train_pct < 100 - val_pct:
        raise ValueError("split_assign: percentages must partition 100")
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15),
               16, 10).cast("long") % 100
    )
    return df.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < train_pct, "train")
        .when(F.col("bucket") < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def curation_funnel(
    df: DataFrame,
    min_quality: float = 0.40,
    min_entropy_micro: int = 2_600_000,
) -> DataFrame:
    """The end-to-end C4/Gopher-style curation decision: join the four
    independent quality signals (heuristic quality score, Gopher
    duplicate-word fraction, character entropy, token count) and apply
    ordered gates; ``verdict`` names the FIRST failing gate ('quality',
    'repetition', 'entropy', 'length') or 'keep'. Documents with no
    characters at all carry no entropy signal and are excluded by the
    inner join; whitespace-only documents survive the join and fail the
    entropy gate (a single repeated character class has zero entropy).

    Every signal is already cross-engine exact (grid-pinned fractions,
    micro-nat entropy, rounded quality), so the gate comparisons and the
    verdict string are too. Thresholds are calibrated against the driver
    corpus so each gate drops a nonzero document set at every SF (see
    `__spark_entry__.curation_funnel_q`).

    Scale shape: four independent one-or-two-shuffle signal pipelines
    over the same scan, then doc-keyed equi-joins; at 100 TB the four
    signals would compute in one pass via a shared token explode — the
    composition here keeps each operator's tested single-responsibility
    form and lets AQE coalesce the doc-keyed joins."""
    from ..functions.textstats import quality_score, token_count
    from .lm import char_entropy

    q = df.select("doc_id", quality_score("text").alias("quality"))
    r = repetition_metrics(df).select("doc_id", "dup_word_frac")
    e = char_entropy(df).select("doc_id", "entropy_micro")
    t = df.select("doc_id",
                  token_count("text").cast("long").alias("n_tokens"))
    joined = q.join(r, "doc_id").join(e, "doc_id").join(t, "doc_id")
    verdict = (
        F.when(F.col("quality") < min_quality, "quality")
        .when(F.col("dup_word_frac") > 0.93, "repetition")
        .when(F.col("entropy_micro") < min_entropy_micro, "entropy")
        .when(
            (F.col("n_tokens") < 10) | (F.col("n_tokens") > 90), "length")
        .otherwise("keep")
    )
    return joined.select(
        "doc_id", "quality", "dup_word_frac", "entropy_micro",
        "n_tokens", verdict.alias("verdict"),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    k: int,
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-group retention cap: keep the top-``k`` rows of each group by
    (``order_col`` DESC, ``id_col`` ASC) — the per-domain cap every web
    curation pipeline applies so a handful of enormous hosts (forums,
    wikis, mirror farms) cannot dominate the training mix (Common Crawl
    practice; C4 and RefinedWeb both cap per-host document counts).

    Scale shape (the part a naive single window gets wrong): one global
    ``row_number() OVER (PARTITION BY group)`` puts an entire hot domain
    in ONE task — at 100 TB a mirror farm with 10^9 pages is a straggler
    that never finishes. This runs the standard two-phase top-k instead:

      1. rank within (group, salt) where salt = hash(id) % salt_buckets —
         the hot group is spread over ``salt_buckets`` tasks, each keeps
         its local top-k;
      2. rank the survivors within group — at most salt_buckets * k rows
         per group reach this stage, so the second window is bounded by
         construction, never by the domain's size.

    The global top-k is a subset of the union of per-salt top-k's (any
    row in the true top-k is in the top-k of its own salt slice), so the
    two-phase result is EXACTLY the single-window result — which is what
    the DuckDB oracle computes with one plain window. Deterministic total
    order via the (order DESC, id ASC) tie-break.

    Returns the kept rows with a ``rank`` column (1-based, long).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)),
    )
    w_local = Window.partitionBy(group_col, "_salt").orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    pruned = (
        salted.withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= k)
        .drop("_r", "_salt")
    )
    w_global = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    return (
        pruned.withColumn(
            "rank", F.row_number().over(w_global).cast("long")
        )
        .filter(F.col("rank") <= k)
    )


def url_blocklist_filter(urls: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Domain-blocklist filter with suffix semantics (UT1/adult-list
    style, the filter RefinedWeb and FineWeb apply before any content
    work): a URL is blocked when its hostname EQUALS a blocked domain or
    is a subdomain of one (dot-boundary suffix match) — ``ads.net``
    blocks ``x.ads.net`` but never ``roads.net``.

    Scale shape: the naive form is a LIKE-join (hostname LIKE
    '%.'||domain), which Spark can only execute as a broadcast
    nested-loop — O(rows x blocklist) with no hash pruning. Instead the
    hostname is exploded into its dot-suffixes (``a.b.c`` -> [a.b.c,
    b.c, c] — bounded by label count, ~4-6 per host), and the suffixes
    hash-join the broadcast blocklist (the usual few MB). Blocking
    depends on the host alone, so only the distinct hosts are exploded,
    and the blocked-host set joins back on ``host``: a null in any other
    column cannot break the match. That set grows with distinct hosts,
    not rows, so the planner picks its join strategy from its size; no
    corpus-sized relation is forced into a broadcast. Blocklist entries
    are matched case-insensitively on the registered form (lowercased,
    no leading dot).

    Returns the input rows plus (``host``, ``blocked``) — callers keep
    ``~blocked`` for the survivor stream and route ``blocked`` rows to
    the audit sink. Column order: input columns, host, blocked.
    """
    host = F.lower(F.regexp_extract(
        F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    labeled = urls.withColumn("host", host)
    parts = F.split(F.col("host"), r"\.")
    suffixes = labeled.select("host").distinct().select(
        "host",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(parts) - 1),
                lambda i: F.array_join(
                    F.slice(parts, i + 1, F.size(parts)), "."),
            )
        ).alias("_suffix"),
    )
    bl = blocklist.select(
        F.lower(F.col("domain")).alias("_suffix")
    ).distinct()
    blocked_hosts = (
        suffixes.join(F.broadcast(bl), "_suffix", "left_semi")
        .select("host")
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    return labeled.join(blocked_hosts, "host", "left").select(
        *urls.columns, "host",
        F.coalesce("blocked", F.lit(False)).alias("blocked"),
    )


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 50) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams with a deterministic total
    order (count DESC, ngram ASC) — the frequency table every corpus
    audit starts from (boilerplate phrase discovery, contamination
    screens, tokenizer sanity checks).

    Scale shape: tokenize + n-gram assembly stay inside whole-stage
    codegen (split / transform / slice — no Python); the count is ONE
    hash aggregate with map-side partial combine, so the shuffle carries
    one row per DISTINCT n-gram per task, not per occurrence. The top-k
    itself is ``orderBy(...).limit(k)`` which Spark executes as
    TakeOrderedAndProject: each task keeps a local k-heap and the driver
    merges P*k rows — no global sort, no single-partition window. At
    10^12 documents the only unbounded term is the distinct-ngram count,
    which the partial combine bounds per-task.

    Returns (ngram string, cnt long), exactly ``k`` rows (fewer iff the
    corpus has fewer distinct n-grams).
    """
    if n < 1 or k < 1:
        raise ValueError("n and k must be >= 1")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(k)
    )


def shard_assign(docs: DataFrame, num_shards: int = 16) -> DataFrame:
    """Deterministic training-shard assignment + in-shard position — the
    exporter step that turns a curated corpus into N equal-ish shards
    whose internal order is a seeded pseudo-random permutation (the
    Dolma / Megatron-preprocessing pattern: global shuffle once at
    export so sequential training readers see decorrelated data).

    shard = first 16 bits of md5(doc_id) mod num_shards; pos = rank within
    the shard ordered by the full md5 digest (ties by id — md5 prefix
    collisions must not make the order input-partition-dependent). Both
    are pure column expressions, so the oracle can replay them exactly.

    Scale shape: the window partitions by ``shard`` — at 100 TB you size
    ``num_shards`` so one shard fits a task (64k shards x ~1.6 GB), and
    the rank is a single shuffle on the shard key followed by a
    per-partition sort; there is NO global total order anywhere. The
    md5-derived key decorrelates adjacent doc_ids so every shard gets a
    uniform sample of the corpus (hot-source runs are split, not
    clustered, unlike a range-partitioned export).
    """
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    from pyspark.sql import Window

    key = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(key, 1, 4), 16, 10).cast("long")
        % num_shards
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("_key").asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("_key", key)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_key")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): keep the ``n`` rows with the largest u^(1/w), which
    selects each subset with probability proportional to its weights —
    the quality-weighted subset selection step of curated-corpus
    construction (sample harder from high-quality sources without
    hard-cutting the tail).

    No RNG: u derives from the row id (first 52 md5 bits -> u =
    (h+1)/2^52, u in (0,1]), so membership is reproducible and stable
    across reruns — the same property the md5-bucket split/stratified
    samplers in this module guarantee. The ranking key is computed in
    log space, ln(u)/w (monotone in u^(1/w)), and pinned to an integer
    nano grid (floor(x*1e9 + 0.5)) before comparison; ties break by id.
    ``weight_col`` must hold POSITIVE integers (callers grid-pin
    fractional weights first, e.g. quality*1e4 + 1) — the constant
    weight scale cancels in the ranking.

    Scale shape: key computation is per-row Catalyst arithmetic; the
    selection is orderBy(...).limit(n) = TakeOrderedAndProject (local
    k-heap per task, driver merges P*n) — no global sort, no window.

    Returns the selected rows with their ``es_key`` (the pinned long).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
    ).cast("long")
    ln_u = F.log(h.cast("double") + F.lit(1.0)) \
        - F.lit(52.0) * F.log(F.lit(2.0))
    key = F.floor(
        ln_u / F.col(weight_col).cast("double") * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    return (
        df.withColumn("es_key", key)
        .orderBy(F.col("es_key").desc(), F.col(id_col).asc())
        .limit(n)
    )


def robots_filter(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Robots-exclusion evaluation with RFC 9309 longest-match
    semantics — the per-URL allow/deny gate every polite crawl pipeline
    applies between frontier and fetch. ``rules`` holds one row per
    (domain, path_prefix, allow) directive (the parsed form of each
    host's robots.txt); a URL is governed by the longest matching
    prefix among its host's rules, allow winning prefix-length ties
    (RFC 9309 §2.2.2), default-allow when no rule matches.

    Scale shape: rules are robots.txt-sized (KBs/host) — broadcast
    hash join on the host, prefix filter, then the winner is ONE keyed
    max(struct(prefix_len, allow, path_prefix)) aggregate with map-side
    combine; no window over the URL partition, so a host with 10^9
    frontier URLs costs combiner cells, not a task-local sort. The
    struct tie-break is total (prefix string last), so the verdict is
    deterministic and partition-invariant.

    Rules match the path together with its query string, as RFC 9309
    §2.2.2 requires (``Disallow: /search?q=`` blocks ``/search?q=x``);
    only the fragment is dropped.

    Returns the input rows plus (host, path, allowed boolean), where
    ``path`` includes the query string.
    """
    host = F.lower(
        F.regexp_extract(
            F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1
        )
    )
    path = F.regexp_extract(
        F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1
    )
    u = urls.withColumn("host", F.regexp_replace(host, ":[0-9]+$", "")) \
        .withColumn("path", path)
    r = rules.select(
        F.lower(F.col("domain")).alias("host"),
        F.col("path_prefix"),
        F.col("allow").cast("boolean").alias("allow"),
    )
    matched = (
        u.join(F.broadcast(r), "host")
        .filter(F.col("path").startswith(F.col("path_prefix")))
        .groupBy(*u.columns)
        .agg(
            F.max(
                F.struct(
                    F.length("path_prefix").alias("l"),
                    F.col("allow").alias("a"),
                    F.col("path_prefix").alias("p"),
                )
            ).alias("win")
        )
        .select(*u.columns, F.col("win.a").alias("allowed"))
    )
    return (
        u.join(matched, u.columns, "left")
        .withColumn("allowed", F.coalesce("allowed", F.lit(True)))
    )
