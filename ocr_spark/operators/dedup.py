"""Deduplication operators for large-scale text corpora.

Exact (hash groupBy), MinHash+LSH near-dup candidates (banded signature
bucketing — the scale path), winnowing fingerprints, exact shared
substring runs, candidate pairs -> clusters (large-star/small-star
connected components) and per-cluster keep-best. All are pure DataFrame
ops; nothing leaves the JVM.

Scale notes:
  * exact/fingerprint dedup is one shuffle on a 32-hex key — trivially
    balanced.
  * minhash_lsh_candidates is the production near-dup path: k minhashes,
    b bands — candidate generation cost is O(docs * b) shuffle rows and
    never materializes the full pair matrix. Hot shingles do not skew it
    because signatures aggregate per-doc before banding. Its recall and
    Jaccard estimates are pytest-checked against a pure-Python exact
    Jaccard reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashfam import (
    MINHASH_P,
    minhash_coeffs,
    spark_base60,
)
from ..functions.textstats import WS_SPLIT, fingerprint
from ..session import checkpoint_truncate

MAX_STAR_ROUNDS = 50


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group by normalized-text fingerprint; keep the smallest id.

    Returns (fp, keeper_id, n_dups).
    """
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("id").alias("keeper_id"),
            F.count("*").alias("n_dups"),
        )
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle).

    Docs with fewer than n tokens produce no rows.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), WS_SPLIT).alias("w"),
    )
    grams = toks.select(
        "id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("w", i + j + 1) for j in range(n)]
                ),
            )
        ).alias("shingles"),
    ).filter(F.size("w") >= n)
    return grams.select("id", F.explode("shingles").alias("shingle"))


def minhash_signatures(
    shingle_rows: DataFrame, num_hashes: int = 64
) -> DataFrame:
    """Per-doc MinHash signature: array<long> of length num_hashes.

    Hash family (engine-neutral, see functions/hashfam.py): each shingle
    is md5-hashed ONCE to a 60-bit base reduced mod P = 2^31-1; lane i is
    the affine permutation (a_i * base + b_i) mod P with md5-derived
    constants. The 64 min-aggregates are therefore two integer ops each —
    all whole-stage codegen, no per-lane string hashing (round 1 spent
    50 s at sf0.1 re-hashing the shingle per lane). One groupBy(doc)
    aggregation; hot shingles never skew a join because signatures reduce
    per-doc (map-side partial min).
    """
    coeffs = minhash_coeffs(num_hashes)
    based = shingle_rows.select("id", spark_base60("shingle").alias("base"))
    hashes = [
        F.min((F.lit(a) * F.col("base") + F.lit(b)) % F.lit(MINHASH_P)).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = based.groupBy("id").agg(*hashes)
    return agg.select(
        "id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.9,
    long_band_keys: bool = False,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs (the 100 TB path).

    Signature of num_hashes minhashes, split into `bands` bands of
    num_hashes/bands rows; docs sharing any band-hash become candidates;
    candidates are scored by estimated Jaccard (fraction of matching
    minhashes) and filtered at `threshold`.

    long_band_keys=True folds (band, band_hash) into one xxhash64 long —
    8-byte fixed-width join key instead of the ~40-byte string, the
    cluster-scale shuffle layout. Off by default because the DuckDB
    oracle cannot recompute xxhash64; candidate SETS are identical either
    way (the long key is injective per band up to hash collisions, and a
    collision only adds a candidate pair that the est_jaccard filter then
    scores honestly).

    Returns (id_a, id_b, est_jaccard).
    """
    rows_per_band = num_hashes // bands
    sh = word_shingles(df, id_col, text_col, n)
    sig = minhash_signatures(sh, num_hashes)

    # Band key is the comma-joined slice itself (engine-neutral; the DuckDB
    # oracle reproduces it verbatim). ~40 bytes/band of shuffle width — the
    # join key could be re-hashed to a long on a real cluster, but the key
    # material must stay engine-recomputable.
    banded = sig.select(
        "id",
        "signature",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(
                            "signature",
                            bi * rows_per_band + 1,
                            rows_per_band,
                        ),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        ).alias("band", "band_hash"),
    ).select("id", "signature", "band", "band_hash")
    if long_band_keys:
        banded = banded.select(
            "id", "signature", "band",
            F.xxhash64("band", "band_hash").alias("band_hash"),
        )

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(est >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every character k-gram (k = 5) of the
    normalized text, slide a window of 4 consecutive hashes, and record
    the minimum hash of each window with its position (leftmost minimum
    on ties — deterministic and, with the md5-derived base60 hash
    family, exactly reproducible by the DuckDB oracle).

    Guarantees: any shared substring of length >= window + k - 1 = 8
    between two documents yields at least one shared fingerprint — the
    standard local-dedup primitive for plagiarism/near-dup detection at scale.

    Returns (id, pos, fp) distinct rows; everything is Catalyst array
    expressions (one projection, no Python), so the per-doc work stays in
    whole-stage codegen and the only shuffle is the final distinct.
    """
    k, window = 5, 4
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(
        F.col(id_col).alias("id"), norm.alias("t")
    ).filter(F.length("t") >= k + window - 1)
    hashes = F.transform(
        F.sequence(F.lit(1), F.length("t") - k + 1),
        lambda i: (
            F.conv(
                F.substring(F.md5(F.col("t").substr(i, F.lit(k))), 1, 15),
                16, 10,
            ).cast("long")
            % F.lit(MINHASH_P)
        ),
    )
    with_h = base.select("id", hashes.alias("hs"))
    # window minima with positions: for window start i (1-based), the
    # fingerprint is min(hs[i..i+window-1]); pos = leftmost argmin
    mins = F.transform(
        F.sequence(F.lit(1), F.size("hs") - window + 1),
        lambda i: F.struct(
            F.array_min(F.slice("hs", i, window)).alias("fp"),
            (i + F.array_position(
                F.slice("hs", i, window),
                F.array_min(F.slice("hs", i, window)),
            ) - 1).alias("pos"),
        ),
    )
    return (
        with_h.select("id", F.explode(mins).alias("w"))
        .select("id", F.col("w.pos").cast("long").alias("pos"),
                F.col("w.fp").alias("fp"))
        .distinct()
    )


def _bigstar_edges(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star rounds until the edge set is
    stable. Returns (star edges (child, root) with child > root, rounds).

    Edges are kept CANONICAL (child > root as strings) throughout: both
    star operations only ever emit (bigger, smaller) pairs, so one
    distinct() per round keeps the set minimal and convergence decidable
    by a count+hash signature (one cheap agg job per round — no
    driver-side edge materialization, ever).
    """
    # canonical non-self edges, larger endpoint first
    e = (
        pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("a"), F.least("x", "y").alias("b")
        )
        .distinct()
        .persist()
    )

    def _sig(edges: DataFrame) -> tuple[int, int]:
        # bit_xor, not sum: order-independent, collision-hard enough for
        # a convergence check, and cannot overflow under ANSI arithmetic
        r = edges.select(F.xxhash64("a", "b").alias("h")).agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
        ).first()
        return int(r["n"]), int(r["x"])

    sig = _sig(e)
    rounds = 0
    while rounds < MAX_STAR_ROUNDS:
        # large-star: every u connects its LARGER neighbors to the min of
        # its closed neighborhood — long chains halve toward the min
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", "u").alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: group by the larger endpoint; re-hang it and all its
        # smaller neighbors off the minimum — stars flatten to depth 1
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(smins, "a")
            .select(
                F.col("a").alias("u"), F.col("b").alias("v"), "m"
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select("e.a", "e.b")
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # checkpoint, not persist: it truncates the logical plan, so
        # analysis/optimization time stays O(1) per round instead of
        # growing with the round number (measured: the 1000-chain test
        # went from minutes of planner time to seconds). Reliable vs
        # local checkpoint is the session's call — see
        # session.checkpoint_truncate for the fault-tolerance trade.
        small = checkpoint_truncate(small)
        new_sig = _sig(small)
        prev = e
        e = small
        rounds += 1
        if new_sig == sig:
            # Signature match is the FAST PATH only: a (count, bit_xor)
            # collision between different equal-size edge sets (~2^-64,
            # but the failure mode is silently wrong components) must not
            # end the loop. Counts already match, so one anti-join gives
            # exact set equality; it runs once at convergence, not per
            # round.
            if small.exceptAll(prev).isEmpty():
                prev.unpersist(blocking=False)
                break
        # round 0: releases the CacheManager persist on the canonical
        # edge set. Later rounds: `prev` is a localCheckpoint frame, for
        # which unpersist is a no-op — each round's blocks release via
        # the ContextCleaner once the rebind drops the reference and a
        # GC runs (the bench forces one between queries; a long-lived
        # session's own GC cadence does the same)
        prev.unpersist(blocking=False)
        sig = new_sig
    else:
        raise ValueError(
            "bigstar_components: not converged after "
            f"{MAX_STAR_ROUNDS} rounds"
        )
    return e, rounds


def bigstar_components(pairs: DataFrame) -> DataFrame:
    """Connected components in O(log n) rounds: the large-star/small-star
    alternation (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond"): the bridge from candidate PAIRS (minhash_lsh_candidates)
    to duplicate CLUSTERS, so curation can keep one representative per component
    instead of per pair.

    It covers graphs whose diameter no fixed iteration count covers —
    adversarial near-dup CHAINS (templated spam where doc i pairs only
    with doc i+1) at corpus scale. Hash-min label propagation needs
    diameter rounds; the star alternation converges in O(log^2 n) rounds
    worst-case (the paper's bound) and ~log2(n) rounds on chains in
    practice, because large-star halves every path to the component
    minimum and small-star flattens the resulting trees.

    Per-round cost: two groupBy shuffles over the current edge set plus
    one count+hash signature agg for convergence — no driver-side state,
    no all-pairs blowup (the edge set never grows: both operations emit
    at most one edge per input edge endpoint, and distinct() keeps it
    minimal). `MAX_STAR_ROUNDS` is a runaway backstop (2^50 vertices),
    not a tuning knob — hitting it raises loudly.

    Because the loop runs to a fixpoint, the result is the exact
    component minimum: its DuckDB oracle is a recursive-CTE reachability
    minimum, and tests check it against a pure-Python union-find.

    Fault tolerance: per-round lineage truncation defaults to
    localCheckpoint (executor-local blocks — an executor loss mid-query
    on a real cluster aborts the query and it must restart). Set a
    reliable checkpoint dir on the session to make every round durable;
    see session.checkpoint_truncate for the trade.

    `pairs` holds (id_a, id_b). Returns (doc_id, component_id),
    component_id = min doc id of the component. Vertices absent from
    `pairs` are absent; callers wanting a total assignment coalesce with
    the identity on the doc table.
    """
    edges, _ = _bigstar_edges(pairs)
    roots = edges.select(F.col("b").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("component_id")
    )
    members = edges.select(
        F.col("a").alias("doc_id"), F.col("b").alias("component_id")
    )
    # at convergence every non-root vertex carries exactly one star
    # edge to its root, so this union is already one row per vertex —
    # but roots that ALSO appear as members (possible only before
    # convergence) would duplicate; keep the invariant explicit:
    out = members.unionByName(
        roots.join(members, "doc_id", "left_anti")
    )
    # hand the caller an owned frame, decoupled from the loop's last
    # checkpoint: `edges` (always a localCheckpoint frame here — the
    # loop runs at least one round) has no unpersist surface; its
    # blocks release via the ContextCleaner once this function's
    # reference drops and a GC runs
    return checkpoint_truncate(out)


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 App. C; the GPT-3
    13-gram filter): flag corpus documents sharing any word ``n``-gram
    with an evaluation set, so they can be dropped before training.

    Returns one row per contaminated corpus doc:
    (doc_id, n_shared_ngrams, n_bench_docs) — how many DISTINCT of the
    doc's n-grams are compromised and how many benchmark docs share at
    least one.

    Scale shape: the benchmark side is small by definition (an eval
    suite, not the corpus), so its distinct-shingle set broadcasts and
    the probe is a map-side semi-ish join inside the corpus scan stage
    — the corpus is read ONCE, no all-pairs anywhere. Hot shingles
    (stopword runs) cannot skew a broadcast probe. The per-doc tallies
    then shuffle only (doc_id, shingle-hit) rows — bounded by the
    contamination volume, not the corpus.
    """
    corp = word_shingles(corpus, "doc_id", "text", n)
    bench = (
        word_shingles(benchmark, "doc_id", "text", n)
        .select(F.col("id").alias("bench_id"), "shingle")
    )
    hits = corp.join(F.broadcast(bench), "shingle")
    return (
        hits.groupBy("id")
        .agg(
            F.countDistinct("shingle").cast("long")
            .alias("n_shared_ngrams"),
            F.countDistinct("bench_id").cast("long")
            .alias("n_bench_docs"),
        )
        .withColumnRenamed("id", "doc_id")
    )


def shared_substring_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int = 64,
) -> DataFrame:
    """Maximal shared word-substring runs between document pairs — the
    exact-substring dedup primitive of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), expressed Spark-first
    instead of via a monolithic suffix array: every k-gram (k = 8) posting
    (gram, doc, pos) meets its matches through ONE equi-join on the
    gram, and maximal runs fall out of the classic gaps-and-islands
    trick — positions sharing a (pair, pos_a - pos_b) diagonal with
    consecutive pos_a belong to one shared substring, so grouping by
    ``pos_a - row_number()`` per diagonal merges them without any
    iterative stitching.

    Returns (doc_a, doc_b, start_a, start_b, match_len) with doc_a <
    doc_b, 1-based token positions, and match_len in TOKENS (island
    size + k - 1). A pair sharing two disjoint substrings yields two
    rows; runs shorter than k tokens are invisible by construction
    (k is the detection threshold, as in the paper).

    Scale shape: postings shuffle once on the gram KEY; the self-join
    and the df-cap aggregate reuse that partitioning. The key is the
    engine-neutral 60-bit md5 hash of the gram, not the k-word string —
    the shuffled posting row shrinks from ~60 bytes of text to 8 bytes
    of key, and the 2^-60 collision odds are reproduced identically on
    both engines (the oracle hashes the same way), so results stay
    bit-identical engine-to-engine even in the astronomically-unlikely
    collision case. `max_df` drops grams
    appearing in more than max_df documents BEFORE the join — the
    paper's own mitigation for boilerplate n-grams whose posting lists
    would otherwise square. The cap is a recall bound, not a silent
    truncation: production callers should count the dropped grams
    (one aggregate on the df table) and surface it; at the driver SFs
    the corpus max df is 4, so max_df=64 drops nothing. The island
    window partitions by (pair, diagonal) — key cardinality is the
    match volume, not the corpus.
    """
    from ..functions.sketches import spark_hash60

    k = 8
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), WS_SPLIT).alias("w"),
    ).filter(F.size("w") >= k)
    grams = toks.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - k + 1),
                lambda i: F.concat_ws(" ", F.slice("w", i, k)),
            )
        ).alias("idx", "gram"),
    ).select(
        "id", (F.col("idx") + 1).alias("pos"),
        spark_hash60("gram").alias("gh"),
    )
    ok = (
        grams.groupBy("gh")
        .agg(F.count_distinct("id").alias("gram_df"))
        .filter(F.col("gram_df") <= max_df)
        .select("gh")
    )
    gg = grams.join(ok, "gh")
    a = gg.select(F.col("id").alias("doc_a"), F.col("pos").alias("pa"),
                  "gh")
    b = gg.select(F.col("id").alias("doc_b"), F.col("pos").alias("pb"),
                  "gh")
    pairs = a.join(b, "gh").filter(F.col("doc_a") < F.col("doc_b"))
    from pyspark.sql import Window

    diag = (F.col("pa") - F.col("pb")).alias("diag")
    win = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = pairs.select("doc_a", "doc_b", "pa", "pb", diag).withColumn(
        "grp", F.col("pa") - F.row_number().over(win)
    )
    return (
        islands.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").cast("long").alias("start_a"),
            F.min("pb").cast("long").alias("start_b"),
            (F.count("*") + k - 1).cast("long").alias("match_len"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "match_len")
    )


def trim_duplicate_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The second half of Lee et al. 2022: REWRITE documents with their
    duplicated substrings cut. Composition of `shared_substring_runs`
    (max_df = 64) with an interval-merge and an order-preserving
    reassembly.

    Keep policy (deterministic, engine-neutral): the lowest doc id
    sharing a run keeps its copy; every HIGHER doc cuts the tokens
    covered by any run against a lower doc (runs always have doc_a <
    doc_b, so the cut side is doc_b). Overlapping cut intervals merge
    via the running-max island trick — the same gaps-and-islands device
    as the run detection, now over token intervals. A chain A<B<C where
    B and C both duplicate A means both B and C cut (only the global
    minimum keeps the span) — one copy survives, the paper's goal.

    Returns ONLY rewritten docs: (doc_id, n_tokens_before, n_removed,
    trimmed_text) — trimmed_text is '' for full duplicates.

    Scale shape: inherits the postings shuffle from the run detection;
    the interval merge windows over (doc, match-volume) keys; the
    reassembly re-tokenizes ONLY the cut documents (semi-join pruned)
    and its sort_array(collect_list(struct(pos, tok))) is the engine's
    standard order-preserving rebuild (A1/A5 device). Cut volume, not
    corpus volume, drives every post-detection stage.
    """
    from pyspark.sql import Window

    runs = shared_substring_runs(df, id_col, text_col)
    iv = runs.select(
        F.col("doc_b").alias("id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_len") - 1).alias("e"),
    )
    w_prev = (
        Window.partitionBy("id").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = iv.withColumn("pmax", F.max("e").over(w_prev)).withColumn(
        "gid",
        F.sum(
            F.when(
                F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    merged = isl.groupBy("id", "gid").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    cut_docs = merged.select("id").distinct()
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), WS_SPLIT).alias("w"),
    ).join(cut_docs, "id")
    dpos = toks.select(
        "id", F.posexplode("w").alias("idx", "tok")
    ).select("id", (F.col("idx") + 1).alias("pos"), "tok")
    ivs = merged.groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("ivs")
    )
    tagged = dpos.join(ivs, "id").withColumn(
        "is_cut",
        F.exists(
            "ivs",
            lambda i: (F.col("pos") >= i["s"]) & (F.col("pos") <= i["e"]),
        ),
    )
    return (
        tagged.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens_before"),
            F.sum(F.col("is_cut").cast("long")).cast("long")
            .alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                ~F.col("is_cut"),
                                F.struct("pos", "tok"),
                            )
                        )
                    ),
                    lambda x: x["tok"],
                ),
            ).alias("trimmed_text"),
        )
        .select(F.col("id").alias("doc_id"), "n_tokens_before",
                "n_removed", "trimmed_text")
    )


def cluster_keep_best(scored: DataFrame, labels: DataFrame) -> DataFrame:
    """Cluster-representative selection: per near-dup cluster, keep the
    single highest-scoring document (ties: lowest id) and flag the rest
    as drops — the step SlimPajama/FineWeb-style pipelines run after
    connected components, so dedup removes the WORST copy of a page,
    not an arbitrary one (reference analog: the first-occurrence
    discipline of src/ocr/cli.js:21-27, upgraded from "first seen" to
    "best scored").

    Inputs: `scored` = (doc_id, q10k) for EVERY document (the score must
    be an integer grid — no float comparisons); `labels` = (doc_id,
    component_id) from `bigstar_components`, which
    only covers documents that appear in the pair graph. Unpaired
    documents become singleton clusters of themselves.

    Output: (doc_id, component_id, cluster_size, keep).

    Scale shape: `labels` is pair-graph-sized (collision docs only,
    corpus-small); the left join shuffles on the id. The per-cluster
    argmax is ONE keyed aggregate — max(struct(score, -id)) with
    map-side partial combine — never a window over the cluster
    partition, so a mirror-farm mega-cluster costs one combiner cell,
    not a single-task sort. The winners relation (one row per cluster)
    joins back on component_id carrying three longs per row; document
    text never enters any exchange.
    """
    lab = (
        scored.join(labels, "doc_id", "left")
        .withColumn(
            "component_id", F.coalesce(F.col("component_id"), F.col("doc_id"))
        )
    )
    # argmax(score) with ties to the LOWEST id, as one lexicographic
    # MIN over struct(-score, id): the score is negated (it is an
    # integer grid by contract), never the id — ids may be strings
    # (the component operators support them), and -string is NULL
    winners = (
        lab.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.min(
                F.struct(
                    (-F.col("q10k")).alias("neg_score"),
                    F.col("doc_id").alias("wid"),
                )
            ).alias("best"),
        )
        .select(
            "component_id",
            "cluster_size",
            F.col("best.wid").alias("winner_id"),
        )
    )
    return lab.join(winners, "component_id").select(
        F.col("doc_id"),
        "component_id",
        "cluster_size",
        (F.col("doc_id") == F.col("winner_id")).alias("keep"),
    )


def dedup_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide exact line-level deduplication, keep-first (the
    RefinedWeb/Dolma rewrite rule: a line that occurs anywhere else in
    the corpus survives only at its first occurrence — boilerplate
    footers, cookie banners and navigation chrome collapse to one copy
    corpus-wide). First = lowest (id, position), the same
    first-occurrence discipline as the reference's dedup
    (reference src/ocr/cli.js:21-27), applied per line instead of
    per code.

    Returns (doc_id, n_lines_before, n_removed, cleaned_text) with
    cleaned_text preserving the surviving lines in document order
    (empty string when every line loses).

    Scale shape: one explode to (id, pos, line); the keeper per line is
    ONE keyed aggregate — min(struct(id, pos)) with map-side partial
    combine, never a window over the line partition, so a
    corpus-universal footer line costs a combiner cell, not a
    single-task sort. The join back on `line` is keeper(1 row/distinct
    line) x occurrences; a universally-duplicated line makes that a hot
    key on the probe side only — AQE skew-join splits it. Reassembly is
    the same order-preserving collect as trim_duplicate_substrings.
    Every line participates (blank lines too); callers wanting to
    exempt chrome-free lines filter before calling. A NULL text is
    treated as one empty line (posexplode over split(NULL) would
    otherwise silently DROP the document from the output, breaking the
    one-row-per-document contract).
    """
    lines = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    keepers = lines.groupBy("line").agg(
        F.min(F.struct(F.col("id").alias("kid"),
                       F.col("pos").alias("kpos"))).alias("first")
    )
    tagged = lines.join(keepers, "line").withColumn(
        "kept",
        (F.col("id") == F.col("first.kid"))
        & (F.col("pos") == F.col("first.kpos")),
    )
    return (
        tagged.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_lines_before"),
            F.sum((~F.col("kept")).cast("long")).cast("long")
            .alias("n_removed"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias("cleaned_text"),
        )
        .select(F.col("id").alias("doc_id"), "n_lines_before",
                "n_removed", "cleaned_text")
    )


def dedup_incremental(history: DataFrame, batch: DataFrame) -> DataFrame:
    """Incremental dedup: which rows of a NEW batch are genuinely new
    against the already-committed corpus — the shape every continuously
    crawling pipeline runs per ingest cycle (dedup the day's crawl
    against the petabytes already stored, NOT the corpus against
    itself). Inputs carry a precomputed content fingerprint (``fp``,
    e.g. md5 of the canonical payload).

    Semantics: a batch row survives iff its fingerprint appears nowhere
    in history. Batch-internal duplicates are NOT collapsed here, so
    the step stays a single join.

    Returns the batch rows plus ``is_new`` boolean (all input rows, so
    the audit sink sees the drops with their fingerprints).

    Scale shape: ONE left-anti-shaped join on a 32-hex key, probing the
    batch (small, one ingest cycle) against history (huge). Spark builds
    the hash side from the SMALLER input under AQE, and on an Iceberg
    history table the fingerprint column is the only one read (column
    pruning) with min/max + bloom skipping per file — the 100 TB side is
    never shuffled in full. The realized form is a left join + null
    test rather than two passes (anti for new + semi for dropped), so
    history is probed once.
    """
    hist_fps = history.select(F.col("fp").alias("_hfp")).distinct()
    return (
        batch.join(
            hist_fps,
            batch["fp"] == hist_fps["_hfp"],
            "left",
        )
        .withColumn("is_new", F.col("_hfp").isNull())
        .drop("_hfp")
    )
