"""Plan-quality regression tests: pushdown, pruning, broadcast, shuffles.

At 100 TB these properties are the performance model; pin them.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from plan_checks import (  # noqa: E402
    exchange_count,
    executed_plan,
    has_broadcast_join,
    pushed_filters,
    read_schemas,
)

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = entry_mod.s5_scan_filter_project(spark, SF_DIR)
    filters = " ".join(pushed_filters(df))
    assert "l_quantity" in filters, filters
    assert "l_shipdate" in filters, filters


def test_column_pruning_projection_only_reads_needed(spark):
    df = entry_mod.s5_scan_filter_project(spark, SF_DIR)
    schemas = read_schemas(df)
    assert schemas, "no file scan found"
    # 16-column lineitem scan must shrink to the 6 referenced columns
    assert all(s.count(":") <= 7 for s in schemas), schemas
    assert "l_comment" not in " ".join(schemas)


def test_small_dims_broadcast_in_join_query(spark):
    df = entry_mod.q3_revenue_by_nation(spark, SF_DIR)
    assert has_broadcast_join(df)


def test_banned_anti_join_is_broadcast(spark):
    df = entry_mod.p3_banned_anti_join(spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_extraction_needed_scan_prunes_nested_text(spark):
    """The distinct-media-ref scan must NOT read span text: nested schema
    pruning keeps the heavy text bytes out of the OCR planning path."""
    from ocr_spark.datagen import corpus_dir

    cdir = corpus_dir(0.001)
    docs = spark.read.parquet(
        os.path.join(cdir, "documents_interleaved.parquet"))
    needed = (
        docs.select(F.explode("spans.media_ref").alias("m"))
        .where(F.col("m").isNotNull())
        .distinct()
    )
    schemas = " ".join(read_schemas(needed))
    assert "media_ref" in schemas
    assert "text" not in schemas, schemas


def test_extraction_no_pixel_exchange_both_regimes(spark, monkeypatch):
    """The invariant that holds in BOTH extraction regimes is 'pixel bytes
    never cross an exchange' — not 'broadcast everything'. The hot-media
    front door achieves it by pruning blobs with a broadcast semi-join on
    the needed refs before recognizing; the cold-media regime (forced with
    a broadcast budget no batch fits) by recognizing all blobs map-side, so
    its joins shuffle refs, short texts and documents, never pixels."""
    from ocr_spark.datagen import corpus_dir
    from ocr_spark.operators import extraction_inrow
    from plan_checks import exchange_inputs

    cdir = corpus_dir(0.001)
    docs = spark.read.parquet(
        os.path.join(cdir, "documents_interleaved.parquet"))
    blobs = spark.read.parquet(os.path.join(cdir, "media_blobs.parquet"))
    pruned = []
    real = extraction_inrow.recognized_map
    monkeypatch.setattr(extraction_inrow, "recognized_map",
                        lambda p: pruned.append(p) or real(p))
    extraction_inrow.run_extraction_inrow(docs, blobs)
    monkeypatch.setattr(extraction_inrow, "MAX_BROADCAST_REFS", -1)
    cold = extraction_inrow.run_extraction_inrow(docs, blobs)
    assert len(pruned) == 1, "the cold regime built a broadcast map"
    regimes = {"hot": pruned[0], "cold": cold}
    for regime, df in regimes.items():
        inputs = exchange_inputs(df)
        # both regimes shuffle something — an empty list would mean the
        # Exchange-Input regex went vacuous, not that the plan is
        # shuffle-free
        assert inputs, (regime, "exchange_inputs matched nothing")
        for cols in inputs:
            assert "pixels" not in cols, (regime, cols)


def test_inrow_extraction_has_no_doc_shuffle(spark, monkeypatch):
    """In-row mode: zero hash exchanges in the main pass (the OCR-side
    distinct runs in its own tiny job), and the blob prune that feeds the
    recognizer moves ref strings, never pixel bytes."""
    from ocr_spark.datagen import corpus_dir
    from ocr_spark.operators import extraction_inrow
    from plan_checks import exchange_inputs

    cdir = corpus_dir(0.001)
    docs = spark.read.parquet(
        os.path.join(cdir, "documents_interleaved.parquet"))
    blobs = spark.read.parquet(os.path.join(cdir, "media_blobs.parquet"))
    pruned = []
    real = extraction_inrow.recognized_map
    monkeypatch.setattr(extraction_inrow, "recognized_map",
                        lambda p: pruned.append(p) or real(p))
    out = extraction_inrow.run_extraction_inrow(docs, blobs)
    assert exchange_count(out) == 0, executed_plan(out)
    inputs = exchange_inputs(pruned[0])
    assert inputs, "exchange_inputs matched nothing"
    for cols in inputs:
        assert "pixels" not in cols, cols


def test_minhash_signature_agg_is_partial(spark):
    """MinHash signatures must reduce map-side (partial_min before the
    exchange): hot shingles then never skew the shuffle."""
    from ocr_spark.operators.dedup import minhash_signatures, word_shingles

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = minhash_signatures(word_shingles(docs, "doc_id", "text", 3), 8)
    plan = executed_plan(sig)
    assert "partial_min" in plan, plan


def test_dedup_scan_prunes_to_id_and_text(spark):
    """Shingling reads exactly (doc_id, text) from the documents scan."""
    from ocr_spark.operators.dedup import word_shingles

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    schemas = " ".join(read_schemas(word_shingles(docs, "doc_id", "text")))
    assert "text" in schemas and "doc_id" in schemas
    assert "lang" not in schemas and "source" not in schemas, schemas


def test_no_inferred_generate_filter_blowup(spark):
    """Regression pin for the InferFiltersFromGenerate exclusion: the
    shingle expression must appear in the plan ONCE (a Project feeding
    Generate), never re-inlined into a pushed-down Filter — that filter
    re-evaluates split() per element_at, O(len^2) per doc."""
    from ocr_spark.operators.dedup import word_shingles

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = executed_plan(word_shingles(docs, "doc_id", "text"))
    assert plan.count("array_distinct") <= 1, plan


def test_ann_ivf_probe_join_is_broadcast(spark):
    """IVF top-k: the tiny query-probe side (5 queries x nprobe cells)
    must broadcast (no shuffle of the full cell-assigned table)."""
    df = entry_mod.ann_ivf_trained_topk(spark, SF_DIR)
    assert has_broadcast_join(df)


def test_rendered_doc_queries_prune_scan(spark):
    """The render/OCR driver queries must read only (doc_id, text) from
    the documents scan — lang/source/n_chars stay out."""
    df = entry_mod.m6_crop_half_ocr(spark, SF_DIR)
    schemas = " ".join(read_schemas(df))
    assert "doc_id" in schemas and "text" in schemas
    assert "lang" not in schemas and "n_chars" not in schemas, schemas


def test_layout_reading_order_single_exchange(spark):
    """Layout parse must shuffle ONCE on the page id: both window passes
    (running-max gutter detect, running-sum column index) and the final
    reading-order rank share one partitioning; a second Exchange means a
    window spec drifted off the page key."""
    df = entry_mod.layout_reading_order(spark, SF_DIR)
    assert exchange_count(df) == 1, executed_plan(df)


def test_sessionization_single_exchange(spark):
    """Sessionize + per-session stats: one shuffle on user_id; the lag,
    the running session counter, and the (user, session) aggregate all
    reuse it (the group key extends the window partition key)."""
    df = entry_mod.q5_sessionization(spark, SF_DIR)
    assert exchange_count(df) == 1, executed_plan(df)


def test_stratified_sample_single_exchange(spark):
    """Per-stratum quota ranking: one shuffle on the stratum column."""
    df = entry_mod.sample_stratified(spark, SF_DIR)
    assert exchange_count(df) == 1, executed_plan(df)


def test_domain_cap_two_bounded_exchanges_no_python(spark):
    """Two-phase salted top-k: exactly two hash exchanges — (group, salt)
    for the local prune, then (group) over at most salt_buckets * k rows
    per group. No Python evaluation node (quality_score is JVM exprs)."""
    df = entry_mod.curate_domain_cap(spark, SF_DIR)
    plan = executed_plan(df)
    assert exchange_count(df) == 2, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_pii_scrub_no_exchange_no_python(spark):
    """PII redaction is a pure JVM projection: no shuffle at all, and no
    Python evaluation node in the plan."""
    df = entry_mod.text_pii_scrub(spark, SF_DIR)
    plan = executed_plan(df)
    assert exchange_count(df) == 0, plan
    assert "Python" not in plan, plan


def test_asof_join_single_exchange_no_join_node(spark):
    """The as-of join is the carry-forward window, not a join: one
    shuffle on user_id and ZERO join operators in the physical plan."""
    df = entry_mod.j5_asof_last_purchase(spark, SF_DIR)
    plan = executed_plan(df)
    assert exchange_count(df) == 1, plan
    assert "Join" not in plan, plan


def test_decontamination_probe_is_broadcast(spark):
    """Decontamination: the eval-set shingle side must broadcast — the
    corpus shingle stream is probed in its own scan stage, never
    shuffled against the small benchmark."""
    df = entry_mod.decontaminate_ngrams(spark, SF_DIR)
    assert has_broadcast_join(df)


def test_semantic_dedup_shuffles_only_on_cell(spark):
    """SemDeDup's only shuffle key is the quantizer cell: vectors move
    once into their cell group. Any Exchange on another key means the
    pair pruning drifted off the cell partitioning."""
    df = entry_mod.semantic_dedup_q(spark, SF_DIR)
    plan = executed_plan(df)
    parts = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert parts and all("cell" in l for l in parts), plan


def test_kmv_sketch_two_exchanges(spark):
    """KMV core: exchange 1 finishes the map-side-combined (group, hash)
    dedup, exchange 2 regroups by group alone for the bottom-k window;
    the final aggregate must reuse the window's partitioning (a third
    exchange means the agg key drifted)."""
    from ocr_spark.functions.sketches import kmv_distinct

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = kmv_distinct(docs, ["lang"], "text", k=16)
    assert exchange_count(out) == 2, executed_plan(out)


def test_bpe_encode_vocab_join_is_broadcast(spark):
    """Corpus tokenization must broadcast the Zipf-small vocab
    segmentation — a shuffle join here would re-shuffle the whole
    corpus word stream at 100 TB."""
    df = entry_mod.bpe_encode_q(spark, SF_DIR)
    assert has_broadcast_join(df), executed_plan(df)


def test_nb_classifier_model_join_is_broadcast(spark):
    """NB scoring joins the 2 x buckets model and the 2-row prior back
    to the feature table: both must broadcast."""
    df = entry_mod.nb_quality_classifier(spark, SF_DIR)
    assert has_broadcast_join(df), executed_plan(df)


def test_semantic_decontamination_zero_exchanges(spark):
    """The embedding decontamination pass must be shuffle-FREE: the
    eval matrix broadcasts and the corpus streams through one
    mapInPandas — any Exchange means a join or aggregate crept in."""
    df = entry_mod.decontaminate_semantic(spark, SF_DIR)
    assert exchange_count(df) == 0, executed_plan(df)


def test_histogram_percentile_sketch_exchange_budget(spark):
    """Histogram sketch: the (group, bin) count is the only
    corpus-sized aggregate; everything after (cumulative window,
    targets, first-bin pick) works on bin-cardinality data. Pin the
    static exchange budget so a corpus-sized shuffle cannot creep in
    unnoticed."""
    df = entry_mod.a10_histogram_percentiles(spark, SF_DIR)
    assert exchange_count(df) <= 6, executed_plan(df)


def test_substring_runs_single_postings_shuffle_key(spark):
    """Exact-substring detection: the corpus-sized shuffles are keyed by
    the 60-bit gram hash `gh` — an 8-byte key, not the k-word string —
    (postings + df-cap + self-join all co-partitioned); the only other
    keys allowed are the island window's pair+diagonal and its
    aggregate — a doc-keyed or unkeyed corpus exchange would mean the
    join drifted off the postings layout."""
    df = entry_mod.dedup_substring_runs(spark, SF_DIR)
    plan = executed_plan(df)
    parts = [l for l in plan.splitlines()
             if "Exchange hashpartitioning" in l]
    assert parts, plan
    for line in parts:
        assert ("gh" in line) or ("doc_a" in line and "diag" in line), (
            line
        )
    # the gram STRING must not be a shuffle key anywhere
    assert not any("gram#" in line for line in parts), parts


def test_cluster_keep_best_aggregate_not_window(spark):
    """The per-cluster argmax is a keyed AGGREGATE (map-side partial
    combine), never a Window over the cluster partition — a mirror-farm
    mega-cluster must cost one combiner cell, not one task-local sort.
    No Python node anywhere (quality is JVM exprs); document text never
    enters an exchange (only ids/scores/hashes shuffle)."""
    from plan_checks import exchange_inputs

    df = entry_mod.dedup_cluster_keep_best(spark, SF_DIR)
    plan = executed_plan(df)
    assert "Window" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    for cols in exchange_inputs(df):
        assert "text" not in cols, cols


def test_line_dedup_aggregate_not_window(spark):
    """Line dedup keeps the keeper-selection an AGGREGATE (map-side
    combine) — a corpus-universal footer line must cost a combiner
    cell, never a single-task window sort. No Python node; only
    (id, pos, line) rows cross exchanges — never the full page."""
    from plan_checks import exchange_inputs

    df = entry_mod.text_line_dedup(spark, SF_DIR)
    plan = executed_plan(df)
    assert "Window" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    for cols in exchange_inputs(df):
        assert "page" not in cols, cols


def test_url_dedup_single_exchange_no_python(spark):
    """URL canonicalization is a pure JVM regexp projection; the dedup is
    ONE hash aggregate (map-side combine on the canonical string)."""
    df = entry_mod.url_canonical_dedup(spark, SF_DIR)
    plan = executed_plan(df)
    assert exchange_count(df) == 1, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_top_ngrams_takeordered_no_global_sort(spark):
    """Corpus top-k n-grams must plan as TakeOrderedAndProject (local
    k-heaps + driver merge) over ONE map-side-combined aggregate —
    never a global Sort, never a Window, never Python."""
    df = entry_mod.text_top_ngrams(spark, SF_DIR)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert exchange_count(df) == 1, plan


def test_weighted_sample_takeordered_no_global_sort(spark):
    """Efraimidis-Spirakis selection is per-row Catalyst arithmetic +
    TakeOrdered: no shuffle at all before the k-heap merge."""
    df = entry_mod.sample_weighted(spark, SF_DIR)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert exchange_count(df) == 0, plan


def test_shard_assign_single_exchange(spark):
    """Shard export shuffles ONCE on the shard key; the in-shard rank
    is a window over that same partitioning (no second exchange)."""
    df = entry_mod.shard_assign_rank(spark, SF_DIR)
    plan = executed_plan(df)
    assert exchange_count(df) == 1, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_robots_rules_join_is_broadcast(spark):
    """The robots gate joins frontier URLs to robots.txt-sized rules:
    both the rules join and the winner join-back must be broadcast —
    the URL side never shuffles on a rule key."""
    df = entry_mod.curate_robots_filter(spark, SF_DIR)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_incremental_dedup_no_python_single_probe(spark):
    """Incremental ingest dedup is ONE join probe of history
    fingerprints — no Python, no window."""
    df = entry_mod.dedup_incremental_q(spark, SF_DIR)
    plan = executed_plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert "Window" not in plan, plan
