"""Checkpoint-resumable extraction with per-partition lineage + metrics.

North-rule requirements wired together:

  * results land via MERGE upsert into a SnapshotTable (the reference's
    insert-or-append voucher store, reference src/database/
    VoucherDatabase.py:142-201, re-expressed as snapshot CoW);
  * every run appends per-partition lineage + extraction metrics to an
    append-only audit SnapshotTable (the reference's per-job log with
    [OCR_OUTPUT_*]/[VOUCHER_OUTPUT_*] markers, src/ocr/cli.py:32-57,180-191,
    and Bull job progress, src/ocr/ocrQueue.js:60);
  * a restarted job resumes from the last committed snapshot by anti-joining
    the already-committed doc_ids (the reference's checksum-gated
    incremental rebuild, index.js:181-196) — at-least-once processing +
    idempotent MERGE = exactly-once results, the same contract Bull's
    stalled-job retry aims at (ocrQueue.js:14-23).

Scale notes: the committed-id anti-join is key-only (doc_id strings, not
payloads) and broadcast-able until the committed set is huge; past that it
is a shuffled left-anti on the table's natural key — exactly what an
Iceberg `MERGE INTO ... WHEN NOT MATCHED` would do. Metrics aggregation is
one map-side groupBy(spark_partition_id()) over the (small) result rows.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.snapstore import SnapshotTable
# bound under this name so perfbench can trace and corrupt the call
from .extraction_inrow import run_extraction_inrow as run_extraction


def partition_metrics(result: DataFrame, phase: str) -> DataFrame:
    """Per-partition lineage row: which docs, how many spans/codes, where."""
    return (
        result.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("out_spans")).alias("n_spans"),
            F.sum(F.size("codes")).alias("n_codes"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .withColumn("phase", F.lit(phase))
        .withColumn("committed_at", F.current_timestamp())
    )


def commit_results(out: DataFrame, results: SnapshotTable,
                   audit: SnapshotTable, phase: str,
                   batch_id: int | None = None) -> tuple[int, int]:
    """The results-store merge rule, for every writer of extraction output:
    MERGE ``out`` into ``results`` by doc_id (idempotent; codes
    append-if-absent preserves the reference's conditional-append store
    semantics), then append one lineage row per partition to ``audit``,
    stamped with the new results version and, for a stream, the
    micro-batch id. Returns (results_version, audit_version)."""
    rv = results.merge_upsert(
        out, merge_exprs={"codes": lambda old, new: F.array_union(old, new)}
    )
    metrics = partition_metrics(out, phase).withColumn(
        "results_version", F.lit(rv))
    if batch_id is not None:
        metrics = metrics.withColumn("batch_id", F.lit(batch_id))
    return rv, audit.append(metrics)


def run_extraction_resumable(
    docs: DataFrame,
    blobs: DataFrame,
    results: SnapshotTable,
    audit: SnapshotTable,
) -> dict:
    """Extract only not-yet-committed documents; MERGE + audit commit.

    Returns run stats: docs processed, snapshot versions, wall time.

    Scan discipline (10^12-row inputs): the input is read twice — first
    the key-only needed-refs scan of the extraction entry (spans.media_ref
    only), then the main pass. ``n_processed`` comes from counting the
    persisted OUTPUT (cheap; the merge re-reads it anyway). Skipped docs
    are not counted: restart metrics live in the audit table, not in
    repeated full-table counts.
    """
    spark = docs.sparkSession
    t0 = time.monotonic()

    committed = results.read(spark)
    if committed is not None:
        done_ids = committed.select("doc_id")
        todo = docs.join(done_ids, "doc_id", "left_anti")
    else:
        todo = docs

    out = run_extraction(todo, blobs).persist()
    try:
        n_todo = out.count()  # materializes the main pass
        if n_todo == 0:
            return {
                "n_processed": 0,
                "results_version": results.current_version(),
                "audit_version": audit.current_version(),
                "wall_sec": round(time.monotonic() - t0, 3),
            }
        rv, av = commit_results(out, results, audit, phase="extract")
    finally:
        out.unpersist()
    return {
        "n_processed": n_todo,
        "results_version": rv,
        "audit_version": av,
        "wall_sec": round(time.monotonic() - t0, 3),
    }
