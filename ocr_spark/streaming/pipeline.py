"""Structured Streaming twin of the reference's job queue.

The reference feeds OCR work through a Redis-backed Bull queue with
at-least-once redelivery (stalled-job retry, reference src/ocr/
ocrQueue.js:14-23, 40-66) and clients poll job state over HTTP
(src/routes/upload.js:82-97). Spark-first replacement:

  * the queue        -> a file-source ``readStream`` over an inbox
    directory of documents_interleaved parquet drops (each drop = a batch
    of uploaded jobs; the camera live path, src/public/live.js:56-81, is
    the same shape at a 200 ms cadence);
  * the worker       -> ``foreachBatch`` running the SAME extraction entry
    as batch jobs (operators/extraction_inrow.py) — one code path for
    batch and stream;
  * at-least-once + idempotent store -> exactly-once results: Bull may
    redeliver a stalled job, and so may foreachBatch after a crash; the
    snapshot MERGE by doc_id absorbs replays identically to the
    reference's insert-or-append upsert (VoucherDatabase.py:142-201);
  * job-state polling -> the audit SnapshotTable (phase='stream', one
    lineage row per partition per micro-batch) plus Spark's own
    StreamingQuery progress.

Scale notes: file-source listing is O(new files) with ``latestFirst``
ordering left off (FIFO like Bull); maxFilesPerTrigger bounds micro-batch
size the way Bull's concurrency bound does; state is bounded because the
pipeline is stateless per micro-batch (all cross-batch state lives in the
snapshot store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.extraction_inrow import run_extraction_inrow
from ..operators.resumable import commit_results
from ..schemas import DOCUMENTS_SCHEMA
from ..sources.snapstore import SnapshotTable


def read_document_stream(
    spark: SparkSession,
    inbox_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of documents_interleaved parquet drops."""
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(inbox_dir)


def stream_extraction(
    docs_stream: DataFrame,
    blobs: DataFrame,
    results: SnapshotTable,
    audit: SnapshotTable,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the extraction pipeline over a document stream.

    foreachBatch + MERGE-by-doc_id gives exactly-once results on top of
    Spark's at-least-once batch replay (same contract the reference builds
    from Bull retries + SQLite upsert).

    Trigger modes: ``available_now=True`` drains the backlog and stops
    (batch-resume shape); ``available_now=False`` keeps the query live on
    a 200 ms processing-time trigger — the reference's live-frame
    cadence (reference src/public/live.js:56-81).
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = run_extraction_inrow(batch_df, blobs).persist()
        try:
            commit_results(out, results, audit, phase="stream",
                           batch_id=batch_id)
        finally:
            out.unpersist()

    writer = (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="200 milliseconds")
    return writer.start()


def windowed_code_rate(events: DataFrame) -> DataFrame:
    """Event-time 1-hour tumbling-window counts per event_type, with a
    30-minute late-data watermark.

    Streaming twin of the reference's polling-rate metrics (frames every
    200 ms, poll every 2 s — src/public/live.js:81, upload.js:69): works on
    both streaming and batch DataFrames (same plan), emitting per-window
    event/value aggregates once the watermark passes.
    """
    # watermarks require TIMESTAMP (TIMESTAMP_NTZ is rejected); the session
    # timezone is pinned to UTC (session.py) so this cast is a pure retag
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

