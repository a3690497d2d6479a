"""Gap-based sessionization: split each user's event stream into
sessions wherever the inter-event gap exceeds 30 minutes.

The batch twin of Structured Streaming's `F.session_window` (the
streaming side lives in streaming/pipeline.py's windowed aggregates):
expressed as Catalyst window functions so it is deterministic and
DuckDB-oracle-able, which `session_window`'s state-store output is not.
All gap arithmetic happens in INTEGER MICROSECONDS (`unix_micros` /
`epoch_us`) — no float seconds, so both engines decide every boundary
identically.

Scale shape: ONE hash shuffle on the user id; the lag, the running sum,
and the per-session stats all share that partitioning (the stats
group-by is on (user, session_seq) which is a prefix-extension of the
window partitioning, so AQE keeps it local). Per-user skew is bounded
by a user's own event count, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def ts_micros(ts):
    """unix_micros over either timestamp flavor. Parquet tables load as
    TIMESTAMP_NTZ, which unix_micros rejects; the NTZ -> TIMESTAMP cast
    is an identity on the stored instant under the engine's pinned UTC
    session zone (session.py). Shared by every event-time operator that
    needs engine-neutral integer-microsecond arithmetic (sessionize,
    as-of join)."""
    return F.unix_micros(ts.cast("timestamp"))


def sessionize(events: DataFrame) -> DataFrame:
    """Append `session_seq` (1-based per `user_id`): a new session opens
    at a user's first event and at every event whose gap from the
    previous one strictly exceeds 30 minutes. Ties on `ts` order by
    `event_id` so the lag is deterministic."""
    gap_us = 30 * 60 * 1_000_000
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = ts_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    opens = F.when(
        prev_us.isNull() | (us - prev_us > gap_us), 1
    ).otherwise(0)
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return events.withColumn(
        "session_seq", F.sum(opens).over(wrun).cast("long")
    )


def asof_last_event(events: DataFrame, match_type: str) -> DataFrame:
    """Per-user AS-OF join against the stream's own `match_type` events:
    append `asof_us` / `asof_key` = the most recent `match_type` event
    at-or-before each row (by (ts, event_id) order), null when none
    precedes.

    The carry-forward formulation of the time-series as-of join — the
    operator Spark lacks natively: instead of a per-row range probe
    (quadratic, unbuildable at scale), tag the reference rows inline and
    run `last(..., ignorenulls=True)` over one user-partitioned window.
    ONE shuffle on the user id, no join at all; the same shape handles a
    two-table as-of join by unioning the tagged reference stream first.
    """
    w = (
        W.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_ref = F.col("event_type") == match_type
    return events.withColumn(
        "asof_us",
        F.last(F.when(is_ref, ts_micros(F.col("ts"))),
               ignorenulls=True).over(w),
    ).withColumn(
        "asof_key",
        F.last(F.when(is_ref, F.col("event_id")), ignorenulls=True).over(w),
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Per-session summary: (user_id, session_seq, n_events,
    session_start, session_end, duration_us)."""
    us = ts_micros(F.col("ts"))
    return sessionize(events).groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(us) - F.min(us)).alias("duration_us"),
    )
