"""Pipeline data-quality monitoring: exact-arithmetic rate anomalies.

A 10^12-document ingest needs alarms on its own telemetry — a source
whose hourly document/event rate jumps away from its trailing baseline
usually means a crawler loop, a schema break, or an upstream outage.
The standard alarm is a z-score against a trailing window; the usual
implementation is float mean/std, whose summation order makes the flag
set partition-dependent at the margin.

This one is EXACT: counts are integers, the trailing first and second
moments are BIGINT window sums, and the z-score test is evaluated in
cross-multiplied integer form —

    z^2 = (m*n - s1)^2 / (m*s2 - s1^2)        (population variance)
    flag  iff  (m*n - s1)^2 >= 4 * (m*s2 - s1^2)       (|z| >= 2)

so no float appears anywhere in the decision and the DuckDB oracle
matches with zero tolerance. A zero-variance history with a deviating
current count is an infinite-z anomaly and flags too (z2_milli NULL).

BIGINT headroom: the test squares ``m*n - s1`` (~ window_len x
hourly_count). It is exact while that product stays under ~3e9 —
hourly counts up to ~10^8 at the 24-bucket window, far beyond any
per-source hourly rate this pipeline meters; past that, swap the two
squared terms to DECIMAL(38).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

MICROS_PER_HOUR = 3_600_000_000


def rate_anomalies(events: DataFrame) -> DataFrame:
    """Flag (event_type, hour) buckets whose count deviates from the
    trailing 24-bucket baseline by |z| >= 2. Returns
    (event_type, hour, n, m, mean_milli, z2_milli) for flagged buckets;
    z2_milli is NULL for the zero-variance infinite-z case. Buckets
    with under 8 trailing observations never flag (cold
    start). The trailing frame is over OBSERVED buckets, so a silent
    hour is absent rather than a zero.

    Scale shape: one map-side-combined count per (group, hour), then a
    group-partitioned ordered window over the tiny per-group hour
    series. Nothing here scales with raw event volume past the first
    aggregate."""
    # FLOOR division via pmod, not float-divide-and-cast: cast-long
    # truncates toward zero, which disagrees with DuckDB's // (floor)
    # for pre-1970 timestamps — and this module promises no float in
    # any decision input
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    counts = (
        events.select("event_type", us.alias("_us"))
        .select(
            "event_type",
            F.expr(
                f"(_us - pmod(_us, {MICROS_PER_HOUR})) "
                f"div {MICROS_PER_HOUR}"
            ).cast("long").alias("hour"),
        )
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
    )
    # trailing integer moments + cross-multiplied z^2 gate
    f = (
        W.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-24, -1)
    )
    w = (
        counts.withColumn("m", F.count("*").over(f))
        .withColumn("s1", F.sum("n").over(f))
        .withColumn("s2", F.sum(F.col("n") * F.col("n")).over(f))
        .withColumn("dev", F.col("m") * F.col("n") - F.col("s1"))
        .withColumn(
            "varm2",
            F.col("m") * F.col("s2") - F.col("s1") * F.col("s1"))
    )
    flagged = w.filter(
        (F.col("m") >= 8)
        & (
            ((F.col("varm2") == 0) & (F.col("dev") != 0))
            | (
                (F.col("varm2") > 0)
                & (F.col("dev") * F.col("dev") >= 4 * F.col("varm2"))
            )
        )
    )
    return flagged.select(
        "event_type",
        "hour",
        "n",
        "m",
        F.expr("(1000 * s1) div m").cast("long").alias("mean_milli"),
        F.when(
            F.col("varm2") > 0,
            F.expr("(dev * dev * 1000) div varm2").cast("long"),
        ).alias("z2_milli"),
    )
