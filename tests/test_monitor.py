"""Exact-arithmetic rate anomalies: planted spike, cold start,
zero-variance infinite-z case, partitioning invariance."""

from __future__ import annotations

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.operators.monitor import rate_anomalies  # noqa: E402


def _events(spark, counts, etype="click"):
    """counts[i] events in hour i (epoch hours from a fixed base)."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for h, n in enumerate(counts):
        for j in range(n):
            rows.append(
                (etype, base + datetime.timedelta(hours=h, seconds=j)))
    return spark.createDataFrame(rows, ["event_type", "ts"])


def test_spike_flags_and_cold_start_does_not(spark):
    # 12 noisy-but-stable hours, then a 10x spike
    series = [10, 11, 9, 10, 12, 10, 9, 11, 10, 10, 11, 9, 100]
    out = rate_anomalies(_events(spark, series)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 100 and r["m"] == 12
    assert r["z2_milli"] is not None and r["z2_milli"] > 4000
    # mean_milli = trailing mean in millis: sum(122)/12 = 10166
    assert r["mean_milli"] == (1000 * 122) // 12
    # same spike at hour 5 (only 5 history rows) must NOT flag
    early = rate_anomalies(
        _events(spark, [10, 11, 9, 10, 12, 100])).collect()
    assert early == []


def test_zero_variance_deviation_is_infinite_z(spark):
    series = [10] * 10 + [11]  # flat history, 1-count deviation
    out = rate_anomalies(_events(spark, series)).collect()
    assert len(out) == 1
    assert out[0]["z2_milli"] is None  # infinite z sentinel
    assert out[0]["n"] == 11
    # perfectly flat series flags nothing
    flat = rate_anomalies(_events(spark, [10] * 12)).collect()
    assert flat == []


def test_anomaly_set_partitioning_invariant(spark):
    series = [10, 11, 9, 10, 12, 10, 9, 11, 10, 10, 11, 9, 100, 10, 3]
    ev = _events(spark, series)
    a = sorted(map(tuple, rate_anomalies(ev).collect()))
    b = sorted(map(tuple, rate_anomalies(ev.repartition(7)).collect()))
    assert a == b and a

