"""KMV bottom-k distinct sketch: exact-below-k path, estimator error
bound, merge law (per-batch trim losslessness), determinism."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.functions.sketches import HASH_RANGE, kmv_distinct  # noqa: E402


def _rows(spark, groups):
    data = [
        (g, f"{g}:v{i}")
        for g, n in groups.items()
        for i in range(n)
        for _ in range(2)  # duplicates must not affect the sketch
    ]
    return spark.createDataFrame(data, ["grp", "val"])


def test_kmv_exact_below_k(spark):
    df = _rows(spark, {"small": 10, "tiny": 1})
    out = {
        r["grp"]: r
        for r in kmv_distinct(df, ["grp"], "val", k=64).collect()
    }
    assert out["small"]["n_kept"] == 10
    assert out["small"]["est_distinct"] == 10.0
    assert out["tiny"]["est_distinct"] == 1.0


def test_kmv_estimator_error_bound(spark):
    """d=5000 distinct, k=64: the bottom-k estimator's relative error
    concentrates around 1/sqrt(k-1) ~ 12.6%; assert a generous 4-sigma
    band (md5 is fixed, so this is a deterministic regression pin, not
    a flaky statistical test)."""
    df = _rows(spark, {"big": 5000})
    row = kmv_distinct(df, ["grp"], "val", k=64).collect()[0]
    assert row["n_kept"] == 64
    est = row["est_distinct"]
    assert abs(est - 5000) / 5000 < 0.5
    # the estimator really came from the k-th hash, not the exact path
    assert est == round(63 * HASH_RANGE / row["kth_hash"], 3)


def test_kmv_partial_trim_lossless(spark):
    """Union-then-trim merge law: the per-batch top-k trim must not
    change the sketch, under any partitioning of the input."""
    df = _rows(spark, {"a": 500, "b": 30})
    plain = sorted(map(tuple, kmv_distinct(
        df, ["grp"], "val", k=16, partial_trim=False).collect()))
    for parts in (1, 7):
        trimmed = sorted(map(tuple, kmv_distinct(
            df.repartition(parts), ["grp"], "val", k=16,
            partial_trim=True).collect()))
        assert trimmed == plain


def test_kmv_sketch_shuffles_hashes_not_values(spark):
    """The exchange payload is the 8-byte hash column: no raw value
    column survives past the first projection."""
    from plan_checks import executed_plan

    df = _rows(spark, {"a": 100})
    out = kmv_distinct(df, ["grp"], "val", k=16)
    out.collect()
    plan = executed_plan(out)
    assert "_h" in plan


def test_histogram_percentiles_error_bound_and_merge(spark):
    """Estimates sit within one bin width of the exact percentile, and
    the sketch is mergeable: the histogram of a union equals the sum of
    histograms, so percentiles from pre-split data match the whole."""
    import random

    from ocr_spark.functions.sketches import histogram_percentiles

    rng = random.Random(9)
    vals = [round(rng.uniform(0, 100), 2) for _ in range(2000)]
    rows = [("g", v) for v in vals]
    df = spark.createDataFrame(rows, ["grp", "value"])
    out = {(r["pct_num"], r["pct_den"]): r["est_value"]
           for r in histogram_percentiles(df, ["grp"], "value").collect()}
    sv = sorted(vals)
    for num, den in [(50, 100), (90, 100), (99, 100)]:
        t = (num * len(sv) + den - 1) // den
        exact = sv[t - 1]
        assert abs(out[(num, den)] - exact) <= 1.0, (num, out, exact)
    # partitioning invariance == mergeability of value-anchored bins
    again = {(r["pct_num"], r["pct_den"]): r["est_value"]
             for r in histogram_percentiles(
                 df.repartition(13), ["grp"], "value").collect()}
    assert again == out


def test_histogram_percentiles_exact_on_bin_edges(spark):
    """Integer-valued data with width 1: every value sits on its bin's
    lower edge and the interior interpolation is exact."""
    from ocr_spark.functions.sketches import histogram_percentiles

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], ["grp", "value"])
    out = {r["pct_num"]: r["est_value"]
           for r in histogram_percentiles(df, ["grp"], "value").collect()}
    # with cnt=1 per bin the within-bin ramp ends at the upper edge:
    # est(t) = bin + (t - cumb)/cnt = bin + 1
    assert out[50] == 51.0 and out[90] == 91.0 and out[99] == 100.0


def test_kmv_incremental_via_snapstore(spark, tmp_path):
    """Incremental corpus stats: append each batch's sketch rows to a
    snapshot stats table at commit time; kmv_finalize over the table
    equals the one-shot sketch of all data ever committed (the
    union-then-trim merge law, exercised through the store). Time
    travel gives the stats as of any earlier snapshot."""
    from ocr_spark.functions.sketches import (
        kmv_distinct,
        kmv_finalize,
        kmv_sketch_rows,
    )
    from ocr_spark.sources.snapstore import SnapshotTable

    batch1 = _rows(spark, {"a": 300, "b": 8})
    batch2 = spark.createDataFrame(
        [("a", f"a:v{i}") for i in range(250, 550)]  # overlaps batch1
        + [("c", f"c:v{i}") for i in range(40)],
        ["grp", "val"],
    )
    store = SnapshotTable(str(tmp_path / "stats"))
    v1 = store.append(kmv_sketch_rows(batch1, ["grp"], "val", k=16))
    v2 = store.append(kmv_sketch_rows(batch2, ["grp"], "val", k=16))
    assert v2 > v1

    merged = sorted(map(tuple, kmv_finalize(
        store.read(spark), ["grp"], k=16).collect()))
    oneshot = sorted(map(tuple, kmv_distinct(
        batch1.unionByName(batch2), ["grp"], "val", k=16).collect()))
    assert merged == oneshot

    asof_v1 = sorted(map(tuple, kmv_finalize(
        store.read(spark, version=v1), ["grp"], k=16).collect()))
    only1 = sorted(map(tuple, kmv_distinct(
        batch1, ["grp"], "val", k=16).collect()))
    assert asof_v1 == only1


def test_kmv_null_values_and_null_group_keys(spark):
    """Null VALUES carry no hash and must not steal bottom-k slots
    (Spark ranks null-first, DuckDB nulls-last — excluded on both
    sides); a null GROUP key is a real group and must survive the
    pandas trim (dropna=False)."""
    rows = (
        [("a", f"a:v{i}") for i in range(30)]
        + [("a", None)] * 3
        + [(None, f"n:v{i}") for i in range(25)]
    )
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = {r["grp"]: r for r in kmv_distinct(
        df, ["grp"], "val", k=16).collect()}
    assert out["a"]["n_kept"] == 16      # nulls took no slot
    assert out[None]["n_kept"] == 16     # null group present
    trimless = {r["grp"]: r for r in kmv_distinct(
        df, ["grp"], "val", k=16, partial_trim=False).collect()}
    assert sorted(map(str, out)) == sorted(map(str, trimless))
    for g in out:
        assert out[g]["kth_hash"] == trimless[g]["kth_hash"]
