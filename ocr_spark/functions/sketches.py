"""Engine-neutral cardinality sketches for corpus statistics.

At 10^12-document scale, "how many distinct tokens / urls / shingles per
partition of the corpus" is a sketch problem — exact distinct counts
shuffle every value. The classic streaming answer is KMV (k minimum
values, Bar-Yossef et al. 2002, the bottom-k estimator HyperLogLog
descends from): hash every value uniformly, keep only the k smallest
hashes per group, estimate d ≈ (k-1) * H / h_(k) where h_(k) is the
k-th smallest hash and H the hash range. The sketch is tiny (k longs),
mergeable (union-then-trim), and — because our hash family is md5-based
(`hashfam.md5_base60`), not an engine-private RNG — EXACTLY reproducible
by the DuckDB oracle, unlike approx_count_distinct's HLL whose register
layout is engine-private.

Cross-engine determinism: the only non-integer step is the final
(k-1)*2^60 / h_k division. Both operands convert BIGINT→DOUBLE under
IEEE round-to-nearest identically on both engines, the division is
IEEE-exact, and the result is rounded to 3 decimals — no summation-order
freedom anywhere.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import hashfam

HASH_RANGE = float(hashfam.TWO_60)
KMV_K = 64


def spark_hash60(col) -> F.Column:
    """Full 60-bit md5 hash (no modulus — KMV needs the uniform range)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_hash60(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = KMV_K,
    partial_trim: bool = True,
) -> DataFrame:
    """Per-group distinct-count estimate via a k-minimum-values sketch.

    Returns one row per group: (group_cols..., n_kept, kth_hash,
    est_distinct). Groups with fewer than k distinct hashes report the
    EXACT count (the sketch holds every value); otherwise the bottom-k
    estimator (k-1) * 2^60 / h_(k), rounded to 3 decimals.

    Scale shape: TWO exchanges, both small by construction. Exchange 1
    finishes the (group, hash) dedup — its partial HashAggregate
    combines map-side, so the wire carries each mapper's local distinct
    set of 8-byte hashes, never raw values. Exchange 2 repartitions by
    group alone for the bottom-k window; with `partial_trim` (default)
    an Arrow-batched per-batch top-k runs between them, so exchange 2
    carries at most k rows per mapper-batch per group — the KMV merge
    law (union-then-trim; any globally-bottom-k hash is bottom-k within
    its own batch) makes the trim lossless. Without the trim, ultra-hot
    groups would sort their whole distinct set on one reducer. A
    single-exchange collect_set formulation exists but concentrates the
    ENTIRE per-group distinct set in one aggregation buffer — the
    distributed window is the shape that survives billion-distinct
    groups.
    """
    return kmv_finalize(
        kmv_sketch_rows(df, group_cols, value_col, k, partial_trim),
        group_cols, k,
    )


def kmv_sketch_rows(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    partial_trim: bool = True,
) -> DataFrame:
    """The PERSISTABLE form of the sketch: per group, the k smallest
    60-bit hashes as plain rows (group_cols..., _h). This is what an
    incremental pipeline appends to its stats table on every snapshot
    commit — sketches from any number of batches merge by
    union-then-trim (`kmv_finalize`), so corpus-lifetime distinct
    counts never rescan committed data."""
    h = spark_hash60(F.col(value_col).cast("string")).alias("_h")
    # null values carry no hash: md5(NULL) is NULL, and a null _h would
    # rank nulls-first in Spark vs NULLS LAST in DuckDB, stealing a
    # bottom-k slot on one engine only — exclude them on both sides
    # (the oracle builder filters the value expression identically)
    uniq = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h)
        .distinct()
    )
    if partial_trim:
        gc = list(group_cols)

        def _trim(batches):
            for pdf in batches:
                # dropna=False: a null GROUP key is a real group (the
                # SQL GROUP BY keeps it); pandas' default would silently
                # drop it from the sketch only when trimming
                yield (
                    pdf.sort_values("_h")
                    .groupby(gc, sort=False, dropna=False)
                    .head(k)
                )

        uniq = uniq.mapInPandas(_trim, schema=uniq.schema)
    w = W.partitionBy(*group_cols).orderBy("_h")
    return (
        uniq.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*group_cols, "_h")
    )


def kmv_finalize(
    rows: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Union-then-trim merge + estimator over any union of
    `kmv_sketch_rows` outputs (one batch or many): re-distinct (the
    same value may appear in several batch sketches), re-trim to the k
    smallest, then the bottom-k estimate. `kmv_distinct` IS this
    composition, so merged-incremental and one-shot sketches agree by
    construction."""
    uniq = rows.select(*group_cols, "_h").distinct()
    w = W.partitionBy(*group_cols).orderBy("_h")
    kept = uniq.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    return kept.groupBy(*group_cols).agg(
        F.count("_h").alias("n_kept"),
        F.max("_h").alias("kth_hash"),
    ).select(
        *group_cols,
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(
            F.round(
                F.lit(float(k - 1)) * F.lit(HASH_RANGE)
                / F.col("kth_hash").cast("double"), 3)
        ).alias("est_distinct"),
    )


def kmv_distinct_oracle_sql(
    source_sql: str,
    group_cols: list[str],
    value_expr: str,
) -> str:
    """DuckDB twin of `kmv_distinct` at k = `KMV_K`: identical hash,
    identical bottom-k rule, identical BIGINT→DOUBLE estimator
    arithmetic.
    `source_sql` supplies rows with the group columns and the value
    expression; `value_expr` must already be VARCHAR-typed (the Spark
    side casts to string before hashing)."""
    g = ", ".join(group_cols)
    return f"""
        WITH src AS ({source_sql}),
        uniq AS (
          SELECT DISTINCT {g}, {sql_hash60(value_expr)} AS h FROM src
          WHERE ({value_expr}) IS NOT NULL
        ), kept AS (
          SELECT {g}, h,
                 row_number() OVER (PARTITION BY {g} ORDER BY h) AS rn
          FROM uniq
        )
        SELECT {g}, count(h) AS n_kept, max(h) AS kth_hash,
               CASE WHEN count(h) < {KMV_K}
                    THEN CAST(count(h) AS DOUBLE)
                    ELSE round({float(KMV_K - 1)!r} * {HASH_RANGE!r}
                               / CAST(max(h) AS DOUBLE), 3)
               END AS est_distinct
        FROM kept WHERE rn <= {KMV_K}
        GROUP BY {g}
    """


def histogram_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """p50/p90/p99 estimates from a sparse unit-width histogram sketch —
    the 100 TB twin of the exact percentile aggregate (a9): exact
    percentile_cont needs a per-group sort of every value; the histogram
    needs ONE map-side-combined count per (group, bin) and is mergeable
    by addition (bins are value-anchored, so shards/snapshots combine
    exactly — the property t-digest buys with far more machinery, at
    the cost of a fixed resolution of 1).

    Estimator (deterministic, both engines): rank target t =
    ceil(p*n) computed in INTEGER arithmetic ((num*n + den - 1) div
    den); the first bin whose cumulative count reaches t holds the
    percentile; estimate = bin + (t - cum_before)/cnt —
    linear interpolation within the bin, error bounded by 1.
    Returns (group_cols..., pct_num, pct_den, est_value) with
    est_value rounded to 6.

    Scale shape: the (group, bin) aggregate combines map-side (bins per
    mapper bounded by the value range, not row count); the
    cumulative window and first-bin pick partition by group and reuse
    one shuffle; the percentile list is a literal cross join (tiny).
    """
    g = list(group_cols)
    spark = df.sparkSession
    binc = F.floor(F.col(value_col)).cast("long")
    hist = (
        df.select(*g, binc.alias("bin"))
        .groupBy(*g, "bin")
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = W.partitionBy(*g).orderBy("bin").rowsBetween(
        W.unboundedPreceding, 0)
    bins = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "cumb", F.col("cum") - F.col("cnt"))
    tot = hist.groupBy(*g).agg(F.sum("cnt").alias("n"))
    pcts = spark.createDataFrame(
        [(50, 100), (90, 100), (99, 100)],
        "pct_num long, pct_den long",
    )
    targets = tot.crossJoin(F.broadcast(pcts)).withColumn(
        "t",
        F.expr("(pct_num * n + pct_den - 1) div pct_den").cast("long"),
    )
    cand = targets.join(bins, g).filter(F.col("cum") >= F.col("t"))
    first = cand.groupBy(*g, "pct_num", "pct_den", "t").agg(
        F.min(F.struct("bin", "cumb", "cnt")).alias("b")
    )
    est = (
        F.col("b.bin").cast("double")
        + (F.col("t") - F.col("b.cumb")).cast("double")
        / F.col("b.cnt").cast("double")
    )
    return first.select(
        *g, "pct_num", "pct_den", F.round(est, 6).alias("est_value")
    )
