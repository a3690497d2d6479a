"""Benchmark harness (driver contract).

Runs the flagship interleaved-extraction job on the synthetic corpus with a
full span-sequence-equality check, then times every driver-contract query
from __spark_entry__.queries() against $SPARK_GRAFT_SF_DIR, and prints ONE
JSON line:

    {"metric": "extraction_docs_per_sec", "value": <docs/sec>,
     "unit": "docs/sec", "queries": {"q1_pricing_summary": sec, ...},
     "sf": 0.1, "equality_pct": 100.0, "flagship_sec": ...}

Env knobs:
    SPARK_GRAFT_SF_DIR   parquet table dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[N] cores (default: all cores, local[*])
    BENCH_SCALING=1      also run the flagship at local[8] and local[32]
                         on the same corpus and report scaling efficiency
                         (the in-sandbox stand-in for the N vs 4N executor
                         criterion in BASELINE.json).

Queries are forced with the noop sink (full computation, no driver
collect) so timings measure the whole plan, not just the count path.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _corpus_sf(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    try:
        return float(m.group(1).rstrip(".")) if m else 0.1
    except ValueError:
        return 0.1


def _corpus_fmt(sf: float) -> int | None:
    """Corpus format stamp (datagen fmt=N) of the flagship input, so a
    BENCH record names the exact variant mix its numbers were taken on."""
    from ocr_spark.datagen import corpus_dir

    try:
        with open(os.path.join(corpus_dir(sf), "_COMPLETE"),
                  encoding="utf-8") as fh:
            m = re.search(r"fmt=(\d+)", fh.read())
        return int(m.group(1)) if m else None
    except OSError:
        return None


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_flagship(spark, sf: float) -> dict:
    """Extraction throughput, gated on 100% span-sequence equality.

    Timed region = the full extraction job materialized to a noop sink
    (scan -> recognize + broadcast the needed blobs -> in-row strip and
    substitute pass; no shuffle of the documents). Reported time is the
    median of 5 reps, which absorbs up to two reps inflated by a
    host-noise window (shared hosts show minutes-long windows that slow
    single reps 2-3x). The equality gate runs
    after the clock stops (it is a correctness check, not pipeline work)
    and compares md5(canonical JSON) per doc via exceptAll — exact up to
    hash collision; pytest does the byte-exact comparison.

    A warmup pass on the sf0.001 corpus spawns the Python UDF workers and
    JIT/codegen-compiles the plan first — on a long-lived cluster those
    costs are paid once per executor, not per job, so they don't belong in
    a throughput number meant to project to 100 TB. One untimed full
    iteration on the measured corpus then warms the page cache, JIT and
    codegen cache, so the timed reps measure steady-state throughput.
    """
    from pyspark.sql import functions as F

    from ocr_spark.datagen import corpus_dir
    from ocr_spark.operators.extraction_inrow import (
        run_extraction_inrow as run_extraction,
    )

    def _load(d):
        return (
            spark.read.parquet(os.path.join(d, "documents_interleaved.parquet")),
            spark.read.parquet(os.path.join(d, "media_blobs.parquet")),
            spark.read.parquet(os.path.join(d, "expected_spans.parquet")),
        )

    wdocs, wblobs, _ = _load(corpus_dir(0.001))
    # repartition past the core count so EVERY task slot spawns its
    # Python UDF worker during warmup, not in the timed region
    par = spark.sparkContext.defaultParallelism * 2
    _force(run_extraction(wdocs.repartition(par), wblobs.repartition(par)))
    # also warm the pandas-UDF worker pool (mapInPandas spawns its
    # workers separately from the mapInArrow extraction pool; each
    # cold worker pays ~3s of fork+imports — a per-executor one-time
    # cost on a long-lived cluster, same stance as above)
    from ocr_spark.operators.ocr import (
        crop_blob_variants,
        recognize_blob_spans,
        recognize_blobs,
    )

    wb = wblobs.repartition(par)
    _force(recognize_blob_spans(wb))
    _force(recognize_blobs(crop_blob_variants(
        wb, modes=("top_half", "bottom_half"))))

    docs, blobs, expected = _load(corpus_dir(sf))
    n_docs = docs.count()

    _force(run_extraction(docs, blobs))
    times = []
    for _ in range(5):
        t0 = time.monotonic()
        result = run_extraction(docs, blobs)
        _force(result)
        times.append(time.monotonic() - t0)
    times.sort()
    elapsed = times[len(times) // 2]  # median

    def _digest(df):
        return df.select(
            "doc_id",
            F.md5(F.to_json(F.struct("out_spans", "codes"))).alias("digest"),
        )

    # Bidirectional gate: wrong/extra rows in result AND rows of expected
    # that result dropped (a silently-empty result must NOT score 100%).
    got, want = _digest(result), _digest(expected)
    n_bad = got.exceptAll(want).count() + want.exceptAll(got).count()
    eq_pct = 100.0 * (n_docs - n_bad) / max(n_docs, 1)
    return {
        "n_docs": n_docs,
        "flagship_sec": round(elapsed, 3),
        "all_reps_sec": [round(t, 3) for t in times],
        "docs_per_sec": round(n_docs / elapsed, 2),
        "equality_pct": round(eq_pct, 4),
    }


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    """Steady-state per-query seconds: first run warms codegen/JIT (a
    long-lived cluster pays that once), second run is reported.

    Between queries (UNTIMED), drop Python refs and force a JVM GC so
    the ContextCleaner releases the previous query's now-orphaned
    persisted/checkpointed blocks (the iterative operators return
    caller-owned persisted frames by contract; in a suite run the
    caller is this loop). Without it, later queries are measured
    against earlier queries' garbage — block-manager pressure that a
    per-job cluster or a session with its own GC cadence never sees.

    Queries are timed in FIXED canonical (sorted-by-name) order, NOT
    registry order: the registry is re-ordered each round for
    driver-evidence rotation, and round 4 showed that changing a query's
    suite position changes its cache/GC context enough to make
    round-over-round per-query deltas unreadable (m6_crop_half_ocr read
    3.2x slower purely from moving after the heavy dedup block).
    Canonical order keeps each query's neighbors — hence its measured
    context — identical across rounds regardless of registry edits.
    """
    import gc

    import __spark_entry__ as entrymod

    timings: dict[str, float] = {}
    qmap = entrymod.queries()
    for name in sorted(qmap):
        fn = qmap[name]
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            _force(fn(spark, sf_dir))
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    return timings


def run_scaling(sf: float) -> dict:
    """Same flagship job at local[8] and local[32]; efficiency = speedup/4.

    In-sandbox stand-in for the BASELINE.json 'N vs 4N executors' criterion
    (driver-approved substitute; see BASELINE.md). Steady-state protocol:
    per core count, one untimed warm iteration then median of 5 timed reps
    on the identical input.
    """
    from ocr_spark.session import get_spark, stop_spark

    pair = os.environ.get("BENCH_SCALING_CORES", "8,32")
    n_lo, n_hi = (int(x) for x in pair.split(","))
    out: dict = {"sf": sf, "pair": f"local[{n_lo}] -> local[{n_hi}]"}
    for cores in (n_lo, n_hi):
        stop_spark()
        spark = get_spark(app_name=f"bench-scaling-{cores}", cores=cores)
        stats = run_flagship(spark, sf)
        out[f"local[{cores}]"] = {
            "docs_per_sec": stats["docs_per_sec"],
            "sec": stats["flagship_sec"],
            "all_reps_sec": stats["all_reps_sec"],
            "equality_pct": stats["equality_pct"],
        }
        stop_spark()
    thr_lo = out[f"local[{n_lo}]"]["docs_per_sec"]
    thr_hi = out[f"local[{n_hi}]"]["docs_per_sec"]
    out["speedup"] = round(thr_hi / thr_lo, 3)
    out["scaling_efficiency"] = round(
        thr_hi / thr_lo / (n_hi / n_lo), 3
    )
    return out


# The heaviest suite operators: the slowest rows of BENCH_r03 plus the
# round-4 iterative additions (dedup_components_bigstar,
# dedup_cluster_keep_best) — all iterative or multi-stage
# (persist/unpersist pressure), so their scaling behavior is not
# predicted by the flagship's single-pass pipeline. Components runs as
# the PRODUCTION bigstar variant: the inflated scaling corpus creates
# near-dup chains whose diameter exceeds the fixed-round query's unroll
# (its convergence guard raises there — by design; the until-fixpoint
# variant is exactly what production would run on such a graph).
_HEAVY_QUERIES = (
    "dedup_components_bigstar",
    "dedup_cluster_keep_best",
    "graph_pagerank",
    "nb_quality_classifier",
    "dedup_substring_runs",
    "dedup_substring_trim",
)


def _scaled_tables(sf_dir: str, mult: int) -> str:
    """Deterministic xN inflation of the driver tables the heavy queries
    read, for the per-query scaling pair.

    At sf0.1 the heavy queries finish in 2-4 s — task scheduling and
    shuffle-partition fixed costs dominate, so an 8 -> 32 pair measures
    overhead, not the operator (three of five showed ANTI-scaling on the
    raw sf0.1 input). Cloning each table `mult` times with keys remapped
    as key*mult + rep (referential integrity preserved: orders.o_custkey
    follows customer.c_custkey under the same formula and rep) gives a
    compute-dominated input while staying fully derived from the
    provided testdata — no external or random data. Text is prefixed
    with a per-rep token so clones are near-dups (banded-LSH workload),
    not 16-way exact clone cliques that would quadratically inflate the
    pair graph beyond anything a real corpus produces.
    """
    from pyspark.sql import functions as F

    from ocr_spark.session import get_spark, stop_spark

    out = f"/tmp/qscale_{mult}x_{os.path.basename(sf_dir.rstrip('/'))}"
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    stop_spark()
    spark = get_spark(app_name="bench-qscale-datagen", cores=32)
    reps = spark.range(mult).withColumnRenamed("id", "rep")

    def scale(name: str, keys: list[str], text_col: str | None = None):
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df = df.crossJoin(F.broadcast(reps))
        for kcol in keys:
            df = df.withColumn(kcol, F.col(kcol) * mult + F.col("rep"))
        if text_col is not None:
            df = df.withColumn(
                text_col,
                F.concat(F.format_string("rep%d ", "rep"), F.col(text_col)),
            )
        (df.drop("rep").repartition(32)
           .write.mode("overwrite")
           .parquet(os.path.join(out, f"{name}.parquet")))

    scale("documents", ["doc_id"], text_col="text")
    scale("customer", ["c_custkey"])
    scale("supplier", ["s_suppkey"])
    scale("orders", ["o_orderkey", "o_custkey"])
    scale("lineitem", ["l_orderkey", "l_suppkey"])
    stop_spark()
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write(f"mult={mult} src={sf_dir}\n")
    return out


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across all stages so far, from the
    AppStatusStore (the same numbers the Spark UI reports). Callers diff
    before/after a query to get that query's shuffle volume — the
    cluster-shaped evidence for WHY a shuffle-heavy operator's local
    scaling efficiency caps out (constant bytes/core across core counts
    = memory-bus bound, not algorithmically serial)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    # Scala default args aren't filled in by py4j — resolve them via the
    # compiler-generated stageList$default$N accessors
    defaults = [getattr(store, f"stageList$default${i}")()
                for i in range(2, 6)]
    stages = store.stageList(sc._jvm.java.util.ArrayList(), *defaults)
    return sum(
        stages.apply(i).shuffleWriteBytes() for i in range(stages.size())
    )


def run_query_scaling(sf_dir: str) -> dict:
    """Per-query scaling pair for the heaviest suite queries.

    Runs each of _HEAVY_QUERIES at local[8] and local[32] on the same
    deterministically inflated input (one untimed warm pass then median
    of 3 timed reps per core count) and reports per-query throughput
    ratio / 4 — the same N->4N evidence the flagship has, extended to
    the iterative-loop operators whose persist/unpersist pressure the
    flagship can't probe.
    """
    import __spark_entry__ as entrymod

    from ocr_spark.session import get_spark, stop_spark

    pair = os.environ.get("BENCH_SCALING_CORES", "8,32")
    mult = int(os.environ.get("BENCH_QSCALE_MULT", "64"))
    n_reps = int(os.environ.get("BENCH_QSCALE_REPS", "3"))
    # comma-list override so a targeted re-measure (e.g. just the substring
    # pair for shuffle-volume evidence) doesn't pay for the full heavy set
    heavy = tuple(
        q for q in os.environ.get(
            "BENCH_QSCALE_QUERIES", ",".join(_HEAVY_QUERIES)).split(",")
        if q
    )
    n_lo, n_hi = (int(x) for x in pair.split(","))
    data_dir = _scaled_tables(sf_dir, mult) if mult > 1 else sf_dir
    qmap = entrymod.queries()
    out: dict = {
        "pair": f"local[{n_lo}] -> local[{n_hi}]",
        "input": f"{data_dir} ({mult}x {sf_dir})",
        "queries": {},
    }
    secs: dict[str, dict[int, float]] = {q: {} for q in heavy}
    shuf: dict[str, dict[int, float]] = {q: {} for q in heavy}
    for cores in (n_lo, n_hi):
        stop_spark()
        spark = get_spark(
            app_name=f"bench-qscaling-{cores}", cores=cores,
            # the shuffle-bytes diff reads the status store; default
            # retention (1000 stages) could evict stages between the
            # before/after reads of a many-stage iterative query
            extra_conf={"spark.ui.retainedStages": "100000"},
        )
        for q in heavy:
            _force(qmap[q](spark, data_dir))  # untimed warm pass
            sb0 = _shuffle_write_bytes(spark)
            reps = []
            for _ in range(n_reps):
                t0 = time.monotonic()
                _force(qmap[q](spark, data_dir))
                reps.append(time.monotonic() - t0)
            # per-rep shuffle volume is deterministic; average over reps
            shuf[q][cores] = round(
                (_shuffle_write_bytes(spark) - sb0) / n_reps / 2**20, 1
            )
            reps.sort()
            # lower median: with an even rep count, len//2 would report
            # the WORSE half (max of 2) — noise-asymmetric on this VM,
            # where contamination only ever inflates
            secs[q][cores] = reps[(len(reps) - 1) // 2]
            # untimed: release the query's orphaned persisted/checkpoint
            # blocks before the next one (same hygiene as run_queries)
            import gc as _gc
            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        stop_spark()
    for q in heavy:
        lo, hi = secs[q][n_lo], secs[q][n_hi]
        out["queries"][q] = {
            f"local[{n_lo}]_sec": round(lo, 3),
            f"local[{n_hi}]_sec": round(hi, 3),
            "speedup": round(lo / hi, 3),
            "scaling_efficiency": round(lo / hi / (n_hi / n_lo), 3),
            f"shuffle_write_mb_local[{n_lo}]": shuf[q][n_lo],
            f"shuffle_write_mb_local[{n_hi}]": shuf[q][n_hi],
        }
    return out


def main() -> None:
    # The driver parses stdout for the result JSON. Spark's JVM writes
    # log/progress noise (including \r-rewritten lines) straight to fd 1,
    # which broke the r03 parse. Guarantee the JSON is the ONLY bytes on
    # the real stdout: save the inherited fd 1, point fd 1 at stderr
    # BEFORE the JVM launches, and write the single JSON line to the
    # saved fd at the end.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _corpus_sf(sf_dir)

    from ocr_spark.session import get_spark, stop_spark

    spark = get_spark(app_name="bench")
    flagship = run_flagship(spark, sf)
    timings = run_queries(spark, sf_dir)
    stop_spark()

    full = {
        "metric": "extraction_docs_per_sec",
        "value": flagship["docs_per_sec"],
        "unit": "docs/sec",
        "queries": timings,
        "sf": sf,
        "n_docs": flagship["n_docs"],
        "flagship_sec": flagship["flagship_sec"],
        "equality_pct": flagship["equality_pct"],
        "corpus_fmt": _corpus_fmt(sf),
    }
    if os.environ.get("BENCH_SCALING") == "1":
        scaling_sf = float(os.environ.get("BENCH_SCALING_SF", "1.0"))
        full["scaling"] = run_scaling(scaling_sf)
    if os.environ.get("BENCH_QUERY_SCALING") == "1":
        full["query_scaling"] = run_query_scaling(sf_dir)

    # Full record (per-query map + scaling blocks) goes to a side file —
    # the driver captures only the last ~2,000 chars of stdout, and the
    # one-line full payload outgrew that window as the suite passed 70
    # queries (BENCH_r03/r04 both recorded "parsed": null). The stdout
    # line is a compact headline guaranteed to fit: flagship metric plus
    # the timings of a fixed representative query subset.
    with open(os.path.join(REPO, "BENCH_QUERIES.json"), "w",
              encoding="utf-8") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    headline_queries = {
        q: timings[q]
        for q in (
            "q1_pricing_summary",
            "m6_crop_half_ocr",
            "dedup_minhash_lsh",
            "dedup_components_bigstar",
            "dedup_cluster_keep_best",
            "dedup_substring_trim",
            "nb_quality_classifier",
            "graph_pagerank",
            "ann_ivf_trained_topk",
            "text_line_dedup",
        )
        if q in timings
    }
    payload = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "sf": sf,
        "n_docs": full["n_docs"],
        "flagship_sec": full["flagship_sec"],
        "equality_pct": full["equality_pct"],
        "corpus_fmt": full["corpus_fmt"],
        "n_queries": len(timings),
        "queries_total_sec": round(sum(timings.values()), 3),
        "queries": headline_queries,
        "all_queries_file": "BENCH_QUERIES.json",
    }
    print(json.dumps(full), file=sys.stderr)  # full copy in the log stream
    line = json.dumps(payload)
    assert len(line) < 1800, f"headline JSON too long ({len(line)} chars)"
    os.write(real_stdout, (line + "\n").encode())
    os.close(real_stdout)


if __name__ == "__main__":
    main()
