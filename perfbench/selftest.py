"""Self-test of the benchmark's correctness gate.

    python3 perfbench/selftest.py

Runs in-row ops and merge deliveries on small corpora through the same op
and gate code the benchmark uses, once clean and once per corruption of the
program's output: one span dropped, two spans swapped, and an empty result.
Exits 0 only if the clean ops pass at 100% equality and every corrupted op
is counted failed with equality below 100%.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402
from perfbench.corpus import build, derive_seed  # noqa: E402

DOCS = 150
BATCH = 50


def _corrupt(kind: str):
    """DataFrame -> DataFrame that damages the first multi-span doc."""
    from pyspark.sql import functions as F

    def apply(df):
        if kind == "empty":
            return df.limit(0)
        victim = (df.where(F.size("out_spans") >= 2)
                  .agg(F.min("doc_id")).first()[0])
        hit = F.col("doc_id") == F.lit(victim)
        spans = F.col("out_spans")
        if kind == "drop":
            bad = F.slice(spans, 2, F.size(spans))
        else:  # swap the first two spans
            bad = F.concat(F.array(spans[1], spans[0]),
                           F.slice(spans, 3, F.size(spans)))
        return df.withColumn(
            "out_spans", F.when(hit, bad).otherwise(spans))
    return apply


def _patched(module, attr: str, corrupt):
    orig = getattr(module, attr)

    def damaged(*args, **kwargs):
        return corrupt(orig(*args, **kwargs))

    setattr(module, attr, damaged)
    return lambda: setattr(module, attr, orig)


def _inrow_case(spark, run, corpus_dir: str, kind: str | None) -> dict:
    from ocr_spark.operators import extraction_inrow

    restore = (_patched(extraction_inrow, "run_extraction_inrow",
                        _corrupt(kind)) if kind else (lambda: None))
    try:
        run.ops = [bench.inrow_op(spark, run, corpus_dir, False, "op")]
        bench.inrow_gate(spark, run.ops)
    finally:
        restore()
    return {"failed": sum(not bench.op_ok(o) for o in run.ops),
            "equality_pct": bench.inrow_metrics(run)["equality_pct"]}


def _merge_case(spark, run, corpus_dir: str, kind: str | None) -> dict:
    from ocr_spark.operators import resumable

    restore = (_patched(resumable, "run_extraction", _corrupt(kind))
               if kind else (lambda: None))
    try:
        sess = bench.MergeSession(spark, run, corpus_dir, kind or "clean",
                                  BATCH)
        run.ops = []
        for i in range(DOCS // BATCH):
            run.ops += [sess.deliver(i, False, False),
                        sess.deliver(i, True, False)]
        bad, checks = sess.end_gate()
    finally:
        restore()
    sess.mark_failed(run.ops, bad)
    run.bad_docs = len(bad)
    return {"failed": sum(not bench.op_ok(o) for o in run.ops),
            "equality_pct": bench.merge_metrics(run)["equality_pct"],
            "checks": checks}


def main() -> int:
    from perfbench.trace import Tracer

    work = os.path.join(bench.WORK, f"selftest-{os.getpid()}")
    os.makedirs(work)
    spark = None
    report: dict = {}
    try:
        corpus = os.path.join(bench.WORK, "corpus")
        inrow_dir = build(bench.ROOT, os.path.join(
            corpus, f"selftest-inrow-{DOCS}"), DOCS,
            derive_seed("selftest", "inrow"))
        merge_dir = build(bench.ROOT, os.path.join(
            corpus, f"selftest-merge-{DOCS}-b{BATCH}"), DOCS,
            derive_seed("selftest", "merge"), BATCH)
        spark = bench.start_spark(work)
        run = bench.Run(types.SimpleNamespace(seed=0, seconds=0, trace=0),
                        work)
        run.tracer = Tracer(spark)
        for kind in (None, "drop", "swap", "empty"):
            name = kind or "clean"
            report[f"inrow_{name}"] = _inrow_case(spark, run, inrow_dir, kind)
            report[f"merge_{name}"] = _merge_case(spark, run, merge_dir, kind)
    finally:
        if spark is not None:
            bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ok = True
    for name, r in report.items():
        clean = name.endswith("_clean")
        passed = (r["failed"] == 0 and r["equality_pct"] == 100.0
                  if clean else r["failed"] > 0 and r["equality_pct"] < 100.0)
        r["as_expected"] = passed
        ok = ok and passed
    print(json.dumps({"ok": ok, "cases": report}, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    if os.environ.get(bench.WORKER_ENV) == "1":
        sys.exit(main())
    from perfbench.reap import supervise

    sys.exit(supervise([sys.executable, os.path.abspath(__file__)],
                       {**os.environ, bench.WORKER_ENV: "1"}))
