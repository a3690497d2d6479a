"""Benchmark entry point: closed-loop workloads over the extraction engine.

    python3 perfbench/run.py --workload inrow_mixed --seed 1 --seconds 10 \
        --trace 0

One client issues the next op only after the previous one completes. The
program receives only generated tables; every op's output is checked
against the generator's goldens. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` a separate, traced run reports the per-layer ones and writes
the full ledger (spans, self times, per-op figures) to
``.bench_work/ledger/``.

Workloads (sizes in perfbench/README.md):

* ``inrow_mixed`` -- one-shot in-row extraction
  (``operators/extraction_inrow.run_extraction_inrow``) of a mixed
  text+media corpus into a noop sink. Every op gets a corpus of its own
  seed, so no op reads blob content an earlier op read.
* ``incremental_merge`` -- ingest batches in doc_id order, each committed
  by ``operators/resumable.run_extraction_resumable`` into fresh results
  and audit snapshot tables, then redelivered once (at-least-once
  delivery); the redelivery must process 0 docs.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
WORK = os.path.join(ROOT, ".bench_work")
# set in the child that does the work; the parent only reaps (reap.py)
WORKER_ENV = "PERFBENCH_WORKER"

CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"

INROW_DOCS = 1000      # docs per in-row op
# warm-up: the first op spawns the Python workers; op time then keeps
# falling for several more ops while the JVM compiles the planner and the
# data path, so warm-up cycles through its corpora INROW_WARM_OPS times
INROW_WARM_CORPORA = 3
INROW_WARM_OPS = 7
INROW_POOL = 6         # measured corpora; a run ends early if all are used
MERGE_BATCH = 300      # docs per ingest batch
MERGE_BATCHES = 6      # batches in one run's corpus
MERGE_WARM_BATCHES = 2  # the first commit (no merge) and the first merge

PROBE_BLOBS_PER_CODEC = 24
PROBE_TEXT_SPANS = 300


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares: the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---- Spark session --------------------------------------------------------

def start_spark(run_dir: str):
    """Session on every core of the box with an explicit heap; scratch
    space, temp files and the workers' import path stay in the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from ocr_spark.session import get_spark

    return get_spark(
        app_name="perfbench", cores=CORES, driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the Python driver launched."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def table_path(corpus_dir: str, name: str) -> str:
    return os.path.join(corpus_dir, f"{name}.parquet")


# ---- layer probes (traced runs only, outside every op span) ---------------

def probe_layers(corpus_dir: str, refs: list[str], docs_path: str) -> dict:
    """Per-call cost of the recognizer, the payload codecs and the
    boilerplate stripper, timed in this process on the op's own inputs."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from ocr_spark.functions.boilerplate_core import strip_boilerplate
    from ocr_spark.operators import ocr
    from ocr_spark.png_codec import blob_to_array

    recognizer = ocr._Recognizer.get()
    blobs = ds.dataset(table_path(corpus_dir, "media_blobs")).to_table(
        columns=["media_ref", "height", "width", "pixels", "codec"],
        filter=pc.field("media_ref").isin(refs[:5000]))
    by_codec: dict[str, list] = {}
    for row in blobs.sort_by("media_ref").to_pylist():
        bucket = by_codec.setdefault(row["codec"], [])
        if len(bucket) < PROBE_BLOBS_PER_CODEC:
            bucket.append(row)
    out: dict = {}
    for codec, rows in by_codec.items():
        dec = rec = 0.0
        for r in rows:
            t0 = time.perf_counter()
            blob_to_array(r["pixels"], r["height"], r["width"])
            t1 = time.perf_counter()
            recognizer.recognize(r["pixels"], r["height"], r["width"])
            t2 = time.perf_counter()
            dec += t1 - t0
            rec += t2 - t1
        out[f"decode_ms.{codec}"] = 1000 * dec / len(rows)
        out[f"ms_per_blob.{codec}"] = 1000 * rec / len(rows)
    spans = ds.dataset(docs_path).to_table(columns=["spans"])
    flat = spans.column("spans").combine_chunks().flatten()
    texts = pc.drop_null(pc.filter(
        flat.field("text"),
        pc.fill_null(pc.equal(flat.field("kind"), "text"), False),
    )).to_pylist()[:PROBE_TEXT_SPANS]
    t0 = time.perf_counter()
    for t in texts:
        strip_boilerplate(t)
    out["strip_ms_per_span"] = (
        1000 * (time.perf_counter() - t0) / len(texts) if texts else 0.0)
    return out


def codes_seconds(spark, expected) -> float:
    """Catalyst code extraction over the op's golden span texts: one job
    with ``codes_from_text`` minus the same job without it, best of 3."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.vouchers import codes_from_text

    text = F.array_join(F.transform("out_spans", lambda s: s["text"]), "\n")
    best = []
    for cols in ([text.alias("t")], [codes_from_text(text).alias("c")]):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            out = expected.select(*cols)
            out.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        best.append(min(times))
    return best[1] - best[0]


# ---- run bookkeeping ------------------------------------------------------

class Run:
    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.ops: list[dict] = []     # measured ops, in order
        self.warm: list[dict] = []    # warm-up ops (gated, not measured)
        self.layers: list[dict] = []  # per traced op: layer figures
        self.checks: dict[str, bool] = {}
        self.bad_docs = 0             # incremental_merge: final-table gate
        self.inputs: dict = {}
        self.times: dict[str, float] = {}
        self.tracer = None
        self.rss = None

    def traced_op(self, op_id: str, fn):
        """Run ``fn`` with spans on; return its result and the op's
        layer figures (self times, stage metrics)."""
        tr = self.tracer
        tr.enabled, tr.op_id = True, op_id
        try:
            result = fn()
        finally:
            tr.enabled = False
        spans = tr.op_spans(op_id)
        return result, tr.self_times(spans), tr.stage_metrics(spans)


def op_ok(op: dict) -> bool:
    return op.get("error") is None and op.get("ok", False)


def spark_figures(stage: dict[str, dict]) -> dict:
    heaviest = max(stage.values(), key=lambda m: m.get("heaviest_ms", 0),
                   default={})
    return {
        "spark.shuffle_write_mb": sum(
            m["shuffle_write_bytes"] for m in stage.values()) / 2**20,
        "spark.spill_mb": sum(
            m["spill_bytes"] for m in stage.values()) / 2**20,
        "spark.task_time_max_over_median": heaviest.get("skew", 1.0),
    }


# ---- inrow_mixed ------------------------------------------------------------

def inrow_prepare(run: Run) -> dict:
    from perfbench.corpus import build_many, derive_seed, load_stats

    seed = run.args.seed
    roles = ([f"warm{i}" for i in range(INROW_WARM_CORPORA)]
             + [f"op{i}" for i in range(INROW_POOL)])
    specs = []
    for role in roles:
        # warm-up corpora do not depend on the run seed, so every run after
        # the first in a checkout finds them cached
        s = (derive_seed("inrow_mixed", role) if role.startswith("warm")
             else derive_seed("inrow_mixed", seed, role))
        specs.append((os.path.join(
            WORK, "corpus", f"mixed-n{INROW_DOCS}-s{s}"), INROW_DOCS, s))
    dirs = build_many(ROOT, specs, CORES)
    stats = load_stats(dirs[-1])
    run.inputs = {
        "docs_per_op": INROW_DOCS, "corpora": len(dirs),
        "text_spans_per_op": stats["text_spans"],
        "media_spans_per_op": stats["media_spans"],
        "blob_pool_per_op": stats["blobs"], "codecs_per_op": stats["codecs"],
    }
    return {"warm": dirs[:INROW_WARM_CORPORA],
            "ops": dirs[INROW_WARM_CORPORA:]}


def inrow_op(spark, run: Run, corpus_dir: str, traced: bool,
             op_id: str) -> dict:
    from ocr_spark.operators import extraction_inrow

    from perfbench import gate

    docs = spark.read.parquet(table_path(corpus_dir, "documents_interleaved"))
    blobs = spark.read.parquet(table_path(corpus_dir, "media_blobs"))
    tr = run.tracer

    def once():
        t0 = time.perf_counter()
        with tr.span("op"):
            result = extraction_inrow.run_extraction_inrow(docs, blobs)
            out, obs = gate.observed(result)
            with tr.span("extraction_inrow.strip_pass"):
                out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, obs

    op = {"corpus": corpus_dir, "traced": traced, "error": None}
    try:
        if traced:
            (wall, obs), self_t, stage = run.traced_op(op_id, once)
        else:
            wall, obs = once()
        op["wall"] = wall
        op["digest"] = gate.from_observation(obs)
    except Exception:
        op["error"] = traceback.format_exc()
        log(f"{op_id} raised:\n{op['error']}")
        return op
    if traced:
        plan = self_t.get("extraction_inrow.run_extraction_inrow", 0.0)
        layer = {
            "op": op_id, "op_s": wall,
            "extraction_inrow.plan_s": plan,
            "extraction_inrow.recognize_collect_s":
                self_t.get("extraction_inrow.recognized_map", 0.0),
            "extraction_inrow.broadcast_s":
                self_t.get("SparkContext.broadcast", 0.0),
            "extraction_inrow.strip_pass_s":
                self_t.get("extraction_inrow.strip_pass", 0.0),
            "self_times": self_t, "stages": stage,
        }
        layer["layer_sum_s"] = sum(v for k, v in self_t.items() if k != "op")
        layer.update(spark_figures(stage))
        run.layers.append(layer)
    return op


def inrow_gate(spark, ops: list[dict]) -> None:
    """Post-clock gate of in-row ops: golden digests in one job, then a
    per-doc comparison for any op whose digest differs."""
    from ocr_spark.operators import extraction_inrow

    from perfbench import gate

    wants = {d: spark.read.parquet(table_path(d, "expected_spans"))
             for d in {op["corpus"] for op in ops}}
    want_digests = gate.digests(wants)
    for op in ops:
        d = op["corpus"]
        if op["error"] is not None:
            op["docs"], op["equal"], op["ok"] = 0, 0, False
            continue

        def recompute(d=d):
            return extraction_inrow.run_extraction_inrow(
                spark.read.parquet(table_path(d, "documents_interleaved")),
                spark.read.parquet(table_path(d, "media_blobs")))

        op["equal"], op["docs"] = gate.equal_docs(
            op["digest"], want_digests[d], wants[d], recompute)
        op["ok"] = op["docs"] > 0 and op["equal"] == op["docs"]


def inrow_traced_setup(run: Run) -> None:
    from pyspark import SparkContext

    from ocr_spark.operators import extraction_inrow

    tr = run.tracer
    tr.wrap(extraction_inrow, "run_extraction_inrow",
            "extraction_inrow.run_extraction_inrow")
    tr.wrap(extraction_inrow, "recognized_map",
            "extraction_inrow.recognized_map")
    tr.wrap(SparkContext, "broadcast", "SparkContext.broadcast")


def run_inrow(spark, run: Run, plan: dict) -> None:
    from perfbench.corpus import blob_contents, load_stats

    for i in range(INROW_WARM_OPS):
        d = plan["warm"][i % len(plan["warm"])]
        run.warm.append(inrow_op(spark, run, d, False, f"warm{i}"))
    run.times["setup.warmup_s"] = time.monotonic() - run.times["_warm0"]
    run.times["setup_end"] = time.monotonic()
    run.rss.start()

    trace = bool(run.args.trace)
    if trace:
        inrow_traced_setup(run)
    seen: set[str] = set()  # blob contents an earlier measured op read
    deadline = time.perf_counter() + run.args.seconds
    for i, d in enumerate(plan["ops"]):
        if i and time.perf_counter() >= deadline:
            break
        traced = trace and i % 2 == 1
        op = inrow_op(spark, run, d, traced, f"op{i}")
        run.ops.append(op)
        stats = load_stats(d)
        contents = blob_contents(stats, stats["refs"])
        if traced and op["error"] is None:
            probe = probe_layers(
                d, stats["refs"], table_path(d, "documents_interleaved"))
            want = spark.read.parquet(table_path(d, "expected_spans"))
            layer = run.layers[-1]
            layer["probe"] = probe
            layer["vouchers.codes_s"] = codes_seconds(spark, want)
            layer["ocr.blobs_recognized"] = len(stats["refs"])
            layer["ocr.blob_reuse_pct"] = (
                100.0 * len(contents & seen) / max(len(contents), 1))
            layer["boilerplate_core.text_mb"] = stats["text_bytes"] / 1e6
        seen |= contents
    run.tracer.unwrap()
    run.rss.stop()
    inrow_gate(spark, run.warm + run.ops)


def inrow_metrics(run: Run) -> dict:
    good = [o for o in run.ops if o["error"] is None]
    op_s = median(o["wall"] for o in good if not o["traced"])
    n_docs = sum(o["docs"] for o in run.ops) or INROW_DOCS
    return {
        "docs_per_s": INROW_DOCS / op_s if op_s else 0.0,
        "commit_s_p50": op_s,
        "equality_pct": 100.0 * sum(o["equal"] for o in run.ops) / n_docs,
    }


# ---- incremental_merge ------------------------------------------------------

def merge_prepare(run: Run) -> dict:
    from perfbench.corpus import build, derive_seed, load_stats

    s = derive_seed("incremental_merge", run.args.seed)
    n = MERGE_BATCHES * MERGE_BATCH
    corpus_dir = build(ROOT, os.path.join(
        WORK, "corpus", f"merge-n{n}-b{MERGE_BATCH}-s{s}"),
        n, s, MERGE_BATCH, CORES)
    stats = load_stats(corpus_dir)
    run.inputs = {
        "docs": stats["n_docs"], "batch_docs": MERGE_BATCH,
        "batches": MERGE_BATCHES, "text_spans": stats["text_spans"],
        "media_spans": stats["media_spans"], "blob_pool": stats["blobs"],
        "codecs": stats["codecs"],
        "distinct_blobs_per_batch": [len(r) for r in stats["batch_refs"]],
    }
    return {"corpus": corpus_dir}


def _manifest(table, version) -> dict[str, list[str]]:
    if version is None:
        return {}
    path = os.path.join(table.path, "_snapshots", f"v{version}.json")
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)["buckets"]


def _files(manifest: dict) -> set[str]:
    return {f for fl in manifest.values() for f in fl}


def _bytes(files) -> int:
    return sum(os.path.getsize(f) for f in files)


class MergeSession:
    """One pair of fresh results + audit tables fed batch by batch."""

    def __init__(self, spark, run: Run, corpus_dir: str, tag: str,
                 batch_docs: int) -> None:
        from ocr_spark.sources.snapstore import SnapshotTable

        self.spark, self.run, self.corpus = spark, run, corpus_dir
        self.batch_docs = batch_docs
        base = os.path.join(run.run_dir, f"tables-{tag}")
        self.results = SnapshotTable(os.path.join(base, "results"),
                                     key_col="doc_id")
        self.audit = SnapshotTable(os.path.join(base, "audit"))
        self.blobs = spark.read.parquet(table_path(corpus_dir, "media_blobs"))
        self.delivered = 0
        self.fresh_versions: list[int] = []
        self.committed_docs = 0

    def deliver(self, i: int, replay: bool, traced: bool) -> dict:
        from ocr_spark.operators import resumable

        batch = self.spark.read.parquet(os.path.join(
            self.corpus, "batches", f"b{i:03d}"))
        op_id = f"b{i}{'r' if replay else ''}"
        before = _manifest(self.results, self.results.current_version())

        def once():
            t0 = time.perf_counter()
            with self.run.tracer.span("op"):
                r = resumable.run_extraction_resumable(
                    batch, self.blobs, self.results, self.audit)
            return time.perf_counter() - t0, r

        op = {"batch": i, "replay": replay, "traced": traced, "error": None,
              "docs": 0 if replay else self.batch_docs}
        try:
            if traced:
                (wall, r), self_t, stage = self.run.traced_op(op_id, once)
            else:
                wall, r = once()
        except Exception:
            op["error"] = traceback.format_exc()
            op["ok"] = False
            log(f"{op_id} raised:\n{op['error']}")
            return op
        op["wall"], op["n_processed"] = wall, r["n_processed"]
        op["ok"] = r["n_processed"] == (0 if replay else self.batch_docs)
        if not replay:
            self.delivered = i + 1
        if r["n_processed"]:
            self.fresh_versions.append(r["results_version"])
            self.committed_docs += r["n_processed"]
        if traced:
            self._layer(op_id, op, wall, before, self_t, stage)
        return op

    def _layer(self, op_id, op, wall, before, self_t, stage) -> None:
        after = _manifest(self.results, self.results.current_version())
        own = self_t.get("resumable.run_extraction_resumable", 0.0)
        layer = {"op": op_id, "op_s": wall, "replay": op["replay"],
                 "self_times": self_t, "stages": stage}
        layer["layer_sum_s"] = sum(v for k, v in self_t.items() if k != "op")
        layer.update(spark_figures(stage))
        if op["replay"]:
            layer["resumable.replay_s"] = wall
            layer["resumable.skipped_docs"] = (
                self.batch_docs - op["n_processed"])
        else:
            new_files = _files(after) - _files(before)
            table_bytes = _bytes(_files(after))
            row_bytes = table_bytes / max(self.committed_docs, 1)
            layer.update({
                "extraction.extract_s": own,
                "extraction.shuffle_write_mb": stage.get(
                    "resumable.run_extraction_resumable", {}).get(
                    "shuffle_write_bytes", 0) / 2**20,
                "snapstore.merge_s": self_t.get("snapstore.merge_upsert", 0.0),
                "snapstore.append_s": self_t.get("snapstore.append", 0.0),
                "snapstore.buckets_rewritten": sum(
                    1 for b, fl in after.items() if before.get(b) != fl),
                "snapstore.write_amp": _bytes(new_files)
                / max(op["n_processed"] * row_bytes, 1.0),
            })
        self.run.layers.append(layer)

    def expected(self, lo: int, hi: int):
        """Goldens of batches ``lo`` .. ``hi - 1``."""
        from pyspark.sql import functions as F

        doc = F.col("doc_id")
        return self.spark.read.parquet(table_path(
            self.corpus, "expected_spans")).where(
            (doc >= f"doc-{lo * self.batch_docs:08d}")
            & (doc < f"doc-{hi * self.batch_docs:08d}"))

    def end_gate(self) -> tuple[list[str], dict[str, bool]]:
        """Wrong, missing or extra doc ids of the final results table, and
        the table checks."""
        from perfbench import gate

        want = self.expected(0, self.delivered)
        got = self.results.read(self.spark)
        if got is None:
            got = want.limit(0)
        bad = gate.bad_doc_ids(got.select("doc_id", "out_spans", "codes"),
                               want)
        audit = self.audit.read(self.spark)
        audit_versions = (
            sorted(r[0] for r in audit.select("results_version")
                   .distinct().collect()) if audit is not None else [])
        checks = {
            "audit_row_set_per_fresh_commit":
                audit_versions == sorted(self.fresh_versions),
            "results_snapshots_equal_fresh_commits":
                len(self.results.versions()) == len(self.fresh_versions),
        }
        return bad, checks

    def mark_failed(self, ops: list[dict], bad: list[str]) -> None:
        """Count the fresh delivery of every batch with a bad doc failed."""
        batches = {int(d.split("-")[1]) // self.batch_docs for d in bad}
        for op in ops:
            if not op["replay"] and op["batch"] in batches:
                op["ok"] = False


def merge_traced_setup(run: Run) -> None:
    from ocr_spark.operators import resumable
    from ocr_spark.sources.snapstore import SnapshotTable

    tr = run.tracer
    tr.wrap(resumable, "run_extraction_resumable",
            "resumable.run_extraction_resumable")
    tr.wrap(resumable, "run_extraction", "extraction.run_extraction")
    tr.wrap(SnapshotTable, "read", "snapstore.read")
    tr.wrap(SnapshotTable, "merge_upsert", "snapstore.merge_upsert")
    tr.wrap(SnapshotTable, "append", "snapstore.append")


def run_merge(spark, run: Run, plan: dict) -> None:
    from perfbench.corpus import blob_contents, load_stats

    corpus_dir = plan["corpus"]
    stats = load_stats(corpus_dir)
    sess = MergeSession(spark, run, corpus_dir, "main", MERGE_BATCH)
    # warm-up: the first two batches -- the first commit (no merge) and the
    # first merge -- so every measured delivery is a warm merge commit
    for i in range(MERGE_WARM_BATCHES):
        run.warm.append(sess.deliver(i, False, False))
        run.warm.append(sess.deliver(i, True, False))
    run.times["setup.warmup_s"] = time.monotonic() - run.times["_warm0"]
    run.times["setup_end"] = time.monotonic()
    run.rss.start()

    trace = bool(run.args.trace)
    if trace:
        merge_traced_setup(run)
    seen = set().union(*(blob_contents(stats, refs) for refs in
                         stats["batch_refs"][:MERGE_WARM_BATCHES]))
    deadline = time.perf_counter() + run.args.seconds
    for i in range(MERGE_WARM_BATCHES, MERGE_BATCHES):
        if i > MERGE_WARM_BATCHES and time.perf_counter() >= deadline:
            break
        # every delivery of a traced run is traced: commits are not
        # exchangeable (each merges into a larger table), so no untraced
        # twin exists for an overhead figure -- inrow_mixed reports it
        fresh = sess.deliver(i, False, trace)
        replay = sess.deliver(i, True, trace)
        run.ops += [fresh, replay]
        refs = stats["batch_refs"][i]
        contents = blob_contents(stats, refs)
        if trace and fresh["error"] is None:
            layer = next(x for x in reversed(run.layers) if not x["replay"])
            layer["probe"] = probe_layers(corpus_dir, refs, os.path.join(
                corpus_dir, "batches", f"b{i:03d}"))
            layer["vouchers.codes_s"] = codes_seconds(
                spark, sess.expected(i, i + 1))
            layer["boilerplate_core.text_mb"] = (
                stats["batch_text_bytes"][i] / 1e6)
            layer["ocr.blobs_recognized"] = len(refs)
            layer["ocr.blob_reuse_pct"] = (
                100.0 * len(contents & seen) / max(len(contents), 1))
        seen |= contents
    run.tracer.unwrap()
    run.rss.stop()
    if trace:
        run.inputs["manifest_files"] = sum(
            len(_files(_manifest(t, t.current_version())))
            for t in (sess.results, sess.audit))

    bad, checks = sess.end_gate()
    run.checks.update(checks)
    sess.mark_failed(run.warm + run.ops, bad)
    run.bad_docs = len(bad)


def merge_metrics(run: Run) -> dict:
    good = [o for o in run.ops if o["error"] is None and not o["traced"]]
    fresh = [o["wall"] for o in good if not o["replay"]]
    total = sum(o["wall"] for o in good)
    fresh_docs = sum(o["docs"] for o in good)
    delivered = sum(o["docs"] for o in run.warm + run.ops if not o["replay"])
    return {
        "docs_per_s": fresh_docs / total if total else 0.0,
        "commit_s_p50": median(fresh),
        "equality_pct": 100.0 * max(delivered - run.bad_docs, 0)
        / max(delivered, 1),
    }


WORKLOADS = {
    "inrow_mixed": (inrow_prepare, run_inrow, inrow_metrics),
    "incremental_merge": (merge_prepare, run_merge, merge_metrics),
}


# ---- output -----------------------------------------------------------------

def layer_metrics(run: Run) -> dict:
    """Per-layer figures: medians over the traced ops of the run."""
    def med(key, rows=None):
        return median(x[key] for x in (rows or run.layers) if key in x)

    probes = [x["probe"] for x in run.layers if "probe" in x]

    def probe_med(key):
        return median(p[key] for p in probes if key in p)

    traced = [o["wall"] for o in run.ops if o.get("traced") and "wall" in o
              and not o.get("replay")]
    untraced = [o["wall"] for o in run.ops if not o.get("traced")
                and "wall" in o and not o.get("replay")]
    fresh = [x for x in run.layers if not x.get("replay")]
    m = {
        "session.start_s": run.times["session.start_s"],
        "setup.warmup_s": run.times["setup.warmup_s"],
        "proc.jvm_rss_mb": run.rss.peak_mb("jvm"),
        "proc.python_workers_rss_mb": run.rss.peak_mb("workers"),
        "trace.op_s": median(traced),
        "trace.untraced_op_s": median(untraced),
        "trace.overhead_s": (median(traced) - median(untraced)
                             if untraced else 0.0),
        "trace.layer_sum_pct": median(
            100.0 * x["layer_sum_s"] / x["op_s"] for x in run.layers),
        "snapstore.manifest_files": run.inputs.get("manifest_files", 0),
    }
    for key in ("extraction_inrow.plan_s",
                "extraction_inrow.recognize_collect_s",
                "extraction_inrow.broadcast_s",
                "extraction_inrow.strip_pass_s",
                "ocr.blobs_recognized", "ocr.blob_reuse_pct",
                "boilerplate_core.text_mb", "vouchers.codes_s",
                "extraction.extract_s", "extraction.shuffle_write_mb",
                "snapstore.merge_s", "snapstore.buckets_rewritten",
                "snapstore.write_amp", "snapstore.append_s",
                "resumable.replay_s", "resumable.skipped_docs"):
        m[key] = med(key)
    for key in ("spark.task_time_max_over_median", "spark.spill_mb",
                "spark.shuffle_write_mb"):
        m[key] = med(key, fresh)
    for codec in ("raw", "png", "unci", "jpeg"):
        m[f"ocr.ms_per_blob.{codec}"] = probe_med(f"ms_per_blob.{codec}")
    m["png_codec.decode_ms"] = probe_med("decode_ms.png")
    m["jpeg_codec.decode_ms"] = probe_med("decode_ms.jpeg")
    m["isobmff.decode_ms"] = probe_med("decode_ms.unci")
    m["boilerplate_core.strip_ms_per_span"] = probe_med("strip_ms_per_span")
    return m


def box() -> dict:
    mem = 0
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    return {"nproc": CORES, "mem_total_mb": mem,
            "driver_memory": DRIVER_MEMORY}


def write_ledger(run: Run, result: dict, steal: int) -> str:
    out_dir = os.path.join(WORK, "ledger")
    os.makedirs(out_dir, exist_ok=True)
    a = run.args
    path = os.path.join(
        out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    tr = run.tracer
    t0 = tr.spans[0]["start"] if tr and tr.spans else 0.0
    ledger = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "box": box(), "steal_ticks": steal,
        "inputs": run.inputs, "times": run.times, "checks": run.checks,
        "result": result,
        "ops": [{k: v for k, v in o.items() if k != "digest"}
                for o in run.warm + run.ops],
        "layers": run.layers,
        "spans": [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                  for s in (tr.spans if tr else [])],
        "peak_rss_mb": {k: run.rss.peak_mb(k) for k in run.rss.peak}
        if run.rss else {},
    }
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(ledger, fh, indent=1, default=str)
    return path


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a stop request unwinds through the finally below: the session is
    # stopped and the run's tables are removed
    signal.signal(signal.SIGTERM, lambda signum, _f: sys.exit(128 + signum))

    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        log(f"no ocr_spark package under {ROOT}; run from a checkout")
        return 2
    for kind in ("end_to_end", "per_layer"):
        metric_units(kind)  # fail before any work if the spec is unreadable
    from perfbench.trace import RssSampler, Tracer, steal_ticks

    prepare, execute, metrics_of = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0 = steal_ticks()
    spark = None
    run = Run(args, run_dir)
    try:
        t = time.monotonic()
        plan = prepare(run)
        prep_s = time.monotonic() - t
        log(f"corpus preparation {prep_s:.1f}s")

        t = time.monotonic()
        spark = start_spark(run_dir)
        run.times["session.start_s"] = time.monotonic() - t
        run.times["_warm0"] = time.monotonic()
        run.tracer = Tracer(spark)
        run.rss = RssSampler()
        execute(spark, run, plan)
        run.times["setup_s"] = run.times["setup_end"] - T_START - prep_s
        run.times["corpus_prep_s"] = prep_s
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for o in run.ops if not op_ok(o))
    failed_warm = sum(1 for o in run.warm if not op_ok(o))
    correct = (failed == 0 and failed_warm == 0 and bool(run.ops)
               and all(run.checks.values()))
    if args.trace:
        values = layer_metrics(run)
        units = metric_units("per_layer")
    else:
        values = metrics_of(run)
        values["setup_s"] = run.times["setup_s"]
        values["peak_rss_mb"] = run.rss.peak_mb()
        units = metric_units("end_to_end")
    result = {
        "correct": correct,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }
    steal = steal_ticks() - steal0
    path = write_ledger(run, result, steal)
    log(f"ledger {os.path.relpath(path, ROOT)}; steal ticks {steal}; "
        f"checks {run.checks}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    if os.environ.get(WORKER_ENV) == "1":
        sys.exit(main())
    from perfbench.reap import supervise

    sys.exit(supervise([sys.executable, os.path.abspath(__file__),
                        *sys.argv[1:]], {**os.environ, WORKER_ENV: "1"}))
