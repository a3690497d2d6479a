"""Snapshot store: MERGE semantics, time travel, CoW pruning, resume."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.datagen import generate_corpus  # noqa: E402
from ocr_spark.operators.resumable import run_extraction_resumable  # noqa: E402
from ocr_spark.sources.snapstore import SnapshotTable  # noqa: E402


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, tags array<string>")


def test_merge_insert_update_and_timetravel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=4)
    assert t.read(spark) is None

    v1 = t.merge_upsert(_df(spark, [("a", 1, ["x"]), ("b", 2, ["y"])]))
    v2 = t.merge_upsert(
        _df(spark, [("b", 20, ["z"]), ("c", 3, ["w"])]),
        merge_exprs={"tags": lambda old, new: F.array_union(old, new)},
    )
    assert (v1, v2) == (1, 2)

    now = {r["k"]: (r["v"], r["tags"]) for r in t.read(spark).collect()}
    assert now == {"a": (1, ["x"]), "b": (20, ["y", "z"]), "c": (3, ["w"])}

    # time travel: v1 unchanged
    past = {r["k"]: r["v"] for r in t.read(spark, version=1).collect()}
    assert past == {"a": 1, "b": 2}


def test_merge_handles_null_values_on_matched_rows(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=2)
    t.merge_upsert(_df(spark, [("a", None, None)]))
    t.merge_upsert(_df(spark, [("a", 5, None)]))
    rows = t.read(spark).collect()
    assert rows[0]["v"] == 5 and rows[0]["tags"] is None


def test_merge_rewrites_only_affected_buckets(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=8)
    base = spark.range(200).select(
        F.concat(F.lit("k"), "id").alias("k"),
        F.col("id").cast("int").alias("v"),
        F.array(F.lit("t")).alias("tags"),
    )
    t.merge_upsert(base)
    m1 = t._manifest(1)
    assert len(m1) > 1  # data actually spread over buckets

    t.merge_upsert(_df(spark, [("k7", 777, ["u"])]))
    m2 = t._manifest(2)
    changed = [b for b in m1 if m1[b] != m2.get(b)]
    assert len(changed) == 1  # exactly the bucket containing k7
    # untouched buckets carried over by file reference, not rewritten
    assert all(m2[b] == m1[b] for b in m1 if b not in changed)

    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got["k7"] == 777 and got["k8"] == 8 and len(got) == 200


def test_append_mode_accumulates(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "log"))  # append-only, no key
    df = spark.createDataFrame([("run1", 10)], "tag string, n int")
    t.append(df)
    t.append(spark.createDataFrame([("run2", 20)], "tag string, n int"))
    rows = sorted((r["tag"], r["n"]) for r in t.read(spark).collect())
    assert rows == [("run1", 10), ("run2", 20)]
    assert t.versions() == [1, 2]


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    tables = generate_corpus(n_docs=60, seed=7)
    docs = spark.createDataFrame(tables["documents_interleaved"].to_pandas())
    blobs = spark.createDataFrame(tables["media_blobs"].to_pandas())
    expected = spark.createDataFrame(tables["expected_spans"].to_pandas())
    return docs, blobs, expected


def test_resume_skips_committed_docs(spark, tmp_path, tiny_corpus):
    docs, blobs, expected = tiny_corpus
    results = SnapshotTable(str(tmp_path / "results"), key_col="doc_id",
                            n_buckets=4)
    audit = SnapshotTable(str(tmp_path / "audit"))

    # run 1: first half only (simulates a job killed mid-corpus)
    half = docs.filter(F.col("doc_id") < "doc-00000030")
    s1 = run_extraction_resumable(half, blobs, results, audit)
    assert s1["n_processed"] == 30
    assert results.read(spark).count() == 30

    # run 2: full input -> must process ONLY the uncommitted half
    s2 = run_extraction_resumable(docs, blobs, results, audit)
    assert s2["n_processed"] == 30
    assert s2["results_version"] == 2
    assert results.read(spark).count() == 60

    # run 3: nothing left to do, and nothing is committed again
    s3 = run_extraction_resumable(docs, blobs, results, audit)
    assert s3["n_processed"] == 0
    assert s3["results_version"] == 2

    # final state equals the golden span sequences exactly
    def _canon(df):
        spans = F.transform(
            "out_spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["order"].cast("int").alias("order"),
            ),
        )
        return df.select(
            "doc_id", F.to_json(F.struct(spans.alias("out_spans"), "codes")).alias("p")
        )

    final = results.read(spark)
    canon = _canon(final)
    gold = _canon(expected)
    assert canon.exceptAll(gold).count() == 0
    assert gold.exceptAll(canon).count() == 0

    # audit carries per-partition lineage for both productive runs
    audit_rows = audit.read(spark).collect()
    assert sum(r["n_docs"] for r in audit_rows) == 60
    versions = {r["results_version"] for r in audit_rows}
    assert versions == {1, 2}
    for r in audit_rows:
        assert r["phase"] == "extract"
        assert r["min_doc_id"] <= r["max_doc_id"]


def test_commit_conflict_detected(spark, tmp_path):
    """Two writers deriving a manifest from the same base version: the
    exclusive-create link lets exactly one win; the loser must recompute
    (Iceberg optimistic concurrency), never silently clobber."""
    from ocr_spark.sources.snapstore import CommitConflict

    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=4)
    t.merge_upsert(_df(spark, [("a", 1, ["x"])]))
    base = t.current_version()
    manifest = t._manifest(base)
    assert t._commit(manifest, base) == base + 1
    with pytest.raises(CommitConflict):
        t._commit(manifest, base)


def test_racing_merge_upserts_no_lost_update(spark, tmp_path):
    """Two threads merge different keys concurrently; both commits must
    survive (the loser retries against the winner's snapshot)."""
    import threading

    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=4)
    t.merge_upsert(_df(spark, [("a", 1, ["x"])]))

    errs = []

    def _merge(rows):
        try:
            t.merge_upsert(_df(spark, rows))
        except Exception as exc:  # pragma: no cover - fail the test below
            errs.append(exc)

    threads = [
        threading.Thread(target=_merge, args=([("b", 2, ["y"])],)),
        threading.Thread(target=_merge, args=([("c", 3, ["z"])],)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    now = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert now == {"a": 1, "b": 2, "c": 3}
    assert t.current_version() == 3


def test_merge_upsert_nondeterministic_updates_safe(spark, tmp_path):
    """A nondeterministic updates DataFrame must not lose pre-existing
    bucket rows: merge_upsert persists internally before the
    affected-bucket scan (ADVICE round 1)."""
    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=8)
    seed = [(f"k{i}", i, ["s"]) for i in range(16)]
    t.merge_upsert(_df(spark, seed))

    # nondeterministic key column: would re-evaluate differently per scan
    upd = (
        spark.range(4)
        .select(
            F.concat(F.lit("n"), (F.rand() * 1e9).cast("long").cast("string"))
            .alias("k"),
            F.lit(99).alias("v"),
            F.array(F.lit("r")).alias("tags"),
        )
    )
    t.merge_upsert(upd)
    rows = t.read(spark).collect()
    kept = [r for r in rows if r["k"].startswith("k")]
    added = [r for r in rows if r["k"].startswith("n")]
    assert len(kept) == 16, "pre-existing rows lost from a rewritten bucket"
    assert len(added) == 4


def test_losing_commit_discards_orphan_data_files(spark, tmp_path):
    """A merge that loses the optimistic-concurrency race must delete the
    data directory it wrote for the failed attempt: after the retry
    succeeds, every dir under data/ is referenced by some snapshot
    manifest (ADVICE round 2: conflicts used to leak parquet files)."""
    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=4)
    t.merge_upsert(_df(spark, [("a", 1, ["x"])]))

    orig_commit = t._commit
    raced = {"done": False}

    def racing_commit(buckets, base):
        # a competitor slips in one commit just before ours on the first
        # attempt, forcing CommitConflict -> discard -> retry
        if not raced["done"]:
            raced["done"] = True
            orig_commit(dict(t._manifest(base)), base)
        return orig_commit(buckets, base)

    t._commit = racing_commit
    t.merge_upsert(_df(spark, [("b", 2, ["y"])]))
    t._commit = orig_commit

    assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {"a": 1, "b": 2}
    referenced = set()
    for v in t.versions():
        for files in t._manifest(v).values():
            for f in files:
                referenced.add(os.path.dirname(os.path.dirname(f)))
    on_disk = {
        os.path.join(t.path, "data", d)
        for d in os.listdir(os.path.join(t.path, "data"))
    }
    orphans = on_disk - referenced
    assert not orphans, f"leaked data dirs: {sorted(orphans)}"


def test_expire_snapshots_and_vacuum(spark, tmp_path):
    """Iceberg maintenance analog: expiring old snapshots keeps the
    current table intact, kills time travel to expired versions, and
    vacuum reclaims exactly the files no retained manifest references
    (merge-rewritten buckets from old versions), leaving live data
    byte-identical."""
    import os

    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=2)
    t.merge_upsert(_df(spark, [("a", 1, ["x"]), ("b", 2, ["y"])]))
    t.merge_upsert(_df(spark, [("a", 10, ["x"]), ("c", 3, ["z"])]))
    v3 = t.merge_upsert(_df(spark, [("b", 20, ["w"])]))

    def count_parquet():
        n = 0
        for root, _d, files in os.walk(str(tmp_path / "t" / "data")):
            n += sum(f.endswith(".parquet") for f in files)
        return n

    before = {r["k"]: r["v"] for r in t.read(spark).collect()}
    n_before = count_parquet()

    # nothing referenced only by v1/v2 survives expire+vacuum
    assert t.expire_snapshots(keep_last=1) == [1, 2]
    assert t.versions() == [v3]
    deleted = t.vacuum()
    assert deleted and count_parquet() == n_before - len(deleted)

    after = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert after == before == {"a": 10, "b": 20, "c": 3}
    try:
        t.read(spark, version=1)
        raise AssertionError("expired version must not be readable")
    except FileNotFoundError:
        pass
    # vacuum is idempotent
    assert t.vacuum() == []


def test_racing_same_key_merges_linearize(spark, tmp_path):
    """The VERDICT-r4 property: two writers upserting the SAME key
    concurrently with an array_union merge must linearize — whoever
    loses the optimistic-concurrency race retries against the winner's
    snapshot, so BOTH contributions land (a lost update would drop one
    tag). Afterwards expire+vacuum must leave zero orphans and the
    same table state: the loser's first-attempt data dirs are discarded
    at conflict time, not left for vacuum to misread as live."""
    import threading

    t = SnapshotTable(str(tmp_path / "t"), key_col="k", n_buckets=4)
    t.merge_upsert(_df(spark, [("a", 1, ["x"])]))

    errs = []

    def _merge(tag, v):
        try:
            t.merge_upsert(
                _df(spark, [("a", v, [tag])]),
                merge_exprs={"tags": lambda o, n: F.array_union(o, n)},
            )
        except Exception as exc:  # pragma: no cover - fail below
            errs.append(exc)

    threads = [
        threading.Thread(target=_merge, args=("y", 2)),
        threading.Thread(target=_merge, args=("z", 3)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    rows = t.read(spark).collect()
    assert len(rows) == 1
    assert set(rows[0]["tags"]) == {"x", "y", "z"}, (
        "lost update: a racing merge's tag vanished"
    )
    # linearizable history: v2 and v3 each contain ONE of the two tags
    # plus everything the prior snapshot had (real interleaving happened
    # and was serialized, not batched)
    assert t.current_version() == 3
    v2_tags = set(t.read(spark, version=2).collect()[0]["tags"])
    assert {"x"} < v2_tags < {"x", "y", "z"}

    # expire + vacuum: nothing live lost, nothing orphaned left behind
    t.expire_snapshots(keep_last=1)
    deleted = t.vacuum()
    assert all(p.endswith(".parquet") for p in deleted)
    rows_after = t.read(spark).collect()
    assert set(rows_after[0]["tags"]) == {"x", "y", "z"}
    live = set()
    for v in t.versions():
        for files in t._manifest(v).values():
            live.update(os.path.realpath(f) for f in files)
    on_disk = set()
    for root, _dirs, files in os.walk(os.path.join(t.path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(os.path.realpath(os.path.join(root, f)))
    assert on_disk == live, "vacuum left orphan files or deleted live ones"
