"""Corpus preparation: generated tables on disk, cached, never timed.

Every corpus comes from ``ocr_spark.datagen.generate_corpus`` and is written
as sharded parquet directories in the layout ``datagen.write_corpus`` uses.
A corpus directory is reused only when its ``_COMPLETE`` stamp matches the
seed, the size and a digest of the generator sources, so a change to the
generator regenerates it.

A corpus may be split into ingest batches: ``batches/b000`` ... hold the
documents in doc_id order, ``batch_docs`` each; the blob pool and the
goldens stay whole.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

TABLES = ("documents_interleaved", "media_blobs", "expected_spans")
LAYOUT = 2  # bump when the files or stats.json written here change

# generator inputs whose change must invalidate a cached corpus
_GENERATOR_SOURCES = (
    "datagen.py", "fonts.py", "preprocess.py", "png_codec.py",
    "jpeg_codec.py", "isobmff.py", "functions/voucher_core.py",
)


def generator_digest(root: str) -> str:
    h = hashlib.sha1()
    for rel in _GENERATOR_SOURCES:
        with open(os.path.join(root, "ocr_spark", rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def derive_seed(*parts) -> int:
    """A corpus seed from the run seed and a role; stable across runs."""
    digest = hashlib.md5(":".join(map(str, parts)).encode()).digest()
    return int.from_bytes(digest[:4], "big") & 0x7FFFFFFF


def _write_table(tbl, dest: str, shards: int) -> None:
    import pyarrow.parquet as pq

    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    per = -(-tbl.num_rows // shards) if tbl.num_rows else 1
    for i in range(shards):
        part = tbl.slice(i * per, per)
        if part.num_rows == 0 and i > 0:
            break
        pq.write_table(part, os.path.join(dest, f"part-{i:05d}.parquet"),
                       row_group_size=256)


def _text_bytes(docs) -> int:
    import pyarrow.compute as pc

    flat = docs.column("spans").combine_chunks().flatten()
    return int(pc.sum(pc.binary_length(flat.field("text"))).as_py() or 0)


def _stats(docs, blobs, batch_docs: int) -> dict:
    """Input sizes the ledger reports, computed once at generation."""
    import pyarrow.compute as pc

    def refs_of(tbl) -> list[str]:
        flat = tbl.column("spans").combine_chunks().flatten()
        return sorted(set(pc.drop_null(flat.field("media_ref")).to_pylist()))

    flat = docs.column("spans").combine_chunks().flatten()
    n_text = int(pc.sum(pc.equal(flat.field("kind"), "text")).as_py() or 0)
    codecs = blobs.column("codec").to_pylist()
    digests = {
        ref: hashlib.md5(px).hexdigest()[:16]
        for ref, px in zip(blobs.column("media_ref").to_pylist(),
                           blobs.column("pixels").to_pylist())
    }
    out = {
        "n_docs": docs.num_rows,
        "text_spans": n_text,
        "media_spans": len(flat) - n_text,
        "text_bytes": _text_bytes(docs),
        "blobs": blobs.num_rows,
        "codecs": {c: codecs.count(c) for c in sorted(set(codecs))},
        "refs": refs_of(docs),
        "blob_digests": digests,
    }
    if batch_docs:
        batches = [docs.slice(lo, batch_docs)
                   for lo in range(0, docs.num_rows, batch_docs)]
        out["batch_refs"] = [refs_of(b) for b in batches]
        out["batch_text_bytes"] = [_text_bytes(b) for b in batches]
    return out


def build(root: str, out_dir: str, n_docs: int, seed: int,
          batch_docs: int = 0, workers: int = 0) -> str:
    """Generate (or reuse) one corpus; returns its directory.

    A module-level function so a process pool can run one per worker.
    """
    import sys

    if root not in sys.path:
        sys.path.insert(0, root)
    from ocr_spark.datagen import generate_corpus

    stamp = (f"layout={LAYOUT} n_docs={n_docs} seed={seed} "
             f"batch_docs={batch_docs} generator={generator_digest(root)}\n")
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            if fh.read() == stamp:
                return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    tables = generate_corpus(n_docs, seed=seed, workers=workers)
    shards = min(128, max(8, n_docs // 128))
    for name in TABLES:
        _write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"),
                     shards)
    docs = tables["documents_interleaved"]
    if batch_docs:
        for i, lo in enumerate(range(0, n_docs, batch_docs)):
            _write_table(docs.slice(lo, batch_docs),
                         os.path.join(out_dir, "batches", f"b{i:03d}"),
                         max(4, batch_docs // 128))
    with open(os.path.join(out_dir, "stats.json"), "w",
              encoding="utf-8") as fh:
        json.dump(_stats(docs, tables["media_blobs"], batch_docs), fh)
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write(stamp)
    return out_dir


def build_many(root: str, specs: list[tuple], workers: int) -> list[str]:
    """``build`` over (out_dir, n_docs, seed) specs on a spawn pool."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(workers, mp_context=ctx) as pool:
        futures = [pool.submit(build, root, *spec) for spec in specs]
        return [f.result() for f in futures]


def blob_contents(stats: dict, refs: list[str]) -> set[str]:
    """Content digests of the blobs ``refs`` name: two refs with the same
    pixels are the same blob, one ref in two corpora need not be."""
    digests = stats["blob_digests"]
    return {digests[r] for r in refs if r in digests}


def load_stats(corpus_dir: str) -> dict:
    with open(os.path.join(corpus_dir, "stats.json"), encoding="utf-8") as fh:
        return json.load(fh)
