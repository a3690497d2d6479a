"""Correctness gate: an op's output against the generator's goldens.

Each output row is reduced to a 64-bit digest of ``doc_id`` plus the
canonical JSON of ``(out_spans, codes)`` -- the same canonical form
``bench.run_flagship`` compares. The row count and two order-independent
sums of digest slices ride the op's own write through
``DataFrame.observe``, so the gate adds no extra pass over the output. The
golden table is reduced the same way after the clock stops. When the two
disagree, a bidirectional ``exceptAll`` over per-doc md5 digests counts the
docs that differ, so a dropped, extra, reordered or empty result can never
score 100%.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_MOD = 2147483647


def _row_hash() -> Column:
    return F.xxhash64("doc_id", F.to_json(F.struct("out_spans", "codes")))


def _aggs() -> list[Column]:
    h = _row_hash()
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(_MOD))).alias("s1"),
        F.sum(F.pmod(F.shiftright(h, 31), F.lit(_MOD))).alias("s2"),
    ]


def observed(result: DataFrame) -> tuple[DataFrame, Observation]:
    """``result`` with its digest attached to whatever action runs it."""
    obs = Observation()
    return result.observe(obs, *_aggs()), obs


def digests(frames: dict[str, DataFrame]) -> dict[str, dict]:
    """The digest ``observed`` takes, of several tables in one job."""
    tagged = [df.select(F.lit(k).alias("_k"), "doc_id", "out_spans", "codes")
              for k, df in frames.items()]
    rows = (reduce(DataFrame.unionByName, tagged)
            .groupBy("_k").agg(*_aggs()).collect())
    out = {k: {"n": 0, "s1": 0, "s2": 0} for k in frames}
    for r in rows:
        out[r["_k"]] = {"n": r["n"], "s1": r["s1"] or 0, "s2": r["s2"] or 0}
    return out


def from_observation(obs: Observation) -> dict:
    got = obs.get
    return {"n": got.get("n", 0), "s1": got.get("s1") or 0,
            "s2": got.get("s2") or 0}


def _doc_digests(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id",
        F.md5(F.to_json(F.struct("out_spans", "codes"))).alias("d"),
    )


def bad_doc_ids(got: DataFrame, want: DataFrame) -> list[str]:
    """Doc ids that are wrong, missing or extra in ``got`` (both ways)."""
    g, w = _doc_digests(got), _doc_digests(want)
    rows = (
        g.exceptAll(w).select("doc_id")
        .union(w.exceptAll(g).select("doc_id"))
        .distinct().collect()
    )
    return [r[0] for r in rows]


def equal_docs(got_digest: dict, want_digest: dict, want: DataFrame,
               recompute) -> tuple[int, int]:
    """(docs of ``want`` the op reproduced exactly, docs of ``want``).

    ``recompute`` rebuilds the op's output DataFrame; it runs only when the
    observed digest disagrees with the golden one.
    """
    n = want_digest["n"]
    if got_digest == want_digest:
        return n, n
    return max(0, n - len(bad_doc_ids(recompute(), want))), n
