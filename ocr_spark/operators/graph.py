"""Link-graph ranking: PageRank in exact integer arithmetic.

The web-scale curation use case: rank domains/hosts by link mass (a
Common-Crawl-style link graph) to prioritize crawling and to weight
quality signals. The reference repo has no graph surface; this is a
training-data extension (SURVEY.md "Training-data extensions").

Why integer arithmetic: PageRank is an iterated sum of scaled floats —
cross-engine summation order would drift the low bits, and after a few
iterations the drift is observable. We instead keep every rank in
integer NANO-units (UNIT = 10^9) and replace every scale/average with
floor division: BIGINT sums are associative-exact on any engine, floor
division of non-negative BIGINTs is engine-independent, so a fixed
iteration count unrolls into a DuckDB CTE chain that reproduces Spark's
ranks BIT-EXACTLY (`__spark_entry__._graph_pagerank_oracle`). The
truncation error is <= 1 nano-unit per term per iteration — 10 orders
of magnitude below any ranking significance.

Semantics per iteration (damping d = NUM/DEN, teleport T =
(DEN-NUM)*UNIT//DEN):

    contrib(u) = r(u) // outdeg(u)              (non-dangling u)
    dang       = sum of r(u) over outdeg(u)=0   (dangling mass)
    r'(v)      = T + NUM * (in_sum(v) + dang // n_nodes) // DEN

which is standard PageRank with uniform dangling-mass redistribution
(Page et al. 1999; the dangling handling follows the lumpability
formulation of Lee/Golub/Zenios).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNIT = 10**9
DAMP_NUM = 85
DAMP_DEN = 100


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 3) -> DataFrame:
    """Integer-arithmetic PageRank. `nodes` has column `node` (long,
    distinct); `edges` has columns `src`, `dst` (longs, distinct pairs,
    src/dst need not cover all nodes). Returns (node, rank_nano) after
    `iters` iterations from a uniform start of `UNIT` per node.

    Scale shape (Common-Crawl-size graphs): the edge table is the big
    side and is hash-partitioned by `src` ONCE, then persisted — every
    iteration's contrib join reuses that partitioning, so the per-round
    cost is one shuffle of (dst, contrib) pairs into the groupBy plus a
    broadcast-or-shuffle join of the (n_nodes)-row rank table against
    the co-located edges. Ranks/degrees are node-sized (tiny relative to
    edges); dangling mass is one scalar aggregate per round. Each
    round's rank table is persisted and the previous round unpersisted,
    because unpersisted loops recompute exponentially.

    Lifecycle contract: the RETURNED frame is the final round's
    persisted table (releasing it before return would re-run the whole
    loop on first use). Callers that manage long-lived sessions should
    ``unpersist()`` it after consumption; one node-sized cache per call
    is the deliberate trade."""
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank: empty node set")
    teleport = (DAMP_DEN - DAMP_NUM) * UNIT // DAMP_DEN

    edges = edges.select("src", "dst").repartition("src").persist()
    outdeg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("outdeg"))
        .persist()
    )
    ranks = nodes.select(
        "node", F.lit(UNIT).cast("long").alias("rank_nano")
    ).persist()
    ranks.count()
    try:
        for _ in range(iters):
            with_deg = ranks.join(outdeg, "node", "left")
            # dangling mass stays IN the plan as a broadcast 1-row
            # aggregate — zero driver round-trips inside an iteration
            # (the only per-round action is the persist materialization)
            dang = (
                with_deg.filter(F.col("outdeg").isNull())
                .agg(
                    F.coalesce(F.sum("rank_nano"), F.lit(0))
                    .cast("long").alias("dang")
                )
            )
            contribs = (
                with_deg.filter(F.col("outdeg").isNotNull())
                .select(
                    F.col("node").alias("src"),
                    F.expr("rank_nano div outdeg").alias("contrib"),
                )
                .join(edges, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("contrib").alias("in_sum"))
            )
            new_ranks = (
                nodes.select("node")
                .join(contribs, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "node",
                    (
                        F.lit(teleport)
                        + F.expr(
                            f"({DAMP_NUM} * (coalesce(in_sum, 0) "
                            f"+ dang div {n_nodes})) div {DAMP_DEN}"
                        )
                    ).cast("long").alias("rank_nano"),
                )
                .persist()
            )
            new_ranks.count()
            ranks.unpersist()
            ranks = new_ranks
        return ranks
    finally:
        edges.unpersist()
        outdeg.unpersist()
