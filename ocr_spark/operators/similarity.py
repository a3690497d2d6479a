"""Similarity search and semantic dedup over embedding columns
(array<float>).

IVF approximate top-k over a trained coarse quantizer (distributed
spherical k-means), SemDeDup pruning inside the quantizer's cells, and
semantic benchmark decontamination.

Execution shape: the small side (the codebook / the query probes / the
eval matrix) is broadcast as a numpy array; each Arrow batch of the big
side does ONE float64 matmul against it inside mapInPandas. No per-pair
Catalyst fold over the whole table, no crossJoin row explosion:
similarity math runs at BLAS speed and only survivors leave Python.

Numeric discipline: all math in float64, results rounded to 6 dp on both
engine and oracle sides. numpy's pairwise summation differs from the
oracle's sequential fold by ~1e-15 relative — eleven orders of magnitude
below the rounding quantum.

Scale notes (100 TB):
  * train_ivf_centroids: one scan per Lloyd iteration; each batch emits
    at most k partial sums, so the shuffle never carries vectors.
  * ivf_topk: cell assignment is one scan + matmul; candidates come from
    an equi-join on a small int cell key against the broadcast probe
    list, so the pair matrix is never materialized. Recall tunable via
    nprobe.
  * semantic_dedup: one shuffle (groupBy cell), chunked per-cell gram.
  * semantic_contamination: broadcast eval matrix, zero shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions import hashfam

IVF_TOPK = 10


def _matrix(pdf_vecs: pd.Series) -> np.ndarray:
    return np.asarray([np.asarray(v, dtype=np.float64) for v in pdf_vecs])


def _id_sql_type(df: DataFrame, id_col: str) -> str:
    """SQL type name of the id column, so mapInPandas output schemas stay
    type-generic (string doc ids and long vec ids both work)."""
    return df.schema[id_col].dataType.simpleString()


# --------------------------------------------------------------------------
# IVF-style ANN: trained coarse quantizer + probed cells
# --------------------------------------------------------------------------

def _ivf_centroids(dim: int, num_centroids: int) -> np.ndarray:
    """Unit-norm md5-derived centroids (functions/hashfam.py): the
    deterministic codebook `train_ivf_centroids` starts from. Rows that
    no seed vector fills (fewer vectors than centroids) keep these
    values, so the trained codebook always has its full shape."""
    c = np.asarray(
        [[2.0 * hashfam.md5_base60(f"ivf:{i}:{d}") / hashfam.TWO_60 - 1.0
          for d in range(dim)] for i in range(num_centroids)],
        dtype=np.float64,
    )
    return c / np.linalg.norm(c, axis=1)[:, None]


def train_ivf_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
    iters: int = 5,
) -> np.ndarray:
    """Distributed spherical k-means (Lloyd) — a TRAINED coarse quantizer
    for IVF and SemDeDup cells. Iterative, but still fully
    SQL-oracle-able: with a fixed iteration count the
    whole training unrolls into a chain of assign/aggregate CTEs (see
    `__spark_entry__._ann_ivf_trained_oracle`), and rounding to 9
    decimals pins each intermediate codebook to a grid so cross-engine
    floating-point summation order (Spark partial-sum tree vs DuckDB
    streaming sum, disagreeing only in the last ulp) cannot drift the
    cell decision boundaries between engines. 9 decimals is far below
    any geometric significance and far above the ~1e-15 cross-engine
    disagreement, so the rounding is behavior-neutral per engine while
    making the two engines' codebooks bit-identical.

    Deterministic end to end: seeds are the `num_centroids` vectors with
    the smallest (md5(id), id) — an engine-neutral order, no RNG — and
    assignment breaks ties by first centroid index.

    Scale shape (100 TB): each iteration is ONE scan of the persisted
    (id, unit-vec) projection. The mapInPandas stage assigns cells with a
    single BLAS matmul per Arrow batch and emits only per-batch partial
    sums — at most `num_centroids` rows per batch (map-side combine), so
    the groupBy that finishes the reduction shuffles ~tasks x k tiny
    rows, never the vectors. Centroids (k x dim floats) broadcast each
    round. The driver never holds more than k partial rows.
    """
    base = (
        emb.select(F.col(id_col).alias("id"),
                   F.col(vec_col).cast("array<double>").alias("vec"))
        .filter(F.col("vec").isNotNull())
        .persist()
    )
    try:
        seed_rows = (
            base.orderBy(F.md5(F.col("id").cast("string")), "id")
            .limit(num_centroids)
            .select("vec")
            .collect()
        )
        if not seed_rows:
            raise ValueError("train_ivf_centroids: input has no vectors")
        dim = len(seed_rows[0][0])
        cents = _ivf_centroids(dim, num_centroids)  # pad if n < k
        seeds = _matrix(pd.Series([r[0] for r in seed_rows]))
        norms = np.linalg.norm(seeds, axis=1)
        norms[norms == 0] = 1.0
        cents[: len(seeds)] = seeds / norms[:, None]
        cents = np.round(cents, 9)

        spark = emb.sparkSession
        sum_cols = [
            F.sum(F.element_at("vsum", i + 1)).alias(f"s{i}")
            for i in range(dim)
        ]
        for _ in range(iters):
            bc = spark.sparkContext.broadcast(cents)

            def _partials(batches: Iterator[pd.DataFrame],
                          ) -> Iterator[pd.DataFrame]:
                from ..blas_pin import pin_blas_single_thread

                pin_blas_single_thread()
                cm = bc.value
                for pdf in batches:
                    mat = _matrix(pdf["vec"])
                    nrm = np.linalg.norm(mat, axis=1)
                    nrm[nrm == 0] = 1.0
                    unit = mat / nrm[:, None]
                    cell = np.argmax(unit @ cm.T, axis=1)
                    rows = [
                        (int(c), int((cell == c).sum()),
                         unit[cell == c].sum(axis=0).tolist())
                        for c in np.unique(cell)
                    ]
                    yield pd.DataFrame(
                        rows, columns=["cell", "n", "vsum"])

            got = (
                base.mapInPandas(
                    _partials,
                    schema="cell long, n long, vsum array<double>")
                .groupBy("cell")
                .agg(F.sum("n").alias("n"), *sum_cols)
                .collect()
            )
            bc.unpersist()
            new = cents.copy()
            for row in got:
                v = np.asarray(row[2:], dtype=np.float64)
                n = np.linalg.norm(v)
                if row["n"] > 0 and n > 0:
                    new[row["cell"]] = np.round(v / n, 9)
            cents = new
        return cents
    finally:
        base.unpersist()


def with_ivf_cells(
    emb: DataFrame, id_col: str, vec_col: str, centroids: np.ndarray,
) -> DataFrame:
    """(id, vec, norm, cell): cell = argmax dot(vec, unit centroid) over
    the (num_centroids, dim) codebook `centroids` (a
    `train_ivf_centroids` result) — first index wins ties (matches the
    oracle's row_number rule). One matmul per Arrow batch."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..blas_pin import pin_blas_single_thread

        pin_blas_single_thread()
        cm = bc.value
        for pdf in batches:
            mat = _matrix(pdf["vec"])
            pdf = pdf.copy()
            pdf["norm"] = np.linalg.norm(mat, axis=1)
            pdf["cell"] = np.argmax(mat @ cm.T, axis=1).astype(np.int64)
            yield pdf

    id_t = _id_sql_type(emb, id_col)
    base = emb.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("vec"))
    return base.mapInPandas(
        _assign,
        schema=f"id {id_t}, vec array<double>, norm double, cell long",
    )


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    centroids: np.ndarray,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-`IVF_TOPK`: each query probes its `nprobe`
    nearest cells of the codebook `centroids` (a `train_ivf_centroids`
    result) and ranks only the vectors assigned there.

    Scale shape: cell assignment is one scan + matmul; the candidate join
    is an equi-join on a small int key (no pair matrix); each query's
    probe list is tiny and broadcast. Recall < 1 by design (tested for
    overlap vs an exact numpy top-k). Returns (query_id, neighbor_id,
    cos_sim, rank)."""
    spark = emb.sparkSession

    qpdf = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("qvec"))
        .toPandas()
    )
    base = with_ivf_cells(emb, id_col, vec_col, centroids)
    qmat = _matrix(qpdf["qvec"])
    qnorms = np.linalg.norm(qmat, axis=1)
    qnorms[qnorms == 0] = 1.0
    dots = qmat @ centroids.T  # (n_queries, num_centroids)
    # top-nprobe cells per query: dot desc, cell index asc on ties —
    # identical to the oracle's row_number ordering
    order = np.lexsort((np.arange(dots.shape[1])[None, :].repeat(
        dots.shape[0], axis=0), -dots), axis=1)[:, :nprobe]
    probe_rows = [
        (qid, int(cell), [float(x) for x in vec], float(n))
        for qid, vec, n, cells in zip(
            qpdf["query_id"], qpdf["qvec"], qnorms, order)
        for cell in cells
    ]
    id_t = _id_sql_type(emb, id_col)
    probes = spark.createDataFrame(
        probe_rows,
        schema=f"query_id {id_t}, cell long, qvec array<double>, "
               f"qnorm double",
    )
    cand = base.join(
        F.broadcast(probes),
        (base["cell"] == probes["cell"])
        & (base["id"] != probes["query_id"]),
    )
    dot = F.aggregate(
        F.zip_with("vec", "qvec", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(dot / (F.col("norm") * F.col("qnorm")), 6).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    tau: float,
    centroids: np.ndarray,
    chunk: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic near-dup
    pruning WITHIN coarse-quantizer cells. Cluster with IVF cells of the
    codebook `centroids` (a `train_ivf_centroids` result — the paper's
    k-means variant), then
    inside each cell drop every vector that has a higher-priority
    neighbor with cosine >= `tau`.

    Deterministic contract (shared verbatim with the DuckDB oracle,
    `__spark_entry__._semantic_dedup_oracle`): priority is the total
    order (md5(str(id)), id) ascending — engine-neutral, no RNG. A row
    is DROPPED iff some strictly-higher-priority row in its cell has
    round(cos, 6) >= tau; `keeper_id` is the highest-priority such row.
    A keeper can itself be dropped by a still-earlier row — greedy
    chains resolve transitively through the drop list (same contract as
    the curate lineage table; drop status never feeds back into the
    decision, so rows are independent given the cell).

    Scale shape (100 TB): ONE shuffle, the groupBy(cell) — vectors move
    once, keyed by a small int. Per cell the gram product is chunked:
    `chunk x cell_size` peak memory, never a full cell^2 matrix, one
    BLAS matmul per chunk. The codebook grows with n (SemDeDup uses
    ~sqrt(n) clusters at scale) to bound cell sizes; skewed cells are a
    codebook-quality problem, surfaced by cell-size stats, not a shuffle
    problem. Returns (doc_id, keeper_id, cos_sim) for dropped rows only.
    """
    cells = with_ivf_cells(emb, id_col, vec_col, centroids)
    id_t = _id_sql_type(emb, id_col)

    def _dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..blas_pin import pin_blas_single_thread

        pin_blas_single_thread()
        import hashlib

        pdf = pdf.assign(
            _pk=[hashlib.md5(str(i).encode()).hexdigest()
                 for i in pdf["id"]]
        ).sort_values(["_pk", "id"]).reset_index(drop=True)
        mat = _matrix(pdf["vec"])
        nrm = np.linalg.norm(mat, axis=1)
        nrm[nrm == 0] = 1.0
        n = len(pdf)
        ids = pdf["id"].to_numpy()
        out = []
        for lo in range(1, n, chunk):
            hi = min(lo + chunk, n)
            # dot/(|u||v|) on RAW vectors — the oracle's exact formula
            # (normalize-then-dot would differ in the last ulp)
            sims = np.round(
                (mat[lo:hi] @ mat[:hi].T)
                / (nrm[lo:hi, None] * nrm[None, :hi]), 6)
            allow = np.arange(hi)[None, :] < np.arange(lo, hi)[:, None]
            mask = (sims >= tau) & allow
            has = mask.any(axis=1)
            if not has.any():
                continue
            first = mask.argmax(axis=1)
            rows = np.nonzero(has)[0]
            out.append(pd.DataFrame({
                "doc_id": ids[lo + rows],
                "keeper_id": ids[first[rows]],
                "cos_sim": sims[rows, first[rows]],
            }))
        if not out:
            return pd.DataFrame(
                {"doc_id": ids[:0], "keeper_id": ids[:0],
                 "cos_sim": np.zeros(0)})
        return pd.concat(out, ignore_index=True)

    return cells.groupBy("cell").applyInPandas(
        _dedup_cell,
        schema=f"doc_id {id_t}, keeper_id {id_t}, cos_sim double",
    )


def semantic_contamination(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    eval_ids: list[int],
    tau: float,
) -> DataFrame:
    """Semantic benchmark decontamination — the embedding-space
    complement of the n-gram overlap probe (dedup.ngram_contamination):
    flag every corpus vector whose max cosine against ANY eval-set
    vector reaches `tau` (paraphrased eval leakage that shares no
    8-gram). Returns (id, matched_eval_id, max_sim) for flagged rows;
    matched_eval_id is the smallest eval id achieving the max (ties
    deterministic).

    Scale shape: the eval matrix (benchmarks are thousands of rows, not
    corpus-sized) BROADCASTS; the corpus streams through one
    mapInPandas with a single BLAS matmul per Arrow batch — no join, no
    shuffle, output bounded by the contamination volume. The same
    round-to-6-then-compare contract as the ANN family keeps the DuckDB
    oracle exact."""
    spark = emb.sparkSession
    ev = (
        emb.filter(F.col(id_col).isin(eval_ids))
        .select(F.col(id_col).alias("eid"),
                F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()
    )
    if not len(ev):
        raise ValueError("semantic_contamination: empty eval set")
    emat = _matrix(ev["v"])
    enorm = np.linalg.norm(emat, axis=1)
    enorm[enorm == 0] = 1.0
    eids = ev["eid"].to_numpy()
    order = np.argsort(eids)  # ties resolve to the SMALLEST eval id
    emat, enorm, eids = emat[order], enorm[order], eids[order]
    bc = spark.sparkContext.broadcast((emat, enorm, eids))
    id_t = _id_sql_type(emb, id_col)

    base = emb.filter(~F.col(id_col).isin(eval_ids)).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )

    def _flag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..blas_pin import pin_blas_single_thread

        pin_blas_single_thread()
        em, en, ei = bc.value
        for pdf in batches:
            mat = _matrix(pdf["vec"])
            nrm = np.linalg.norm(mat, axis=1)
            nrm[nrm == 0] = 1.0
            sims = np.round(
                (mat @ em.T) / (nrm[:, None] * en[None, :]), 6)
            mx = sims.max(axis=1)
            hit = mx >= tau
            if not hit.any():
                continue
            first = np.argmax(sims[hit] == mx[hit, None], axis=1)
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy()[hit],
                "matched_eval_id": ei[first],
                "max_sim": mx[hit],
            })

    return base.mapInPandas(
        _flag,
        schema=f"id {id_t}, matched_eval_id {id_t}, max_sim double",
    )
