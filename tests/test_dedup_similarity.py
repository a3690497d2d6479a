"""Semantic checks for the sublinear dedup/similarity paths against
exact references computed in the test (pure-Python Jaccard, numpy
cosine top-k): recall and scoring properties that a row-level oracle
comparison does not show."""

from __future__ import annotations

import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import exact_dedup, minhash_lsh_candidates


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic corpus with planted near-duplicate clusters."""
    rng = random.Random(7)
    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    base_texts = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(60)]
        base_texts.append(words)
        rows.append((i, " ".join(words)))
    # near-dups: copy with 1-2 word edits
    for j in range(20):
        src = base_texts[j]
        mutated = list(src)
        for _ in range(rng.randint(1, 2)):
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
        rows.append((100 + j, " ".join(mutated)))
    # one exact duplicate
    rows.append((999, rows[0][1]))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_finds_duplicate(docs):
    out = exact_dedup(docs, "doc_id", "text")
    dup_groups = out.filter(F.col("n_dups") > 1).collect()
    assert len(dup_groups) == 1
    assert dup_groups[0]["keeper_id"] == 0
    assert dup_groups[0]["n_dups"] == 2


def _exact_jaccard_pairs(rows, n=3, threshold=0.9):
    """Exact word n-gram Jaccard reference: {(id_a, id_b): jaccard} for
    id_a < id_b and jaccard >= threshold, rounded to 4 dp. Tokens split
    on whitespace runs after trimming spaces (Spark's trim), shingles
    are the distinct n-grams; docs shorter than n have none."""
    sh = {}
    for doc_id, text in rows:
        w = re.split(r"\s+", text.strip(" "))
        if len(w) >= n:
            sh[doc_id] = {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            common = len(sh[a] & sh[b])
            if not common:
                continue
            j = common / (len(sh[a]) + len(sh[b]) - common)
            if j >= threshold:
                out[(a, b)] = round(j, 4)
    return out


def test_minhash_lsh_vs_exact_jaccard(docs):
    exact = _exact_jaccard_pairs(
        [(r["doc_id"], r["text"]) for r in docs.collect()], n=3,
        threshold=0.7)
    assert len(exact) >= 15, "planted near-dups must be found by the oracle"
    approx = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(
            docs, "doc_id", "text", n=3, num_hashes=64, bands=16,
            threshold=0.7,
        ).collect()
    }
    # recall of strong pairs (true jaccard >= 0.85) must be high
    strong = {p for p, j in exact.items() if j >= 0.85}
    found = strong & set(approx)
    assert len(found) >= 0.8 * len(strong), (len(found), len(strong))
    # estimates should be in the right ballpark for found pairs
    for p in found:
        assert abs(approx[p] - exact[p]) < 0.25, (p, approx[p], exact[p])


def test_minhash_lsh_long_band_keys_same_pairs(docs):
    """The cluster-scale 8-byte xxhash64 band key must produce the same
    pair set as the oracle-recomputable string key, and the banded join
    must carry a bigint key in the plan."""
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.7)
    string_mode = minhash_lsh_candidates(docs, "doc_id", "text", **kw)
    long_mode = minhash_lsh_candidates(
        docs, "doc_id", "text", long_band_keys=True, **kw
    )
    got_s = {(r["id_a"], r["id_b"], r["est_jaccard"])
             for r in string_mode.collect()}
    got_l = {(r["id_a"], r["id_b"], r["est_jaccard"])
             for r in long_mode.collect()}
    assert got_s == got_l and got_s
    assert "xxhash64" in long_mode._jdf.queryExecution().analyzed().toString()


def _clustered_emb(spark, n=200, seed=3):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        center = [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]
        vec = [c + rng.gauss(0, 0.15) for c in center for _ in range(8)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def _exact_cosine_topk(emb, query_ids, k=10):
    """Exact top-k cosine reference: {(query_id, neighbor_id): cos_sim}.
    Unit rows, similarities rounded to 6 dp, ranked by (-sim, id), the
    query itself excluded."""
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.asarray([r[0] for r in rows])
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    u = mat / np.linalg.norm(mat, axis=1)[:, None]
    out = {}
    for q in query_ids:
        sims = np.round(u @ u[ids == q][0], 6)
        top = sorted((-s, int(i)) for s, i in zip(sims, ids) if i != q)[:k]
        out.update(((q, i), -neg) for neg, i in top)
    return out


def _mean_recall(exact, approx_rows):
    """Mean over queries of |exact top-k & approx top-k| / |exact top-k|;
    every approx row found in the exact top-k must carry the exact
    cosine (IVF approximates the candidate set, never the score)."""
    exact_sets, approx_sets = {}, {}
    for q, n in exact:
        exact_sets.setdefault(q, set()).add(n)
    for r in approx_rows:
        key = (r["query_id"], r["neighbor_id"])
        approx_sets.setdefault(key[0], set()).add(key[1])
        if key in exact:
            assert exact[key] == r["cos_sim"], key
    recalls = [len(exact_sets[q] & approx_sets.get(q, set()))
               / len(exact_sets[q]) for q in exact_sets]
    return sum(recalls) / len(recalls), recalls


def test_ivf_topk_recall_vs_exact(spark):
    from ocr_spark.operators.similarity import _ivf_centroids, ivf_topk

    emb = _clustered_emb(spark)
    qids = [0, 1, 2, 3]
    exact = _exact_cosine_topk(emb, qids, k=10)
    approx = ivf_topk(emb, "vec_id", "embedding", qids,
                      _ivf_centroids(16, 8), nprobe=3).collect()
    recall, recalls = _mean_recall(exact, approx)
    assert recall >= 0.5, recalls


def _planted_emb(spark, n_clusters=4, per=50, dim=16, seed=11):
    """n_clusters orthogonal planted directions (one-hot blocks) + small
    gaussian noise; returns (DataFrame, unit direction matrix)."""
    rng = random.Random(seed)
    block = dim // n_clusters
    dirs = np.zeros((n_clusters, dim))
    for c in range(n_clusters):
        dirs[c, c * block:(c + 1) * block] = 1.0
    dirs /= np.linalg.norm(dirs, axis=1)[:, None]
    rows = []
    for i in range(n_clusters * per):
        c = i % n_clusters
        vec = [float(v) + rng.gauss(0, 0.05) for v in dirs[c]]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    return emb, dirs


def test_train_ivf_recovers_planted_directions(spark):
    """Distributed spherical Lloyd: trained centroids converge onto the
    planted cluster directions, deterministically (md5-seeded init, no
    RNG — two runs produce identical codebooks)."""
    from ocr_spark.operators.similarity import train_ivf_centroids

    emb, dirs = _planted_emb(spark)
    cents = train_ivf_centroids(emb, "vec_id", "embedding",
                                num_centroids=4, iters=4)
    assert cents.shape == (4, 16)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    # every planted direction is captured by some trained centroid
    for d in dirs:
        assert float(np.max(cents @ d)) > 0.98
    again = train_ivf_centroids(emb, "vec_id", "embedding",
                                num_centroids=4, iters=4)
    assert np.allclose(cents, again)


def test_trained_ivf_beats_fixed_quantizer(spark):
    """The trained codebook quantizes the data strictly better than the
    fixed md5 codebook (higher mean max-cosine to the nearest centroid),
    and ivf_topk over trained cells reaches near-full recall at
    nprobe=1 where quantizer quality is all that matters."""
    from ocr_spark.operators.similarity import (
        _ivf_centroids,
        _matrix,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = _clustered_emb(spark)  # two planted clusters, 16-dim
    cents = train_ivf_centroids(emb, "vec_id", "embedding",
                                num_centroids=2, iters=3)
    pdf = emb.toPandas()
    mat = _matrix(pdf["embedding"])
    unit = mat / np.linalg.norm(mat, axis=1)[:, None]
    q_trained = float(np.mean(np.max(unit @ cents.T, axis=1)))
    q_md5 = float(np.mean(np.max(unit @ _ivf_centroids(16, 2).T, axis=1)))
    assert q_trained > q_md5

    qids = [0, 1, 2, 3]
    exact = _exact_cosine_topk(emb, qids, k=10)
    approx = ivf_topk(emb, "vec_id", "embedding", qids, cents,
                      nprobe=1).collect()
    recall, recalls = _mean_recall(exact, approx)
    assert recall >= 0.9, recalls


def test_train_ivf_small_input_edge_cases(spark):
    """Fewer rows than centroids: the codebook keeps its shape (md5 rows
    pad the empty cells, all unit-norm, no NaN). Empty input raises."""
    from ocr_spark.operators.similarity import train_ivf_centroids

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        ["vec_id", "embedding"],
    ).select("vec_id",
             F.col("embedding").cast("array<float>").alias("embedding"))
    cents = train_ivf_centroids(emb, "vec_id", "embedding",
                                num_centroids=8, iters=2)
    assert cents.shape == (8, 2)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    assert not np.isnan(cents).any()

    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError):
        train_ivf_centroids(empty, "vec_id", "embedding", num_centroids=2)


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing property: documents sharing a substring of length >=
    window + k - 1 share at least one fingerprint; disjoint-alphabet
    documents share none."""
    from ocr_spark.operators.dedup import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, f"prefix one {shared} suffix alpha"),
        (2, f"completely different opening {shared} and ending"),
        (3, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnowing_fingerprints(docs, "doc_id", "text")
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_bigstar_components_long_chain_logarithmic_rounds(spark):
    """The production CC variant: a planted 1000-vertex chain (diameter
    999 — no fixed-round propagation covers it) converges in O(log n)
    star rounds with every vertex labeled by the chain minimum."""
    from ocr_spark.operators.dedup import _bigstar_edges, bigstar_components

    n = 1000
    chain = spark.createDataFrame(
        [(f"v{i:04d}", f"v{i+1:04d}") for i in range(n - 1)],
        ["id_a", "id_b"],
    )
    _, rounds = _bigstar_edges(chain)
    assert rounds <= 30, f"{rounds} rounds for a {n}-chain — not O(log n)"

    out = bigstar_components(chain)
    rows = out.collect()
    assert len(rows) == n
    assert {r["component_id"] for r in rows} == {"v0000"}
    assert {r["doc_id"] for r in rows} == {f"v{i:04d}" for i in range(n)}


def _union_find_component_min(pairs):
    """Pure-Python reference: each vertex of the pair graph labeled with
    the smallest id of its connected component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


def test_bigstar_equals_hashmin_on_random_graphs(spark):
    """The star alternation must converge to the same component-min
    labels that hash-min propagation reaches, computed here by a
    union-find, on random sparse graphs at three seeds."""
    import random

    from ocr_spark.operators.dedup import bigstar_components

    ids = [f"d{i:03d}" for i in range(120)]
    for seed in (41, 42, 43):
        rng = random.Random(seed)
        pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(150)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        got = {
            (r["doc_id"], r["component_id"])
            for r in bigstar_components(df).collect()
        }
        assert got == _union_find_component_min(pairs), seed


def test_bigstar_components_islands_and_empty(spark):
    from ocr_spark.operators.dedup import bigstar_components

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("d", "e"), ("x", "x")], ["id_a", "id_b"]
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in bigstar_components(pairs).collect()
    }
    # self-pair (x,x) contributes no edge -> x absent (contract)
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}

    empty = spark.createDataFrame([], "id_a string, id_b string")
    assert bigstar_components(empty).count() == 0



def test_ngram_contamination_planted(spark):
    from ocr_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # shares the full 5-gram window twice (two distinct 5-grams
            # of the bench doc appear)
            (1, "x alpha beta gamma delta epsilon zeta y"),
            # shares nothing at n=5
            (2, "alpha beta gamma q r s t"),
            (3, "totally unrelated words here now then"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in ngram_contamination(
            corpus, bench, n=5
        ).collect()
    }
    assert set(out) == {1}
    assert out[1]["n_shared_ngrams"] == 2
    assert out[1]["n_bench_docs"] == 1


def _pk(i):
    import hashlib

    return (hashlib.md5(str(i).encode()).hexdigest(), i)


def test_semantic_dedup_planted_clusters(spark):
    """SemDeDup over tight planted clusters: with tau below the
    within-cluster cosine floor, every vector except the
    priority-minimum of its cell is dropped, every keeper outranks its
    droppee in (md5(id), id) order, and the kept set is exactly the
    per-cell priority minima."""
    from ocr_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
        with_ivf_cells,
    )

    emb, _ = _planted_emb(spark)
    cents = train_ivf_centroids(emb, "vec_id", "embedding",
                                num_centroids=4, iters=4)
    drops = semantic_dedup(emb, "vec_id", "embedding", tau=0.9,
                           centroids=cents).collect()
    cells = {
        r["id"]: r["cell"]
        for r in with_ivf_cells(emb, "vec_id", "embedding",
                                cents).collect()
    }
    keep_min = {}
    for vid, cell in cells.items():
        if cell not in keep_min or _pk(vid) < _pk(keep_min[cell]):
            keep_min[cell] = vid
    assert len(drops) == len(cells) - len(keep_min)
    dropped = set()
    for r in drops:
        assert cells[r["doc_id"]] == cells[r["keeper_id"]]
        assert _pk(r["keeper_id"]) < _pk(r["doc_id"])
        assert r["cos_sim"] >= 0.9
        dropped.add(r["doc_id"])
    assert set(cells) - dropped == set(keep_min.values())


def test_semantic_dedup_chunk_invariance_and_empty(spark):
    """The chunked gram path is window-arithmetic-only: chunk=3 and
    chunk=10**6 produce identical drop lists; an unreachable tau yields
    an empty frame with the contract schema."""
    from ocr_spark.operators.similarity import _ivf_centroids, semantic_dedup

    emb, _ = _planted_emb(spark)
    cents = _ivf_centroids(16, 4)
    a = sorted(map(tuple, semantic_dedup(
        emb, "vec_id", "embedding", tau=0.9, centroids=cents,
        chunk=3).collect()))
    b = sorted(map(tuple, semantic_dedup(
        emb, "vec_id", "embedding", tau=0.9, centroids=cents,
        chunk=10**6).collect()))
    assert a == b and len(a) > 0
    none = semantic_dedup(emb, "vec_id", "embedding", tau=1.5,
                          centroids=cents)
    assert none.columns == ["doc_id", "keeper_id", "cos_sim"]
    assert none.count() == 0


def test_substring_runs_planted(spark):
    """A planted 12-token shared run yields ONE maximal row with exact
    start positions and length; two disjoint shared runs yield two
    rows; an unshared doc yields none."""
    from ocr_spark.operators.dedup import shared_substring_runs

    shared = " ".join(f"s{i}" for i in range(12))
    other = " ".join(f"t{i}" for i in range(9))
    docs = spark.createDataFrame(
        [
            (1, "p0 p1 " + shared + " p2"),
            (2, "q0 " + shared + " q1 q2 q3 " + other),
            (3, other + " r0"),
            (4, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        ],
        ["doc_id", "text"],
    )
    rows = sorted(
        map(tuple, shared_substring_runs(
            docs, "doc_id", "text").collect())
    )
    # (1,2): shared at a_pos 3 (after p0 p1), b_pos 2 (after q0), len 12
    # (2,3): other at doc2 pos 17 (q0 + 12 shared + q1 q2 q3), doc3 pos 1
    assert rows == [(1, 2, 3, 2, 12), (2, 3, 17, 1, 9)]


def test_substring_runs_df_cap_drops_hot_grams(spark):
    """A gram present in more docs than max_df is excluded before the
    join (the Lee et al. boilerplate mitigation)."""
    from ocr_spark.operators.dedup import shared_substring_runs

    boiler = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(5)], ["doc_id", "text"]
    )
    assert shared_substring_runs(
        docs, "doc_id", "text", max_df=4).count() == 0
    assert shared_substring_runs(
        docs, "doc_id", "text", max_df=5).count() == 10  # C(5,2)


def test_substring_trim_planted(spark):
    """Trim: lowest doc keeps its copy; higher docs cut; overlapping
    cut intervals merge; order of surviving tokens is preserved."""
    from ocr_spark.operators.dedup import trim_duplicate_substrings

    shared = " ".join(f"s{i}" for i in range(12))
    other = " ".join(f"t{i}" for i in range(9))
    docs = spark.createDataFrame(
        [
            (1, "p0 p1 " + shared + " p2"),
            (2, "q0 " + shared + " q1 q2 q3 " + other),
            (3, other + " r0"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in trim_duplicate_substrings(
        docs, "doc_id", "text").collect()}
    assert set(out) == {2, 3}  # doc 1 is the lowest sharer everywhere
    assert out[2]["n_removed"] == 12
    assert out[2]["trimmed_text"] == "q0 q1 q2 q3 " + other
    assert out[3]["n_removed"] == 9
    assert out[3]["trimmed_text"] == "r0"


def test_substring_trim_merges_overlaps_and_full_dup(spark):
    """Two overlapping runs against different lower docs merge into one
    cut interval (no double counting); an exact duplicate trims to ''."""
    from ocr_spark.operators.dedup import trim_duplicate_substrings

    a = " ".join(f"a{i}" for i in range(10))   # tokens 1-10 of doc 3
    b = " ".join(f"a{i}" for i in range(4, 14))  # tokens 5-14 of doc 3
    doc3 = " ".join(f"a{i}" for i in range(14)) + " z0"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, doc3), (4, a)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in trim_duplicate_substrings(
        docs, "doc_id", "text").collect()}
    # doc 3 cuts [1,10] (vs doc1) and [5,14] (vs doc2) -> merged [1,14]
    assert out[3]["n_removed"] == 14
    assert out[3]["trimmed_text"] == "z0"
    # doc 4 is an exact duplicate of doc 1 -> fully cut
    assert out[4]["n_removed"] == 10
    assert out[4]["trimmed_text"] == ""
    assert 1 not in out


def test_semantic_contamination_planted(spark):
    """A near-copy of an eval vector is flagged with the right match;
    orthogonal corpus vectors are not; eval rows never self-flag."""
    from ocr_spark.operators.similarity import semantic_contamination

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),       # eval
        (2, [0.0, 1.0, 0.0, 0.0]),       # eval
        (10, [0.98, 0.02, 0.0, 0.0]),    # paraphrase of eval 1
        (11, [0.0, 0.0, 1.0, 0.0]),      # clean
        (12, [0.7, 0.7, 0.0, 0.0]),      # equally close to 1 and 2
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["id"]: r for r in semantic_contamination(
        emb, "vec_id", "embedding", [1, 2], tau=0.6).collect()}
    assert set(out) == {10, 12}
    assert out[10]["matched_eval_id"] == 1
    assert out[10]["max_sim"] > 0.97
    # exact tie between eval 1 and 2 resolves to the smaller id
    assert out[12]["matched_eval_id"] == 1


def test_cluster_keep_best_planted(spark):
    """Representative selection: winner = argmax score, ties -> lowest
    id; unpaired docs are singleton keeps; cluster_size counts members."""
    from ocr_spark.operators.dedup import cluster_keep_best

    scored = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 90), (4, 10), (5, 70)],
        ["doc_id", "q10k"],
    )
    # components: {1,2,3} labeled 1; {4} labeled 4; doc 5 unpaired
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)],
        ["doc_id", "component_id"],
    )
    out = {r["doc_id"]: r for r in cluster_keep_best(
        scored, labels).collect()}
    assert len(out) == 5
    # 2 and 3 tie on score -> lowest id (2) wins
    assert out[2]["keep"] and not out[3]["keep"] and not out[1]["keep"]
    assert out[1]["cluster_size"] == 3
    # singleton-by-label and unpaired-singleton both keep themselves
    assert out[4]["keep"] and out[4]["cluster_size"] == 1
    assert out[5]["keep"] and out[5]["component_id"] == 5


def test_cluster_keep_best_drops_nonvacuous(spark):
    """On the driver corpus the planted near-dup clusters must produce
    actual drops (keep = false rows) — the query is calibrated, not a
    trivially-all-keep verdict."""
    import __spark_entry__ as entry_mod

    out = entry_mod.queries()["dedup_cluster_keep_best"](
        spark, "/root/testdata/sf0.001")
    dropped = out.filter(~out["keep"]).count()
    assert dropped > 0


def test_cluster_keep_best_string_ids(spark):
    """The component operators support string ids; the tie-break must
    not negate the id column (NULL under non-ANSI, error under ANSI)."""
    from ocr_spark.operators.dedup import cluster_keep_best

    scored = spark.createDataFrame(
        [("v2", 90), ("v10", 90), ("v3", 40), ("solo", 70)],
        ["doc_id", "q10k"],
    )
    labels = spark.createDataFrame(
        [("v2", "v10"), ("v10", "v10"), ("v3", "v10")],
        ["doc_id", "component_id"],
    )
    out = {r["doc_id"]: r for r in cluster_keep_best(
        scored, labels).collect()}
    # tie on 90 between 'v10' and 'v2' -> lexicographically lowest id
    assert out["v10"]["keep"] and not out["v2"]["keep"]
    assert not out["v3"]["keep"] and out["v3"]["cluster_size"] == 3
    assert out["solo"]["keep"] and out["solo"]["component_id"] == "solo"


def test_cluster_keep_best_random_vs_reference(spark):
    """Randomized invariant check against a pure-Python reference:
    exactly one keep per component, the keep is the (max score, min id)
    member, every input id appears exactly once, and cluster_size
    matches the membership count."""
    import random

    from ocr_spark.operators.dedup import cluster_keep_best

    rng = random.Random(13)
    n = 200
    ids = [f"d{i:03d}" for i in range(n)]
    scores = {i: rng.randrange(0, 50) for i in ids}
    # random partition into components of size 1-8 over a subset;
    # ~30% of ids stay unlabeled (singletons by coalesce)
    labeled = [i for i in ids if rng.random() < 0.7]
    rng.shuffle(labeled)
    comp_of = {}
    k = 0
    while k < len(labeled):
        size = rng.randint(1, 8)
        group = labeled[k:k + size]
        root = min(group)
        for m in group:
            comp_of[m] = root
        k += size

    scored = spark.createDataFrame(
        [(i, scores[i]) for i in ids], ["doc_id", "q10k"])
    labels = spark.createDataFrame(
        list(comp_of.items()), ["doc_id", "component_id"])
    out = cluster_keep_best(scored, labels).collect()

    # pure-Python reference
    members: dict[str, list[str]] = {}
    for i in ids:
        members.setdefault(comp_of.get(i, i), []).append(i)
    expect_keep = {
        comp: min(ms, key=lambda m: (-scores[m], m))
        for comp, ms in members.items()
    }

    assert sorted(r["doc_id"] for r in out) == sorted(ids)
    for r in out:
        comp = comp_of.get(r["doc_id"], r["doc_id"])
        assert r["component_id"] == comp
        assert r["cluster_size"] == len(members[comp])
        assert r["keep"] == (r["doc_id"] == expect_keep[comp])


def test_dedup_lines_keep_first(spark):
    """Line-level keep-first: a line repeated across docs survives only
    at its lowest (id, pos); within-doc repeats too; order preserved."""
    from ocr_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha\nfooter\nbeta"),
            (2, "footer\ngamma\nfooter"),
            (3, "delta\nalpha"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert out[1]["cleaned_text"] == "alpha\nfooter\nbeta"
    assert out[1]["n_removed"] == 0
    # doc 2: both footer copies lose to doc 1's (within-doc repeat too)
    assert out[2]["cleaned_text"] == "gamma"
    assert out[2]["n_removed"] == 2 and out[2]["n_lines_before"] == 3
    # doc 3: 'alpha' lost to doc 1
    assert out[3]["cleaned_text"] == "delta"


def test_dedup_lines_all_lines_lost(spark):
    """A doc made entirely of earlier-seen lines cleans to ''."""
    from ocr_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "x\ny"), (2, "y\nx")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert out[2]["cleaned_text"] == "" and out[2]["n_removed"] == 2


def test_dedup_lines_null_text_keeps_row(spark):
    """NULL text must come back as one row (an empty line), never vanish
    from the output."""
    from pyspark.sql import types as T

    from ocr_spark.operators.dedup import dedup_lines

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    docs = spark.createDataFrame([(1, "a"), (2, None)], schema)
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert set(out) == {1, 2}
    assert out[2]["n_lines_before"] == 1
    assert out[2]["cleaned_text"] == ""


def test_checkpoint_truncate_reliable_mode(spark, tmp_path):
    """ADVICE r4: with a checkpoint dir set, the iterative operators must
    switch from executor-local localCheckpoint blocks to RELIABLE
    checkpoints (files that survive executor loss on a real cluster) —
    and produce identical results. The dir is restored afterwards so the
    session-scoped fixture keeps its default behavior."""
    import os

    from ocr_spark.operators.dedup import bigstar_components

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], ["id_a", "id_b"]
        )
        comp = {
            r["doc_id"]: r["component_id"]
            for r in bigstar_components(pairs).collect()
        }
        assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
        n_ckpt_files = sum(
            len(files) for _, _, files in os.walk(str(tmp_path / "ckpt"))
        )
        assert n_ckpt_files > 0, "reliable mode wrote no checkpoint files"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )
        assert sc.getCheckpointDir() is None


def test_dedup_incremental_flags_replays(spark):
    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import dedup_incremental

    history = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "cc")], "doc_id long, text string"
    ).select("doc_id", F.md5("text").alias("fp"))
    batch = spark.createDataFrame(
        [(10, "bb"),   # replay of history doc 2
         (11, "zz"),   # genuinely new
         (12, "bb"),   # second replay of the same content
         (13, "zz")],  # batch-internal dup of 11: still is_new here
        "doc_id long, text string",
    ).select("doc_id", F.md5("text").alias("fp"))
    out = {r["doc_id"]: r["is_new"]
           for r in dedup_incremental(history, batch).collect()}
    assert out == {10: False, 11: True, 12: False, 13: True}


def test_dedup_incremental_duplicate_history_rows_no_fanout(spark):
    """History may hold the same fingerprint many times (it is the raw
    committed corpus, not a dedup'd index); the probe must not fan out
    batch rows."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import dedup_incremental

    history = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "aa")], "doc_id long, text string"
    ).select("doc_id", F.md5("text").alias("fp"))
    batch = spark.createDataFrame(
        [(10, "aa"), (11, "new")], "doc_id long, text string"
    ).select("doc_id", F.md5("text").alias("fp"))
    rows = dedup_incremental(history, batch).collect()
    assert len(rows) == 2
    out = {r["doc_id"]: r["is_new"] for r in rows}
    assert out == {10: False, 11: True}
