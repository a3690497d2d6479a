"""Curation operators: PII scrub, repetition signals, sampling, sharding,
caps and the URL blocklist / robots.txt crawl gates."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_pii_scrub_patterns(spark):
    """Each PII kind redacts to its typed token; clean text unchanged."""
    from ocr_spark.functions.textstats import pii_counts, pii_scrub

    rows = [
        ("a", "mail bob.smith+x@corp.example.org now"),
        ("b", "card 1234 5678 9012 3456 ok"),
        ("c", "call 12-345-678-9012 or 555-123-4567"),
        ("d", "nothing sensitive 123 here"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    counts = pii_counts("t")
    out = {
        r["id"]: (r["s"], r["ne"], r["nc"], r["np"], r["nu"])
        for r in df.select(
            "id", pii_scrub("t").alias("s"),
            counts["email"].alias("ne"), counts["card"].alias("nc"),
            counts["phone_intl"].alias("np"),
            counts["phone_us"].alias("nu"),
        ).collect()
    }
    assert out["a"] == ("mail <EMAIL> now", 1, 0, 0, 0)
    assert out["b"] == ("card <CARD> ok", 0, 1, 0, 0)
    # n_us = 2: the US pattern also matches the 3-3-4 tail inside the
    # intl number (counts are per-pattern pre-redaction and may overlap
    # — documented in pii_counts); redaction order prevents double
    # replacement, so the TEXT still shows exactly two tokens.
    assert out["c"] == ("call <PHONE> or <PHONE>", 0, 0, 1, 2)
    assert out["d"] == ("nothing sensitive 123 here", 0, 0, 0, 0)


def test_stratified_sample_quota_and_determinism(spark):
    """Each stratum capped at n; ranking is the md5-keyed permutation
    (engine-neutral), so two runs agree exactly."""
    from ocr_spark.operators.curate import stratified_sample

    rows = [(i, "big" if i < 40 else "small") for i in range(50)]
    df = spark.createDataFrame(rows, ["k", "g"])
    out = stratified_sample(df, "g", "k", 5).collect()
    by_g: dict[str, list] = {}
    for r in out:
        by_g.setdefault(r["g"], []).append((r["sample_rank"], r["k"]))
    assert len(by_g["big"]) == 5          # capped
    assert len(by_g["small"]) == 5        # smaller stratum: capped too
    again = stratified_sample(df, "g", "k", 5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_repetition_metrics_planted_values(spark):
    from ocr_spark.operators.curate import repetition_metrics

    rows = [
        # "a b a b a": words a=3,b=2 all dup -> dup_frac 1.0;
        # bigrams: "a b" x2, "b a" x2 -> tie breaks to "a b"; 2/4 = 0.5
        (1, "a b a b a"),
        # all unique words, unique bigrams -> dup 0, top = first
        # lexicographic bigram at count 1 -> 1/3
        (2, "w x y z"),
        # single word: no bigrams -> null top_bigram
        (3, "solo"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in repetition_metrics(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1]["n_words"] == 5
    assert out[1]["dup_word_frac"] == 1.0
    assert out[1]["top_bigram"] == "a b"
    assert out[1]["top_bigram_frac"] == 0.5
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["top_bigram"] == "w x"
    assert abs(out[2]["top_bigram_frac"] - 0.333333) < 1e-9
    assert out[3]["n_words"] == 1
    assert out[3]["top_bigram"] is None


def test_pack_sequences_arithmetic(spark):
    from ocr_spark.operators.curate import pack_sequences

    rows = [(1, 500), (2, 20), (3, 0), (4, 1024), (5, 4)]
    out = {
        r["doc_id"]: r.asDict()
        for r in pack_sequences(
            spark.createDataFrame(rows, ["doc_id", "n_tokens"])
        ).collect()
    }
    # doc1: tokens 0..499 -> pack 0 only
    assert (out[1]["start_pack"], out[1]["end_pack"],
            out[1]["pack_offset"]) == (0, 0, 0)
    # doc2: tokens 500..519 -> straddles packs 0 and 1
    assert (out[2]["start_pack"], out[2]["end_pack"],
            out[2]["pack_offset"]) == (0, 1, 500)
    # doc3: empty doc at cum=520 -> zero-width slot in pack 1
    assert (out[3]["start_pack"], out[3]["end_pack"],
            out[3]["pack_offset"]) == (1, 1, 8)
    # doc4: tokens 520..1543 -> packs 1..3
    assert (out[4]["start_pack"], out[4]["end_pack"]) == (1, 3)
    # doc5: tokens 1544..1547 -> pack 3, offset 1544-1536=8
    assert (out[5]["start_pack"], out[5]["end_pack"],
            out[5]["pack_offset"]) == (3, 3, 8)


def test_temperature_mixture_flattens_sources(spark):
    """T=2 mixture: quotas proportional to sqrt(frequency), so a rare
    source's sampling RATE exceeds a common source's (the flattening
    property), while absolute quotas still order by frequency. Selection
    is the deterministic md5 permutation (two runs identical)."""
    rows = [(i, "common") for i in range(400)] + [
        (1000 + i, "rare") for i in range(16)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    from ocr_spark.operators.curate import temperature_mixture_sample

    out = temperature_mixture_sample(df, "source", "doc_id", total=100)
    got = out.groupBy("source").count().collect()
    n = {r["source"]: r["count"] for r in got}
    quota = {r["source"]: r["quota"] for r in out.collect()}
    # integer twin of the quota formula
    import math

    w_common = math.floor(math.sqrt(400) * 10**6 + 0.5)
    w_rare = math.floor(math.sqrt(16) * 10**6 + 0.5)
    tot = w_common + w_rare
    assert quota["common"] == (100 * w_common) // tot == n["common"]
    assert quota["rare"] == (100 * w_rare) // tot == n["rare"]
    # flattening: rare rate (n/16) > common rate (n/400)
    assert n["rare"] / 16 > n["common"] / 400
    again = temperature_mixture_sample(df, "source", "doc_id", total=100)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect()))


def test_curation_funnel_first_fail_wins(spark):
    """A document failing several gates reports the FIRST (quality
    before repetition before entropy before length); clean docs keep;
    zero-entropy whitespace is gated; charless docs drop out."""
    from ocr_spark.operators.curate import curation_funnel

    good = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "!!! ??? ***"),            # quality fail (all punct)
            (3, ("dup " * 40).strip()),    # repetition (quality ok? low too)
            (4, "a b"),                    # too short (length gate)
            (5, "   "),
            (6, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["verdict"] for r in curation_funnel(
        docs, min_quality=0.10, min_entropy_micro=500_000).collect()}
    assert out[1] == "keep"
    assert out[2] == "quality"          # fails quality AND entropy -> first
    assert out[3] == "repetition"
    assert out[4] == "length"
    # whitespace-only: 3 space chars -> zero entropy, gated there;
    # truly EMPTY text has no characters and is excluded by the join
    assert out[5] == "entropy"
    assert 6 not in out


def test_split_assign_stable_under_growth(spark):
    """Split membership is a pure function of the key: adding documents
    never migrates an existing one between splits, fractions land near
    90/5/5, and invalid percentages raise."""
    import pytest

    from ocr_spark.operators.curate import split_assign

    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s_small = {r["doc_id"]: r["split"]
               for r in split_assign(small, "doc_id").collect()}
    s_big = {r["doc_id"]: r["split"]
             for r in split_assign(big, "doc_id").collect()}
    assert all(s_big[k] == v for k, v in s_small.items())
    frac = {s: sum(1 for v in s_big.values() if v == s) / 5000
            for s in ("train", "val", "test")}
    assert abs(frac["train"] - 0.90) < 0.03
    assert abs(frac["val"] - 0.05) < 0.02
    assert abs(frac["test"] - 0.05) < 0.02
    with pytest.raises(ValueError, match="partition"):
        split_assign(small, "doc_id", train_pct=96)


def test_cap_per_group_equals_single_window(spark):
    """Two-phase salted top-k must EXACTLY equal the naive single-window
    top-k (subset-of-union argument), including under heavy skew and
    ties; rank is the true global per-group rank."""
    from pyspark.sql import Window

    from ocr_spark.operators.curate import cap_per_group

    rows = []
    # hot group: 500 rows, many score ties; cold groups: below / at / above k
    for i in range(500):
        rows.append((f"id{i:04d}", "hot", float(i % 7)))
    rows += [("a1", "tiny", 5.0)]
    rows += [(f"m{i}", "mid", float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "score"])

    k = 3
    got = {
        (r["doc_id"], r["grp"], r["rank"])
        for r in cap_per_group(df, "grp", "score", "doc_id", k,
                               salt_buckets=8).collect()
    }
    w = Window.partitionBy("grp").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    want = {
        (r["doc_id"], r["grp"], r["rank"])
        for r in df.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).filter(F.col("rank") <= k).collect()
    }
    assert got == want
    assert sum(1 for _, g, _r in got if g == "hot") == k
    assert sum(1 for _, g, _r in got if g == "tiny") == 1

    with pytest.raises(ValueError, match="k must be"):
        cap_per_group(df, "grp", "score", "doc_id", 0)


def test_cap_per_group_stage_bound(spark):
    """The second window's input is bounded by salt_buckets * k per
    group — the property that makes hot domains non-straggling. Pin it
    by counting stage-1 survivors directly."""
    from pyspark.sql import Window

    from ocr_spark.operators.curate import cap_per_group  # noqa: F401

    n, buckets, k = 1000, 4, 2
    df = spark.createDataFrame(
        [(f"id{i:05d}", "one_domain", float(i)) for i in range(n)],
        ["doc_id", "grp", "score"],
    )
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(buckets))
    )
    w_local = Window.partitionBy("grp", "_salt").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    survivors = (
        salted.withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= k)
        .count()
    )
    assert survivors <= buckets * k


def test_domain_cap_query_drops_rows(spark):
    """The cap must genuinely drop rows at the smallest driver SF (a cap
    that keeps everything is vacuous evidence)."""
    import __spark_entry__ as entry_mod

    sf_dir = "/root/testdata/sf0.001"
    kept = entry_mod.curate_domain_cap(spark, sf_dir).count()
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert 0 < kept < total


def test_url_blocklist_suffix_semantics(spark):
    from ocr_spark.operators.curate import url_blocklist_filter

    urls = spark.createDataFrame(
        [
            (1, "https://x.ads.net/a", "t"),       # subdomain of blocked
            (2, "https://ads.net/b", "t"),         # exact blocked
            (3, "https://roads.net/c", "t"),       # NOT a dot-suffix match
            (4, "https://h1.example.com/d", "t"),  # exact blocked
            (5, "https://h14.example.com/e", "t"),  # prefix-similar, kept
            (6, "https://deep.x.ads.net:8080/f?q=1", "t"),  # nested sub
            (7, "https://H1.EXAMPLE.com/g", "t"),  # case-folded host
            (8, "https://x.ads.net/a", None),      # null in another column
        ],
        "doc_id long, url string, title string",
    )
    bl = spark.createDataFrame(
        [("ads.net",), ("H1.example.com",)], "domain string"
    )
    out = {
        r["doc_id"]: (r["host"], r["blocked"])
        for r in url_blocklist_filter(urls, bl).collect()
    }
    assert out[1] == ("x.ads.net", True)
    assert out[2] == ("ads.net", True)
    assert out[3] == ("roads.net", False)
    assert out[4] == ("h1.example.com", True)
    assert out[5] == ("h14.example.com", False)
    assert out[6] == ("deep.x.ads.net", True)
    assert out[7] == ("h1.example.com", True)
    assert out[8] == ("x.ads.net", True)
    assert len(out) == 8  # one row per input, no explode leakage


def test_url_blocklist_plan_is_broadcast_hash(spark):
    """The suffix join must be a broadcast HASH join, never a
    broadcast nested-loop (the LIKE-join shape this operator exists to
    avoid)."""
    from ocr_spark.operators.curate import url_blocklist_filter

    urls = spark.createDataFrame(
        [(1, "https://a.b.c/x")], "doc_id long, url string"
    )
    bl = spark.createDataFrame([("b.c",)], "domain string")
    plan = (
        url_blocklist_filter(urls, bl)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_ngrams_counts_and_tiebreak(spark):
    from ocr_spark.operators.curate import top_ngrams

    docs = spark.createDataFrame(
        [
            (1, "red fox! red fox; blue fox"),
            (2, "Red FOX jumps"),
            (3, "solo"),          # shorter than n -> contributes nothing
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = top_ngrams(docs, n=2, k=3).collect()
    assert [(r["ngram"], r["cnt"]) for r in rows] == [
        ("red fox", 3),       # case/punct-folded across docs
        ("blue fox", 1),      # cnt ties broken by ngram ASC
        ("fox blue", 1),
    ]


def test_top_ngrams_trigram_and_k_bound(spark):
    from ocr_spark.operators.curate import top_ngrams

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c")], "doc_id long, text string"
    )
    rows = top_ngrams(docs, n=3, k=10).collect()
    assert [(r["ngram"], r["cnt"]) for r in rows] == [
        ("a b c", 2), ("b c d", 1)
    ]


def test_shard_assign_partition_of_input(spark):
    from ocr_spark.operators.curate import shard_assign

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    out = shard_assign(docs, num_shards=8).collect()
    assert len(out) == 200
    assert {r["doc_id"] for r in out} == set(range(200))
    by_shard: dict = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # every shard's positions are exactly 1..len (dense rank, no gaps)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # md5 keying decorrelates ids: no shard is empty or dominant at n=200
    sizes = sorted(len(v) for v in by_shard.values())
    assert len(by_shard) == 8 and sizes[0] >= 10


def test_shard_assign_deterministic_under_repartition(spark):
    from ocr_spark.operators.curate import shard_assign

    docs = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    a = {(r["doc_id"], r["shard"], r["pos"])
         for r in shard_assign(docs, num_shards=4).collect()}
    b = {(r["doc_id"], r["shard"], r["pos"])
         for r in shard_assign(docs.repartition(13), num_shards=4)
         .collect()}
    assert a == b


def test_weighted_sample_matches_brute_force_formula(spark):
    import hashlib
    import math

    from ocr_spark.operators.curate import weighted_sample

    rows = [(i, (i % 5) * 1000 + 1) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, w long")
    got = [(r["doc_id"], r["es_key"])
           for r in weighted_sample(docs, "doc_id", "w", n=20).collect()]

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16)
        return math.floor(
            (math.log(h + 1.0) - 52.0 * math.log(2.0)) / w * 1e9 + 0.5
        )

    expect = sorted(
        ((i, key(i, w)) for i, w in rows),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    assert got == expect


def test_weighted_sample_prefers_heavy_weights(spark):
    """Statistical sanity: with weights 1000:1, the heavy class should
    dominate the selection (E-S keys of heavy items sit far closer
    to 0)."""
    from ocr_spark.operators.curate import weighted_sample

    docs = spark.createDataFrame(
        [(i, 100000 if i < 50 else 100) for i in range(1000)],
        "doc_id long, w long",
    )
    picked = {r["doc_id"]
              for r in weighted_sample(docs, "doc_id", "w", n=50)
              .collect()}
    heavy = sum(1 for d in picked if d < 50)
    assert heavy >= 40  # 50 heavy ids vs 950 light at 1000x weight


def test_weighted_sample_repartition_invariant(spark):
    from ocr_spark.operators.curate import weighted_sample

    docs = spark.createDataFrame(
        [(i, i % 7 + 1) for i in range(300)], "doc_id long, w long"
    )
    a = [(r["doc_id"], r["es_key"])
         for r in weighted_sample(docs, "doc_id", "w", n=30).collect()]
    b = [(r["doc_id"], r["es_key"])
         for r in weighted_sample(docs.repartition(17), "doc_id", "w",
                                  n=30).collect()]
    assert a == b


def test_url_blocklist_randomized_python_reference(spark):
    """300 seeded random URLs vs a pure-Python suffix matcher — the
    generalization of the hand-picked boundary cases above."""
    import numpy as np

    from ocr_spark.operators.curate import url_blocklist_filter

    rng = np.random.default_rng(417)
    labels = ["a", "b", "ads", "cdn", "x1", "roads", "net", "com"]
    hosts = [
        ".".join(rng.choice(labels, size=rng.integers(1, 5)))
        for _ in range(300)
    ]
    urls = [(i, f"https://{h}:{rng.integers(80, 9000)}/p{i}?q={i}")
            for i, h in enumerate(hosts)]
    bl = ["ads.net", "b.com", "x1"]

    def py_blocked(h):
        parts = h.split(".")
        sufs = {".".join(parts[i:]) for i in range(len(parts))}
        return bool(sufs & set(bl))

    out = url_blocklist_filter(
        spark.createDataFrame(urls, "doc_id long, url string"),
        spark.createDataFrame([(d,) for d in bl], "domain string"),
    ).collect()
    assert len(out) == 300
    for r in out:
        assert r["blocked"] == py_blocked(r["host"]), r["host"]


def test_top_ngrams_randomized_counter_reference(spark):
    import collections
    import re

    import numpy as np

    from ocr_spark.operators.curate import top_ngrams

    rng = np.random.default_rng(98)
    vocab = ["aa", "Bb", "c3", "d-d", "e"]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(0, 12)))
             for _ in range(120)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cnt = collections.Counter()
    for t in texts:
        ws = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        cnt.update(" ".join(ws[i:i + 2]) for i in range(len(ws) - 1))
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    got = [(r["ngram"], r["cnt"])
           for r in top_ngrams(docs, n=2, k=25).collect()]
    assert got == want


def test_shard_assign_python_reference(spark):
    import hashlib

    from ocr_spark.operators.curate import shard_assign

    docs = spark.createDataFrame([(i,) for i in range(500)],
                                 "doc_id long")
    got = {(r["doc_id"], r["shard"], r["pos"])
           for r in shard_assign(docs, num_shards=16).collect()}

    keyed = [(i, hashlib.md5(str(i).encode()).hexdigest())
             for i in range(500)]
    by_shard: dict = {}
    for i, k in keyed:
        by_shard.setdefault(int(k[:4], 16) % 16, []).append((k, i))
    want = set()
    for shard, members in by_shard.items():
        for pos, (_, i) in enumerate(sorted(members), start=1):
            want.add((i, shard, pos))
    assert got == want


def test_robots_filter_longest_match_semantics(spark):
    from ocr_spark.operators.curate import robots_filter

    urls = spark.createDataFrame(
        [
            (1, "https://a.com/p/x"),       # /p/ disallow wins (len 3)
            (2, "https://a.com/p/1/sub"),   # /p/1 allow wins (len 4)
            (3, "https://a.com/q"),         # only '' matches -> allow
            (4, "https://a.com/t/z"),       # tie len: allow beats deny
            (5, "https://b.com/p/x"),       # no rules -> default allow
            (6, "https://A.COM:8443/p/x"),  # case-fold + port strip
        ],
        "doc_id long, url string",
    )
    rules = spark.createDataFrame(
        [
            ("a.com", "", True),
            ("a.com", "/p/", False),
            ("a.com", "/p/1", True),
            ("a.com", "/t/", False),
            ("A.com", "/t/", True),   # same length as the deny rule
        ],
        "domain string, path_prefix string, allow boolean",
    )
    out = {r["doc_id"]: (r["host"], r["path"], r["allowed"])
           for r in robots_filter(urls, rules).collect()}
    assert out[1] == ("a.com", "/p/x", False)
    assert out[2] == ("a.com", "/p/1/sub", True)
    assert out[3] == ("a.com", "/q", True)
    assert out[4] == ("a.com", "/t/z", True)   # allow wins the tie
    assert out[5] == ("b.com", "/p/x", True)
    assert out[6] == ("a.com", "/p/x", False)
    assert len(out) == 6  # exactly one verdict per input row


def test_robots_filter_randomized_python_reference(spark):
    """200 seeded random URLs x random rule tables vs a pure-Python
    RFC 9309 longest-match evaluator (allow wins length ties; rules
    match path plus query, the fragment is dropped)."""
    import numpy as np

    from ocr_spark.operators.curate import robots_filter

    rng = np.random.default_rng(73)
    hosts = [f"h{i}.site{i % 3}.net" for i in range(6)]
    paths = ["/", "/a", "/a/b", "/a/bc", "/b", "/b/x/y", "/ab",
             "/search?q=x", "/search?lang=en", "/a?b", "/a/b#frag",
             "/search#q=x"]
    urls = [
        (i, f"https://{rng.choice(hosts)}{rng.choice(paths)}")
        for i in range(200)
    ]
    # the query-string case, pinned: Disallow /search?q= on host 5
    urls += [(200, f"https://{hosts[5]}/search?q=cats"),
             (201, f"https://{hosts[5]}/search?lang=en"),
             (202, f"https://{hosts[5]}/search#q=cats")]
    rules = [(hosts[5], "/search?q=", False)]
    for h in hosts[:4]:  # host 4 stays ruleless (default allow)
        for _ in range(rng.integers(1, 5)):
            prefix = rng.choice(["", "/a", "/a/b", "/b", "/ab", "/a?",
                                 "/search?q="])
            rules.append((h, str(prefix), bool(rng.integers(0, 2))))
    rules = sorted(set(rules))

    def py_verdict(url):
        rest = url.split("://", 1)[1]
        cut = min((rest.find(c) for c in "/?#" if c in rest),
                  default=len(rest))
        host = rest[:cut].lower().rsplit(":", 1)[0]
        path = rest[cut:].split("#", 1)[0]
        cands = [(len(p), al, p) for (h, p, al) in rules
                 if h == host and path.startswith(p)]
        if not cands:
            return True
        return max(cands)[1]

    by_id = dict(urls)
    out = robots_filter(
        spark.createDataFrame(urls, "doc_id long, url string"),
        spark.createDataFrame(
            rules, "domain string, path_prefix string, allow boolean"),
    ).collect()
    assert len(out) == len(urls)
    for r in out:
        assert r["allowed"] == py_verdict(by_id[r["doc_id"]]), \
            (by_id[r["doc_id"]], r["path"])
    verdict = {r["doc_id"]: r["allowed"] for r in out}
    assert verdict[200] is False
    assert verdict[201] is True and verdict[202] is True
