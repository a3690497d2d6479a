"""URL canonicalization: literal cases + the dedup query's invariants."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from ocr_spark.functions.urls import canonicalize_url  # noqa: E402


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return [r["c"] for r in
            df.select(canonicalize_url("url").alias("c")).collect()]


def test_canonicalize_url_cases(spark):
    cases = {
        # the full stack: case, default port, trailing slash, tracking,
        # fragment — all collapse
        "https://Ex.COM:443/a/?utm_source=x&page=2#top":
            "https://ex.com/a?page=2",
        # tracking param alone: query evaporates, then the slash
        "https://h.com/?utm_campaign=z": "https://h.com",
        # plain trailing slash
        "http://h.com/p/": "http://h.com/p",
        # ':443' inside the path is NOT a port — survives
        "https://h.com/x:443/y": "https://h.com/x:443/y",
        # non-default port survives
        "https://h.com:8443/a": "https://h.com:8443/a",
        # real params keep order; tracking removed mid-string
        "https://h.com/a?q=1&utm_medium=m&r=2": "https://h.com/a?q=1&r=2",
        # already canonical: fixpoint
        "https://ex.com/a?page=2": "https://ex.com/a?page=2",
        # a param merely CONTAINING utm_ is not tracking — boundary-
        # anchored removal leaves it alone
        "https://h.com/a?xutm_a=1": "https://h.com/a?xutm_a=1",
        "https://h.com/a?refbclid=5": "https://h.com/a?refbclid=5",
        "https://h.com/a?a=utm_x=5": "https://h.com/a?a=utm_x=5",
        # consecutive tracking params both removed, separators mended
        "https://h.com/a?utm_a=1&utm_b=2&p=3": "https://h.com/a?p=3",
        # '/' and trailing '/' inside QUERY VALUES are legal and survive
        "https://h.com/r?next=/home/?a=1": "https://h.com/r?next=/home/?a=1",
        "https://h.com/r?path=/a/": "https://h.com/r?path=/a/",
        # :443 is only default under https; :80 only under http
        "http://h.com:443/x": "http://h.com:443/x",
        "http://h.com:80/x": "http://h.com/x",
        # stages 2-3 are QUERY-scoped (ADVICE r4): a literal '&utm_x='
        # inside a PATH segment is not a parameter — survives
        "https://h.com/a&utm_source=x/b": "https://h.com/a&utm_source=x/b",
        # ...and a '?&' inside a query VALUE is not a separator pair
        "https://h.com/a?x=?&b=2": "https://h.com/a?x=?&b=2",
        # a second '?' inside a value starts nothing; '?utm_' there is
        # part of the value, not a tracking param
        "https://h.com/a?x=1?utm_b=2": "https://h.com/a?x=1?utm_b=2",
        # leading tracking param then empty-param mend still collapses
        "https://h.com/a?utm_a=1&&p=3": "https://h.com/a?p=3",
    }
    got = _canon(spark, list(cases))
    for (src, want), g in zip(cases.items(), got):
        assert g == want, (src, g, want)


def test_url_dedup_groups_nonvacuous(spark):
    """The synthesized corpus must produce real duplicate groups
    (n_dups > 1) and keeper_id = min of each group."""
    out = entry_mod.url_canonical_dedup(
        spark, "/root/testdata/sf0.001").collect()
    assert any(r["n_dups"] > 1 for r in out)
    # every document lands in exactly one group
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").count()
    assert sum(r["n_dups"] for r in out) == n_docs


def test_canonicalize_cross_engine_parity(spark):
    """The Spark chain and its DuckDB twin must agree character-for-
    character on adversarial literals — including the '$'-anchor trap:
    Java regex lets a bare '$' match before a trailing newline, RE2
    does not, so without the rule-0 whitespace strip every $-anchored
    rule diverges on a '\\n'-terminated URL (live-confirmed in review)."""
    import duckdb

    from ocr_spark.functions.urls import (
        canonical_clean_sql,
        canonical_compose_sql,
    )

    urls = [
        "https://h.com:443/a\n",            # the Java-vs-RE2 $ trap
        "  https://Ex.COM:443/a/?utm_source=x&page=2#top  ",
        "https://h.com/a?utm_a=1&utm_b=2&p=3",
        "https://h.com/r?next=/home/?a=1",
        "http://h.com:443/x",
        "http://h.com:80/x",
        "https://h.com/a?xutm_a=1",
        "https://h.com/a&utm_source=x/b",
        "https://h.com/a?x=?&b=2",
        "https://h.com/a?x=1?utm_b=2",
        "https://h.com/a?utm_a=1&&p=3",
    ]
    got_spark = _canon(spark, urls)
    con = duckdb.connect()
    got_duck = [
        con.sql(
            f"SELECT {canonical_compose_sql(canonical_clean_sql('url'))} "
            f"FROM (VALUES (?)) t(url)", params=[u]
        ).fetchone()[0]
        for u in urls
    ]
    assert got_spark == got_duck, list(zip(urls, got_spark, got_duck))
