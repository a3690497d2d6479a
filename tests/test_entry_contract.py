"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle must match DuckDB row-for-row (order-insensitive, columns
aligned by name) at sf0.001. The driver runs the same at sf0.01."""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )


ORACLE_NAMES = sorted(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, SF_DIR)
    if name in entry_mod.DRIVER_CHECKED:
        # the driver canonicalizes rows through pandas, which cannot
        # hash nested values: driver-checked outputs must be flat
        nested = [f.simpleString() for f in df.schema.fields
                  if isinstance(f.dataType, (ArrayType, MapType, StructType))]
        assert not nested, f"{name}: nested output columns {nested}"
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    res = duck.sql(entry_mod.oracle_sql()[name])
    duck_cols = list(res.columns)
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    got = _normalize(spark_rows, spark_cols)
    want = _normalize(duck_rows, duck_cols)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    diffs = [
        (g, w) for g, w in zip(got, want) if g != w
    ]
    assert not diffs, f"{name}: {len(diffs)} row diffs; first: {diffs[0]}"


# Queries whose round-2 forms returned 0 rows on both engines (a "pass"
# with no evidential power). Their predicates/thresholds are calibrated
# to the driver tables; pin that they stay non-vacuous.
NON_VACUOUS = [
    "j1_anti_customers_without_orders",
    "u4_viewers_minus_purchasers",
    "semantic_dedup",
    "dedup_components_bigstar",
    "curate_domain_cap",
]


@pytest.mark.parametrize("name", NON_VACUOUS)
def test_calibrated_queries_non_vacuous(spark, name):
    fn = entry_mod.queries()[name]
    assert fn(spark, SF_DIR).count() > 0, f"{name} is vacuous (0 rows)"


def test_every_query_has_an_oracle():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_driver_checked_window_is_explicit():
    """The correctness driver oracles the first DRIVER_CAP registry rows.

    The window is the set of queries declared with the DRIVER tag: an
    insert anywhere in the module must not move a query in or out of it."""
    tagged = entry_mod.DRIVER_CHECKED
    assert len(tagged) == entry_mod.DRIVER_CAP
    names = list(entry_mod.queries())
    assert set(names[: entry_mod.DRIVER_CAP]) == set(tagged)
    # every driver-checked row must have a full value-hash oracle
    missing = [n for n in tagged if n not in entry_mod.oracle_sql()]
    assert not missing, f"driver-checked rows without oracle: {missing}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "out_spans", "codes"}


def test_default_heap_fits_this_host():
    """`bench.py` and `entry()` start Spark with no heap given; the
    derived default must fit in the memory this host has available (a
    fixed 16g pre-touched heap kept the JVM from starting)."""
    from ocr_spark.session import _default_driver_memory

    with open("/proc/meminfo") as f:
        avail = next(int(ln.split()[1]) * 1024 for ln in f
                     if ln.startswith("MemAvailable:"))
    heap = _default_driver_memory()
    assert heap.endswith("m")
    assert 512 <= int(heap[:-1]) and int(heap[:-1]) << 20 < avail
