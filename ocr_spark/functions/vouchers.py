"""Voucher-code extraction as pure Catalyst column expressions.

Independent Spark re-expression of the semantics in voucher_core.py
(reference behavior: reference src/shared/extractVoucherCodes.js:10-27,
src/database/VoucherDatabase.py:39-70). Everything stays JVM-side inside
whole-stage codegen — regexp_extract_all, transform, filter, array_distinct
— no Python in the hot path.

Two shapes are provided:

  * codes_from_text(col):  array-expression pipeline over one text column
    (regexp scan -> whitespace normalize -> length filter -> banned filter
    -> first-occurrence dedup). Spark's `array_distinct` keeps the order of
    first occurrence, which is exactly the reference's seen-set streaming
    dedup (extractVoucherCodes.js:15-22).
  * first_occurrence_dedup(df, ...):  the relational window variant
    (SURVEY.md section 2.4 A1/A2) for row-shaped inputs where the code
    order spans multiple rows — `row_number() OVER (PARTITION BY key, code
    ORDER BY pos)` then keep rn=1, re-sorted by pos. Plain dropDuplicates
    would lose the order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .voucher_core import BANNED_VOUCHERS, JS_SPACE, VOUCHER_PATTERN

BANNED_LIST = sorted(BANNED_VOUCHERS)


def raw_voucher_matches(col: Column | str) -> Column:
    """Ordered array of raw regex matches (pre-normalization)."""
    return F.regexp_extract_all(col, F.lit(VOUCHER_PATTERN), 0)


def normalize_code(col: Column) -> Column:
    return F.regexp_replace(col, JS_SPACE + "+", "")


def codes_from_text(col: Column | str) -> Column:
    """array<string> of normalized, filtered, first-occurrence codes."""
    normalized = F.transform(raw_voucher_matches(col), normalize_code)
    kept = F.filter(
        normalized,
        lambda c: (F.length(c) == 16) & ~c.isin(BANNED_LIST),
    )
    return F.array_distinct(kept)


def first_occurrence_dedup(
    df: DataFrame, key: str, code: str, pos: str
) -> DataFrame:
    """Row-shaped first-occurrence dedup (window pattern, order-preserving).

    Keeps, per (key, code), only the row with the smallest pos; the result
    preserves encounter order via the retained pos column.
    """
    w = W.partitionBy(key, code).orderBy(F.col(pos).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
