"""Authoritative schemas (BASELINE.json input_hint + FIXTURES.md).

Centralized so batch readers, streaming readers (which cannot infer), and
tests agree on one shape.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_TYPE = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_TYPE)),
])

OUT_SPAN_TYPE = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("order", T.IntegerType()),
])
