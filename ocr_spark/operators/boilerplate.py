"""Text branch: HTML boilerplate strip as an Arrow-batched pandas UDF.

The semantics live in functions/boilerplate_core.py (pure, inspectable);
this module is only the Spark plumbing. Batches arrive via Arrow
(spark.sql.execution.arrow.pyspark.enabled), so Python cost is per-batch
serialization + the unavoidable per-string regex work — there is no
row-at-a-time Python UDF serialization (the input_hint's "no per-row
Python" requirement).

At 100 TB scale this UDF is embarrassingly parallel: it is a pure
projection (no shuffle), so it runs inside the same stage as the parquet
scan and inherits its partitioning. Column pruning matters more than
anything here — the UDF touches only the `text` column.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.boilerplate_core import strip_boilerplate


@F.pandas_udf(T.StringType())
def strip_boilerplate_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    # iterator form: one-time per-worker setup would go here (none needed —
    # the regexes in boilerplate_core are compiled at import, once per
    # Python worker, mirroring the reference's shared-worker pattern at
    # reference src/ocr/tesseract.js:13-29).
    for series in batches:
        yield series.map(strip_boilerplate, na_action="ignore").fillna("")


def extract_links(pages: DataFrame) -> DataFrame:
    """Anchor (href) extraction from HTML pages — the DOM step that
    turns a crawled corpus into its link graph (crawl frontier
    expansion, PageRank input, anchor-text signals). Mirrors the href
    scan of the boilerplate stripper's link-density scoring but emits
    the links themselves, in document order.

    Pure Catalyst: regexp_extract_all + posexplode, no Python in the
    row path; the pattern is in the common Java-regex/RE2 subset so a
    SQL oracle can replay it verbatim. Pages with no anchors emit no
    rows (posexplode of an empty array).

    Returns (src, pos, href): source id, 0-based anchor position in the
    page, raw href value. Callers canonicalize/resolve hrefs and build
    degree aggregates on top (see the html_link_graph driver query).
    The pattern anchors on the ``<a`` tag itself, so href attributes of
    non-anchor elements (``<link>``, ``<area>``, ``<base>``) are not
    links and do not leak into the graph.
    """
    return pages.select(
        F.col("doc_id").alias("src"),
        F.posexplode(
            F.regexp_extract_all(
                F.col("html"), F.lit('<a\\b[^>]*href="([^"]*)"'), 1
            )
        ).alias("pos", "href"),
    )


def extract_anchor_texts(pages: DataFrame) -> DataFrame:
    """(src, pos, href, anchor) extraction — extract_links plus the
    anchor's inner text, the classic off-page relevance signal (anchor
    text describes the TARGET page; search engines index it against the
    target, and crawl pipelines use it as a quality/topic prior for
    frontier scheduling).

    Catalyst-only two-step: regexp_extract_all captures each complete
    well-formed anchor element (href attribute + simple inner text),
    then a transform() re-extracts the two parts per element — Spark's
    regexp_extract_all returns a single capture group, so pairing href
    with text in ONE pass needs the per-element second extract rather
    than two parallel scans that could desynchronize on malformed
    anchors (an <a> with no href would shift one list but not the
    other). Anchors with nested markup in the text are skipped by the
    [^<]* inner pattern — the boilerplate stripper owns full DOM
    handling; this operator mirrors a crawler's cheap anchor scan.
    """
    tag_pat = '<a\\b[^>]*\\bhref="[^"]*"[^>]*>[^<]*</a>'
    tags = F.regexp_extract_all(F.col("html"), F.lit(tag_pat), 0)
    return pages.select(
        F.col("doc_id").alias("src"),
        F.posexplode(tags).alias("pos", "_tag"),
    ).select(
        "src",
        "pos",
        F.regexp_extract(F.col("_tag"), 'href="([^"]*)"', 1)
        .alias("href"),
        F.regexp_extract(F.col("_tag"), ">([^<]*)</a>", 1)
        .alias("anchor"),
    )
