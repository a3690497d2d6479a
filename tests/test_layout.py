"""Layout-parse operator: multi-column reading-order inference."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_reading_order_planted_layout(spark):
    """Two columns read column-major; a spanning headline merges the
    page into one island and leads by y."""
    from ocr_spark.operators.layout import reading_order

    rows = [
        # page 1: clean two-column layout, blocks given out of order
        ("p1", "right_top", 400, 0, 700, 40),
        ("p1", "left_bot", 0, 50, 300, 90),
        ("p1", "left_top", 0, 0, 300, 40),
        ("p1", "right_bot", 400, 50, 700, 90),
        # page 2: a headline spanning both columns merges the islands
        ("p2", "head", 0, 0, 700, 40),
        ("p2", "left", 0, 50, 300, 90),
        ("p2", "right", 400, 50, 700, 90),
    ]
    df = spark.createDataFrame(
        rows, ["page_id", "block_id", "x0", "y0", "x1", "y1"]
    )
    out = {
        (r["page_id"], r["block_id"]): (r["col_idx"], r["read_order"])
        for r in reading_order(df).collect()
    }
    assert out[("p1", "left_top")] == (0, 1)
    assert out[("p1", "left_bot")] == (0, 2)
    assert out[("p1", "right_top")] == (1, 3)
    assert out[("p1", "right_bot")] == (1, 4)
    # merged page: single island, pure y-then-x order
    assert out[("p2", "head")] == (0, 1)
    assert out[("p2", "left")] == (0, 2)
    assert out[("p2", "right")] == (0, 3)


def test_extract_links_order_and_empty_pages(spark):
    from ocr_spark.operators.boilerplate import extract_links

    pages = spark.createDataFrame(
        [
            (1, '<a href="/x">one</a><p>mid</p><a href="https://e.com/y?a=1">two</a>'),
            (2, "<p>no anchors at all</p>"),
            (3, '<img src="/not-a-link.png"><a href="">empty</a>'),
            (4, '<link href="/style.css" rel="stylesheet">'
                '<base href="/root/">no anchor hrefs here'),
        ],
        "doc_id long, html string",
    )
    rows = [(r["src"], r["pos"], r["href"])
            for r in extract_links(pages).collect()]
    assert sorted(rows) == [
        (1, 0, "/x"),
        (1, 1, "https://e.com/y?a=1"),
        (3, 0, ""),
    ]  # pages 2/4 emit nothing; src=/<link>/<base> hrefs are not links


def test_extract_anchor_texts_pairing_stays_synchronized(spark):
    """An anchor WITHOUT href must not shift href/text pairing (the
    failure mode of two parallel regex scans); href need not be the
    first attribute."""
    from ocr_spark.operators.boilerplate import extract_anchor_texts

    pages = spark.createDataFrame(
        [
            (1, '<a href="/a">first</a><a name="x">no-href</a>'
                '<a href="/b" class="c">second</a>'),
            (2, '<a href="/n"><b>nested markup skipped</b></a>'
                '<a href="/m">plain</a>'),
            (3, '<a class="c" href="/x">t</a>'),
        ],
        "doc_id long, html string",
    )
    rows = sorted(
        (r["src"], r["pos"], r["href"], r["anchor"])
        for r in extract_anchor_texts(pages).collect()
    )
    assert rows == [
        (1, 0, "/a", "first"),
        (1, 1, "/b", "second"),
        (2, 0, "/m", "plain"),
        (3, 0, "/x", "t"),
    ]
