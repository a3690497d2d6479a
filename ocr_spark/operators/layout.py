"""Page-layout analysis: multi-column reading-order inference.

The north rule's extraction vocabulary is "HTML boilerplate strip,
PDF/layout parse, DOM heuristics". The HTML/DOM half lives in
functions/boilerplate_core.py + operators/boilerplate.py; this module is
the layout-parse half: given the block rectangles a PDF/scan layout
stage emits (here: OCR line bboxes from operators/ocr.py, or any
(page, block, x0, y0, x1, y1) table), recover the human reading order.

Method: the vertical-gutter pass of classic recursive XY-cut layout
analysis (Nagy & Seth's projection-profile cuts — public literature).
Blocks sorted by x; a new COLUMN opens exactly where a block starts at
or past the running max right-edge of everything before it (i.e. a
full-height vertical gutter separates them); a block that horizontally
overlaps the running span (e.g. a headline spanning two newspaper
columns) merges the islands into one. Reading order is then
column-major: (column, y0, x0, block id).

One level of cutting is the newspaper/two-column-paper case the
reference's page crops model (its quarters/halves vocabulary,
reference src/ocr/tesseract.js:131-183, is a fixed two-cut grid);
deeper nesting = re-apply `reading_order` within a column's blocks.

Scale shape: everything is Catalyst window functions over ONE hash
partitioning on the page id — a single shuffle; both window passes and
the final rank share the same partition ordering, so the sort happens
once. No UDFs, no driver state; page skew is bounded by blocks-per-page
(physical layout, not corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def reading_order(blocks: DataFrame) -> DataFrame:
    """Append (col_idx, read_order) to a table of block rectangles
    (page_id, block_id, x0, y0, x1, y1).

    col_idx: 0-based column island index, left to right — a new island
    opens when a block's left edge sits at or past the running max right
    edge of all blocks before it in (x0, x1, block) order (a touching
    gutter counts as separating; document coordinates are integer
    pixels, so both engines decide identically). read_order: 1-based
    rank in (col_idx, y0, x0, block) order — column-major reading order.
    """
    scan = [F.col("x0").asc(), F.col("x1").asc(), F.col("block_id").asc()]
    wprev = (
        W.partitionBy("page_id").orderBy(*scan)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wrun = (
        W.partitionBy("page_id").orderBy(*scan)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_max = F.max(F.col("x1")).over(wprev)
    opens = F.when(
        prev_max.isNull() | (F.col("x0") >= prev_max), 1
    ).otherwise(0)
    with_col = blocks.withColumn(
        "col_idx", (F.sum(opens).over(wrun) - 1).cast("long")
    )
    worder = W.partitionBy("page_id").orderBy(
        "col_idx", F.col("y0").asc(), F.col("x0").asc(),
        F.col("block_id").asc(),
    )
    return with_col.withColumn(
        "read_order", F.row_number().over(worder).cast("long")
    )
