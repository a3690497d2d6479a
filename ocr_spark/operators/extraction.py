"""Cold-media fallback plan: interleaved documents -> ordered spans.

The one extraction entry is ``extraction_inrow.run_extraction_inrow``. It
runs this plan only when its budget check finds that the recognized media
of a batch would not fit a driver broadcast (cold media: distinct refs
grow with spans). The plan is declared with the DataFrame API so Catalyst
owns it:

    documents_interleaved(doc_id, spans)
      posexplode_outer(spans)                 # span rows keep offset and
                                              #   input position; empty
                                              #   docs survive
      kind = 'text'   -> strip_boilerplate_udf
      any other kind  -> left join recognize_blobs(blobs) on media_ref
                         ('' for refs with no blob)
      union -> groupBy(doc_id)
               sort_array(collect_list(struct(offset, pos, ...)))
      -> codes per doc (Catalyst exprs)

Pixel bytes never cross an exchange: every blob is recognized map-side in
its scan stage (with cold media most blobs are referenced, so a prune would
save little, and a shuffle semi-join would exchange the pixel column). Only
(ref, short text) shuffles into the span join, and nothing is broadcast, so
the corpus-sized recognized relation that failed the budget is never built
on the driver.

The span rules are the in-row plan's, so both plans return the same rows:
every span whose kind is not 'text' resolves as media, null offsets sort
first, and spans with equal offsets keep their input order.

Replaces the reference's four-boundary imperative flow (HTTP -> Redis ->
child process -> worker thread; reference src/ocr/ocrQueue.js:40-66,
src/ocr/cli.js:12-29) with one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vouchers import codes_from_text
from .boilerplate import strip_boilerplate_udf
from .ocr import recognize_blobs

SPAN_SEP = "\n"


def extract_spans(docs: DataFrame, blobs: DataFrame) -> DataFrame:
    """Per-span rows: (doc_id, offset, pos, kind, text, media_ref).

    text = stripped main content for text spans, recognized text for all
    other spans ('' for unresolvable refs — mirrors the reference's
    empty-OCR fallback, reference src/ocr/focus_pytesseract.py:49-55).
    """
    spans = docs.select(
        "doc_id", F.posexplode_outer("spans").alias("pos", "span"),
    ).select(
        "doc_id", "pos", "span.kind", "span.text", "span.media_ref",
        "span.offset",
    )
    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id", "offset", "pos", "kind",
        strip_boilerplate_udf("text").alias("text"),
        "media_ref",
    )
    media_spans = spans.filter(
        F.col("pos").isNotNull() & ~F.col("kind").eqNullSafe("text")
    ).drop("text")
    media_out = media_spans.join(
        recognize_blobs(blobs), "media_ref", "left"
    ).select(
        "doc_id", "offset", "pos", "kind",
        F.coalesce("text", F.lit("")).alias("text"),
        "media_ref",
    )
    return text_spans.unionByName(media_out)


def reassemble(extracted: DataFrame, all_doc_ids: DataFrame) -> DataFrame:
    """Span rows -> (doc_id, out_spans, codes), order-exact.

    sort_array over (offset, pos)-first structs makes ordering explicit and
    shuffle-independent (SURVEY.md section 7.4 risk #1); ascending order
    puts null offsets first. all_doc_ids keeps empty-span documents in the
    result (left join).
    """
    per_doc = (
        extracted.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("offset").alias("order"),
                        "pos", "kind", "text", "media_ref",
                    )
                )
            ).alias("_sorted")
        )
        .select(
            "doc_id",
            F.transform(
                "_sorted",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["order"].alias("order"),
                ),
            ).alias("out_spans"),
            F.array_join(
                F.transform("_sorted", lambda s: s["text"]), SPAN_SEP
            ).alias("_doc_text"),
        )
        .select(
            "doc_id", "out_spans",
            codes_from_text(F.col("_doc_text")).alias("codes"),
        )
    )
    return (
        all_doc_ids.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                "out_spans",
                F.array().cast(per_doc.schema["out_spans"].dataType),
            ).alias("out_spans"),
            F.coalesce(
                "codes", F.array().cast("array<string>")
            ).alias("codes"),
        )
    )


def run_extraction_cold(docs: DataFrame, blobs: DataFrame) -> DataFrame:
    """documents_interleaved + media_blobs -> expected_spans-shaped result."""
    return reassemble(extract_spans(docs, blobs), docs)
