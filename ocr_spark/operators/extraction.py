"""Flagship pipeline: interleaved documents -> ordered extracted spans.

The end-to-end job the north rule specifies, declared entirely with the
DataFrame API so Catalyst owns the physical plan:

    documents_interleaved(doc_id, spans)
      posexplode_outer(spans)                      # span rows, offset kept;
                                                   #   empty docs survive
      kind='text'  -> strip_boilerplate_udf        # Arrow pandas UDF
      kind='media' -> distinct media_ref
                      -> semi-join prune blobs     # OCR once per blob
                      -> recognize_blobs           # mapInPandas singleton
                      -> join text back to spans
      union -> codes per doc (Catalyst exprs)
      groupBy(doc_id).agg(sort_array(collect_list(struct(order, ...))))
                                                   # explicit order, never
                                                   #   shuffle-order luck

Replaces the reference's four-boundary imperative flow (HTTP -> Redis ->
child process -> worker thread; reference src/ocr/ocrQueue.js:40-66,
src/ocr/cli.js:12-29) with one declarative plan whose only wide exchanges
are the media-ref dedup/join and the final per-document reassembly.

Scale design (100 TB / 10^12 docs):
  * Pixel bytes never shuffle on doc_id — recognition output (short text)
    is what joins back to spans. The heavy columns stay in the scan stage.
  * Media-heavy skew documents (FIXTURES.md: 2% docs with 32-128 media
    spans) do not skew OCR (per-blob, deduped) and reassembly skew is
    bounded by max spans/doc; AQE skew-join handles hot media_refs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vouchers import codes_from_text
from .boilerplate import strip_boilerplate_udf
from .ocr import recognize_blobs

SPAN_SEP = "\n"


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> one row per span; empty docs keep a null row."""
    return docs.select(
        "doc_id",
        F.posexplode_outer("spans").alias("pos", "span"),
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def extract_spans(
    docs: DataFrame, blobs: DataFrame, broadcast_ok: bool = True,
) -> DataFrame:
    """Per-span extraction: (doc_id, offset, kind, text, media_ref).

    text = stripped main content for text spans, recognized text for media
    spans ('' for unresolvable refs — mirrors the reference's empty-OCR
    fallback, reference src/ocr/focus_pytesseract.py:49-55).

    broadcast_ok: whether the distinct-ref set and the recognized
    (media_ref, text) relation fit a broadcast. The in-row mode's budget
    guard (extraction_inrow.py) passes False when they don't — the
    cold-media regime. The invariant that holds in BOTH regimes is "pixel
    bytes never cross an exchange" (pinned in tests/test_plans.py), NOT
    "broadcast everything":

      * True (hot media, the common web-corpus case): prune blobs with a
        broadcast semi-join on the distinct refs, broadcast the small
        recognized relation into the span join — zero shuffles on either.
      * False (cold media, refs ~ spans): a shuffle semi-join to prune
        blobs would EXCHANGE THE PIXEL COLUMN, and broadcasting the
        corpus-sized recognized map would OOM the driver (the round-3
        fallback defect). Instead skip the prune entirely — recognize
        every blob map-side in its scan stage (cold media means the prune
        saves little: most blobs are referenced) — and join the recognized
        (ref, short text) output to spans with a plain shuffle join. Only
        ref strings and short recognized text cross exchanges; unreferenced
        blobs simply don't match the left join, so results are identical.
    """
    spans = explode_spans(docs)

    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id", "offset", "kind",
        strip_boilerplate_udf("text").alias("text"),
        "media_ref",
    )

    media_spans = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "kind", "media_ref"
    )
    if broadcast_ok:
        # broadcast both small sides explicitly: `needed` is a distinct-ref
        # set and `recognized` is (media_ref, short text) — without the
        # hints Spark may plan sort-merge joins that SHUFFLE PIXEL BYTES
        # (observed: a 32-partition exchange of the blob table at sf1.0).
        needed = media_spans.select("media_ref").distinct()
        pruned = blobs.join(F.broadcast(needed), "media_ref", "left_semi")
        recognized = F.broadcast(recognize_blobs(pruned))
    else:
        recognized = recognize_blobs(blobs)
    media_out = (
        media_spans.join(recognized, "media_ref", "left")
        .select(
            "doc_id", "offset", "kind",
            F.coalesce("text", F.lit("")).alias("text"),
            "media_ref",
        )
    )
    return text_spans.unionByName(media_out)


def reassemble(extracted: DataFrame, all_doc_ids: DataFrame) -> DataFrame:
    """Span rows -> (doc_id, out_spans, codes), order-exact.

    sort_array over offset-first structs makes ordering explicit and
    shuffle-independent (SURVEY.md section 7.4 risk #1). all_doc_ids keeps
    empty-span documents in the result (left join).
    """
    per_doc = (
        extracted.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("offset").alias("order"),
                        "kind", "text", "media_ref",
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


def run_extraction(
    docs: DataFrame, blobs: DataFrame, broadcast_ok: bool = True,
) -> DataFrame:
    """documents_interleaved + media_blobs -> expected_spans-shaped result."""
    return reassemble(extract_spans(docs, blobs, broadcast_ok), docs)
