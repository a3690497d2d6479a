"""ocr_spark — a PySpark-native document-extraction analytics engine.

A from-scratch re-expression of the capabilities of the reference OCR
pipeline (dimaslanjaka/ocr, studied read-only) as a
single declarative Spark job over tables of interleaved text + media
documents:

    documents_interleaved(doc_id string,
                          spans array<struct<kind,text,media_ref,offset>>)
      -> media lookup: synthetic OCR (binarize -> line segment -> classify)
                       of the referenced blobs inside Arrow-batched
                       mapInPandas, executor-singleton recognizer
      -> one in-row Arrow pass per batch: boilerplate-strip text spans,
         substitute media text, order spans by offset
      -> voucher-code extraction (regexp + banned anti-join +
         first-occurrence window dedup)
      -> snapshot-committed results + audit/lineage tables

Everything is DataFrame/SQL-first: Catalyst handles pushdown, pruning,
broadcast and AQE; Python appears only in Arrow-batched UDFs.
"""

__version__ = "0.1.0"
