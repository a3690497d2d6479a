"""ocr_spark — a PySpark-native document-extraction analytics engine.

A from-scratch re-expression of the capabilities of the reference OCR
pipeline (dimaslanjaka/ocr, studied read-only) as a
single declarative Spark job over tables of interleaved text + media
documents:

    documents_interleaved(doc_id string,
                          spans array<struct<kind,text,media_ref,offset>>)
      -> posexplode(spans)
      -> text branch:  boilerplate strip (vectorized pandas UDF)
      -> media branch: synthetic OCR (binarize -> line segment -> classify)
                       inside Arrow-batched mapInPandas, executor-singleton
                       recognizer
      -> voucher-code extraction (regexp + banned anti-join +
         first-occurrence window dedup)
      -> order-exact reassembly: sort_array(collect_list(struct(...)))
      -> snapshot-committed results + audit/lineage tables

Everything is DataFrame/SQL-first: Catalyst handles pushdown, pruning,
broadcast and AQE; Python appears only in Arrow-batched UDFs.
"""

__version__ = "0.1.0"
