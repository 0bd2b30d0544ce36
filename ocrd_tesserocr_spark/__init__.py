"""ocrd_tesserocr_spark — a from-scratch, PySpark-native main-content
extraction engine over Common-Crawl-style web pages.

The reference (OCR-D/ocrd_tesserocr) recognizes text in scanned page images
through a hierarchical segment-then-recognize workflow
(page -> region -> line -> word -> glyph, see
/root/reference/ocrd_tesserocr/recognize.py:282-525).  This engine keeps the
same query semantics over HTML payloads instead of images:

  * "layout analysis"  -> DOM parsing + text/link-density block classification
  * "recognition"      -> main-content text extraction with per-block conf
  * PAGE-XML tree      -> nested Spark columns (blocks -> lines -> words)
  * METS workspace     -> snapshot-committed tables (Iceberg at scale,
                          parquet snapshot dirs in this sandbox)

Design stance (SURVEY.md section 7): one DataFrame pipeline, one Arrow-batched
extraction kernel inside ``mapInArrow``, relational operators for everything
above the per-document loop.  No per-row Python at the Spark API surface.
"""

__version__ = "0.1.0"
