"""Explicit StructType schemas for every table the engine touches.

The reference validates processor parameters against JSON Schema
(/root/reference/ocrd_tesserocr/ocrd-tool.json) and PAGE documents against the
PAGE XSD — schemas are always explicit, never inferred
(/root/reference/ocrd_tesserocr/segment.py:17-19).  We mirror that: every
Arrow kernel (``mapInArrow``/``mapInPandas``) declares its output StructType, every table is written with a
fixed schema.

The ``extracted`` schema is the Spark-native replacement for the PAGE-XML
tree (Page -> TextRegion -> TextLine -> Word,
/root/reference/ocrd_tesserocr/recognize.py:527-856): polygon Coords become
character-offset spans into the canonical document text.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# input: Common-Crawl-style pages table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# input: events table (the driver's testdata shape) — streaming
# sessionization's file source needs an EXPLICIT schema (a batch-read
# inference would crash on an empty landing directory)
# ---------------------------------------------------------------------------
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# output: extracted span hierarchy (FIXTURES.md section 2)
#   Word  ~ PAGE Word           (recognize.py:782-814)
#   Line  ~ PAGE TextLine       (recognize.py:735-780)
#   Block ~ PAGE TextRegion     (recognize.py:527-688)
# char_start/char_end replace Coords polygons; -1/-1 marks segment-only
# (unrecognized) blocks, the analogue of textequiv_level='none'
# (recognize.py:411,481-486 lazy recognition).
# ---------------------------------------------------------------------------
# ranked TextEquiv choice (recognize.py:838-856: index 0 = recognized
# glyph, alternatives cut at CHOICE_THRESHOLD_NUM / _CONF)
CHOICE_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),
    ]
)

GLYPH_STRUCT = T.StructType(
    [
        T.StructField("glyph_id", T.StringType(), False),
        T.StructField("char_start", T.LongType(), False),
        T.StructField("char_end", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),
        T.StructField("choices", T.ArrayType(CHOICE_STRUCT), False),
    ]
)

# per-word TextStyle (fontshape.py:125-140 WordFontAttributes ->
# TextStyleType(bold/italic/monospace)); read from the inline b/i/code
# ancestry of the word's characters instead of a font model
STYLE_STRUCT = T.StructType(
    [
        T.StructField("bold", T.BooleanType(), False),
        T.StructField("italic", T.BooleanType(), False),
        T.StructField("monospace", T.BooleanType(), False),
    ]
)

WORD_STRUCT = T.StructType(
    [
        T.StructField("word_id", T.StringType(), False),
        T.StructField("char_start", T.LongType(), False),
        T.StructField("char_end", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),
        T.StructField("style", STYLE_STRUCT, False),
        # empty unless textequiv_level='glyph' (recognize.py:816-856)
        T.StructField("glyphs", T.ArrayType(GLYPH_STRUCT), False),
    ]
)

LINE_STRUCT = T.StructType(
    [
        T.StructField("line_id", T.StringType(), False),
        T.StructField("char_start", T.LongType(), False),
        T.StructField("char_end", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),
        T.StructField("words", T.ArrayType(WORD_STRUCT), False),
    ]
)

BLOCK_STRUCT = T.StructType(
    [
        T.StructField("block_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("order_idx", T.IntegerType(), False),
        T.StructField("char_start", T.LongType(), False),
        T.StructField("char_end", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),
        T.StructField("text_density", T.DoubleType(), False),
        T.StructField("link_density", T.DoubleType(), False),
        T.StructField("is_main", T.BooleanType(), False),
        # per-block recognition model tag (the reference's model parameter +
        # xpath_model per-segment selection, recognize.py:247-262)
        T.StructField("model", T.StringType(), False),
        T.StructField("lines", T.ArrayType(LINE_STRUCT), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("conf", T.DoubleType(), False),
        T.StructField("blocks", T.ArrayType(BLOCK_STRUCT), False),
        T.StructField("features", T.ArrayType(T.StringType()), False),
        # engine bookkeeping (dropped from the user-facing view):
        T.StructField("failed", T.BooleanType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
    ]
)

#: user-facing columns (without bookkeeping)
EXTRACTED_USER_COLUMNS = ["url", "text", "conf", "blocks", "features"]

# ---------------------------------------------------------------------------
# lineage: per-partition metrics rows (north rule; analogue of OCR-D's
# per-page result accounting, recognize.py:433)
# ---------------------------------------------------------------------------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("failure_count", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)
