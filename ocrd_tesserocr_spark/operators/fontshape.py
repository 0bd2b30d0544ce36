"""Font-shape analogue (P7): per-word style from inline DOM markers.

The reference's TesserocrFontShape annotates words with TextStyle
(bold/italic/monospace/..., /root/reference/ocrd_tesserocr/fontshape.py:99-141)
via a legacy OCR model.  The web analogue reads the style straight from the
inline tags (``<b>/<i>/<code>``) — a pure JVM-side regexp pass over the
payload, no Python at all (whole-stage codegen keeps it in the scan
pipeline).

The driver-facing query runs over the materialized deterministic pages
corpus (corpus.materialize_pages) so the DuckDB oracle can regexp the very
same strings; at cluster scale the same ``font_style_counts`` runs on the
live pages table.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import materialize_pages, pages_cache_path, words_cache_path
from ..sources import read_parquet

_PATTERNS = [
    ("n_bold", r"<b>[^<]*</b>"),
    ("n_italic", r"<i>[^<]*</i>"),
    ("n_monospace", r"<code>[^<]*</code>"),
]


def font_style_counts(pages: DataFrame, text_col=None) -> DataFrame:
    s = text_col if text_col is not None else F.col("html").cast("string")
    return pages.select(
        "url",
        *[
            F.size(F.regexp_extract_all(s, F.lit(pat), 0)).cast("long").alias(name)
            for name, pat in _PATTERNS
        ],
    )


def q_font_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = read_parquet(spark, materialize_pages(sf_dir))
    # html_str is the pre-decoded utf-8 string column the oracle also reads
    return font_style_counts(pages, text_col=F.col("html_str"))


def q_font_style_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word TextStyle rollup (fontshape.py:125-140: WordFontAttributes
    -> TextStyleType(bold/italic/monospace) on every Word).

    Spark side: the REAL extraction kernel emits ``style`` structs on each
    word; this explodes blocks->lines->words and counts styled words per
    url.  Oracle side: DuckDB aggregates the pure-Python oracle's
    materialized word table — so the gate covers kernel-vs-oracle style
    parity and the Spark aggregation in one query."""
    from ..corpus import pages_df
    from ..pipeline import extract

    out = extract(spark, pages_df(spark, sf_dir))
    w = (
        out.select("url", F.explode("blocks").alias("b"))
        .select("url", F.explode("b.lines").alias("l"))
        .select("url", F.explode("l.words").alias("w"))
    )
    return w.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.col("w.style.bold").cast("long")).alias("n_bold"),
        F.sum(F.col("w.style.italic").cast("long")).alias("n_italic"),
        F.sum(F.col("w.style.monospace").cast("long")).alias("n_monospace"),
    )


# the driver's correctness gate runs at sf0.01; the static oracle SQL below
# points at that corpus' cache (materialized by oracle_sql()); the path is
# version-tokened so semantic changes invalidate it.  Only the corpus NAME
# matters — the cache layout is repo-relative.
SQL_FONT_STYLE = f"""
SELECT url,
       len(regexp_extract_all(html_str, '<b>[^<]*</b>'))::BIGINT AS n_bold,
       len(regexp_extract_all(html_str, '<i>[^<]*</i>'))::BIGINT AS n_italic,
       len(regexp_extract_all(html_str, '<code>[^<]*</code>'))::BIGINT AS n_monospace
FROM read_parquet('{pages_cache_path("sf0.01")}')
"""

SQL_FONT_STYLE_WORDS = f"""
SELECT url,
       COUNT(*)::BIGINT AS n_words,
       count_if(bold)::BIGINT AS n_bold,
       count_if(italic)::BIGINT AS n_italic,
       count_if(monospace)::BIGINT AS n_monospace
FROM read_parquet('{words_cache_path("sf0.01")}')
GROUP BY url
"""

QUERIES = {"font_style": q_font_style, "font_style_words": q_font_style_words}
ORACLE_SQL = {
    "font_style": SQL_FONT_STYLE,
    "font_style_words": SQL_FONT_STYLE_WORDS,
}
