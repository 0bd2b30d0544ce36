"""Anchor-text aggregation — the link-graph primitive of a web-crawl
pipeline (per-target anchor rollup for frontier ranking / target-page
indexing, the Nutch / Common-Crawl `anchor` field).

The reference aggregates child text up the segment hierarchy with
reading-order-aware concat (recognize.py:436-470 region->page rollup);
this is the cross-document analogue: every ``<a href>`` on every page
votes a label onto its TARGET url, and the rollup per target (how many
anchors, from how many pages, and the dominant label) is what a crawl
scheduler and an IR index consume.

Scale shape (the part that matters at 10^12 pages): one full-corpus
pass does scan -> JVM regexp pair-extract (whole-stage codegen, no
Python) -> bounded explode (``ANCHOR_CAP`` anchors per page, so a link
farm cannot explode the fanout) -> ONE shuffle keyed (href, anchor,
url) with map-side partial aggregation.  That first aggregate IS the
canonical link-edge table a production pipeline persists (Iceberg in
deployment).  Here it stays lazy: both rollup branches read its one
exchange (the second as a ``ReusedExchange``), and everything
downstream (per-target totals, distinct-source counts, dominant anchor)
derives from it with O(distinct edges) shuffles, never rescanning the
corpus.  Dominant
anchor ties break (count DESC, anchor ASC) so output is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..corpus import materialize_pages, pages_cache_path
from ..sources import read_parquet

#: max anchors parsed per page: bounds the explode fanout (a 10^6-link
#: spam page contributes 256 edges, not 10^6).  Mirrored in the oracle.
ANCHOR_CAP = 256

#: simplified well-formed-anchor tokenizer, same regex dialect subset in
#: Java and RE2/DuckDB (no lookaround, no lazy quantifiers): group 1 the
#: target, group 2 the label.  Consistent with the repo's regex DOM
#: tokenizer (oracle.py), which never relies on attribute reordering.
ANCHOR_RE = r'<a href="([^"]*)">([^<]*)</a>'


def anchor_edges(pages: DataFrame, text_col=None) -> DataFrame:
    """pages -> deduplicated, counted link-edge table
    (href, anchor, url, cnt).  One corpus scan, one shuffle."""
    s = text_col if text_col is not None else F.col("html").cast("string")
    hs = F.slice(F.regexp_extract_all(s, F.lit(ANCHOR_RE), 1), 1, ANCHOR_CAP)
    ts = F.slice(F.regexp_extract_all(s, F.lit(ANCHOR_RE), 2), 1, ANCHOR_CAP)
    pairs = pages.select(
        "url", F.explode(F.arrays_zip(hs.alias("href"), ts.alias("anchor"))).alias("p")
    ).select("url", F.col("p.href").alias("href"), F.col("p.anchor").alias("anchor"))
    return pairs.groupBy("href", "anchor", "url").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def anchor_texts(pages: DataFrame, text_col=None) -> DataFrame:
    """Per-target rollup: total anchors, distinct linking pages, dominant
    anchor text.  All post-edge-table work is O(distinct edges)."""
    # the edge table feeds both branches below through one exchange (the
    # host_skew precedent): AQE runs it once and the n_pages branch reads a
    # ReusedExchange, so the corpus is scanned and regexped once
    edges = anchor_edges(pages, text_col=text_col)
    pc = edges.groupBy("href", "anchor").agg(F.sum("cnt").alias("cnt"))
    wh = Window.partitionBy("href")
    top = (
        pc.withColumn("n_anchors", F.sum("cnt").over(wh))
        .withColumn(
            "rn",
            F.row_number().over(
                wh.orderBy(F.col("cnt").desc(), F.col("anchor").asc())
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            "href",
            F.col("n_anchors").cast("long").alias("n_anchors"),
            F.col("anchor").alias("top_anchor"),
            F.col("cnt").cast("long").alias("top_anchor_count"),
        )
    )
    # a no-op filter (cnt >= 1 always) keeps ``cnt`` on this branch: else
    # Catalyst prunes it and the two edge exchanges no longer match
    pg = (
        edges.where(F.col("cnt") > 0)
        .select("href", "url")
        .distinct()
        .groupBy("href")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    return top.join(pg, "href").select(
        "href", "n_anchors", "n_pages", "top_anchor", "top_anchor_count"
    )


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = read_parquet(spark, materialize_pages(sf_dir))
    # html_str: the pre-decoded utf-8 column the DuckDB oracle regexps too,
    # so the gate proves extraction+aggregation, not bytes->str decoding
    return anchor_texts(pages, text_col=F.col("html_str"))


# driver correctness gate runs at sf0.01; same mechanism as fontshape
SQL_ANCHOR_TEXTS = f"""
WITH m AS (
  SELECT url,
         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 1)[1:{ANCHOR_CAP}] AS hs,
         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 2)[1:{ANCHOR_CAP}] AS ts
  FROM read_parquet('{{cache}}')),
pairs AS (
  SELECT url, unnest(hs) AS href, unnest(ts) AS anchor FROM m),
edges AS (
  SELECT href, anchor, url, COUNT(*) AS cnt FROM pairs GROUP BY href, anchor, url),
pc AS (
  SELECT href, anchor, SUM(cnt) AS cnt FROM edges GROUP BY href, anchor),
top AS (
  SELECT href,
         SUM(cnt) OVER (PARTITION BY href)::BIGINT AS n_anchors,
         anchor AS top_anchor,
         cnt::BIGINT AS top_anchor_count
  FROM pc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY href
                             ORDER BY cnt DESC, anchor ASC) = 1),
pg AS (
  SELECT href, COUNT(DISTINCT url)::BIGINT AS n_pages FROM edges GROUP BY href)
SELECT t.href, t.n_anchors, p.n_pages, t.top_anchor, t.top_anchor_count
FROM top t JOIN pg p ON t.href = p.href
""".replace("{cache}", pages_cache_path("sf0.01"))


QUERIES = {"anchor_texts": q_anchor_texts}
ORACLE_SQL = {"anchor_texts": SQL_ANCHOR_TEXTS}
