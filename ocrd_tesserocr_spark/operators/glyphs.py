"""Glyph-level choice ranking as a relational query (M6/W4/F8).

The kernel emits per-character glyphs with ranked TextEquiv choices when
``textequiv_level='glyph'`` (oracle.py glyph_choices, transplanting
recognize.py:816-856 + the CHOICE_THRESHOLD constants recognize.py:56-57).
This module exposes the same choice semantics as a pure JVM-side query over
``documents`` — explode the first word's characters, rank each glyph's
confusion-table alternatives, apply the dual cutoff — with an exact DuckDB
oracle built from the very same GLYPH_CONFUSIONS table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import split_words
from ..oracle import CHOICE_THRESHOLD_NUM, GLYPH_CONFUSIONS
from ..sources import read_documents, resplit

# the oracle.py _ALNUM_RE char class, shared verbatim by both engines
_ALNUM_CLASS = "[0-9A-Za-zÀ-ɏ֐-ۿ一-鿿]"
_MAX_CHARS = 8
_DECAY = 0.02


def _alts_col():
    expr = None
    for ch, alts in GLYPH_CONFUSIONS.items():
        arr = F.array(*[F.lit(a) for a in alts])
        expr = F.when(F.col("ch") == ch, arr) if expr is None else expr.when(
            F.col("ch") == ch, arr
        )
    return expr.otherwise(F.array().cast("array<string>"))


def q_glyph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    w = F.element_at(split_words(F.col("text")), 1)
    # project to (doc_id, first word) BEFORE the re-split exchange that
    # parallelizes the rlike/explode stack below: the shuffle carries
    # ~20 B/row
    d = resplit(docs.select("doc_id", w.alias("w")).where(F.length("w") >= 1))
    chars = d.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1), F.least(F.length("w"), F.lit(_MAX_CHARS)))).alias("pos"),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("w").substr(F.col("pos"), F.lit(1)).alias("ch"),
    )
    best = F.when(F.col("ch").rlike(_ALNUM_CLASS), F.lit(1.0)).otherwise(F.lit(0.5))
    cand = chars.select(
        "doc_id", "pos", "ch", best.alias("best"), _alts_col().alias("alts")
    )
    expl = cand.select(
        "doc_id",
        "pos",
        F.col("ch").alias("glyph"),
        "best",
        F.posexplode(F.concat(F.array(F.col("ch")), F.col("alts"))).alias("rnk", "choice"),
    )
    conf = F.when(F.col("rnk") == 0, F.col("best")).otherwise(
        F.round(F.col("best") - _DECAY * F.col("rnk"), 4)
    )
    return (
        expl.select(
            "doc_id",
            "pos",
            "glyph",
            F.col("rnk").cast("long").alias("rnk"),
            "choice",
            conf.alias("conf"),
        )
        # dual cutoff (recognize.py:849-851): rank bound + max score drop
        .where((F.col("rnk") <= CHOICE_THRESHOLD_NUM) & (F.col("best") - conf <= 1.0))
        .drop("best")
    )


def _sql_case_alts() -> str:
    arms = [
        "WHEN '%s' THEN [%s]" % (ch, ", ".join("'%s'" % a for a in alts))
        for ch, alts in GLYPH_CONFUSIONS.items()
    ]
    return "CASE ch " + " ".join(arms) + " ELSE [] END"


SQL_GLYPH_TOPK = f"""
WITH w AS (
  SELECT doc_id, str_split(text, ' ')[1] AS w FROM documents
  WHERE length(str_split(text, ' ')[1]) >= 1),
chars0 AS (
  SELECT doc_id, w, unnest(range(1, least(length(w), {_MAX_CHARS}) + 1)) AS i
  FROM w),
chars AS (
  SELECT doc_id, i::BIGINT AS pos, substr(w, i::INT, 1) AS ch FROM chars0),
cand AS (
  SELECT doc_id, pos, ch,
         CASE WHEN regexp_matches(ch, '{_ALNUM_CLASS}') THEN 1.0 ELSE 0.5 END AS best,
         list_prepend(ch, {_sql_case_alts()}) AS cs
  FROM chars),
expl0 AS (
  SELECT doc_id, pos, ch, best, cs, unnest(range(1, len(cs) + 1)) AS j FROM cand),
expl AS (
  SELECT doc_id, pos, ch AS glyph, (j - 1)::BIGINT AS rnk, cs[j::INT] AS choice,
         CASE WHEN j = 1 THEN best
              ELSE round(best - {_DECAY} * (j - 1), 4) END AS conf,
         best
  FROM expl0)
SELECT doc_id, pos, glyph, rnk, choice, conf
FROM expl WHERE rnk <= {CHOICE_THRESHOLD_NUM} AND best - conf <= 1.0
"""

QUERIES = {"glyph_topk": q_glyph_topk}
ORACLE_SQL = {"glyph_topk": SQL_GLYPH_TOPK}
