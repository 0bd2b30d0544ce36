"""Sources: every table scan the engine and its operator queries make
(S1/S3 in SURVEY.md section 2.1).

This module owns two decisions no other module repeats:

* the table path: ``read_table(spark, sf_dir, name)`` reads
  ``{sf_dir}/{name}.parquet``; ``read_documents`` is its ``documents`` case;
* the read policy: ``read_parquet`` declares the schema from the parquet
  footer, so building a query runs no schema-inference job (a schema-less
  ``spark.read.parquet`` starts one per call).

At production scale the corpus is an Iceberg table
(``spark.read.table("warehouse.pages")``) and resume/incremental reads use
snapshot ids.  This sandbox has parquet files; the readers below keep one
call site each so the swap is a one-liner.  Feature filtering (the
reference's ``feature_filter`` on derived images, recognize.py:413-415) is
a plain WHERE on the ``features`` tag array — pushed down by Catalyst.
"""

from __future__ import annotations

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..schemas import PAGES_SCHEMA


def read_pages(
    spark: SparkSession,
    path_or_table: str,
    langs: list[str] | None = None,
) -> DataFrame:
    """Scan the pages corpus with pushed-down pruning.

    ``langs`` becomes a parquet/Iceberg-pushable predicate; column pruning
    is automatic once downstream selects a subset.
    """
    if "/" in path_or_table:
        df = spark.read.schema(PAGES_SCHEMA).parquet(path_or_table)
    else:
        df = spark.read.table(path_or_table)
    if langs:
        df = df.where(F.col("lang").isin(langs))
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan a parquet file or a directory of part files with the schema its
    footer declares: no schema-inference job at build time.

    ``prefer_timestamp_ntz``: Spark infers parquet timestamps written
    without a time zone as ``TimestampNTZType``; without the flag the
    declared type would be ``TimestampType`` and the read would cast."""
    schema = ds.dataset(path, format="parquet").schema
    return spark.read.schema(
        from_arrow_schema(schema, prefer_timestamp_ntz=True)
    ).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan the driver table ``name`` of the scale-factor directory
    ``sf_dir``."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the ``documents`` table: the one documents read every operator
    query goes through."""
    return read_table(spark, sf_dir, "documents")


def resplit(df: DataFrame) -> DataFrame:
    """Round-robin re-split to ``defaultParallelism`` partitions, ahead of a
    CPU-heavy per-row map (hashing, regex, shingle/trigram explodes).

    The sandbox ``documents``/``embeddings`` parquets are each one row group
    under 1 MB, so a bare scan caps every downstream narrow map at 1-2 tasks
    regardless of core count.  Callers project to the columns the map needs
    BEFORE calling this, so the exchange carries only those.  At production
    scale the scan already has thousands of splits and the exchange buys
    nothing; it is kept unconditional here because deciding it from
    ``rdd.getNumPartitions()`` would launch a job at query-build time
    whenever the input contains a join."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def filter_features(extracted: DataFrame, exclude: list[str]) -> DataFrame:
    """feature_filter analogue: skip rows already carrying a stage tag
    (e.g. don't re-crop a 'cropped' page; crop.py:71-75)."""
    cond = None
    for tag in exclude:
        c = ~F.array_contains(F.col("features"), tag)
        cond = c if cond is None else (cond & c)
    return extracted.where(cond) if cond is not None else extracted
