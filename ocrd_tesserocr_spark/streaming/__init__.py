"""Structured Streaming surface.

The reference is strictly batch (finite METS workspace; SURVEY.md section
2.9), and the north rule asks for batch with checkpoint resumability — so
streaming is a thin adapter, not a separate engine: a file-source stream
over newly-landed pages partitions (``pages_stream``) -> the batch path's
``mapInArrow`` kernel (``extract_stream``) -> Spark's checkpointed,
exactly-once parquet file sink (``start_to_parquet``).  The stream does not
write the batch path's snapshot manifest or lineage rows; its progress
lives in the sink's checkpoint directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..kernel import make_extract_arrow_fn
from ..oracle import DEFAULT_PARAMS, ExtractParams
from ..schemas import EXTRACTED_SCHEMA, PAGES_SCHEMA


def pages_stream(spark: SparkSession, input_dir: str, max_files: int = 16) -> DataFrame:
    """File-source stream over a pages parquet directory (the analogue of
    watching a Common-Crawl landing zone)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def extract_stream(
    pages: DataFrame, params: ExtractParams = DEFAULT_PARAMS
) -> DataFrame:
    """Streaming extraction: identical kernel, streaming plan — the same
    mapInArrow RecordBatch construction as the batch path.  As there, the
    input is pruned to the two columns the kernel reads, so ``warc_ts``,
    ``text`` and ``lang`` never cross to the Python worker."""
    return pages.select("url", "html").mapInArrow(
        make_extract_arrow_fn(params), schema=EXTRACTED_SCHEMA
    )


def start_to_parquet(
    extracted: DataFrame, out_dir: str, checkpoint_dir: str, trigger_once: bool = True
):
    """Write stream with Spark's own checkpointing (exactly-once file sink).

    ``trigger_once`` processes the current backlog and stops — the
    streaming twin of one ``run_stage`` snapshot.
    """
    w = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()
