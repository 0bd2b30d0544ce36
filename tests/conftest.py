from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ocrd_tesserocr_spark.session import get_spark

    s = get_spark("local[4]", shuffle_partitions=4, app_name="tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_small(spark):
    from ocrd_tesserocr_spark.corpus import pages_df

    return pages_df(spark, SF_SMOKE).cache()


@pytest.fixture(scope="session")
def oracle_records():
    """Pure-Python (no Spark) extraction of the whole smoke corpus."""
    from ocrd_tesserocr_spark.corpus import pages_records
    from ocrd_tesserocr_spark.oracle import extract_document

    recs = pages_records(SF_SMOKE)
    return [(r, extract_document(r["html"])) for r in recs]


def dict_path_batch(rb, params):
    """The reference output batch for ``make_extract_arrow_fn(params)`` over
    ``rb``: ``oracle.extract_document`` dicts converted with ``pa.array`` in
    the declared types (partition_id -1, as outside a Spark task)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocrd_tesserocr_spark.oracle import extract_document
    from ocrd_tesserocr_spark.schemas import EXTRACTED_SCHEMA

    schema = to_arrow_schema(EXTRACTED_SCHEMA)
    recs = [extract_document(h, params) for h in rb.column("html").to_pylist()]
    return pa.RecordBatch.from_arrays(
        [rb.column("url")]
        + [
            pa.array([r[f.name] for r in recs], type=f.type)
            for f in list(schema)[1:-1]
        ]
        + [pa.array([-1] * len(recs), type=pa.int32())],
        schema=schema,
    )


def pages_batch(recs):
    """(url, html) records -> the kernel's input RecordBatch."""
    import pyarrow as pa

    return pa.RecordBatch.from_pydict(
        {"url": [r["url"] for r in recs], "html": [r["html"] for r in recs]},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]),
    )
