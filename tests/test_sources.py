"""The table reader: ``sources.read_table`` declares each table's schema from
its parquet footer, and that schema must be exactly the one Spark infers.
If a driver table changes type, this fails instead of the read quietly
casting."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from ocrd_tesserocr_spark.sources import read_parquet, read_table
from tests.conftest import SF_ORACLE, SF_SMOKE

SF_DIRS = [SF_SMOKE, SF_ORACLE, os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schema_equals_inferred(spark, sf_dir):
    for name in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert read_table(spark, sf_dir, name).schema == inferred, name


def test_declared_schema_of_part_file_directory(spark, tmp_path):
    """A directory of part files (as a partitioned writer leaves it) reads
    with one schema; ``orders`` carries a timestamp column."""
    table = pq.read_table(f"{SF_SMOKE}/orders.parquet")
    path = tmp_path / "orders.parquet"
    path.mkdir()
    step = -(-table.num_rows // 3)
    for i in range(3):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")
    df = read_parquet(spark, str(path))
    assert df.schema == spark.read.parquet(str(path)).schema
    assert df.count() == table.num_rows
