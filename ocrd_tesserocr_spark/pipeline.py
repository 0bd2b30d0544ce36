"""The extraction pipeline: scan -> salt-repartition -> Arrow kernel ->
snapshot commit, with lineage and checkpoint resume.

Physical plan (SURVEY.md section 4)::

    Scan(pages)                               -- column/partition pruning
    -> Filter (resume anti-join, lang, ...)   -- predicate pushdown
    -> Exchange hashpartitioning(xxhash64(url, salt), N)   -- explicit salting
    -> MapInArrow(extract)                    -- the whole inner loop
    -> AppendData(extracted, snapshot=K)      -- the data write
    -> one groupBy(partition_id) over the written snapshot -> lineage rows,
       whose sums are the manifest totals     -- the atomic-ish commit

Every stage opens through ``_open_stage`` (one manifest read: snapshot id
and resume anti-join) and commits through ``_commit_stage``.

At production scale the sink is an Iceberg table and each stage commit is an
Iceberg snapshot (the analogue of the reference's METS-server-serialized
metadata commit, /root/reference/test/conftest.py:25-37).  This sandbox has
no Iceberg jars, so the sink is a parquet directory partitioned by
``snapshot_id`` with the same append/resume semantics; swapping the data
write in ``_commit_stage`` for ``df.writeTo(table).append()`` is the only
change needed on a real cluster.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .kernel import make_extract_arrow_fn
from .oracle import DEFAULT_PARAMS, ExtractParams
from .schemas import EXTRACTED_SCHEMA, EXTRACTED_USER_COLUMNS, LINEAGE_SCHEMA


def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 0) -> DataFrame:
    """Explicit skew-defeating repartition.

    URLs are unique, but Zipf-skewed hosts mean naive host-derived
    partitionings (or downstream host groupings) hot-spot; hashing
    (url, salt) through xxhash64 gives uniform placement regardless of the
    key distribution (north rule: "repartitions by hash(url) with explicit
    salting for skewed hosts")."""
    return df.repartition(num_partitions, F.xxhash64(F.col("url"), F.lit(salt)))


def _has_exchange(plan) -> bool:
    """Does this physical plan (a py4j ``SparkPlan``) hold an exchange?
    AQE wraps every plan with one in ``AdaptiveSparkPlan``."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan" or "Exchange" in name:
        return True
    children = plan.children()
    return any(_has_exchange(children.apply(i)) for i in range(children.size()))


def _exchange_free_splits(pages: DataFrame) -> int | None:
    """Partition count of ``pages`` if its plan has no exchange, else None.

    Counting partitions plans the query; for an exchange-free plan (a scan,
    or a filter or projection of one) that runs no job.  With
    an exchange it would: AQE materializes the query stages below it, e.g.
    a join's broadcast, which the write then runs again.  Such inputs are
    always salted."""
    if _has_exchange(pages._jdf.queryExecution().executedPlan()):
        return None
    return pages.rdd.getNumPartitions()


def extract(
    spark: SparkSession,
    pages: DataFrame,
    params: ExtractParams = DEFAULT_PARAMS,
    num_partitions: int | None = None,
) -> DataFrame:
    """pages -> extracted (lazy; no action triggered).

    The single ``mapInArrow`` runs the whole section-2.2 inner loop in one
    pass per document — operator fusion mirroring the reference's
    single-pass multi-level segmentation (recognize.py:486-492).

    The salted exchange exists for LOAD BALANCE, but it moves the entire
    html payload through one shuffle — the guide's section-8 anti-pattern —
    and extraction is embarrassingly parallel.  When the input already
    provides at least 2x core-count partitions (parquet scan splits are
    size-uniform by construction, better balanced than hash-of-url), the
    exchange buys nothing and is skipped: measured 1.17x on the 160k-page
    bench corpus at local[32].  Inputs with too few splits (tiny corpora,
    post-join plans) keep the skew-defeating salted repartition.  Building
    the DataFrame runs no Spark job (see ``_exchange_free_splits``).
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    # explicit pruning: the kernel reads only (url, html) — Catalyst cannot
    # see inside the Python map, so without this select the shuffle would
    # carry every pages column
    pages = pages.select("url", "html")
    splits = _exchange_free_splits(pages)
    if splits is None or splits < 2 * spark.sparkContext.defaultParallelism:
        pages = salted_repartition(pages, num_partitions)
    return pages.mapInArrow(make_extract_arrow_fn(params), schema=EXTRACTED_SCHEMA)


def lineage_from_extracted(
    extracted: DataFrame, snapshot_id: int, stage: str, wall_ms: int = 0
) -> DataFrame:
    """Per-partition doc/failure counters (north rule lineage rows;
    OcrdPageResult accounting analogue, recognize.py:433)."""
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.col("failed").cast("long")).alias("failure_count"),
        )
        .select(
            F.lit(snapshot_id).cast("long").alias("snapshot_id"),
            F.col("partition_id").cast("int"),
            F.lit(stage).alias("stage"),
            F.col("doc_count").cast("long"),
            F.col("failure_count").cast("long"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
    )


# ---------------------------------------------------------------------------
# snapshot-committed stage runs (checkpoint resumability)
# ---------------------------------------------------------------------------

#: committed docs up to which the resume anti-join broadcasts the url set
#: (~50 B/url -> well under the 8 GB broadcast ceiling at 4M rows)
BROADCAST_RESUME_THRESHOLD = 4_000_000


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshots.json")


def read_manifest(out_dir: str) -> list[dict]:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def _commit_manifest(out_dir: str, entry: dict) -> None:
    entries = read_manifest(out_dir)
    entries.append(entry)
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(entries, f, indent=2)
    os.replace(tmp, _manifest_path(out_dir))  # atomic commit point


def committed_snapshot_ids(out_dir: str) -> list[int]:
    return [e["snapshot_id"] for e in read_manifest(out_dir)]


def _read_snapshots(spark: SparkSession, root: str, ids: list[int], schema) -> DataFrame:
    if not ids:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(root, f"snapshot_id={i}") for i in ids]
    return spark.read.schema(schema).parquet(*paths)


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read only *committed* snapshots (uncommitted partial writes from a
    killed run are invisible — snapshot isolation, the Iceberg property the
    manifest emulates)."""
    return _read_snapshots(spark, out_dir, committed_snapshot_ids(out_dir), EXTRACTED_SCHEMA)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    root = os.path.join(out_dir, "_lineage")
    return _read_snapshots(spark, root, committed_snapshot_ids(out_dir), LINEAGE_SCHEMA)


def _open_stage(
    spark: SparkSession, pages: DataFrame, out_dir: str, resume: bool
) -> tuple[int, DataFrame]:
    """Open the next snapshot of ``out_dir`` from one manifest read: its id,
    and ``pages`` without the urls already committed there.

    Resume = left-anti join of input urls against the union of committed
    snapshots (the OCRD_EXISTING_OUTPUT=SKIP analogue,
    test/test_recognize.py:144-146 of the reference): a restarted run
    processes only the remainder, and a killed run leaves no visible
    partial state because visibility requires the manifest commit.  The
    committed-url set broadcasts while the manifest's own doc_count sum is
    at most ``BROADCAST_RESUME_THRESHOLD``; above it the anti-join is a
    shuffle join and AQE picks the strategy from runtime stats."""
    os.makedirs(out_dir, exist_ok=True)
    entries = read_manifest(out_dir)
    ids = [e["snapshot_id"] for e in entries]
    if resume and ids:
        done = _read_snapshots(spark, out_dir, ids, EXTRACTED_SCHEMA).select("url")
        if sum(e.get("doc_count", 0) for e in entries) <= BROADCAST_RESUME_THRESHOLD:
            done = F.broadcast(done)
        pages = pages.join(done, "url", "left_anti")
    return max(ids, default=0) + 1, pages


def _commit_stage(
    spark: SparkSession, extracted: DataFrame, out_dir: str, snapshot_id: int, stage: str
) -> dict:
    """Write one snapshot's data, then its lineage rows from one aggregate
    over the written files, then the atomic manifest commit whose totals
    are the sums of those rows."""
    t0 = time.time()
    data_path = os.path.join(out_dir, f"snapshot_id={snapshot_id}")
    extracted.write.mode("overwrite").parquet(data_path)
    wall_ms = int((time.time() - t0) * 1000)

    written = spark.read.schema(EXTRACTED_SCHEMA).parquet(data_path)
    lineage = lineage_from_extracted(written, snapshot_id, stage, wall_ms)
    rows = [r.asDict() for r in lineage.collect()]
    # the few lineage rows are written here with pyarrow, like the
    # manifest; a crashed attempt's file for this id is replaced, not
    # read alongside
    lineage_path = os.path.join(out_dir, "_lineage", f"snapshot_id={snapshot_id}")
    shutil.rmtree(lineage_path, ignore_errors=True)
    os.makedirs(lineage_path)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(LINEAGE_SCHEMA))
    pq.write_table(table, os.path.join(lineage_path, "part-00000.parquet"))

    totals = {
        "doc_count": sum(r["doc_count"] for r in rows),
        "failure_count": sum(r["failure_count"] for r in rows),
        "wall_ms": wall_ms,
    }
    _commit_manifest(out_dir, {"snapshot_id": snapshot_id, "stage": stage, **totals})
    return {"snapshot_id": snapshot_id, **totals}


def run_stage(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    stage: str = "extract",
    params: ExtractParams = DEFAULT_PARAMS,
    num_partitions: int | None = None,
    resume: bool = True,
) -> dict:
    """Execute one stage with checkpoint-resume semantics (see
    ``_open_stage``) into the next snapshot of ``out_dir``."""
    snapshot_id, pages = _open_stage(spark, pages, out_dir, resume)
    extracted = extract(spark, pages, params, num_partitions)
    return _commit_stage(spark, extracted, out_dir, snapshot_id, stage)


def recompute_stage(
    spark: SparkSession,
    pages: DataFrame,
    in_dir: str,
    out_dir: str,
    level: str = "word",
    params: ExtractParams = DEFAULT_PARAMS,
    overwrite_text: bool = False,
    num_partitions: int | None = None,
    resume: bool = True,
) -> dict:
    """Re-recognize EXISTING extraction output at a lower hierarchy level
    (the process_existing analogue, recognize.py:858-1172): only urls
    already committed in ``in_dir`` are recomputed, descending to ``level``
    (e.g. a committed block-level extraction refreshed with word or glyph
    structure), and the result is committed to ``out_dir`` — a new stage
    table, mirroring the reference's new METS output fileGrp.

    ``overwrite_text`` transplants recognize.py:953-955: False keeps the
    committed document text/conf/features byte-for-byte (only structure
    below the existing levels is refreshed); True lets the new recognition
    replace them.
    """
    snapshot_id, pages = _open_stage(spark, pages, out_dir, resume)
    committed = read_extracted(spark, in_dir)
    # only existing outputs are recomputed (the join against committed
    # segmentation); left_semi keeps the pages columns and lets AQE pick
    # broadcast-vs-shuffle for the url set
    subset = pages.join(committed.select("url"), "url", "left_semi")
    deeper = dataclasses.replace(params, textequiv_level=level)
    recomputed = extract(spark, subset, deeper, num_partitions)
    if not overwrite_text:
        # keep committed text/conf/features verbatim; refresh structure only
        kept = committed.select("url", "text", "conf", "features")
        recomputed = (
            recomputed.drop("text", "conf", "features")
            .join(kept, "url")
            .select(*[f.name for f in EXTRACTED_SCHEMA.fields])
        )
    return _commit_stage(spark, recomputed, out_dir, snapshot_id, f"recompute_{level}")


def user_view(extracted: DataFrame) -> DataFrame:
    return extracted.select(*EXTRACTED_USER_COLUMNS)
