"""Stage runs: snapshot commits, lineage accounting, checkpoint resume."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from ocrd_tesserocr_spark.pipeline import (
    read_extracted,
    read_lineage,
    run_stage,
    user_view,
)


def test_run_stage_and_lineage(spark, pages_small, tmp_path):
    out_dir = str(tmp_path / "extracted")
    res = run_stage(spark, pages_small, out_dir, num_partitions=4)
    assert res["snapshot_id"] == 1
    assert res["doc_count"] == pages_small.count()
    assert res["failure_count"] > 0  # malformed template rows

    lin = read_lineage(spark, out_dir)
    agg = lin.agg(
        F.sum("doc_count").alias("d"), F.sum("failure_count").alias("f")
    ).collect()[0]
    assert agg["d"] == res["doc_count"]
    assert agg["f"] == res["failure_count"]
    # per-partition rows, one per non-empty partition
    assert lin.select("partition_id").distinct().count() <= 4
    assert lin.filter(F.col("stage") != "extract").count() == 0


def test_resume_skips_done_work(spark, pages_small, tmp_path):
    out_dir = str(tmp_path / "extracted")
    half = pages_small.limit(200)
    r1 = run_stage(spark, half, out_dir, num_partitions=4)
    assert r1["doc_count"] == 200
    # full input; only the remainder is processed (anti-join resume,
    # OCRD_EXISTING_OUTPUT=SKIP analogue)
    r2 = run_stage(spark, pages_small, out_dir, num_partitions=4)
    assert r2["snapshot_id"] == 2
    assert r1["doc_count"] + r2["doc_count"] == pages_small.count()

    all_rows = read_extracted(spark, out_dir)
    assert all_rows.count() == pages_small.count()
    assert all_rows.select("url").distinct().count() == pages_small.count()

    # idempotent: third run processes nothing
    r3 = run_stage(spark, pages_small, out_dir, num_partitions=4)
    assert r3["doc_count"] == 0


def test_uncommitted_snapshot_invisible(spark, pages_small, tmp_path):
    """A killed run leaves data files but no manifest entry -> invisible
    (snapshot isolation, the Iceberg property the manifest emulates)."""
    out_dir = str(tmp_path / "extracted")
    run_stage(spark, pages_small.limit(50), out_dir, num_partitions=2)
    # simulate a crash: data written for snapshot 2 but no manifest commit
    os.makedirs(os.path.join(out_dir, "snapshot_id=2"), exist_ok=True)
    pages_small.limit(10)  # no-op
    assert read_extracted(spark, out_dir).count() == 50


def test_user_view_columns(spark, pages_small, tmp_path):
    out_dir = str(tmp_path / "extracted")
    run_stage(spark, pages_small.limit(20), out_dir, num_partitions=2)
    cols = user_view(read_extracted(spark, out_dir)).columns
    assert cols == ["url", "text", "conf", "blocks", "features"]


def test_mid_crash_rerun_is_idempotent(spark, pages_small, tmp_path):
    """SURVEY 7.3.4: a run killed after data write but before manifest
    commit leaves invisible files; the rerun reprocesses those urls and the
    committed view stays duplicate-free."""
    import shutil

    out_dir = str(tmp_path / "extracted")
    r1 = run_stage(spark, pages_small.limit(100), out_dir, num_partitions=2)
    # simulate: snapshot 2 data fully written, then crash pre-commit
    r2_data = os.path.join(out_dir, "snapshot_id=2")
    from ocrd_tesserocr_spark.pipeline import extract

    extract(spark, pages_small.limit(300), num_partitions=2).write.mode(
        "overwrite"
    ).parquet(r2_data)
    assert read_extracted(spark, out_dir).count() == 100  # crash invisible

    # restart: resume sees only committed snapshot 1, reprocesses the rest;
    # run_stage overwrites the orphaned uncommitted directory
    r3 = run_stage(spark, pages_small, out_dir, num_partitions=2)
    assert r3["doc_count"] == pages_small.count() - 100
    view = read_extracted(spark, out_dir)
    assert view.count() == pages_small.count()
    assert view.select("url").distinct().count() == pages_small.count()


def test_resume_broadcast_gate(spark, pages_small, tmp_path):
    """The resume anti-join ``_open_stage`` plans broadcasts the committed
    urls while the manifest's doc_count is under the threshold, and
    shuffles above it.  Size-based auto-broadcast is off here, so the plan
    shows only the gate's own hint."""
    from ocrd_tesserocr_spark.pipeline import _open_stage

    out_dir = str(tmp_path / "extracted")
    run_stage(spark, pages_small.limit(50), out_dir, num_partitions=2)

    def plan():
        _, pages = _open_stage(spark, pages_small, out_dir, resume=True)
        return pages._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert "BroadcastExchange" in plan()  # 50 docs committed
        # fake a huge committed history: the gate must flip to shuffle
        manifest = os.path.join(out_dir, "_snapshots.json")
        with open(manifest) as f:
            entries = json.load(f)
        entries[0]["doc_count"] = 10_000_000
        with open(manifest, "w") as f:
            json.dump(entries, f)
        assert "BroadcastExchange" not in plan()
    finally:
        spark.conf.set(key, old)


def _jobs(spark, group, fn):
    """Spark jobs ``fn()`` starts, counted with a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_costs_one_aggregate(spark, pages_small, tmp_path):
    """A stage adds at most two jobs to the bare extract write of the same
    input: the lineage aggregate over the written snapshot (its shuffle
    and its collect).  The manifest totals come from those rows."""
    from ocrd_tesserocr_spark.pipeline import extract

    src = str(tmp_path / "pages")
    pages_small.write.parquet(src)
    bare = _jobs(
        spark, "commit-guard-bare",
        lambda: extract(spark, spark.read.parquet(src), num_partitions=4)
        .write.parquet(str(tmp_path / "bare")),
    )
    stage = _jobs(
        spark, "commit-guard-stage",
        lambda: run_stage(spark, spark.read.parquet(src), str(tmp_path / "out"),
                          num_partitions=4),
    )
    assert stage <= bare + 2, (bare, stage)


def test_stale_lineage_is_replaced(spark, pages_small, tmp_path):
    """A crashed attempt's lineage file for the next snapshot id is
    replaced by the commit, not read alongside the new rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocrd_tesserocr_spark.pipeline import read_manifest
    from ocrd_tesserocr_spark.schemas import LINEAGE_SCHEMA

    out_dir = str(tmp_path / "extracted")
    run_stage(spark, pages_small.limit(30), out_dir, num_partitions=2)
    stale_dir = os.path.join(out_dir, "_lineage", "snapshot_id=2")
    os.makedirs(stale_dir)
    stale = {"snapshot_id": [2], "partition_id": [0], "stage": ["extract"],
             "doc_count": [999], "failure_count": [9], "wall_ms": [1]}
    pq.write_table(
        pa.Table.from_pydict(stale, schema=to_arrow_schema(LINEAGE_SCHEMA)),
        os.path.join(stale_dir, "part-stale.parquet"),
    )
    r2 = run_stage(spark, pages_small.limit(60), out_dir, num_partitions=2)
    assert r2["snapshot_id"] == 2 and r2["doc_count"] == 30
    assert not os.path.exists(os.path.join(stale_dir, "part-stale.parquet"))

    lin = read_lineage(spark, out_dir).agg(
        F.sum("doc_count").alias("d"), F.sum("failure_count").alias("f")
    ).collect()[0]
    entries = read_manifest(out_dir)
    assert lin["d"] == sum(e["doc_count"] for e in entries) == 60
    assert lin["f"] == sum(e["failure_count"] for e in entries)


def test_empty_resume_commits_empty_lineage(spark, pages_small, tmp_path):
    """A resumed stage with nothing left commits doc_count 0 and an empty
    lineage snapshot, readable by Spark and by pyarrow."""
    import pyarrow.parquet as pq

    out_dir = str(tmp_path / "extracted")
    run_stage(spark, pages_small.limit(20), out_dir, num_partitions=2)
    r2 = run_stage(spark, pages_small.limit(20), out_dir, num_partitions=2)
    assert (r2["snapshot_id"], r2["doc_count"], r2["failure_count"]) == (2, 0, 0)
    lin = read_lineage(spark, out_dir)
    assert lin.where(F.col("snapshot_id") == 2).count() == 0
    assert lin.count() > 0  # snapshot 1's rows
    path = os.path.join(out_dir, "_lineage", "snapshot_id=2")
    assert pq.read_table(path).num_rows == 0


def test_connected_components_raises_without_convergence(spark):
    """A chain graph whose diameter exceeds max_iter must raise, not
    silently return unconverged labels."""
    import pytest

    from ocrd_tesserocr_spark.operators.dedup import connected_components

    n = 8
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=2)
    out = connected_components(nodes, edges, max_iter=20)
    assert out.where(F.col("component_id") != 0).count() == 0


def test_recompute_stage_lower_level(spark, pages_small, tmp_path):
    """process_existing analogue (recognize.py:858-1172): recompute only
    already-committed urls at a deeper level; higher levels stay
    byte-stable unless overwrite_text."""
    from ocrd_tesserocr_spark.pipeline import recompute_stage
    from ocrd_tesserocr_spark.plans import EXTRACT

    in_dir = str(tmp_path / "block_level")
    out_dir = str(tmp_path / "word_level")
    r1 = run_stage(
        spark, pages_small.limit(80), in_dir, params=EXTRACT, num_partitions=2
    )
    assert r1["doc_count"] == 80

    # full pages input, but only the 80 committed urls are recomputed
    r2 = recompute_stage(
        spark, pages_small, in_dir, out_dir, level="word",
        params=EXTRACT, num_partitions=2,
    )
    assert r2["doc_count"] == 80

    before = {r["url"]: r for r in read_extracted(spark, in_dir).collect()}
    after = {r["url"]: r for r in read_extracted(spark, out_dir).collect()}
    assert set(before) == set(after)
    refreshed = 0
    for url, b in before.items():
        a = after[url]
        # overwrite_text=False: doc text/conf byte-stable
        assert a["text"] == b["text"] and a["conf"] == b["conf"]
        for ab, bb in zip(a["blocks"], b["blocks"]):
            assert ab["block_id"] == bb["block_id"]
            assert ab["char_start"] == bb["char_start"]
            assert bb["lines"] == []  # block preset emitted no lines
            if ab["is_main"]:
                refreshed += 1
                assert ab["lines"], "recompute must add word-level structure"
                assert ab["lines"][0]["words"]
    assert refreshed > 0

    # lineage records the recompute stage
    stages = {r["stage"] for r in read_lineage(spark, out_dir).collect()}
    assert stages == {"recompute_word"}

    # resume: a second recompute over the same input is a no-op
    r3 = recompute_stage(
        spark, pages_small, in_dir, out_dir, level="word",
        params=EXTRACT, num_partitions=2,
    )
    assert r3["doc_count"] == 0


def test_malformed_config_fails_fast_on_driver(spark, pages_small):
    """A malformed extra value or rule predicate must raise at plan time
    (make_extract_arrow_fn), never inside executor tasks."""
    import pytest

    from ocrd_tesserocr_spark.oracle import ExtractParams
    from ocrd_tesserocr_spark.pipeline import extract

    with pytest.raises(ValueError):
        extract(spark, pages_small,
                ExtractParams(extra=(("min_paragraph_chars", "not-an-int"),)))
    with pytest.raises(ValueError):
        extract(spark, pages_small,
                ExtractParams(block_rules=(("kind ~~ junk", ()),)))
    # a misspelled textequiv_level, set directly, through ``extra`` or by a
    # block rule, would otherwise emit block-level output silently
    for params in (
        ExtractParams(textequiv_level="wrod"),
        ExtractParams(extra=(("textequiv_level", "Word"),)),
        ExtractParams(block_rules=(("kind=paragraph", (("textequiv_level", "glpyh"),)),)),
    ):
        with pytest.raises(ValueError):
            extract(spark, pages_small, params)


def test_building_extract_over_joined_input_runs_no_job(spark, pages_small):
    """``extract`` decides its salted exchange without executing the plan:
    a partition count on a joined input would make AQE run the join's
    broadcast stage at build time, and the write would run it again."""
    from ocrd_tesserocr_spark.pipeline import extract

    urls = pages_small.select("url").where(F.col("url").contains("a"))
    joined = pages_small.join(urls, "url", "left_semi")
    sc = spark.sparkContext
    group = "extract-build-guard"
    sc.setJobGroup(group, "build extract over a joined input")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        df = extract(spark, joined)
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after == before
    # joined inputs are always salted
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(xxhash64(url" in plan
