"""The traced run: per-layer numbers measured from outside the program.

Layers and what times them:

* ``session``: ``session.get_spark`` to its first finished job; the JVM's
  peak RSS at exit.
* ``oracle``: ``oracle.extract_document`` in this one process over a
  seeded sample of the workload's pages, at the workload's level.
* ``kernel``: the function ``kernel.make_extract_arrow_fn`` returns, over
  the same sample as Arrow batches.
* ``pipeline``: ``pipeline.extract`` into a noop sink, then the
  workload's own stage call, both on the workload's pages; Spark's event
  log gives the JVM side of the stage call; ``bench_scaling.kernel_control``
  on the same pages is the no-Spark control.
* ``operators``: the 31 headline queries at sf0.01 over the seed's
  tables, each built and collected, and checked against its DuckDB twin.

Spans are kept in memory and written to ``.bench_work/trace`` at exit.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from . import checks, deploy, eventlog, inputs, measure

#: pages in the one-process oracle and kernel probes (p99 keeps 20
#: samples above it)
SAMPLE_DOCS = 2000
#: scale factor of the operator probe's tables
SUITE_SF = 0.01
#: span names that count as time inside the program's layers
LAYER_SPANS = ("pipeline.run_stage", "pipeline.recompute_stage")


def oracle_probe(pages_path: str, seed: int, params) -> tuple[dict, object, float]:
    """Per-document oracle times over a seeded sample; returns the
    metrics, the sample table and the oracle's total seconds."""
    from ocrd_tesserocr_spark.oracle import extract_document

    t = pq.read_table(pages_path, columns=["url", "html"])
    rng = np.random.default_rng([seed, 4])
    idx = np.sort(rng.choice(t.num_rows, min(SAMPLE_DOCS, t.num_rows), replace=False))
    sample = t.take(idx)
    htmls = sample.column("html").to_pylist()
    ms, failed = [], 0
    for h in htmls:
        t0 = time.perf_counter()
        r = extract_document(h, params)
        ms.append((time.perf_counter() - t0) * 1e3)
        failed += bool(r["failed"])
    kb = sum(len(h) for h in htmls if h is not None) / 1024
    s = measure.summarize(ms)
    if s.get("tail_p") != 99.0:
        raise ValueError(f"{len(ms)} documents leave fewer than ten above p99, or p99.9 qualifies")
    return (
        {
            "oracle.doc_ms.p50": (s["p50"], "ms"),
            "oracle.doc_ms.p99": (s["tail"], "ms"),
            "oracle.doc_ms.max": (s["max"], "ms"),
            "oracle.us_per_kb": (sum(ms) * 1e3 / kb, "us/KB"),
            "oracle.failed_docs": (failed, "count"),
        },
        sample,
        sum(ms) / 1e3,
    )


def kernel_probe(sample, oracle_s: float, params) -> dict:
    """The Arrow kernel over the sample, in 8192-row batches (Spark's
    ``maxRecordsPerBatch``)."""
    from ocrd_tesserocr_spark.kernel import make_extract_arrow_fn

    fn = make_extract_arrow_fn(params)
    batches = sample.to_batches(max_chunksize=8192)
    t0 = time.perf_counter()
    out = list(fn(iter(batches)))
    batch_s = time.perf_counter() - t0
    return {
        "kernel.batch_s": (batch_s, "s"),
        "kernel.arrow_build_s": (batch_s - oracle_s, "s"),
        "kernel.out_bytes_per_doc": (sum(rb.nbytes for rb in out) / sample.num_rows, "B"),
    }


def _noop_extract_s(spark, pages_path: str, params) -> float:
    from ocrd_tesserocr_spark import pipeline

    t0 = time.perf_counter()
    pipeline.extract(spark, spark.read.parquet(pages_path), params).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def pipeline_probe(spark, wl) -> dict:
    """``pipeline.extract`` into noop at the workload's level, then one
    call of the workload's stage (job group ``probe_stage``), then the
    same-kernel multiprocessing control.  The control runs ``EXTRACT``, so
    ``spark_over_control`` compares it with a block-level noop extract."""
    from ocrd_tesserocr_spark import bench_scaling, plans

    sc = spark.sparkContext
    n = pq.read_table(wl.pages, columns=["url"]).num_rows
    sc.setJobGroup("probe_extract", "pipeline.extract into noop")
    extract_s = _noop_extract_s(spark, wl.pages, wl.params)
    sc.setJobGroup("probe_stage", "stage call")
    out_dir = os.path.join(wl.out, "probe")
    t0 = time.perf_counter()
    wl.stage(spark, out_dir)
    stage_s = time.perf_counter() - t0
    sc.setJobGroup("probe_block", "block-level pipeline.extract into noop")
    block_s = extract_s if wl.level == "block" else _noop_extract_s(spark, wl.pages, plans.EXTRACT)
    sc.setJobGroup("", "")
    shutil.rmtree(out_dir, ignore_errors=True)
    control = bench_scaling.kernel_control(deploy.cores(), wl.pages, n_docs=n)
    return {
        "pipeline.extract_s": (extract_s, "s"),
        "pipeline.commit_s": (stage_s - extract_s, "s"),
        "pipeline.spark_over_control": ((n / block_s) / control, "ratio"),
    }


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def suite_pass(spark, sf_dir: str, names: list[str], tracer) -> dict:
    """Build and collect each query.  Per query: build and run seconds,
    the Spark jobs started while building (counted by job group), and the
    collected frame or the error."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = {}
    for q in names:
        rec: dict = {}
        group = f"build:{q}"
        try:
            sc.setJobGroup(group, "build " + q)
            with tracer.span("operators.build", query=q) as b:
                df = qs[q](spark, sf_dir)
            rec["build_jobs"] = len(tracker.getJobIdsForGroup(group))
            sc.setJobGroup(f"run:{q}", "run " + q)
            with tracer.span("operators.run", query=q) as r:
                rec["frame"] = df.toPandas()
            rec["build_s"], rec["run_s"] = b.seconds, r.seconds
        except Exception as e:  # one query's failure must not stop the suite
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(e).__name__}: {e}"
        out[q] = rec
    sc.setJobGroup("", "")
    return out


def duckdb_twins(work: str, sf_dir: str, names: list[str]) -> dict:
    """The queries' DuckDB twins, cached per seed.  The SQL texts are the
    operator modules' own, which ``__spark_entry__.oracle_sql()`` returns
    for these queries; calling that would also build the extraction
    queries' caches from the fixed test corpus."""
    from ocrd_tesserocr_spark.operators import all_queries

    path = os.path.join(work, "cache", f"{os.path.basename(sf_dir)}_duckdb.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    twins = checks.duckdb_twins(sf_dir, names, all_queries()[1])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(twins, f)
    os.replace(path + ".tmp", path)
    return twins


def operators_probe(spark, wl, tracer) -> tuple[dict, int, list[str]]:
    """The headline queries over the seed's sf tables; returns metrics,
    queries attempted and one problem per failed query."""
    import bench

    names = list(bench.HEADLINE)
    sf_dir = inputs.operator_sf_dir(wl.work, SUITE_SF, wl.seed)
    twins = duckdb_twins(wl.work, sf_dir, names)
    res = suite_pass(spark, sf_dir, names, tracer)
    problems = []
    for q, r in res.items():
        status = r["error"] if "error" in r else checks.frames_match(r.pop("frame"), twins[q])
        if status != "OK":
            problems.append(f"operators.{q}: {status}")
    m = {}
    for q, r in res.items():
        m[f"operators.{q}.build_s"] = (r.get("build_s", float("nan")), "s")
        m[f"operators.{q}.run_s"] = (r.get("run_s", float("nan")), "s")
    m["operators.build_s"] = (sum(r.get("build_s", 0.0) for r in res.values()), "s")
    m["operators.run_s"] = (sum(r.get("run_s", 0.0) for r in res.values()), "s")
    m["operators.build_jobs"] = (sum(r.get("build_jobs", 0) for r in res.values()), "count")
    return m, len(names), problems


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def traced(spark, wl, ref_ops: list[dict], ops: list[dict], start_s: float, tracer, phase: tuple):
    """Probe every layer after the traced timed phase and read the event
    log; returns (per-layer metrics, operations attempted, problems).
    ``ref_ops`` are the same JVM's untraced operations, just before."""
    app_id = spark.sparkContext.applicationId
    m: dict = {"session.start_s": (start_s, "s")}
    with tracer.span("probe.oracle"):
        om, sample, oracle_s = oracle_probe(wl.pages, wl.seed, wl.params)
    m.update(om)
    with tracer.span("probe.kernel"):
        m.update(kernel_probe(sample, oracle_s, wl.params))
    with tracer.span("probe.pipeline"):
        m.update(pipeline_probe(spark, wl))
    with tracer.span("probe.operators"):
        om, attempted, problems = operators_probe(spark, wl, tracer)
    m.update(om)
    m["session.jvm_rss_mb"] = (measure.tree_peak_rss_mb()["jvm_mb"], "MB")
    spark.stop()

    log = os.path.join(wl.work, "eventlog", app_id)
    groups = eventlog.job_groups(eventlog.read_events(log))
    pipe = eventlog.pipeline_metrics(groups.get("probe_stage", {"jobs": 0, "stages": {}}), 1)
    units = {"tasks": "count", "task_skew": "ratio"}
    for k, v in pipe.items():
        if k != "failed_tasks":
            m[f"pipeline.{k}"] = (v, units.get(k, "MB" if k.endswith("_mb") else "s"))
    failed_tasks = sum(eventlog.pipeline_metrics(g, 1)["failed_tasks"] for g in groups.values())
    if failed_tasks:
        problems.append(f"{failed_tasks} Spark tasks failed")

    walls = [o["wall_s"] for o in ops if not o.get("failed")]
    ref = [o["wall_s"] for o in ref_ops if not o.get("failed")]
    m["trace.overhead_s"] = (
        (measure.median(walls) - measure.median(ref)) if walls and ref else float("nan"), "s"
    )
    t0, t1 = phase
    m["trace.layer_coverage"] = (tracer.covered_s(LAYER_SPANS, t0, t1) / (t1 - t0), "ratio")

    trace_dir = os.path.join(wl.work, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{wl.name}_s{wl.seed}.json"), "w") as f:
        json.dump({"spans": tracer.spans}, f)
    os.remove(log)
    return m, attempted, problems
