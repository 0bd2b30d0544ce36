"""The benchmark's workloads and the run that measures one of them.

Each workload is a closed loop with one client: it starts the next
operation only when the previous one has finished, one Spark job at a
time, on one session on ``local[<cores>]``.  A run is

1. inputs and oracle digests for the seed (cached per seed, not timed);
2. set-up (``setup_s``): session start, the workload's own set-up, and
   the warm-up;
3. the timed phase: a fixed number of operations back to back;
4. the output check of every operation.

A traced run goes on in the same JVM: a new Spark context with the event
log on, one warm-up operation, a second timed phase that records spans,
and then probes of every layer from outside (``layers``).  It reports the
per-layer metrics only; end-to-end numbers come from untraced runs.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

from . import checks, deploy, inputs, measure

#: pages in one ``extract_stage`` operation: one full replica of the
#: 5,000 sf0.1 documents
EXTRACT_PAGES = 5_000
#: share of style-dense pages in ``extract_stage``, and their word counts
DENSE_SHARE = 0.002
DENSE_WORDS = (1000, 3000)
#: pages in one ``recompute_word`` operation, all at ``repeat=8``
RECOMPUTE_PAGES = 1_500
RECOMPUTE_REPEAT = 8
#: the timed phase runs ``round(seconds / NOMINAL_OP_S)`` operations (at
#: least one): about ``--seconds`` of work on a 4-core machine.  A fixed
#: count, not a deadline, keeps every run's median over the same
#: operations: the JVM's JIT still speeds each stage up after the warm-up,
#: and a deadline would let faster runs take more, warmer operations.
NOMINAL_OP_S = 3.0
#: warm-up operations before the timed phase.  Each operation's CPU still
#: falls by about a third over the first six or so as the JIT compiles
#: the stage's code; timing operations in that slope makes runs disagree.
WARM_OPS = 3


class Workload:
    name = ""
    #: the span around the program call of one operation
    span_name = ""
    #: the extraction level the workload's kernel runs at
    level = "block"
    #: input documents per operation (``docs_per_s`` = this / ``wall_s``,
    #: both in the detail record)
    docs_per_op = 1

    def __init__(self, root: str, work: str, seed: int, procs: int):
        self.root, self.work, self.seed, self.procs = root, work, seed, procs
        self.out = os.path.join(work, "run", self.name)

    @property
    def params(self):
        from ocrd_tesserocr_spark.oracle import DEFAULT_PARAMS

        return dataclasses.replace(DEFAULT_PARAMS, textequiv_level=self.level)

    def cache_json(self, key: str, compute):
        """A benchmark-owned cache entry for this seed's pages."""
        tag = os.path.basename(self.pages)
        path = os.path.join(self.work, "cache", f"{tag}_{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    def prepare(self) -> None:
        """Inputs and reference digests (cached per seed)."""
        raise NotImplementedError

    def setup(self, spark) -> None:
        """The workload's own set-up, then the warm-up (``setup_s``)."""
        self.warm(spark, WARM_OPS)

    def warm(self, spark, n: int) -> None:
        """``n`` operations into scratch directories."""
        for k in range(n):
            out_dir = os.path.join(self.out, "warm")
            self.stage(spark, out_dir)
            shutil.rmtree(out_dir, ignore_errors=True)

    def stage(self, spark, out_dir: str) -> dict:
        """The program call one operation makes."""
        raise NotImplementedError

    def op(self, spark, i: int, tracer) -> dict:
        out_dir = os.path.join(self.out, f"op{i}")
        with tracer.span(self.span_name):
            res = self.stage(spark, out_dir)
        return {"out_dir": out_dir, **res}

    def check(self, ops: list[dict]) -> list[str]:
        """One problem string per operation whose output is wrong."""
        raise NotImplementedError


class ExtractStage(Workload):
    """``pipeline.run_stage(..., params=plans.EXTRACT)`` into a fresh
    output directory over a heavy-tailed, seeded pages corpus."""

    name = "extract_stage"
    span_name = "pipeline.run_stage"
    docs_per_op = EXTRACT_PAGES

    def prepare(self) -> None:
        self.pages = inputs.pages_corpus(
            self.work,
            "extract",
            self.seed,
            EXTRACT_PAGES,
            inputs.REPEAT_MIX,
            dense_share=DENSE_SHARE,
            dense_words=DENSE_WORDS,
            procs=self.procs,
        )

        def oracle():
            urls, recs = checks.oracle_records(self.pages, "block", self.procs)
            return checks.oracle_block_digest(urls, recs)

        self.expect = self.cache_json("oracle_block", oracle)

    def stage(self, spark, out_dir: str) -> dict:
        from ocrd_tesserocr_spark import pipeline, plans

        return pipeline.run_stage(spark, spark.read.parquet(self.pages), out_dir, params=plans.EXTRACT)

    def check(self, ops: list[dict]) -> list[str]:
        """Snapshot digest over sorted (url, text, block spans), lineage
        doc count and manifest failure count, all against the oracle."""
        problems = []
        exp = self.expect
        for o in ops:
            sid = o["snapshot_id"]
            got = checks.snapshot_block_digest(os.path.join(o["out_dir"], f"snapshot_id={sid}"))
            lineage = checks.lineage_doc_count(o["out_dir"], sid)
            bad = []
            if got["digest"] != exp["digest"]:
                bad.append("snapshot digest differs from the oracle's")
            if lineage != exp["docs"] or o["doc_count"] != exp["docs"]:
                bad.append(f"doc count {o['doc_count']} (lineage {lineage}) != {exp['docs']}")
            if o["failure_count"] != exp["failed"]:
                bad.append(f"failure count {o['failure_count']} != {exp['failed']}")
            if bad:
                problems.append(f"{o['out_dir']}: " + "; ".join(bad))
        return problems


class RecomputeWord(Workload):
    """``pipeline.recompute_stage(level="word", overwrite_text=False)``
    of a committed block-level snapshot, over uniform bench-sized pages."""

    name = "recompute_word"
    span_name = "pipeline.recompute_stage"
    level = "word"
    docs_per_op = RECOMPUTE_PAGES

    def prepare(self) -> None:
        self.pages = inputs.pages_corpus(
            self.work, "recompute", self.seed, RECOMPUTE_PAGES, [(RECOMPUTE_REPEAT, 1.0)], procs=self.procs
        )

        def oracle():
            urls, recs = checks.oracle_records(self.pages, "word", self.procs)
            return {"digest": checks.oracle_word_digest(urls, recs), "docs": len(urls)}

        self.expect = self.cache_json("oracle_word", oracle)
        self.block_dir = os.path.join(self.out, "block")

    def setup(self, spark) -> None:
        """Commit the block-level snapshot the operations recompute from,
        then warm up."""
        from ocrd_tesserocr_spark import pipeline, plans

        pipeline.run_stage(spark, spark.read.parquet(self.pages), self.block_dir, params=plans.EXTRACT)
        self.block_text = checks.snapshot_text_digest(os.path.join(self.block_dir, "snapshot_id=1"))
        super().setup(spark)

    def stage(self, spark, out_dir: str) -> dict:
        from ocrd_tesserocr_spark import pipeline

        return pipeline.recompute_stage(
            spark, spark.read.parquet(self.pages), self.block_dir, out_dir, level="word", overwrite_text=False
        )

    def check(self, ops: list[dict]) -> list[str]:
        """Word spans against the word-level oracle; kept text
        byte-identical to the block commit."""
        problems = []
        for o in ops:
            snapshot = os.path.join(o["out_dir"], f"snapshot_id={o['snapshot_id']}")
            got = checks.snapshot_word_digest(snapshot)
            bad = []
            if got["digest"] != self.expect["digest"]:
                bad.append("word spans differ from the word-level oracle's")
            if checks.snapshot_text_digest(snapshot) != self.block_text:
                bad.append("kept text differs from the block commit")
            if got["docs"] != self.expect["docs"] or o["doc_count"] != self.expect["docs"]:
                bad.append(f"doc count {o['doc_count']} != {self.expect['docs']}")
            if bad:
                problems.append(f"{o['out_dir']}: " + "; ".join(bad))
        return problems


WORKLOADS = {w.name: w for w in (ExtractStage, RecomputeWord)}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def start_session():
    """``session.get_spark`` up to its first finished job; returns the
    session and the seconds it took."""
    from ocrd_tesserocr_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def stop_spark(timeout_s: float = 60.0) -> None:
    """Stop the active session, if any, then end the JVM and wait for it.

    ``spark.stop()`` leaves the JVM running until Python exits; closing its
    stdin makes it run its shutdown hooks and exit now."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def shutdown() -> list[int]:
    """End every process this run started: the JVM and Spark's Python
    workers, the process pools' resource tracker, and anything else still
    below this process.  Returns the processes that had to be stopped
    after the JVM and the tracker were asked to end."""
    try:
        if "pyspark" in sys.modules:
            stop_spark()
        if "multiprocessing.resource_tracker" in sys.modules:
            from multiprocessing import resource_tracker

            resource_tracker._resource_tracker._stop()
    except Exception:  # whatever failed here, end_tree still stops it
        traceback.print_exc(file=sys.stderr)
    return measure.end_tree()


def restart_traced(spark, wl: Workload):
    """Stop the session's Spark context and start a new one in the same,
    already warm JVM with Spark's event log on; then one warm-up operation
    for the new context's Python workers.  Returns the new session."""
    jvm = spark.sparkContext._jvm
    spark.stop()
    # a new context reads its defaults from the JVM's system properties
    jvm.java.lang.System.setProperty("spark.eventLog.enabled", "true")
    spark, _ = start_session()
    wl.warm(spark, 1)
    return spark


def timed_phase(spark, wl: Workload, seconds: float, tracer, first: int = 0) -> list[dict]:
    """Closed loop: ``round(seconds / NOMINAL_OP_S)`` operations (at least
    one) back to back, numbered from ``first``.  Each record has its wall
    and process-tree CPU seconds; a failed operation has ``failed`` set."""
    ops = []
    sc = spark.sparkContext
    for i in range(first, first + max(1, round(seconds / NOMINAL_OP_S))):
        sc.setJobGroup("op", "timed operation")
        c0 = measure.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            rec = wl.op(spark, i, tracer)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            rec = {"failed": 1}
        rec["start"], rec["wall_s"] = t0, time.perf_counter() - t0
        rec["cpu_s"] = measure.tree_cpu_s() - c0
        ops.append(rec)
    sc.setJobGroup("", "")
    return ops


def medians(wl: Workload, ops: list[dict]) -> dict:
    """Median wall and CPU seconds per operation, and documents per wall
    second, over the operations that did not raise."""
    good = [o for o in ops if not o.get("failed")]
    if not good:
        return {"wall_s": float("nan"), "cpu_s": float("nan"), "docs_per_s": float("nan")}
    wall = measure.median([o["wall_s"] for o in good])
    return {
        "wall_s": wall,
        "cpu_s": measure.median([o["cpu_s"] for o in good]),
        "docs_per_s": wl.docs_per_op / wall,
    }


def end_to_end(wl: Workload, ops: list[dict], setup_s: float, rss: dict, failed: int) -> dict:
    """The end-to-end metrics.  Wall time and documents per second are
    not among them: host steal on a shared VM spreads them by up to 0.29
    between runs of the same code, past the largest bound.  They are in
    the detail record."""
    return {
        "cpu_s": (medians(wl, ops)["cpu_s"], "s"),
        "setup_s": (setup_s, "s"),
        "worker_rss_mb": (rss["python_worker_mb"], "MB"),
        # the share of operations that succeeded: 1 - fail ratio
        "ok_ratio": ((len(ops) - failed) / len(ops), "ratio"),
    }


def run(root: str, work: str, name: str, seed: int, seconds: float, trace: bool):
    """One run; returns the result line and a detail record."""
    from . import layers

    procs = deploy.cores()
    deployment = deploy.configure(root, work)
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    wl = WORKLOADS[name](root, work, seed, procs)
    wl.prepare()

    t0 = time.perf_counter()
    spark, start_s = start_session()
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    for key in ("spark.sql.execution.arrow.maxRecordsPerBatch", "spark.sql.files.maxPartitionBytes"):
        deployment[key] = spark.conf.get(key)

    run_id = f"{name}-s{seed}"
    steal0 = measure.host_steal_s()
    ops = timed_phase(spark, wl, seconds, measure.Tracer(run_id, False))
    steal_s = measure.host_steal_s() - steal0
    rss = measure.tree_peak_rss_mb()
    traced_ops = []
    if trace:
        spark = restart_traced(spark, wl)
        tracer = measure.Tracer(run_id, True)
        traced_ops = timed_phase(spark, wl, seconds, tracer, first=len(ops))
        phase = (traced_ops[0]["start"], time.perf_counter())
    everything = ops + traced_ops
    problems = wl.check([o for o in everything if not o.get("failed")])
    # an operation fails by raising or by a wrong output
    failed = sum(1 for o in everything if o.get("failed")) + len(problems)
    attempted = len(everything)

    if trace:
        metrics, t_attempted, t_problems = layers.traced(spark, wl, ops, traced_ops, start_s, tracer, phase)
        attempted += t_attempted
        failed += len(t_problems)
        problems += t_problems
    else:
        spark.stop()
        metrics = end_to_end(wl, ops, setup_s, rss, failed)

    for p in problems:
        print("CHECK FAILED: " + p, file=sys.stderr)
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    ops_view = [{k: v for k, v in o.items() if isinstance(v, (int, float, str))} for o in everything]
    detail = {
        "deployment": deployment,
        "setup_s": setup_s,
        "steal_s": steal_s,
        "untraced": medians(wl, ops),
        "ops": ops_view,
        "problems": problems,
    }
    return result, detail
