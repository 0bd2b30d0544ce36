"""Self-tests of the benchmark's own reducers (event-log parsing, digests
and percentiles) and of its process shutdown.  No Spark session is
started.

    python3 perfbench/selftest.py          # or: python3 -m pytest perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, eventlog, measure  # noqa: E402


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def test_quantile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.median(xs) == 3.0
    assert measure.quantile(xs, 0.25) == 2.0
    assert measure.quantile([1.0, 2.0], 0.5) == 1.5
    assert measure.quantile([7.0], 0.99) == 7.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert measure.tail_percentile(19) is None  # p50 leaves only 9.5 above
    assert measure.tail_percentile(20) == 50.0
    assert measure.tail_percentile(99) == 50.0
    assert measure.tail_percentile(100) == 90.0
    assert measure.tail_percentile(999) == 90.0
    assert measure.tail_percentile(1000) == 99.0
    assert measure.tail_percentile(10_000) == 99.9


def test_summarize_reports_count_quartiles_and_tail():
    s = measure.summarize(range(1, 101))
    assert s["n"] == 100 and s["max"] == 100
    assert s["p50"] == 50.5 and s["q1"] == 25.75 and s["q3"] == 75.25
    assert s["tail_p"] == 90.0 and abs(s["tail"] - 90.1) < 1e-9
    assert "tail" not in measure.summarize([1, 2, 3])


def test_tracer_covered_seconds_counts_overlaps_once():
    t = measure.Tracer("r", True)
    t.spans = [
        {"name": "a", "start": 0.0, "end": 2.0},
        {"name": "a", "start": 1.0, "end": 3.0},
        {"name": "b", "start": 5.0, "end": 6.0},
        {"name": "other", "start": 3.0, "end": 5.0},
    ]
    assert t.covered_s(("a", "b"), 0.0, 10.0) == 4.0
    assert t.covered_s(("a",), 2.5, 10.0) == 0.5


def test_disabled_tracer_times_but_keeps_nothing():
    t = measure.Tracer("r", False)
    with t.span("x") as s:
        pass
    assert s.seconds >= 0 and t.spans == []


# ---------------------------------------------------------------------------
# digests
# ---------------------------------------------------------------------------


def test_stream_digest_is_chunking_invariant_and_null_aware():
    a, b = checks.StreamDigest(), checks.StreamDigest()
    a.strings("s", ["ab", None, ""])
    a.ints("i", [1, 2, 3])
    b.strings("s", ["ab"])
    b.strings("s", [None, ""])
    b.ints("i", [1])
    b.ints("i", [2, 3])
    assert a.hexdigest() == b.hexdigest()
    c = checks.StreamDigest()
    c.strings("s", ["ab", "", None])
    c.ints("i", [1, 2, 3])
    assert c.hexdigest() != a.hexdigest()
    d = checks.StreamDigest()
    d.strings("s", ["a", "b", None, ""])  # same bytes, other boundaries
    d.ints("i", [1, 2, 3])
    assert d.hexdigest() != a.hexdigest()


def _blocks(*spans):
    return [
        {"block_id": f"block{i:04d}", "kind": "paragraph", "char_start": s, "char_end": e,
         "lines": [{"words": [{"char_start": s, "char_end": e, "text": "w"}]}]}
        for i, (s, e) in enumerate(spans)
    ]


def _snapshot(tmp: str, rows: list[dict]) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocrd_tesserocr_spark.schemas import EXTRACTED_SCHEMA
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(EXTRACTED_SCHEMA)
    blocks_t = schema.field("blocks").type
    full = []
    for r in rows:
        bs = []
        for b in r["blocks"]:
            lines = [
                {"line_id": "l", "char_start": b["char_start"], "char_end": b["char_end"], "text": "w",
                 "conf": 1.0,
                 "words": [{"word_id": "w", "char_start": w["char_start"], "char_end": w["char_end"],
                            "text": w["text"], "conf": 1.0,
                            "style": {"bold": False, "italic": False, "monospace": False},
                            "glyphs": []} for w in ln["words"]]}
                for ln in b["lines"]
            ]
            bs.append({**{f.name: None for f in blocks_t.value_type}, **b, "lines": lines,
                       "order_idx": 0, "conf": 1.0, "text_density": 1.0, "link_density": 0.0,
                       "is_main": True, "model": "m", "text": "w"})
        full.append(bs)
    t = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], type=pa.string()),
            "text": pa.array([r["text"] for r in rows], type=pa.string()),
            "conf": pa.array([1.0] * len(rows)),
            "blocks": pa.array(full, type=blocks_t),
            "features": pa.array([[]] * len(rows), type=schema.field("features").type),
            "failed": pa.array([r["text"] is None for r in rows]),
            "partition_id": pa.array([0] * len(rows), type=pa.int32()),
        }
    )
    path = os.path.join(tmp, "snap")
    os.makedirs(path)
    # two files in the opposite url order: the digest must not care
    pq.write_table(t.slice(1), os.path.join(path, "a.parquet"))
    pq.write_table(t.slice(0, 1), os.path.join(path, "b.parquet"))
    return path


ROWS = [
    {"url": "https://a/1", "text": "one two", "blocks": _blocks((0, 3), (4, 7))},
    {"url": "https://a/2", "text": None, "blocks": []},
    {"url": "https://b/3", "text": "x", "blocks": _blocks((0, 1))},
]


def _oracle_view(rows):
    urls = [r["url"] for r in rows]
    recs = [
        {"text": r["text"], "failed": r["text"] is None,
         "blocks": [{**b, "words": [(w["char_start"], w["char_end"], w["text"])
                                    for ln in b["lines"] for w in ln["words"]]} for b in r["blocks"]]}
        for r in rows
    ]
    return urls, recs


def test_snapshot_and_oracle_block_digests_agree():
    with tempfile.TemporaryDirectory() as tmp:
        got = checks.snapshot_block_digest(_snapshot(tmp, ROWS))
    exp = checks.oracle_block_digest(*_oracle_view(ROWS))
    assert got == exp and exp["docs"] == 3 and exp["failed"] == 1


def test_block_digest_sees_a_moved_span():
    moved = [dict(ROWS[0], blocks=_blocks((0, 3), (4, 8)))] + ROWS[1:]
    assert (checks.oracle_block_digest(*_oracle_view(moved))["digest"]
            != checks.oracle_block_digest(*_oracle_view(ROWS))["digest"])


def test_snapshot_and_oracle_word_digests_agree():
    with tempfile.TemporaryDirectory() as tmp:
        got = checks.snapshot_word_digest(_snapshot(tmp, ROWS))
    assert got["digest"] == checks.oracle_word_digest(*_oracle_view(ROWS))


def test_frames_match_uses_parity_rules():
    import pandas as pd

    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
    b = pd.DataFrame({"v": [0.25, 0.5], "k": [1, 2]})
    assert checks.frames_match(a, b) == "OK"
    assert checks.frames_match(a, b.assign(k=[1.0, 2.0])) == "dtype mismatch"
    assert checks.frames_match(a, b.iloc[:1]).startswith("row count")
    assert checks.frames_match(a, b.assign(v=[0.25, 0.6])).startswith("value mismatch")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _task(stage, launch, finish, acc=None, cpu_ns=0, out_b=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Failed": failed,
            "Accumulables": [{"Name": k, "Update": str(v)} for k, v in (acc or {}).items()],
        },
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
            "Output Metrics": {"Bytes Written": out_b},
        },
    }


EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "probe_stage"}},
    _task(0, 0, 50),
    _task(1, 0, 100, {eventlog.PY_RUN: 80, eventlog.PY_SENT: 2 * 1024 * 1024}, cpu_ns=2e9),
    _task(1, 0, 100, {eventlog.PY_RUN: 90, eventlog.PY_RETURNED: 1024 * 1024}, cpu_ns=1e9),
    _task(1, 0, 400, {eventlog.PY_RUN: 300}, cpu_ns=1e9),
    _task(2, 0, 20, out_b=3 * 1024 * 1024, failed=True),
]


def test_event_log_groups_tasks_by_job_group():
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "app")
        with open(path, "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in EVENTS)
        groups = eventlog.job_groups(eventlog.read_events(path))
    assert set(groups) == {"", "probe_stage"}
    assert groups["probe_stage"]["jobs"] == 1
    m = eventlog.pipeline_metrics(groups["probe_stage"], 1)
    assert m["tasks"] == 4 and m["failed_tasks"] == 1
    assert abs(m["python_s"] - 0.47) < 1e-9
    assert m["executor_cpu_s"] == 4.0
    assert m["to_python_mb"] == 2.0 and m["from_python_mb"] == 1.0
    assert m["shuffle_write_mb"] == 4.0 and m["output_mb"] == 3.0
    assert m["task_skew"] == 4.0  # stage 1: max 400 / median 100
    assert abs(m["gc_s"] - 0.04) < 1e-9
    half = eventlog.pipeline_metrics(groups["probe_stage"], 2)
    assert half["tasks"] == 2 and half["executor_cpu_s"] == 2.0


# ---------------------------------------------------------------------------
# process shutdown
# ---------------------------------------------------------------------------

_ORPHAN = """
import subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import measure
measure.adopt_orphans()
# the shell exits at once; its background sleep is orphaned
subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
before = measure._live_descendants()
stopped = measure.end_tree(grace_s=5.0)
print(len(before), len(stopped), len(measure._live_descendants()))
"""


def test_end_tree_stops_and_reaps_orphaned_descendants():
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _ORPHAN, root], capture_output=True, text=True, check=True, timeout=60
    ).stdout.split()
    assert out == ["1", "1", "0"], out


def main() -> int:
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    bad = 0
    for name, fn in tests:
        try:
            fn()
            print(f"ok   {name}")
        except Exception as e:  # report every failing test, then exit non-zero
            bad += 1
            print(f"FAIL {name}: {type(e).__name__}: {e}")
    print(f"{len(tests) - bad}/{len(tests)} passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
