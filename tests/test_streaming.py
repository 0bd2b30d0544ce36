"""Streaming surface: the same kernel over a file-source stream must
produce exactly the batch results (availableNow trigger = one snapshot)."""

from __future__ import annotations

import re

from ocrd_tesserocr_spark.pipeline import extract
from ocrd_tesserocr_spark.streaming import extract_stream, pages_stream, start_to_parquet


def test_stream_matches_batch(spark, pages_small, tmp_path):
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    sample = pages_small.limit(100)
    sample.write.parquet(src)

    stream = extract_stream(pages_stream(spark, src, max_files=2))
    q = start_to_parquet(stream, out, ckpt, trigger_once=True)
    q.awaitTermination(300)

    got = {r["url"]: r["text"] for r in spark.read.parquet(out).collect()}
    exp = {r["url"]: r["text"] for r in extract(spark, sample, num_partitions=2).collect()}
    assert got == exp

    # restart with no new files: checkpoint prevents reprocessing
    q2 = start_to_parquet(
        extract_stream(pages_stream(spark, src, max_files=2)), out, ckpt, trigger_once=True
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == len(exp)


def test_stream_kernel_reads_only_url_and_html(spark, tmp_path):
    """Like the batch path, the streaming plan prunes the pages to the two
    columns the kernel reads before they cross to the Python worker."""
    src = tmp_path / "pages_in"
    src.mkdir()
    df = extract_stream(pages_stream(spark, str(src)))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    [cols] = re.findall(r"\(\d+\) MapInArrow\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert [c.split("#")[0] for c in cols.split(", ")] == ["url", "html"]


def test_stateful_dedup_stream_across_batches(spark, pages_small, tmp_path):
    """applyInPandasWithState exact dedup: duplicates arriving in a LATER
    micro-batch are dropped by the checkpointed state."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from ocrd_tesserocr_spark.streaming import pages_stream
    from ocrd_tesserocr_spark.streaming.stateful import dedup_stream

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    first = pages_small.limit(40)
    first.coalesce(1).write.parquet(src)

    def run_available():
        q = (
            dedup_stream(pages_stream(spark, src, max_files=1))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_available()
    n1 = spark.read.parquet(out).where(F.length("url") > 0).count()
    assert n1 > 0

    # second landing: 20 duplicate payloads (same html, new urls) + nothing new
    dupes = first.limit(20).select(
        F.concat(F.lit("https://re.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    dupes.coalesce(1).write.mode("append").parquet(src)
    run_available()

    rows = [r for r in spark.read.parquet(out).collect() if r["url"]]
    # no re-emission: every content_hash appears exactly once, and no keeper
    # url comes from the duplicate landing
    hashes = [r["content_hash"] for r in rows]
    assert len(hashes) == len(set(hashes)) == n1
    assert not any(r["url"].startswith("https://re.example/") for r in rows)


def test_stateful_sessionize_stream_gap_across_batches(spark, tmp_path):
    """A >30-min silence between micro-batches closes the session: the
    state carries the open session until a later batch proves the gap."""
    import datetime as dt

    from pyspark.sql import types as T

    from ocrd_tesserocr_spark.streaming.stateful import sessionize_stream

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    src = str(tmp_path / "ev_in")
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ck")

    batch1 = spark.createDataFrame(
        [(1, 1, t0), (1, 2, t0 + dt.timedelta(seconds=60)),
         (2, 3, t0)], schema)
    batch1.coalesce(1).write.parquet(src)

    def run_available():
        q = (
            sessionize_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_available()
    # nothing closed yet: both sessions still open in state
    assert spark.read.parquet(out).where("user_id is not null").count() == 0

    # user 1 returns after a 4000 s gap.  The first session does NOT close
    # yet: the watermark (still behind t0+60+gap during this batch) cannot
    # prove that a late in-window event won't extend it.
    batch2 = spark.createDataFrame(
        [(1, 4, t0 + dt.timedelta(seconds=4060))], schema)
    batch2.coalesce(1).write.mode("append").parquet(src)
    run_available()

    # a third batch advances the watermark past t0+60+gap (wm during its
    # processing = t0+4060-1800 = t0+2260): user 1's first session is now
    # PROVEN closed and emits; user 2's single-event session flushes via
    # the event-time timeout in the same trigger.
    batch3 = spark.createDataFrame(
        [(1, 5, t0 + dt.timedelta(seconds=99999))], schema)
    batch3.coalesce(1).write.mode("append").parquet(src)
    run_available()

    rows = [r for r in spark.read.parquet(out).collect()
            if r["user_id"] is not None]
    u1 = [(r["session_start_epoch"], r["session_end_epoch"], r["n_events"])
          for r in rows if r["user_id"] == 1]
    e0 = int(t0.timestamp())
    assert (e0, e0 + 60, 2) in u1
    # the t0+4060 session may also have flushed (no-data micro-batch after
    # batch3 advanced the watermark) — if so it must be exact
    assert set(u1) <= {(e0, e0 + 60, 2), (e0 + 4060, e0 + 4060, 1)}
    u2 = [(r["session_start_epoch"], r["session_end_epoch"], r["n_events"])
          for r in rows if r["user_id"] == 2]
    assert u2 == [(e0, e0, 1)]


def test_sessionize_event_time_merges_late_events(spark, tmp_path):
    """Out-of-order data: a late event inside the open session must WIDEN
    it, not rewind the gap arithmetic.  The processing-time variant would
    set last=the late epoch and falsely close the session on the next
    event (2500-500=2000>1800); the event-time variant merges by interval
    overlap and keeps one session open."""
    import datetime as dt

    from pyspark.sql import types as T

    from ocrd_tesserocr_spark.streaming.stateful import sessionize_stream

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def sec(s):
        return t0 + dt.timedelta(seconds=s)

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    def run_available():
        q = (
            sessionize_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    spark.createDataFrame([(7, 1, sec(1000))], schema).coalesce(1).write.parquet(src)
    run_available()
    # late event at t=500 (within the 30-min watermark), then t=2500:
    # 2500-1000=1500 <= gap, so the session 500..2500 is still open —
    # nothing may close
    spark.createDataFrame([(7, 2, sec(500))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available()
    spark.createDataFrame([(7, 3, sec(2500))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available()
    assert spark.read.parquet(out).where("user_id is not null").count() == 0

    # a far-future event starts a second interval but must NOT close the
    # first one yet: during this batch the watermark (2500-1800=700) still
    # admits a late event that could extend 500..2500
    spark.createDataFrame([(7, 4, sec(99999))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available()

    # one more event advances the watermark (99999-1800) far past
    # 2500+gap: the merged first session is now proven and closes as
    # (500, 2500, 3 events) — byte-for-byte what batch q_sessionize gives
    spark.createDataFrame([(7, 5, sec(199999))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available()
    rows = [(r["session_start_epoch"], r["session_end_epoch"], r["n_events"])
            for r in spark.read.parquet(out).collect()
            if r["user_id"] is not None]
    first = (int(sec(500).timestamp()), int(sec(2500).timestamp()), 3)
    assert first in rows
    # the 99999 interval may also have flushed via a trailing no-data
    # micro-batch; no other output is admissible
    assert set(rows) <= {first,
                         (int(sec(99999).timestamp()),
                          int(sec(99999).timestamp()), 1)}


def test_dedup_fn_keeper_spans_chunks():
    """The keeper must be the min url across ALL Arrow chunks of the group,
    and later batches accumulate the drop counter in state (unit-level:
    fake GroupState, multi-chunk iterator)."""
    import pandas as pd

    from ocrd_tesserocr_spark.streaming.stateful import _dedup_fn

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

    st = FakeState()
    chunks = iter([
        pd.DataFrame({"url": ["https://z.example/9", "https://m.example/5"]}),
        pd.DataFrame({"url": ["https://a.example/1", "https://q.example/7"]}),
    ])
    [out] = list(_dedup_fn(("h1",), chunks, st))
    assert list(out["url"]) == ["https://a.example/1"]  # min sits in chunk 2
    assert list(out["n_dropped"]) == [3]
    assert st.get == (True, "https://a.example/1", 3)

    # later batch: same hash, 2 more dupes -> cumulative counter in state
    [out2] = list(_dedup_fn(("h1",), iter([pd.DataFrame({"url": ["x", "y"]})]), st))
    assert len(out2) == 0
    assert st.get == (True, "https://a.example/1", 5)


def test_session_close_is_strict_at_watermark_boundary():
    """Watermark semantics keep rows whose event time EQUALS the watermark,
    so when wm == last+gap an event at exactly last+gap can still arrive
    — and it would JOIN the session (e <= last+gap).  The close test must
    therefore be strict: at the boundary the session stays open, its
    event-time timeout is nudged past the watermark (Spark rejects a
    timeout <= wm), and 1 ms later it closes (unit-level: fake GroupState
    replaying _session_fn_event)."""
    import pandas as pd

    from ocrd_tesserocr_spark.streaming.stateful import (
        SESSION_GAP_SEC,
        _session_fn_event,
    )

    class FakeState:
        def __init__(self, wm_ms):
            self._v = None
            self.hasTimedOut = False
            self.wm_ms = wm_ms
            self.timeout_ms = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def getCurrentWatermarkMs(self):
            return self.wm_ms

        def setTimeoutTimestamp(self, ms):
            assert ms > self.wm_ms, "Spark rejects a timeout <= watermark"
            self.timeout_ms = ms

    last = 10_000
    boundary_ms = (last + SESSION_GAP_SEC) * 1000
    # watermark EXACTLY at last+gap: not yet proof — stays open
    st = FakeState(boundary_ms)
    [out] = list(_session_fn_event(
        (1,), iter([pd.DataFrame({"epoch": [9_000, last]})]), st
    ))
    assert len(out) == 0
    assert st.get == ([9_000], [last], [2])
    assert st.timeout_ms == boundary_ms + 1  # nudged strictly past wm
    # the boundary event arrives at wm == last+gap: it must still join
    st.wm_ms = boundary_ms
    [out_b] = list(_session_fn_event(
        (1,), iter([pd.DataFrame({"epoch": [last + SESSION_GAP_SEC]})]), st
    ))
    assert len(out_b) == 0 and st.get[1] == [last + SESSION_GAP_SEC]
    # watermark 1 ms past the (new) end+gap: proof — closes as ONE session
    st.wm_ms = (last + 2 * SESSION_GAP_SEC) * 1000 + 1
    st.hasTimedOut = True
    [out2] = list(_session_fn_event((1,), iter([]), st))
    assert [tuple(r) for r in out2.itertuples(index=False)] == [
        (1, 9_000, last + SESSION_GAP_SEC, 3)
    ]
    assert not st.exists


def test_sessionize_stream_equals_batch_on_real_events(spark, tmp_path):
    """End-to-end equivalence on the real events table: once the watermark
    passes every session's end+gap (driven by sentinel events), the
    streaming operator must emit exactly the sessions the batch gap rule
    produces — same (user, start, end, n_events) multiset."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ocrd_tesserocr_spark.streaming.stateful import (
        SESSION_GAP_SEC,
        sessionize_stream,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "event_id", "ts")
    )
    rows = ev.collect()
    max_ts = max(r["ts"] for r in rows)

    # independent in-test oracle: replay the gap rule per user
    per_user: dict = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        per_user.setdefault(r["user_id"], []).append(int(r["ts"].timestamp()))
    expected = set()
    for uid, epochs in per_user.items():
        start = last = epochs[0]
        n = 1
        for e in epochs[1:]:
            if e - last > SESSION_GAP_SEC:
                expected.add((uid, start, last, n))
                start, n = e, 0
            n += 1
            last = e
        expected.add((uid, start, last, n))

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "ev_in")
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ck")
    ev.coalesce(1).write.parquet(src)

    def run_available():
        q = (
            sessionize_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_available()
    # two sentinel batches: the first advances the watermark past every
    # real session's end+gap; the second triggers the event-time timeouts
    # under that watermark
    for i, days in enumerate((10, 20)):
        s = spark.createDataFrame(
            [(999999900 + i, 1, max_ts + dt.timedelta(days=days))], schema)
        s.coalesce(1).write.mode("append").parquet(src)
        run_available()

    got = {
        (r["user_id"], r["session_start_epoch"],
         r["session_end_epoch"], r["n_events"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] is not None and r["user_id"] < 999999900
    }
    assert got == expected
