"""Measurement primitives: process-tree CPU and RSS, percentiles, spans.

Everything here reads the operating system or plain numbers; nothing
imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import math
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live process tree, including the
    children each process has already reaped.

    The difference of two readings is the tree's CPU in between: a process
    that exits in the interval moves its whole total into its parent's
    reaped-children counters, and its share before the first reading
    cancels against that reading."""
    total = 0
    for p in tree_pids():
        f = _stat_fields(p)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux's
    ``PR_SET_CHILD_SUBREAPER``): a process whose parent dies, such as a
    Spark Python worker when the JVM exits, stays in this tree, where
    ``end_tree`` finds and waits for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _live_descendants() -> list[int]:
    me = os.getpid()
    out = []
    for p in tree_pids():
        f = _stat_fields(p)
        if p != me and f is not None and f[0] != "Z":
            out.append(p)
    return out


def end_tree(grace_s: float = 20.0, limit_s: float = 40.0) -> list[int]:
    """Stop every process still running below this one and wait until
    each has ended: SIGTERM, then SIGKILL after ``grace_s``.  Returns the
    processes that were still running when called."""
    import signal

    _reap()
    first = _live_descendants()
    t0 = time.monotonic()
    sig = signal.SIGTERM
    sent: set[int] = set()
    while True:
        live = _live_descendants()
        if not live:
            _reap()
            return first
        waited = time.monotonic() - t0
        if waited > limit_s:
            raise RuntimeError(f"processes {live} did not end")
        if waited > grace_s and sig != signal.SIGKILL:
            sig, sent = signal.SIGKILL, set()
        for p in live:
            if p not in sent:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
                sent.add(p)
        time.sleep(0.05)
        _reap()


def host_steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests (all CPUs), from
    /proc/stat: a diagnostic for slow windows, not a metric."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (``VmHWM``) in MB of the JVM and of the largest Python
    process below this one (the Spark Python workers and their daemon)."""
    jvm = py = 0
    for p in tree_pids():
        if p == os.getpid():
            continue
        comm = _comm(p)
        hwm = _status_kb(p, "VmHWM")
        if comm == "java":
            jvm = max(jvm, hwm)
        elif comm.startswith("python"):
            py = max(py, hwm)
    return {"jvm_mb": jvm / 1024, "python_worker_mb": py / 1024}


# ---------------------------------------------------------------------------
# order statistics
# ---------------------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolation quantile (numpy's default) of a non-empty
    sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest of p50/p90/p99/p99.9 that leaves at least ``beyond``
    samples above it among ``n``, or None when even p50 does not."""
    best = None
    for p_tenths in (500, 900, 990, 999):  # exact integer arithmetic
        if n * (1000 - p_tenths) >= beyond * 1000:
            best = p_tenths / 10
    return best


def summarize(values, beyond: int = 10) -> dict:
    """Median, quartiles, the highest percentile that keeps ``beyond``
    samples above it, the max and the sample count."""
    xs = list(values)
    out = {
        "n": len(xs),
        "p50": median(xs),
        "q1": quantile(xs, 0.25),
        "q3": quantile(xs, 0.75),
        "max": max(xs),
    }
    p = tail_percentile(len(xs), beyond)
    if p is not None:
        out["tail_p"] = p
        out["tail"] = quantile(xs, p / 100)
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id) written at exit.

    A disabled tracer still times its spans (callers need the durations)
    but keeps none of them."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def covered_s(self, names, lo: float, hi: float) -> float:
        """Seconds of [lo, hi] covered by the union of spans named in
        ``names`` (overlaps counted once)."""
        iv = sorted(
            (max(s["start"], lo), min(s["end"], hi))
            for s in self.spans
            if s["name"] in names and s["end"] > lo and s["start"] < hi
        )
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.start = self.end = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def __enter__(self):
        t = self.tracer
        self.parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        if t.enabled:
            t.spans.append({})
            t._stack.append(self.idx)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.spans[self.idx] = {
                "name": self.name,
                "start": self.start,
                "end": self.end,
                "parent": self.parent,
                "run": t.run_id,
                **self.attrs,
            }
        return False
