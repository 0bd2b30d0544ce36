#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload extract_stage --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Inputs, Spark's files and per-seed caches live under
``.bench_work`` in the checkout.  Exits non-zero without a result when the
program under test is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
#: the program files the benchmark drives
PROGRAM = ["ocrd_tesserocr_spark/__init__.py", "__spark_entry__.py", "bench.py"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"program under test not found in {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import measure, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # every process the run starts ends before it does, on every way out
    measure.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result, detail = workloads.run(ROOT, WORK, args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        # a second SIGTERM must not cut the shutdown short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stray = workloads.shutdown()
    if stray:
        print(f"stopped processes left after the JVM ended: {stray}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
