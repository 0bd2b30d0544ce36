#!/usr/bin/env python3
"""Steadiness evidence: two interleaved sets of untraced runs per workload.

    python3 perfbench/steady.py --seeds 10 --seconds 10 [--workloads a,b] [--out FILE]

Set A and set B run the same seeds; runs alternate A, B per seed and
workload, so both sets see the same drift of the machine.  For every
end-to-end metric the report gives each set's median and quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the spread
(q3 - q1) / median, the set-to-set drift of the median, and the metric's
bound from ``BENCHMARK.json``.  Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    ok = p.returncode == 0 and len(lines) >= 2
    result = json.loads(lines[-1]) if ok else None
    detail = json.loads(lines[-2])["detail"] if ok else {}
    return {
        "seed": seed,
        "rc": p.returncode,
        "elapsed_s": time.time() - t0,
        "steal_s": detail.get("steal_s"),
        "op_walls": [o["wall_s"] for o in detail.get("ops", [])],
        "result": result,
    }


def summarize(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else None,
        "bound": bound,
    }


def report(runs: dict, spec: dict) -> dict:
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    out = {}
    for w, sets in runs.items():
        out[w] = {}
        for name, m in bounds.items():
            per_set = {}
            for s, rs in sets.items():
                vals = [r["result"]["metrics"][name]["value"] for r in rs if r["result"]]
                if len(vals) >= 2:
                    per_set[s] = summarize(vals, m["bound"])
            if len(per_set) == 2:
                a, b = per_set["A"]["median"], per_set["B"]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                per_set["drift"] = worse
            out[w][name] = per_set
        out[w]["elapsed_s"] = {s: [round(r["elapsed_s"], 1) for r in rs] for s, rs in sets.items()}
        out[w]["failed_runs"] = sum(1 for rs in sets.values() for r in rs if not r["result"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    runs = {w: {"A": [], "B": []} for w in names}
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        for s in ("A", "B"):
            for w in names:
                r = one_run(w, seed, seconds)
                runs[w][s].append(r)
                print(json.dumps({"workload": w, "set": s, **r}), flush=True)
    rep = {"seconds": seconds, "seeds": args.seeds, "report": report(runs, spec), "runs": runs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rep, f, indent=1)
    print(json.dumps(rep["report"], indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
