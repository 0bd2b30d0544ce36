"""Row and plan digests of the operator queries, to compare two revisions.

For every query in ``__spark_entry__.queries()`` (or the NAMEs given) and
every sf directory, prints one line::

    <name> <sf> <rows> <sha256 of the sorted rows> <sha256 of the plan>

The row digest hashes the ``repr`` of every collected row, sorted, so it
depends on the values only, not on partitioning.  The plan digest hashes
the optimized logical plan with expression ids (``#12``), ``plan_id``s and
the counters of generated names (lambda variables ``x_3``, Catalyst's
``_common_expr_0``) masked, so building the same query twice in one session
gives the same digest.

    python tools/query_digest.py                       # all queries, sf0.01
    python tools/query_digest.py NAME ... --sf DIR ... # chosen queries / dirs
    python tools/query_digest.py NAME ... --base REV   # also git revision REV

With ``--base REV`` the same digests are computed on a ``git archive`` of
``REV`` in a subprocess (run first, so only one Spark session is up at a
time), and each line gains ``data=same|DIFF plan=same|DIFF``.  The tool
exits 1 on any ``data=DIFF``; a plan difference is reported, not failed.
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import re
import shutil
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SF = "/root/testdata/sf0.01"

_MASKS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(\w*[A-Za-z])_\d+\b"), r"\1_"),
)


def mask_plan(plan: str) -> str:
    """``plan`` with the ids that change from one build to the next
    masked: expression ids, plan ids and generated-name counters."""
    for pat, repl in _MASKS:
        plan = pat.sub(repl, plan)
    return plan


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def digest_lines(names: list, sf_dirs: list) -> list:
    """``[name, sf, rows, data sha256, plan sha256]`` per query x sf dir."""
    import __spark_entry__ as entry

    from ocrd_tesserocr_spark.session import get_spark

    queries = entry.queries()
    spark = get_spark("local[4]", 4, app_name="query_digest")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxToStringFields", "100000")
    lines = []
    try:
        for sf in sf_dirs:
            for name in names or sorted(queries):
                df = queries[name](spark, sf)
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                rows = sorted(repr(tuple(r)) for r in df.collect())
                lines.append([name, os.path.basename(sf.rstrip("/")), str(len(rows)),
                              _sha("\n".join(rows)), _sha(mask_plan(plan))])
    finally:
        spark.stop()
    return lines


def run_base(rev: str, names: list, sf_dirs: list, tmp: str) -> list:
    """:func:`digest_lines` of a ``git archive`` of ``rev``, run by this
    tool in a subprocess from that tree."""
    tree = os.path.join(tmp, "tree")
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", rev],
        capture_output=True, check=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(tree)
    tool = os.path.join(tree, "tools", "query_digest.py")
    shutil.copyfile(os.path.abspath(__file__), tool)
    out = subprocess.run(
        [sys.executable, tool, *names, "--sf", *sf_dirs, "--json"],
        cwd=tree, stdout=subprocess.PIPE, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv: list) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", nargs="+", default=[DEFAULT_SF], metavar="DIR",
                    help="sf directories (default %s)" % DEFAULT_SF)
    ap.add_argument("--base", metavar="REV", help="also digest git revision REV")
    # internal: print the lines as one JSON list (the --base subprocess)
    ap.add_argument("--json", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # Spark's Python workers import the package from their working directory
    os.chdir(REPO)
    base = None
    if args.base:
        with tempfile.TemporaryDirectory() as tmp:
            base = {tuple(b[:2]): b[2:] for b in run_base(args.base, args.names, args.sf, tmp)}
    lines = digest_lines(args.names, args.sf)
    if args.json:
        print(json.dumps(lines))
        return 0
    ok = True
    for line in lines:
        if base is not None:
            b = base.get(tuple(line[:2]))
            same_data = b is not None and b[:2] == line[2:4]
            same_plan = b is not None and b[2] == line[4]
            ok = ok and same_data
            line = line + ["data=" + ("same" if same_data else "DIFF"),
                           "plan=" + ("same" if same_plan else "DIFF")]
        print(*line, flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
