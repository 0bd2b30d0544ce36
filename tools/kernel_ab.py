"""Paired in-process CPU A/B of the extraction kernel against a git revision.

Loads a ``git archive`` of ``REV`` as a second package next to this
checkout's (the way ``kernel_digest.py --base`` reads the parent, but in
this process) and runs both sides' ``kernel.make_extract_arrow_fn`` over
the same 1,024-row batches, timed in process CPU.  Each round runs
base, change, base (even rounds) or change, base, change (odd rounds):
the pair is the base time over the change time, the side run twice
averaged; the doubled side's second run over its first is an A/A.

    python tools/kernel_ab.py --base REV                       # sf0.001, sf0.01
    python tools/kernel_ab.py --base REV --pages DIR [DIR ...] # pages parquet dirs
    python tools/kernel_ab.py --base REV --levels block --rounds 15

Per level x corpus it prints the median base and change seconds, the
paired median speed-up (> 1 means the change is faster), the A/A median
and the rounds the change won, then each side's layer split from one
extra pass: ``decode`` (UTF-8), ``parse`` (``_parse_blocks``) and
``assemble`` (``_assemble_block`` and the empty-block filter), or
``parse+assemble`` for a compiled prefix, which does both in one call;
``body`` (``_walk`` minus its prefix) and ``blocks_array``.
"""

from __future__ import annotations

import argparse
import importlib.util
import io
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BATCH_ROWS = 1024
BASE_PACKAGE = "base_ocrd_tesserocr_spark"


def parse_args(argv: list) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", metavar="REV", required=True, help="git revision to compare against")
    ap.add_argument("--pages", nargs="+", metavar="DIR",
                    help="pages parquet files or directories (default: sf0.001 and sf0.01 pages)")
    ap.add_argument("--levels", nargs="+", default=["block", "word"],
                    choices=["block", "line", "word", "glyph"])
    ap.add_argument("--rounds", type=int, default=7, help="A/B/A rounds per level and corpus")
    args = ap.parse_args(argv)
    if args.rounds < 2:
        ap.error("--rounds must be at least 2 (the order rotates every round)")
    return args


def paired(run_base, run_change, rounds: int) -> dict:
    """Rotated A/B/A rounds of two timed runs (callables returning
    seconds): the paired median speed-up, the A/A median, the change's wins
    and each side's median seconds."""
    speedups, aas, base_s, change_s = [], [], [], []
    for r in range(rounds):
        if r % 2 == 0:
            a1, c, a2 = run_base(), run_change(), run_base()
            b = (a1 + a2) / 2
            aas.append(a2 / a1)
            base_s += [a1, a2]
            change_s.append(c)
        else:
            c1, b, c2 = run_change(), run_base(), run_change()
            c = (c1 + c2) / 2
            aas.append(c2 / c1)
            base_s.append(b)
            change_s += [c1, c2]
        speedups.append(b / c)
    return {
        "base_s": statistics.median(base_s),
        "change_s": statistics.median(change_s),
        "speedup": statistics.median(speedups),
        "aa": statistics.median(aas),
        "wins": sum(s > 1 for s in speedups),
        "rounds": rounds,
    }


def load_base(rev: str, tmp: str):
    """The ``ocrd_tesserocr_spark`` package of ``git archive rev``, imported
    under ``BASE_PACKAGE`` (its relative imports stay inside it)."""
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", rev, "ocrd_tesserocr_spark"],
        capture_output=True, check=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(tmp)
    pkg = os.path.join(tmp, "ocrd_tesserocr_spark")
    spec = importlib.util.spec_from_file_location(
        BASE_PACKAGE, os.path.join(pkg, "__init__.py"), submodule_search_locations=[pkg])
    mod = importlib.util.module_from_spec(spec)
    sys.modules[BASE_PACKAGE] = mod
    spec.loader.exec_module(mod)
    return mod


class Side:
    """One package's kernel, bound to one level."""

    def __init__(self, pkg: str, level: str):
        self.kernel = importlib.import_module(pkg + ".kernel")
        self.oracle = importlib.import_module(pkg + ".oracle")
        schemas = importlib.import_module(pkg + ".schemas")
        from pyspark.sql.pandas.types import to_arrow_schema

        params = self.oracle.ExtractParams(textequiv_level=level)
        self.fn = self.kernel.make_extract_arrow_fn(params)
        self.resolved = self.kernel._validate(params)
        self.blocks_t = to_arrow_schema(schemas.EXTRACTED_SCHEMA).field("blocks").type
        self.prefix = getattr(self.kernel, "_prefix", None) or self.kernel._assembled_blocks
        self.impl = getattr(self.kernel, "PREFIX_IMPL", "python")

    def run(self, batches: list) -> float:
        t = time.process_time()
        for rb in batches:
            for _ in self.fn(iter([rb])):
                pass
        return time.process_time() - t

    def layers(self, htmls: list) -> dict:
        """Process-CPU seconds per layer over ``htmls`` (one pass)."""
        def timed(f, xs):
            # results are dropped as they come, as the walk drops them:
            # holding them all would make the cyclic GC rescan them
            t = time.process_time()
            for x in xs:
                try:
                    f(x)
                except Exception:
                    pass
            return time.process_time() - t

        texts = []
        for h in htmls:
            try:
                texts.append(bytes(h).decode("utf-8"))
            except (TypeError, UnicodeDecodeError):
                pass
        decode_s = timed(lambda h: bytes(h).decode("utf-8"), htmls)
        prefix_s = timed(self.prefix, htmls)
        out = {"decode": decode_s}
        if self.impl == "c":
            out["parse+assemble"] = prefix_s - decode_s
        else:
            parse_s = timed(self.oracle._parse_blocks, texts)
            out["parse"] = parse_s
            out["assemble"] = prefix_s - decode_s - parse_s
        t = time.process_time()
        cols = self.kernel._walk(htmls, self.resolved)
        out["body"] = time.process_time() - t - prefix_s
        t = time.process_time()
        self.kernel._blocks_array(cols, self.blocks_t)
        out["blocks_array"] = time.process_time() - t
        return out


def corpora(pages: list | None) -> dict:
    """name -> 1,024-row (url, html) record batches, in url order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import pages_batch

    if pages:
        tables = {}
        for p in pages:
            t = pq.read_table(p, columns=["url", "html"])
            t = t.sort_by("url").cast(pa.schema([("url", pa.string()), ("html", pa.binary())]))
            tables[os.path.basename(p.rstrip("/"))] = t.to_pylist()
    else:
        from ocrd_tesserocr_spark.corpus import pages_records
        from tests.conftest import SF_ORACLE, SF_SMOKE

        tables = {
            os.path.basename(d): sorted(pages_records(d), key=lambda r: r["url"])
            for d in (SF_SMOKE, SF_ORACLE)
        }
    return {
        name: [pages_batch(recs[i:i + BATCH_ROWS]) for i in range(0, len(recs), BATCH_ROWS)]
        for name, recs in tables.items()
    }


def fmt_layers(layers: dict) -> str:
    return " ".join("%s=%.3f" % kv for kv in layers.items())


def main(argv: list) -> int:
    args = parse_args(argv)
    data = corpora(args.pages)
    with tempfile.TemporaryDirectory() as tmp:
        load_base(args.base, tmp)
        for level in args.levels:
            base = Side(BASE_PACKAGE, level)
            change = Side("ocrd_tesserocr_spark", level)
            for name, batches in data.items():
                base.run(batches)  # warm both sides' caches
                change.run(batches)
                r = paired(lambda: base.run(batches), lambda: change.run(batches), args.rounds)
                print("%s %s rows=%d base=%.3fs change=%.3fs speedup=%.3fx aa=%.3f wins=%d/%d" % (
                    level, name, sum(b.num_rows for b in batches), r["base_s"], r["change_s"],
                    r["speedup"], r["aa"], r["wins"], r["rounds"]), flush=True)
                htmls = [h for b in batches for h in b.column("html").to_pylist()]
                for label, side in (("base", base), ("change", change)):
                    print("  %-6s prefix=%s %s" % (label, side.impl, fmt_layers(side.layers(htmls))),
                          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
