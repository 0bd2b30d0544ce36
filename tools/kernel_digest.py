"""sha256 digests of the extraction kernel's Arrow output, without Spark.

For every preset x corpus, runs ``kernel.make_extract_arrow_fn(preset)``
over the corpus pages in url order (8192-row batches, Spark's
``maxRecordsPerBatch``) and hashes each output row's JSON form, so the
digest depends on the values only, not on Arrow buffer layout.  Run it
before and after a kernel change: every line must stay the same.

Each batch is also compared with the reference batch built from
``oracle.extract_document`` dicts (``tests.conftest.dict_path_batch``).

The corpora are the sf directories' pages, the hand-written hostile pages
and ``soup``: ``corpus.soup_pages()``, a fixed-seed corpus of tag soups
that reaches the tokenizer's rarer paths.

    python tools/kernel_digest.py                 # sf0.001, sf0.01, hostile, soup
    python tools/kernel_digest.py SF_DIR [...]    # other sf directories
    python tools/kernel_digest.py --base REV      # also digest git revision REV

Prints ``<preset> <corpus> <rows> <sha256> oracle=match|DIFF`` per line and
exits 1 if any line reads ``DIFF``.  With ``--base REV`` the same digests
are computed on a ``git archive`` of ``REV`` in a subprocess, fed the same
corpora, and each line gains ``base=same|DIFF``.
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import pickle
import shutil
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BATCH_ROWS = 8192


def digest(fn, params, recs: list) -> tuple[str, bool]:
    """(sha256 of the kernel's output rows, whether every batch equals the
    oracle's reference batch)."""
    import pyarrow as pa

    from tests.conftest import dict_path_batch

    h = hashlib.sha256()
    same = True
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    for i in range(0, len(recs), BATCH_ROWS):
        chunk = recs[i:i + BATCH_ROWS]
        rb = pa.RecordBatch.from_pydict(
            {"url": [r["url"] for r in chunk], "html": [r["html"] for r in chunk]},
            schema=schema,
        )
        outs = list(fn(iter([rb])))
        for out in outs:
            for row in out.to_pylist():
                h.update(json.dumps(row, ensure_ascii=False).encode("utf-8"))
                h.update(b"\n")
        exp = dict_path_batch(rb, params)
        same = same and pa.Table.from_batches(outs, exp.schema).equals(
            pa.Table.from_batches([exp])
        )
    return h.hexdigest(), same


def digest_lines(corpora: dict) -> list:
    """``[preset, corpus, rows, sha256, oracle=...]`` for every preset x
    corpus, in print order."""
    from ocrd_tesserocr_spark.kernel import make_extract_arrow_fn
    from ocrd_tesserocr_spark.plans import PRESETS

    lines = []
    for preset, params in sorted(PRESETS.items()):
        fn = make_extract_arrow_fn(params)
        for name, recs in corpora.items():
            sha, same = digest(fn, params, recs)
            lines.append([preset, name, str(len(recs)), sha,
                          "oracle=" + ("match" if same else "DIFF")])
    return lines


def start_base(rev: str, corpora: dict, tmp: str) -> subprocess.Popen:
    """Start this tool on a ``git archive`` of ``rev`` under ``tmp``, fed
    ``corpora``; its stdout is one JSON list of :func:`digest_lines`."""
    tree = os.path.join(tmp, "tree")
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", rev],
        capture_output=True, check=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(tree)
    tool = os.path.join(tree, "tools", "kernel_digest.py")
    os.makedirs(os.path.dirname(tool), exist_ok=True)
    shutil.copyfile(os.path.abspath(__file__), tool)
    path = os.path.join(tmp, "corpora.pickle")
    with open(path, "wb") as f:
        pickle.dump(corpora, f)
    return subprocess.Popen(
        [sys.executable, tool, "--corpora", path],
        stdout=subprocess.PIPE, text=True,
    )


def main(argv: list) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dirs", nargs="*", help="sf directories (default sf0.001, sf0.01)")
    ap.add_argument("--base", metavar="REV", help="also digest git revision REV")
    # internal: digest pickled corpora and print the lines as JSON (the
    # --base subprocess)
    ap.add_argument("--corpora", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.corpora:
        with open(args.corpora, "rb") as f:
            print(json.dumps(digest_lines(pickle.load(f))))
        return 0

    from ocrd_tesserocr_spark.corpus import hostile_pages, pages_records, soup_pages

    if args.sf_dirs:
        sf_dirs = args.sf_dirs
    else:
        from tests.conftest import SF_ORACLE, SF_SMOKE

        sf_dirs = [SF_SMOKE, SF_ORACLE]
    corpora = {
        os.path.basename(d.rstrip("/")): sorted(pages_records(d), key=lambda r: r["url"])
        for d in sf_dirs
    }
    corpora["hostile"] = hostile_pages()
    corpora["soup"] = soup_pages()
    if not args.base:
        ok = True
        for line in digest_lines(corpora):
            ok = ok and line[-1] == "oracle=match"
            print(*line, flush=True)
        return 0 if ok else 1

    with tempfile.TemporaryDirectory() as tmp:
        proc = start_base(args.base, corpora, tmp)
        lines = digest_lines(corpora)
        out, _ = proc.communicate()
    if proc.returncode:
        print("base run of %s failed (exit %d)" % (args.base, proc.returncode))
        return 1
    base = {tuple(b[:2]): b[2:4] for b in json.loads(out)}
    ok = True
    for line in lines:
        same = base.get(tuple(line[:2])) == line[2:4]
        ok = ok and same and line[-1] == "oracle=match"
        print(*line, "base=" + ("same" if same else "DIFF"), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
