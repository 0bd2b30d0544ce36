"""Logical line counts of Python files: lines that carry code, so blank
lines, comment lines and docstring lines do not count.

    python tools/logical_lines.py PATH...               # per file + total
    python tools/logical_lines.py --base REV PATH...    # also REV's count

A directory PATH counts every ``*.py`` file under it.  With ``--base``
each file is also read as it was at git revision ``REV`` (``git show
REV:path``; a file missing on one side counts 0 there) and the line shows
``<path> <count> <base count> <difference>``.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import subprocess
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def logical_lines(source: str) -> int:
    """Lines spanned by code tokens, minus the lines of string-only
    expression statements (docstrings)."""
    docs = set()
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)):
            docs.update(range(node.lineno, node.end_lineno + 1))
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def _git(root: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", root, *args], capture_output=True, text=True)


def _files(paths: list, root: str, base: str | None) -> list:
    """Repo-relative ``*.py`` paths named by ``paths``, in either tree."""
    out = set()
    for p in paths:
        rel = os.path.relpath(os.path.abspath(p), root)
        if os.path.isdir(p):
            for d, _, names in os.walk(p):
                out.update(
                    os.path.relpath(os.path.join(os.path.abspath(d), n), root)
                    for n in names if n.endswith(".py")
                )
        elif os.path.exists(p) or base is None:
            out.add(rel)
        if base is not None:
            listed = _git(root, "ls-tree", "-r", "--name-only", base, "--", rel)
            out.update(f for f in listed.stdout.split() if f.endswith(".py"))
    return sorted(out)


def main(argv: list) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+", metavar="PATH")
    ap.add_argument("--base", metavar="REV", help="git revision to compare with")
    args = ap.parse_args(argv)
    first = os.path.abspath(args.paths[0])
    here = first if os.path.isdir(first) else os.path.dirname(first)
    root = _git(here, "rev-parse", "--show-toplevel").stdout.strip() or os.getcwd()
    total = total_base = 0
    for rel in _files(args.paths, root, args.base):
        path = os.path.join(root, rel)
        n = 0
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                n = logical_lines(f.read())
        total += n
        if args.base is None:
            print(rel, n)
            continue
        shown = _git(root, "show", f"{args.base}:{rel}")
        nb = logical_lines(shown.stdout) if shown.returncode == 0 else 0
        total_base += nb
        print(rel, n, nb, f"{n - nb:+d}")
    if args.base is None:
        print("total", total)
    else:
        print("total", total, total_base, f"{total - total_base:+d}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
