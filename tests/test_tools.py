"""tools/logical_lines.py: what counts as a logical line, and the
``--base`` comparison against a git revision (no Spark)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from logical_lines import logical_lines, main

SOURCE = '''"""Module docstring,
two lines."""

# a comment
x = 1  # trailing comment


def f(a,
      b):
    """One-line docstring."""
    s = """a string that is
    not a docstring"""
    return s
'''


def test_logical_lines_skip_blank_comment_and_docstring_lines():
    # x = 1; def f(a,; b):; s = """..."""  (2 lines); return s
    assert logical_lines(SOURCE) == 6


def test_base_prints_counts_and_difference(tmp_path, capsys):
    git = ["git", "-C", str(tmp_path), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run(["git", "init", "-q", str(tmp_path)], check=True)
    (tmp_path / "a.py").write_text("x = 1\ny = 2\n")
    subprocess.run(git + ["add", "a.py"], check=True)
    subprocess.run(git + ["commit", "-qm", "base"], check=True)
    (tmp_path / "a.py").write_text("x = 1\n")
    (tmp_path / "b.py").write_text("z = 3\n")
    assert main(["--base", "HEAD", str(tmp_path)]) == 0
    assert capsys.readouterr().out.splitlines() == [
        "a.py 1 2 -1",
        "b.py 1 0 +1",
        "total 2 2 +0",
    ]
