"""tools/logical_lines.py: what counts as a logical line, and the
``--base`` comparison against a git revision; tools/kernel_digest.py's
seeded soup corpus; tools/query_digest.py's plan masking (no Spark)."""

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


def test_soup_corpus_is_seeded_and_covers_the_rare_tokenizer_paths():
    from kernel_digest import SOUP_DOCS, soup_pages

    pages = soup_pages()
    assert len(pages) == SOUP_DOCS >= 5000
    assert pages == soup_pages()
    assert [r["url"] for r in pages] == sorted(r["url"] for r in pages)
    htmls = [r["html"].decode("utf-8") for r in pages]
    for shape in ('dir="rtl"/>', "<p/>", "<b/>", "<a/>", "<nav/>", "data-join",
                  "data-line-order", "<!-- c -->", "<!-- open",
                  "<![CDATA[ d ]]>", "<![CDATA[ open", "&amp;", "&#1488;"):
        assert any(shape in h for h in htmls), shape


def test_query_digest_masks_ids_that_change_between_builds():
    from query_digest import mask_plan

    def plan(e, p, v):
        return (
            f"Project [transform(__w#{e}, lambdafunction(element_at(__w#{e}, "
            f"(lambda x_{v}#{e + 1} + 1), None, true), lambda x_{v}#{e + 1}, "
            f"false)) AS __sh#{e + 2}L, s_a#{e + 3}, "
            f"count(if (NOT _common_expr_{v}#{e + 4}) null else 1)]\n"
            f"+- 'UnresolvedAttribute [doc_id], plan_id={p}"
        )

    first, second = plan(12, 3, 7), plan(4051, 98, 311)
    assert first != second
    assert mask_plan(first) == mask_plan(second)
    assert mask_plan(first) == (
        "Project [transform(__w#, lambdafunction(element_at(__w#, "
        "(lambda x_# + 1), None, true), lambda x_#, false)) AS __sh#, s_a#, "
        "count(if (NOT _common_expr_#) null else 1)]\n"
        "+- 'UnresolvedAttribute [doc_id], plan_id="
    )
    # a different plan keeps a different digest input
    assert mask_plan(first) != mask_plan(first.replace("+ 1", "+ 2"))
