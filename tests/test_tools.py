"""tools/logical_lines.py: what counts as a logical line, and the
``--base`` comparison against a git revision; the seeded soup corpus
``tools/kernel_digest.py`` digests (``corpus.soup_pages``);
tools/query_digest.py's plan masking; tools/kernel_ab.py's arguments and
round pairing (no Spark)."""

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
    from ocrd_tesserocr_spark.corpus import SOUP_DOCS, soup_pages

    pages = soup_pages()
    assert len(pages) == SOUP_DOCS >= 5000
    assert pages == soup_pages()
    assert [r["url"] for r in pages] == sorted(r["url"] for r in pages)
    htmls = [r["html"].decode("utf-8") for r in pages]
    for shape in ('dir="rtl"/>', "<p/>", "<b/>", "<a/>", "<nav/>", "data-join",
                  "data-line-order", "<!-- c -->", "<!-- open",
                  "<![CDATA[ d ]]>", "<![CDATA[ open", "&amp;", "&#1488;",
                  # the compiled prefix's exactness traps
                  "<\u017fcript", "</scr\u0130pt>", "</scr\u0131pt>",
                  "</\u017ftyle>", "bloc\u212aquote", "</\u2003", "&amp ",
                  "a & b", " dir=rtl", "data-join>", '"BTT"', "\x00",
                  "\ufffd", "\r\n", "<!DocType", "\u00e9", "\U0001f600"):
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


def test_kernel_ab_arguments():
    import pytest

    from kernel_ab import parse_args

    args = parse_args(["--base", "HEAD~1"])
    assert (args.base, args.pages, args.levels, args.rounds) == (
        "HEAD~1", None, ["block", "word"], 7)
    args = parse_args(["--base", "abc", "--pages", "d1", "d2", "--levels", "glyph",
                       "--rounds", "3"])
    assert (args.pages, args.levels, args.rounds) == (["d1", "d2"], ["glyph"], 3)
    for bad in ([], ["--base", "x", "--rounds", "1"], ["--base", "x", "--levels", "page"]):
        with pytest.raises(SystemExit):
            parse_args(bad)


def test_kernel_ab_pairs_rotated_rounds():
    """Even rounds run base, change, base and odd rounds change, base,
    change; each pair averages the side run twice."""
    from kernel_ab import paired

    calls = []
    times = {"base": iter([2.0, 2.2, 4.0, 2.2, 2.0]),
             "change": iter([1.0, 2.0, 2.0, 1.0])}

    def runner(side):
        def run():
            calls.append(side)
            return next(times[side])
        return run

    r = paired(runner("base"), runner("change"), 3)
    assert calls == ["base", "change", "base", "change", "base", "change",
                     "base", "change", "base"]
    # pairs: 2.1 / 1.0, 4.0 / 2.0 (change runs 2.0, 2.0), 2.1 / 1.0
    assert r["wins"] == 3 and r["rounds"] == 3
    assert abs(r["speedup"] - 2.1) < 1e-12
    # A/A: base 2.2 / 2.0, change 2.0 / 2.0, base 2.0 / 2.2
    assert abs(r["aa"] - 1.0) < 1e-12
    assert r["base_s"] == 2.2 and r["change_s"] == 1.5
