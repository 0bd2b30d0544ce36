"""Robustness: property-based oracle fuzzing (hypothesis) and the skew
flattening check (SURVEY.md section 7.3.5)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocrd_tesserocr_spark.oracle import extract_document

_tags = st.sampled_from(
    ["<p>", "</p>", "<div>", "<b>", "</b>", "<br>", "<table>", "<td>", "</td>",
     "<nav>", "</nav>", "<script>", "</script>", '<p dir="rtl">', "<hr>",
     '<p data-join="1">', "<h1>", "</h1>", "&amp;", "&lt;",
     "<i>", "</i>", "<code>", "</code>", "<b/>", "</code></b>",
     "<p/>", '<p dir="rtl"/>', "<a/>", "<nav/>", '<div dir="rtl"/>']
)
_chunks = st.lists(st.one_of(_tags, st.text(max_size=24)), max_size=30)


@settings(max_examples=150, deadline=None)
@given(_chunks)
def test_oracle_never_crashes_and_stays_consistent(chunks):
    """Any tag soup: no exception, and the structural invariants hold."""
    html = ("<html><body>" + "".join(chunks) + "</body></html>").encode("utf-8")
    out = extract_document(html)
    assert isinstance(out["failed"], bool)
    if out["failed"]:
        return
    text = out["text"]
    assert not text.endswith("\n") and not text.endswith("\f")
    prev = -1
    for b in out["blocks"]:
        assert b["order_idx"] == prev + 1
        prev = b["order_idx"]
        if not b["is_main"]:
            assert b["char_start"] == -1 and b["lines"] == []
            continue
        assert text[b["char_start"] : b["char_end"]] == b["text"]
        for ln in b["lines"]:
            assert text[ln["char_start"] : ln["char_end"]] == ln["text"]
            assert " ".join(w["text"] for w in ln["words"]) == ln["text"]
            for w in ln["words"]:
                # style bits are always a well-formed bool struct, even
                # under unbalanced/self-closed style-tag soup
                assert set(w["style"]) == {"bold", "italic", "monospace"}
                assert all(isinstance(v, bool) for v in w["style"].values())


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=200))
def test_oracle_arbitrary_bytes_never_raise(payload):
    out = extract_document(payload)
    assert isinstance(out["failed"], bool)


@settings(max_examples=100, deadline=None)
@given(_chunks)
def test_emission_levels_project_consistently(chunks):
    """Lazy emission (round 4: sub-level structure is never BUILT below
    the textequiv_level) must be a pure projection: for any tag soup, the
    block-level output equals the word-level output with lines dropped,
    and line-level equals word-level with words dropped — offsets,
    confidences, and doc text identical at every level."""
    from ocrd_tesserocr_spark.oracle import ExtractParams

    html = ("<html><body>" + "".join(chunks) + "</body></html>").encode("utf-8")
    word = extract_document(html, ExtractParams(textequiv_level="word"))
    line = extract_document(html, ExtractParams(textequiv_level="line"))
    block = extract_document(html, ExtractParams(textequiv_level="block"))
    for k in ("text", "conf", "failed", "features"):
        assert word[k] == line[k] == block[k]

    def drop_words(b):
        return dict(b, lines=[dict(ln, words=[]) for ln in b["lines"]])

    def drop_lines(b):
        return dict(b, lines=[])

    assert [drop_words(b) for b in word["blocks"]] == line["blocks"]
    assert [drop_lines(b) for b in word["blocks"]] == block["blocks"]


def test_salted_repartition_flattens_skewed_hosts(spark, pages_small):
    """~30% of urls share one host (corpus.py Zipf skew); hashing
    (url, salt) must still spread docs near-uniformly across partitions."""
    from pyspark.sql import functions as F

    from ocrd_tesserocr_spark.pipeline import salted_repartition

    n_parts = 8
    df = salted_repartition(pages_small, n_parts, salt=3)
    counts = (
        df.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in counts)
    assert len(counts) == n_parts
    for r in counts:
        # no partition holds anywhere near the 30% hot-host share
        assert r["count"] < 0.25 * total


_attrs = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["paragraph", "heading", "table", "noise"]),
        "n_chars": st.integers(0, 5000),
        "link_density": st.floats(0, 1, allow_nan=False),
        "text_density": st.floats(0, 500, allow_nan=False),
        "rtl": st.booleans(),
        "join": st.booleans(),
    }
)
_clause = st.sampled_from(
    ["kind=paragraph", "kind!=table", "n_chars>100", "n_chars<=42",
     "link_density>=0.5", "rtl=true", "join=false", "nosuch=1"]
)
_pred = st.lists(_clause, min_size=1, max_size=3).map(" and ".join)


@settings(max_examples=150, deadline=None)
@given(_pred, _attrs)
def test_predicate_dsl_total_on_valid_exprs(expr, attrs):
    """Every well-formed predicate evaluates to a bool on any attrs —
    never an exception (rules run per block in the hot kernel)."""
    from ocrd_tesserocr_spark.oracle import compile_predicate

    assert compile_predicate(expr)(attrs) in (True, False)


_num_attr = st.sampled_from(["n_chars", "link_density", "text_density"])
_bad_lit = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
).filter(lambda s: s not in ("inf", "infinity", "nan"))


@settings(max_examples=100, deadline=None)
@given(_num_attr, st.sampled_from([">", "<", ">=", "<=", "=", "!="]), _bad_lit)
def test_predicate_dsl_rejects_nonnumeric_rhs_at_compile(attr, op, lit):
    """A non-numeric literal against a numeric attr raises at COMPILE time
    (so driver-side _validate catches it before any executor task runs)."""
    import pytest

    from ocrd_tesserocr_spark.oracle import compile_predicate

    with pytest.raises(ValueError):
        compile_predicate(f"{attr}{op}{lit}")


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(
                ["min_paragraph_chars", "max_link_density", "oem", "dpi"]
            ),
            st.sampled_from(["1", "0.5", "64", "true"]),
        ),
        max_size=4,
    )
)
def test_extra_params_never_crash_extraction(pairs):
    """Arbitrary opaque engine-parameter maps (valid typed values or
    unknown names) must never break extraction."""
    from ocrd_tesserocr_spark.oracle import ExtractParams, extract_document

    # skip type-invalid combos the schema would reject upfront
    try:
        from ocrd_tesserocr_spark.oracle import resolve_params

        resolve_params(ExtractParams(extra=tuple(pairs)))
    except ValueError:
        return
    out = extract_document(
        b"<html><body><p>sturdy paragraph with enough text</p></body></html>",
        ExtractParams(extra=tuple(pairs)),
    )
    assert isinstance(out["failed"], bool)


@settings(max_examples=100, deadline=None)
@given(st.lists(_chunks, min_size=1, max_size=3))
def test_kernel_batch_equals_dict_path_at_every_level(docs):
    """The kernel's columnar walk and the oracle's dict walk cannot drift
    on tag-soup shapes the fixed corpora lack: at every level, the batch
    equals ``pa.array`` over ``extract_document`` dicts."""
    from ocrd_tesserocr_spark.kernel import make_extract_arrow_fn
    from ocrd_tesserocr_spark.oracle import ExtractParams
    from tests.conftest import dict_path_batch, pages_batch

    rb = pages_batch([
        {"url": "u%d" % i,
         "html": ("<html><body>" + "".join(c) + "</body></html>").encode("utf-8")}
        for i, c in enumerate(docs)
    ])
    for level in ("block", "line", "word", "glyph"):
        params = ExtractParams(textequiv_level=level)
        [got] = make_extract_arrow_fn(params)(iter([rb]))
        assert got.equals(dict_path_batch(rb, params)), level


def _assemble_per_char(raw):
    """Per-character reference for ``oracle._assemble_block``: a bits
    value per character, words from ``\\S+`` per line, each word's bits
    the OR over its characters."""
    import re

    kind, rtl, btt, join, parts, tag_count, _ = raw
    text = "".join(p for p, _, _ in parts)
    char_bits = [b for p, _, b in parts for _ in p]
    total = sum(ch not in " \n" for p, _, _ in parts for ch in p)
    linked = sum(ch not in " \n" for p, link, _ in parts if link for ch in p)
    styled = any(b for _, _, b in parts)
    lines = []
    offset = 0
    for seg in text.split("\n"):
        words, bits = [], []
        for m in re.finditer(r"\S+", seg):
            b = 0
            for k in range(offset + m.start(), offset + m.end()):
                b |= char_bits[k]
            words.append(m.group())
            bits.append(b)
        offset += len(seg) + 1
        if words:
            if rtl:
                words.reverse()
                bits.reverse()
            lines.append((words, bits if styled else None))
    if btt:
        lines.reverse()
    return (kind, rtl, join, lines, total,
            round(linked / total, 6) if linked else 0.0,
            round(total / (1.0 + tag_count), 6))


_part = st.tuples(
    st.text(alphabet="ab \n\xa0", min_size=1, max_size=8),
    st.booleans(),
    st.one_of(st.just(0), st.integers(1, 7)),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_part, max_size=12), st.booleans(), st.booleans(),
       st.booleans(), st.integers(0, 20))
def test_assemble_block_matches_per_char_reference(parts, rtl, btt, join, tags):
    """The shared block assembler (one sweep over words and styled parts)
    equals a per-character reference on tokenizer-shaped parts."""
    from ocrd_tesserocr_spark.oracle import _assemble_block

    raw = ["paragraph", rtl, btt, join, parts, tags, "p"]
    assert _assemble_block(raw) == _assemble_per_char(raw)


def test_block_walk_cost_grows_linearly(monkeypatch):
    """Complexity guard: ``kernel._walk`` at block level spends about the
    same CPU per KB on a page of n units as on one of 4n, for every
    hostile family and for both prefix paths, the compiled one and
    ``oracle._assembled_blocks`` (best of 3 process-CPU timings; linear
    reads ~1x, a quadratic shape ~4x)."""
    import time

    from ocrd_tesserocr_spark import kernel
    from ocrd_tesserocr_spark.corpus import HOSTILE_FAMILIES
    from ocrd_tesserocr_spark.oracle import (
        ExtractParams,
        _assembled_blocks,
        resolve_params,
    )

    params = resolve_params(ExtractParams(textequiv_level="block"))

    def us_per_kb(html: bytes) -> float:
        best = float("inf")
        for _ in range(3):
            t = time.process_time()
            kernel._walk([html], params)
            best = min(best, time.process_time() - t)
        return best * 1e6 / (len(html) / 1024)

    n = 2000
    growth = {}
    prefixes = {kernel.PREFIX_IMPL: kernel._prefix, "python": _assembled_blocks}
    for impl, prefix in prefixes.items():
        monkeypatch.setattr(kernel, "_prefix", prefix)
        for name, page in HOSTILE_FAMILIES.items():
            small = ("<html><body>%s</body></html>" % page(n)).encode()
            large = ("<html><body>%s</body></html>" % page(4 * n)).encode()
            assert len(small) >= 20_000, name
            growth[impl, name] = round(us_per_kb(large) / us_per_kb(small), 2)
    slow = {key: g for key, g in growth.items() if g > 2.5}
    assert not slow, "superlinear us/KB growth: %s (all: %s)" % (slow, growth)


@settings(max_examples=300, deadline=None)
@given(_chunks)
def test_compiled_prefix_equals_oracle_prefix_on_tag_soup(chunks):
    """The kernel's prefix (compiled where gcc is present) returns the
    same tuples as ``oracle._assembled_blocks`` for any tag soup, as
    UTF-8 bytes and as str."""
    from ocrd_tesserocr_spark.kernel import _prefix
    from ocrd_tesserocr_spark.oracle import _assembled_blocks

    html = "<html><body>" + "".join(chunks) + "</body></html>"
    assert _prefix(html) == _assembled_blocks(html)
    payload = html.encode("utf-8", "surrogatepass")
    try:
        want = _assembled_blocks(payload)
    except UnicodeDecodeError:
        with pytest.raises(UnicodeDecodeError):
            _prefix(payload)
    else:
        assert _prefix(payload) == want


_attr_text = st.text(alphabet=' \t\xa0\u2003="\'/&#;0-_:dirtlbDIRTLa-jonxe', max_size=40)


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from(
    [" dir", " DIR", " data-join", " data-line-order", "=", " = ", '"rtl"', "'ltr'",
     "rtl", "btt", "Bottom-To-Top", "&#114;tl", '"', "'", " x"]) | _attr_text))
def test_compiled_prefix_reads_tag_attributes_like_the_oracle(parts):
    """dir=, data-join and data-line-order, read the way
    ``dict(_ATTR_RE.findall(attrs))`` reads them, for any attribute text."""
    from ocrd_tesserocr_spark.kernel import _prefix
    from ocrd_tesserocr_spark.oracle import _assembled_blocks

    attrs = "".join(parts) if isinstance(parts, list) else parts
    html = "<p%s>a <b>b</b><br>c</p><div%s>d</div>e" % (attrs, attrs)
    assert _prefix(html) == _assembled_blocks(html)
