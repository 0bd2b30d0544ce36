"""Deterministic synthetic pages corpus.

The reference tests against three real corpora — a clean book page, a dense
newspaper page, and a table-heavy report
(/root/reference/test/conftest.py:45-55).  We mirror that with nine HTML
templates (FIXTURES.md section 1), synthesized deterministically from the
driver's read-only ``documents`` parquet (doc_id, text, lang, source,
n_chars) into the BASELINE.json ``input_hint`` shape::

    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

The same pure function :func:`build_page` runs inside a Spark
``mapInPandas`` batch (distributed synthesis) and in plain Python (oracle
tests), so both sides see byte-identical payloads.  Hosts are Zipf-skewed —
one host carries ~30% of all pages — to exercise salted repartitioning.
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import Iterator

import pandas as pd

_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)

#: bump when the synthetic page generator changes: together with
#: oracle.ORACLE_VERSION it is baked into every oracle-cache filename, so
#: semantic changes invalidate stale snapshots automatically (the caches
#: would otherwise serve an old extractor's output to the DuckDB side of
#: the correctness gate until someone manually cleared .cache).
CORPUS_VERSION = 1


def _cache_file(name: str, sf_dir: str, oracle_dep: bool) -> str:
    """Versioned oracle-cache path: ``.cache/{name}_{sf}_c{CV}[o{OV}].parquet``.

    ``oracle_dep`` marks caches whose CONTENT is produced by
    oracle.extract_document (words/extracted): those also carry the
    extractor version token.
    """
    import os

    tok = "c%d" % CORPUS_VERSION
    if oracle_dep:
        from .oracle import ORACLE_VERSION

        tok += "o%d" % ORACLE_VERSION
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(repo_root, ".cache", f"{name}_{base}_{tok}.parquet")


def pages_cache_path(sf_dir: str) -> str:
    return _cache_file("pages", sf_dir, oracle_dep=False)


def words_cache_path(sf_dir: str) -> str:
    return _cache_file("words", sf_dir, oracle_dep=True)


def extracted_cache_paths(sf_dir: str) -> tuple:
    return (
        _cache_file("extracted", sf_dir, oracle_dep=True),
        _cache_file("blocks", sf_dir, oracle_dep=True),
    )

_ARABIC = ["كتاب", "نص", "صفحة", "كلمة", "سطر", "فقرة", "بحث", "مقال"]

TEMPLATES = [
    "article",
    "newspaper",
    "tabular",
    "sparse",
    "rtl",
    "joined",
    "boilerplate",
    "malformed",
    "empty",
]

_NAV = (
    '<nav><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a> <a href="/login">Login</a></nav>'
)
_FOOTER = (
    '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a> '
    "<p>copyright 2026 example</p></footer>"
)
_HEAD = (
    "<head><title>t</title><style>body{color:#000}</style>"
    "<script>var x=1;</script></head>"
)


def template_for(doc_id: int) -> str:
    return TEMPLATES[doc_id % len(TEMPLATES)]


def host_for(doc_id: int) -> str:
    """Zipf-ish skew: ~30% of docs on one big host (FIXTURES.md section 1)."""
    if doc_id % 10 < 3:
        return "big.example.com"
    return "host%d.example.org" % (doc_id % 7)


def url_for(doc_id: int, lang: str) -> str:
    return "https://%s/%s/%08d" % (host_for(doc_id), lang, doc_id)


def _chunk(words: list, rng: random.Random, lo: int = 8, hi: int = 20):
    i = 0
    while i < len(words):
        n = rng.randint(lo, hi)
        yield words[i : i + n]
        i += n


def _para(ws: list) -> str:
    return "<p>" + " ".join(ws) + "</p>"


def build_html(doc_id: int, text: str, lang: str, repeat: int = 1) -> bytes:
    """doc_id + source words -> deterministic HTML payload (utf-8 bytes,
    except the 'malformed' template which appends invalid bytes).

    ``repeat`` scales the body text to realistic page sizes (driver test
    documents average ~500 B; real Common-Crawl pages are tens of KB) —
    used by the bench corpus so throughput measures extraction, not
    per-row framework overhead.
    """
    rng = random.Random(doc_id)
    words = text.split()
    if not words:
        words = ["empty"]
    if repeat > 1:
        words = words * repeat
    tpl = template_for(doc_id)
    title = " ".join(words[:3])
    body: list[str] = []

    if tpl == "article":
        body.append(_NAV)
        body.append("<h1>%s</h1>" % title)
        for ws in _chunk(words[3:], rng):
            # inline style markers (fontshape analogue, fontshape.py:125-140)
            if len(ws) > 4 and rng.random() < 0.5:
                k = rng.randrange(1, len(ws) - 1)
                tag = rng.choice(["b", "i", "code"])
                ws = ws[:k] + ["<%s>%s</%s>" % (tag, ws[k], tag)] + ws[k + 1 :]
            body.append(_para(ws))
        body.append(_FOOTER)
    elif tpl == "newspaper":
        body.append("<h1>%s</h1>" % title)
        parts = list(_chunk(words[3:], rng, 2, 12))
        for j, ws in enumerate(parts):
            if j == 1:
                body.append("<hr>")
            if j == 2 and len(parts) > 3:
                body.append("<blockquote>%s</blockquote>" % " ".join(ws))
                continue
            if j == 3:
                body.append("<figcaption>%s</figcaption>" % " ".join(ws[:4]))
                continue
            body.append(_para(ws))  # some below min-size -> F1 filter
    elif tpl == "tabular":
        body.append("<h1>%s</h1>" % title)
        body.append("<table>")
        for row_ws in _chunk(words[3:], rng, 6, 12):
            half = max(1, len(row_ws) // 2)
            cell2 = " ".join(row_ws[half:]) or "x"
            body.append(
                "<tr><td>%s</td><td><p>%s</p></td></tr>"
                % (" ".join(row_ws[:half]), cell2)
            )
        body.append("</table>")
    elif tpl == "sparse":
        # bare body text with <br> line breaks (sparse_text analogue)
        segs = [" ".join(ws) for ws in _chunk(words, rng, 3, 8)]
        body.append("<br>".join(segs))
    elif tpl == "rtl":
        lang = "ar"
        for ws in _chunk(words, rng, 5, 10):
            mixed = [_ARABIC[(doc_id + i) % len(_ARABIC)] for i in range(3)] + ws[:4]
            body.append('<p dir="rtl">%s</p>' % " ".join(mixed))
    elif tpl == "joined":
        chunks = list(_chunk(words, rng))
        for j, ws in enumerate(chunks):
            if j % 2 == 1:
                body.append('<p data-join="1">%s</p>' % " ".join(ws))
            else:
                txt = " ".join(ws)
                if j + 1 < len(chunks):
                    txt += "continu-"  # hyphenated continuation
                body.append(_para([txt]))
    elif tpl == "boilerplate":
        body.append(_NAV)
        body.append(
            "<aside>" + " ".join('<a href="/%d">ad %d</a>' % (i, i) for i in range(8))
            + "</aside>"
        )
        body.append(_para(words))
        body.append(
            '<p><a href="/x">read</a> <a href="/y">more</a> '
            '<a href="/z">links</a> <a href="/w">here</a></p>'
        )
        body.append(_FOOTER)
    elif tpl == "malformed":
        body.append("<h1>%s</h1><p>%s" % (title, " ".join(words[:10])))
        html = "<html>%s<body>%s" % (_HEAD, "".join(body))
        return html.encode("utf-8") + b"\xff\xfe\x80\x81"
    elif tpl == "empty":
        body.append("   \n\t  ")

    html = "<html>%s<body>%s</body></html>" % (_HEAD, "".join(body))
    return html.encode("utf-8")


def build_page(doc_id: int, text: str, lang: str, repeat: int = 1) -> dict:
    tpl = template_for(doc_id)
    eff_lang = "ar" if tpl == "rtl" else lang
    return {
        "url": url_for(doc_id, eff_lang),
        "warc_ts": _EPOCH + _dt.timedelta(seconds=int(doc_id)),
        "html": build_html(doc_id, text, lang, repeat),
        "text": None,  # recomputed by the pipeline
        "lang": eff_lang,
    }


def pages_from_documents_pdf(pdf: pd.DataFrame, repeat: int = 1) -> pd.DataFrame:
    """pandas batch: documents(doc_id,text,lang,...) -> pages rows."""
    rows = [
        build_page(int(d), t if isinstance(t, str) else "", l or "en", repeat)
        for d, t, l in zip(pdf["doc_id"], pdf["text"], pdf["lang"])
    ]
    return pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang"]
    )


def make_synth_fn(repeat: int):
    """mapInPandas entry: distributed deterministic synthesis, each page's
    body text repeated ``repeat`` times (1 for the test corpus; more for
    the bench corpus's realistic page sizes)."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pages_from_documents_pdf(pdf, repeat)

    return fn


def pages_df(spark, sf_dir: str):
    """documents parquet -> pages DataFrame (Arrow-batched, no per-row
    Python at the Spark surface)."""
    from .schemas import PAGES_SCHEMA
    from .sources import read_documents

    docs = read_documents(spark, sf_dir).select("doc_id", "text", "lang")
    return docs.mapInPandas(make_synth_fn(1), schema=PAGES_SCHEMA)


def _write_cache(tbl, out: str, **kw) -> None:
    """Write one cache parquet through a temp file and a rename, so a
    reader never sees a partial file."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = out + ".tmp"
    pq.write_table(tbl, tmp, **kw)
    os.replace(tmp, out)


def materialize_pages(sf_dir: str) -> str:
    """Write the deterministic pages corpus for ``sf_dir`` to a cache
    parquet (pure pyarrow — no SparkSession needed, so the DuckDB oracle
    side can trigger it too) and return the path.

    Adds ``html_str`` (utf-8 decode with replacement) beside the raw
    binary payload: DuckDB cannot regexp over BLOB, so string-domain
    oracles (font_style) read this column while binary-domain oracles
    (media_meta) read ``hex(html)``.  Test/oracle infrastructure only —
    the scale-path operators take a live pages DataFrame.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = pages_cache_path(sf_dir)
    if os.path.exists(out):
        return out
    pdf = pages_from_documents_pdf(
        pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"]
        ).to_pandas()
    )
    pdf["html_str"] = [
        (bytes(b).decode("utf-8", errors="replace") if b is not None else None)
        for b in pdf["html"]
    ]
    _write_cache(
        pa.Table.from_pandas(pdf, preserve_index=False),
        out,
        coerce_timestamps="us",  # Spark cannot read TIMESTAMP(NANOS)
        allow_truncated_timestamps=True,
    )
    return out


def pages_records(sf_dir: str) -> list:
    """Pure-Python variant for oracle tests: same rows, no Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    pdf = t.to_pandas()
    return pages_from_documents_pdf(pdf).to_dict("records")


def _round6(x: float) -> float:
    # Spark's F.round = BigDecimal.valueOf(double).setScale(6, HALF_UP);
    # valueOf goes through Double.toString — the SHORTEST round-trip
    # decimal — which Python's repr() also produces.  Decimal(x) would
    # instead expand the exact binary value (0.9978125 -> ...4999...)
    # and round DOWN where Spark rounds up.  Python's round() differs
    # twice over (banker's).  repr + HALF_UP matches Spark exactly.
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def materialize_oracle(sf_dir: str) -> tuple[str, str, str]:
    """Run the pure-Python oracle once over ``sf_dir``'s pages and write
    its three cache parquets; return their (words, flagship, blocks) paths.

    words: (url, word_id, bold, italic, monospace), the DuckDB side of
    ``font_style_words``.  flagship: (url, text, conf, n_blocks, failed),
    the projection extract_flagship returns.  blocks: the
    exploded block-span table matching extract_block_spans.  DuckDB
    aggregates these oracle-extracted tables while Spark runs the live
    kernel, so each gate checks kernel-vs-oracle parity AND the Spark
    side's query.  Test/oracle infrastructure only.
    """
    import os

    import pyarrow as pa

    from .oracle import extract_document

    paths = (words_cache_path(sf_dir),) + extracted_cache_paths(sf_dir)
    if all(os.path.exists(p) for p in paths):
        return paths
    s, b, i32, i64, f64 = pa.string(), pa.bool_(), pa.int32(), pa.int64(), pa.float64()
    schemas = (
        pa.schema([("url", s), ("word_id", s), ("bold", b), ("italic", b),
                   ("monospace", b)]),
        pa.schema([("url", s), ("text", s), ("conf", f64), ("n_blocks", i32),
                   ("failed", b)]),
        pa.schema([("url", s), ("block_id", s), ("kind", s), ("order_idx", i32),
                   ("char_start", i64), ("char_end", i64), ("is_main", b),
                   ("link_density", f64)]),
    )
    words, flag, blocks = [], [], []
    for r in pages_records(sf_dir):
        url = r["url"]
        doc = extract_document(r["html"])
        flag.append((url, doc["text"], _round6(doc["conf"]), len(doc["blocks"]),
                     doc["failed"]))
        for bl in doc["blocks"]:
            blocks.append((url, bl["block_id"], bl["kind"], bl["order_idx"],
                           bl["char_start"], bl["char_end"], bl["is_main"],
                           _round6(bl["link_density"])))
            for ln in bl["lines"]:
                for w in ln["words"]:
                    st = w["style"]
                    words.append((url, w["word_id"], st["bold"], st["italic"],
                                  st["monospace"]))
    for rows, schema, out in zip((words, flag, blocks), schemas, paths):
        cols = list(zip(*rows)) or [()] * len(schema)
        _write_cache(pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        ), out)
    return paths


def hostile_pages() -> list:
    """Hand-written edge-case pages as (url, html) records, in url order:
    shapes the synthetic templates lack, for kernel-vs-oracle parity."""
    styled = " ".join(
        ("<b>w%d</b>" if i % 4 == 0 else "<i>w%d</i>" if i % 4 == 2 else "w%d") % i
        for i in range(800)
    )
    open_comments = "".join("<!-- c%d> word%d " % (i, i) for i in range(1500))
    pages = {
        "style_dense": "<p>" + styled + "</p>",
        "rtl": '<p dir="rtl">alpha <b>beta</b> gamma<br>delta epsilon zeta eta</p>'
        '<div dir="rtl"><p>inherited right to left text</p></div>',
        "btt": '<p data-line-order="btt">first line words here<br>'
        "second line words here<br><i>third</i> line</p>",
        "join": "<p>first main paragraph text here</p>"
        '<p data-join="1">joined continuation paragraph text</p>'
        "<h2>Head</h2><table><td>cell 0o1lI 5sS8B</td><td>cemnuv</td></table>",
        "many_blocks": "".join(
            "<p>paragraph number %d with enough text</p>" % i for i in range(1100)
        ),
        "long_line": "<p>" + " ".join("t%d" % i for i in range(10050)) + "</p>",
        "mixed": "<nav><a href='/'>home</a></nav><h1>Title العربية</h1>"
        "<p>emoji \U0001f600 and 中文 &amp; <code>x0x</code> text</p>"
        "<hr><img src=a.png><pre>  spaced\n\n  out  </pre><p><br></p>"
        "<p><a href=x>link link link link</a> tail</p><footer>foot</footer>",
        # comment and CDATA openers with no closer left in the document:
        # each drops up to the next '>' like bogus markup
        "open_comments": "<p>" + open_comments + "</p>",
        "open_cdata": "<p>" + open_comments.replace("<!--", "<![CDATA[") + "</p>",
        "closed_then_open_comments": "<p>kept <!-- hidden --> text "
        "<![CDATA[ hidden ]]> more</p><p>" + open_comments + "</p>",
    }
    recs = [
        {"url": "hostile://" + name, "html": html.encode("utf-8")}
        for name, html in pages.items()
    ]
    recs += [
        {"url": "hostile://undecodable", "html": b"<p>\xff\xfe broken bytes</p>"},
        {"url": "hostile://null", "html": None},
        {"url": "hostile://whitespace", "html": b"  \n\t \r\n  "},
        {"url": "hostile://empty", "html": b""},
    ]
    return sorted(recs, key=lambda r: r["url"])


#: hostile page families as html(n units), each linear to parse; the
#: complexity guard times n against 4n units
HOSTILE_FAMILIES = {
    "style_soup": lambda n: "<p>" + " ".join("<b>w%d</b>" % i for i in range(n)) + "</p>",
    "unclosed_b": lambda n: "<p>" + "".join("<b>w%d word " % i for i in range(n)),
    "open_comment": lambda n: "<p>" + "".join("<!-- c%d> w%d " % (i, i) for i in range(n)),
    "open_cdata": lambda n: "<p>" + "".join("<![CDATA[ c%d> w%d " % (i, i) for i in range(n)),
    "unclosed_p": lambda n: "".join("<p>w%d word " % i for i in range(n)),
    "stray_closers": lambda n: "<p>" + "".join("</b></i></p></div>w%d " % i for i in range(n)),
    "nested_divs": lambda n: "".join("<div>w%d " % i for i in range(n)) + "</div>" * n,
    "link_soup": lambda n: "<p>" + " ".join("<a href=x%d>w%d</a>" % (i, i) for i in range(n)) + "</p>",
    "open_script": lambda n: "".join("<p>w%d word</p>" % i for i in range(n // 2))
    + "<script>" + "".join("<p>s%d</p>" % i for i in range(n // 2)),
}

SOUP_DOCS = 5000
SOUP_SEED = 13

#: tag names of the soup: block, style, link, boilerplate, void, skip and
#: plain tags, and names that only match under re.I's case folding
#: (U+017F long s, U+0130/U+0131 dotted/dotless i, U+212A Kelvin sign)
_SOUP_TAGS = (
    "p", "div", "li", "h1", "h2", "td", "th", "pre", "blockquote", "dd",
    "b", "i", "code", "a", "nav", "header", "footer", "aside", "span", "br",
    "hr", "img", "script", "dt", "h3", "table", "tr", "em",
    "section", "figcaption", "caption",
    "SCRIPT", "Style", "title", "\u017fcript", "scr\u0130pt", "scr\u0131pt",
    "\u017ftyle", "bloc\u212aquote", "\u0130", "B", "P",
)
_SOUP_ATTRS = (
    ' dir="rtl"', " dir=ltr", ' data-join="1"', " data-line-order=btt",
    " data-line-order='bottom-to-top'", ' href="x"', " DIR='RTL'",
    " dir=rtl", " dir='LTR'", ' dir="&#114;tl"', " data-join",
    ' data-line-order="BTT"', " data-direction=x", ' dir = "rtl"', ' dir="rtl',
    " dir=\u00a0rtl", " x-dir=rtl", " data-line-order=Bottom-To-Top",
)
_SOUP_WORDS = (
    "alpha", "beta", "gamma", "delta", "0o1lI", "x", "אב",
    "&amp;", "&lt;b&gt;", "&#1488;", "&nbsp;", "a&b", " ", "\n", "  \t ",
    "&amp", "a & b", "&copy", "&#65", "&#x5d0;", "\x00", "\ufffd", "\r\n",
    "\u00e9t\u00e9", "中文", "\U0001f600", "a\u00a0b", "\u2003", "\x85", "\x1c",
)
_SOUP_MARKUP = (
    "<!-- c -->", "<!-- open", "<![CDATA[ d ]]>", "<![CDATA[ open",
    "<!DOCTYPE html>", "<?bogus?>", "</ p>", "<>", "<!DocType html>",
    "</\u2003p>", "</\u2003\u017fcript>", "<![cdata[ e ]]>", "< p>", "</>",
)


def _soup_token(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.45:
        tag = rng.choice(_SOUP_TAGS)
        if rng.random() < 0.5:
            attrs = "".join(
                rng.choice(_SOUP_ATTRS) for _ in range(rng.randint(0, 2))
            )
            return "<%s%s%s>" % (tag, attrs, "/" if rng.random() < 0.25 else "")
        return "</%s>" % tag
    if r < 0.9:
        return " ".join(rng.choice(_SOUP_WORDS) for _ in range(rng.randint(1, 4)))
    return rng.choice(_SOUP_MARKUP)


def soup_pages(n: int = SOUP_DOCS, seed: int = SOUP_SEED) -> list:
    """``n`` seeded tag-soup pages as (url, html) records, in url order:
    self-closed tags with and without ``dir=``, quoted and unquoted
    ``data-join``/``data-line-order``, open and closed comments/CDATA,
    entities with and without ``;``, case-folded tag names and closers,
    NUL, U+FFFD, CRLF and 2- to 4-byte UTF-8, to reach the tokenizer's
    rarer paths."""
    rng = random.Random(seed)
    return [
        {
            "url": "soup://%06d" % i,
            "html": "".join(
                _soup_token(rng) for _ in range(rng.randint(1, 40))
            ).encode("utf-8"),
        }
        for i in range(n)
    ]
