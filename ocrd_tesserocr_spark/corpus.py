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


def synth_pages_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas entry: distributed deterministic synthesis."""
    for pdf in it:
        yield pages_from_documents_pdf(pdf)


def make_synth_fn(repeat: int):
    """Bound-repeat variant for the bench corpus (realistic page sizes)."""

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
    return docs.mapInPandas(synth_pages_batches, schema=PAGES_SCHEMA)


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
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = out + ".tmp"
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        tmp,
        coerce_timestamps="us",  # Spark cannot read TIMESTAMP(NANOS)
        allow_truncated_timestamps=True,
    )
    os.replace(tmp, out)
    return out


def pages_records(sf_dir: str) -> list:
    """Pure-Python variant for oracle tests: same rows, no Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"])
    pdf = t.to_pandas()
    return pages_from_documents_pdf(pdf).to_dict("records")


def materialize_words(sf_dir: str) -> str:
    """Write the flat per-word TextStyle table the pure-Python oracle
    produces for ``sf_dir`` to a cache parquet and return the path.

    Columns (url, word_id, bold, italic, monospace): the DuckDB side of
    the ``font_style_words`` correctness gate — DuckDB aggregates this
    oracle-extracted table while Spark aggregates the kernel-extracted
    word structs, so the gate checks kernel-vs-oracle style parity AND
    the Spark aggregation.  Test/oracle infrastructure only.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .oracle import extract_document

    out = words_cache_path(sf_dir)
    if os.path.exists(out):
        return out
    urls: list = []
    wids: list = []
    bold: list = []
    ital: list = []
    mono: list = []
    for r in pages_records(sf_dir):
        doc = extract_document(r["html"])
        for b in doc["blocks"]:
            for ln in b["lines"]:
                for w in ln["words"]:
                    urls.append(r["url"])
                    wids.append(w["word_id"])
                    s = w["style"]
                    bold.append(s["bold"])
                    ital.append(s["italic"])
                    mono.append(s["monospace"])
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = out + ".tmp"
    pq.write_table(
        pa.table(
            {
                "url": pa.array(urls, type=pa.string()),
                "word_id": pa.array(wids, type=pa.string()),
                "bold": pa.array(bold, type=pa.bool_()),
                "italic": pa.array(ital, type=pa.bool_()),
                "monospace": pa.array(mono, type=pa.bool_()),
            }
        ),
        tmp,
    )
    os.replace(tmp, out)
    return out


def materialize_extracted(sf_dir: str) -> tuple[str, str]:
    """Write the pure-Python oracle's extraction results for ``sf_dir`` to
    two cache parquets and return (flagship_path, blocks_path).

    flagship: (url, text, conf, n_blocks, failed) — the driver-facing
    projection of extract_flagship.  blocks: the exploded block-span table
    matching extract_block_spans.  With these, the two extraction queries
    get REAL DuckDB oracles (DuckDB aggregates the oracle-extracted
    tables while Spark runs the live kernel) instead of rows-only checks —
    the same differential pattern as font_style/media_meta/font_style_words.
    Test/oracle infrastructure only.
    """
    import os
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .oracle import extract_document

    def round6(x: float) -> float:
        # Spark's F.round = BigDecimal.valueOf(double).setScale(6, HALF_UP);
        # valueOf goes through Double.toString — the SHORTEST round-trip
        # decimal — which Python's repr() also produces.  Decimal(x) would
        # instead expand the exact binary value (0.9978125 -> ...4999...)
        # and round DOWN where Spark rounds up.  Python's round() differs
        # twice over (banker's).  repr + HALF_UP matches Spark exactly.
        return float(
            Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    flag_out, blk_out = extracted_cache_paths(sf_dir)
    if os.path.exists(flag_out) and os.path.exists(blk_out):
        return flag_out, blk_out
    f_url, f_text, f_conf, f_nb, f_failed = [], [], [], [], []
    b_cols: dict = {
        "url": [], "block_id": [], "kind": [], "order_idx": [],
        "char_start": [], "char_end": [], "is_main": [], "link_density": [],
    }
    for r in pages_records(sf_dir):
        doc = extract_document(r["html"])
        f_url.append(r["url"])
        f_text.append(doc["text"])
        f_conf.append(round6(doc["conf"]))
        f_nb.append(len(doc["blocks"]))
        f_failed.append(doc["failed"])
        for b in doc["blocks"]:
            b_cols["url"].append(r["url"])
            b_cols["block_id"].append(b["block_id"])
            b_cols["kind"].append(b["kind"])
            b_cols["order_idx"].append(b["order_idx"])
            b_cols["char_start"].append(b["char_start"])
            b_cols["char_end"].append(b["char_end"])
            b_cols["is_main"].append(b["is_main"])
            b_cols["link_density"].append(round6(b["link_density"]))
    os.makedirs(os.path.dirname(flag_out), exist_ok=True)
    flag_tbl = pa.table(
        {
            "url": pa.array(f_url, type=pa.string()),
            "text": pa.array(f_text, type=pa.string()),
            "conf": pa.array(f_conf, type=pa.float64()),
            "n_blocks": pa.array(f_nb, type=pa.int32()),
            "failed": pa.array(f_failed, type=pa.bool_()),
        }
    )
    blk_tbl = pa.table(
        {
            "url": pa.array(b_cols["url"], type=pa.string()),
            "block_id": pa.array(b_cols["block_id"], type=pa.string()),
            "kind": pa.array(b_cols["kind"], type=pa.string()),
            "order_idx": pa.array(b_cols["order_idx"], type=pa.int32()),
            "char_start": pa.array(b_cols["char_start"], type=pa.int64()),
            "char_end": pa.array(b_cols["char_end"], type=pa.int64()),
            "is_main": pa.array(b_cols["is_main"], type=pa.bool_()),
            "link_density": pa.array(b_cols["link_density"], type=pa.float64()),
        }
    )
    for tbl, out in ((flag_tbl, flag_out), (blk_tbl, blk_out)):
        tmp = out + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, out)
    return flag_out, blk_out


def hostile_pages() -> list:
    """Hand-written edge-case pages as (url, html) records, in url order:
    shapes the synthetic templates lack, for kernel-vs-oracle parity."""
    styled = " ".join(
        ("<b>w%d</b>" if i % 4 == 0 else "<i>w%d</i>" if i % 4 == 2 else "w%d") % i
        for i in range(800)
    )
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
