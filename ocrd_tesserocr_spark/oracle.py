"""Single-document reference extractor — the byte-identical truth.

This module is pure Python (stdlib only, no Spark).  It holds the parse,
assemble and scoring helpers (``_parse_blocks``, ``_assemble_block``,
``classify_is_main``, ``word_conf``, ...) and :func:`extract_document`, one
plain walk over a single document that defines the output.  The Arrow batch
kernel (kernel.py) imports the helpers, shares the decode -> parse ->
assemble prefix (``_assembled_blocks``) and runs its own columnar walk of
the same shape; the tests pin that walk to :func:`extract_document`
(SURVEY.md section 7.3.1).

Semantics transplanted from the reference:

  * hierarchy page -> block -> line -> word
      (/root/reference/ocrd_tesserocr/recognize.py:527-856)
  * block kinds = the 13-way region-type switch collapsed to web kinds
      (recognize.py:585-674): paragraph/heading/caption/floating/table/
      separator/image/noise
  * bottom-up concatenation: words ' ', lines '\\n', blocks '\\n' unless a
    join relation suppresses the separator
      (/root/reference/ocrd_tesserocr/common.py:68-180, join relations
       common.py:90-99,166-175)
  * RTL reading direction reverses word traversal
      (common.py:138-151)
  * trailing '\\n'/'\\f' stripped from every recognized text
      (recognize.py:636)
  * id formats block%04d / _line%04d / _word%04d
      (recognize.py:604,769,804)
  * degenerate filters: empty blocks dropped (recognize.py:598-601),
    too-small text blocks demoted (recognize.py:584-597)
  * confidences are arithmetic means of children at every level
      (common.py:127-128, recognize.py:637)
  * lazy recognition: non-main blocks stay segment-only (no lines/spans),
    the analogue of textequiv_level='none' (recognize.py:411,481-486)
  * script/style/comment stripping = the binarization "non-text mask"
      (/root/reference/ocrd_tesserocr/binarize.py:106-110)
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache
from html import unescape

#: bump on ANY change to extract_document semantics: the token is baked
#: into the oracle-cache parquet filenames (corpus.materialize_oracle
#: writes them), so a semantic change invalidates stale oracle snapshots
#: automatically instead of silently failing the gate until someone runs
#: `rm -rf .cache`.  (2 = auto_model exempts rule-selected models.)
ORACLE_VERSION = 2

# --------------------------------------------------------------------------
# parameters (analogue of the ocrd-tool.json parameter surface)
# --------------------------------------------------------------------------

#: valid ``textequiv_level`` values, shallowest first
LEVELS = ("block", "line", "word", "glyph")


@dataclass(frozen=True)
class ExtractParams:
    """Extraction parameters; defaults mirror ocrd-tool.json defaults."""

    #: minimum characters for a paragraph-kind block to count as main content
    #: (too-small region filter, recognize.py:584-597)
    min_paragraph_chars: int = 16
    #: maximum link density for a block to count as main content
    max_link_density: float = 0.45
    #: main-eligible kinds (TextRegion-typed, recognize.py:585-674)
    main_kinds: frozenset = frozenset(
        {"paragraph", "heading", "caption", "floating", "table"}
    )
    #: segment-only mode: skip recognition (textequiv_level='none',
    #: recognize.py:411) — blocks get no lines/spans and doc text is None
    segment_only: bool = False
    #: exit level of the hierarchy to EMIT (the reference's
    #: textequiv_level parameter, ocrd-tool.json:90-98): 'block' emits
    #: block spans only (the north rule's contract: text + spans per
    #: block), 'line' adds lines, 'word' the word hierarchy, 'glyph'
    #: descends to per-character glyphs with ranked TextEquiv choices
    #: (recognize.py:816-856).  The document text/conf/spans are identical
    #: at every level — this only gates how much nested structure crosses
    #: the Arrow boundary.
    textequiv_level: str = "word"
    #: stage-lineage tags recorded on every row (AlternativeImage @comments
    #: analogue, recognize.py:489-491)
    features: tuple = ("cleaned", "segmented", "recognized")
    #: default recognition model tag (the reference's ``model`` parameter,
    #: ocrd-tool.json:100-105); recorded per block, overridden by
    #: ``model_rules`` matches
    model: str = "default"
    #: opaque engine-parameter map — the ``tesseract_parameters`` analogue
    #: (ocrd-tool.json:154-158): ((name, value), ...) string pairs.
    #: Recognized names override the typed fields above (like SetVariable
    #: overrides Tesseract runtime variables); unknown names are carried
    #: through untouched for forward compatibility.
    extra: tuple = ()
    #: per-segment config rules — the ``xpath_parameters`` analogue
    #: (recognize.py:233-246, ocrd-tool.json:159-163):
    #: ((predicate, ((name, value), ...)), ...).  Predicates are boolean
    #: expressions over block attributes (kind, n_chars, link_density,
    #: text_density, rtl, join), e.g. "kind=paragraph and link_density>0.5";
    #: ALL matching rules apply, in order.
    block_rules: tuple = ()
    #: per-segment model selection — the ``xpath_model`` analogue
    #: (recognize.py:247-262, ocrd-tool.json:164-168):
    #: ((predicate, model), ...).  Matching models are '+'-joined
    #: (recognize.py:258-259); no match falls back to ``model``.
    model_rules: tuple = ()
    #: pluggable model resource — the custom ``.traineddata`` analogue
    #: (ocrd-tool.json:188+): a ((char, (alt, ...)), ...) confusion table
    #: replacing the built-in GLYPH_CONFUSIONS for glyph recognition.
    #: Ships to executors inside the kernel closure (broadcast semantics:
    #: serialized once per task set, resolved once per document).
    glyph_confusions: tuple = ()
    #: in-kernel auto model selection (recognize.py:266-277): when True
    #: and the effective model is a '+'-joined list, every candidate is
    #: scored on the block (MeanTextConf analogue) and the argmax wins —
    #: the winner is recorded in block.model and its confusion table
    #: drives glyph recognition for that block.
    auto_model: bool = False
    #: named model resources for auto_model scoring: ((model_name,
    #: ((char, (alt, ...)), ...)), ...) — each candidate model's
    #: confusion table (its .traineddata analogue).  A model without an
    #: entry falls back to glyph_confusions / the built-in table.
    model_resources: tuple = ()


DEFAULT_PARAMS = ExtractParams()

# ---------------------------------------------------------------------------
# predicate DSL + parameter resolution (xpath_parameters/xpath_model
# analogue, recognize.py:233-262)
# ---------------------------------------------------------------------------

#: typed fields the opaque ``extra`` map / block rules may override
#: (SetVariable analogue: string values coerced to the field's type)
_TYPED_FIELDS = {
    "min_paragraph_chars": int,
    "max_link_density": float,
    "textequiv_level": str,
    "segment_only": lambda v: v.lower() in ("1", "true", "yes"),
    "auto_model": lambda v: v.lower() in ("1", "true", "yes"),
    "model": str,
}

_PRED_CLAUSE_RE = re.compile(
    r"^\s*([a-z_]+)\s*(>=|<=|!=|=|>|<)\s*(\S+)\s*$"
)

#: fixed attribute schema the rule predicates evaluate against (the
#: block-classification inputs _block_effective reads from an assembled
#: block); typing the RHS literal at COMPILE time lets a mistyped rule like
#: 'n_chars>ten' fail at plan time in _validate instead of killing executor
#: tasks.
_PRED_ATTR_TYPES = {
    "kind": str,
    "n_chars": float,
    "link_density": float,
    "text_density": float,
    "rtl": bool,
    "join": bool,
}


@lru_cache(maxsize=1024)
def compile_predicate(expr: str):
    """'kind=paragraph and link_density>0.5' -> callable(attrs) -> bool.

    The web-DOM stand-in for the reference's XPath predicates over PAGE
    segments (recognize.py:238-240): attribute comparisons joined with
    'and'.  Unknown attributes never match (mirrors an XPath query that
    selects nothing).  RHS literals are coerced against the fixed attr
    schema HERE, so a type-mismatched rule raises at plan time.
    """
    clauses = []
    for part in expr.split(" and "):
        m = _PRED_CLAUSE_RE.match(part)
        if not m:
            raise ValueError(f"bad predicate clause: {part!r}")
        name, op, raw = m.group(1), m.group(2), m.group(3)
        typ = _PRED_ATTR_TYPES.get(name)
        if typ is bool:
            want = raw.lower() in ("1", "true", "yes")
        elif typ is float:
            try:
                want = float(raw)
            except ValueError:
                raise ValueError(
                    f"predicate clause {part!r}: {name} is numeric, "
                    f"got non-numeric literal {raw!r}"
                )
        else:
            want = raw  # str attr, or unknown attr (never matches anyway)
        clauses.append((name, op, want))

    def test(attrs: dict) -> bool:
        for name, op, want in clauses:
            if name not in attrs:
                return False
            actual = attrs[name]
            if op == "=":
                ok = actual == want
            elif op == "!=":
                ok = actual != want
            elif op == ">":
                ok = actual > want
            elif op == "<":
                ok = actual < want
            elif op == ">=":
                ok = actual >= want
            else:
                ok = actual <= want
            if not ok:
                return False
        return True

    return test


def _coerce_overrides(pairs) -> dict:
    out = {}
    for name, val in pairs:
        conv = _TYPED_FIELDS.get(name)
        if conv is not None:
            out[name] = conv(val)
    return out


def resolve_params(params: ExtractParams) -> ExtractParams:
    """Apply the opaque ``extra`` map onto the typed fields (the
    SetVariable pass the reference runs at init, recognize.py:361-365 via
    tesseract_parameters); unknown names stay in ``extra`` untouched."""
    if not params.extra:
        return params
    overrides = _coerce_overrides(params.extra)
    if not overrides:
        return params
    from dataclasses import replace

    return replace(params, **overrides)


def _block_effective(params: ExtractParams, block: tuple):
    """Per-block (effective_params, model, from_rule) after rule application.

    ``block`` is one ``_assemble_block`` tuple; without rules the preset
    applies unchanged.  All matching block_rules apply in order
    (recognize.py:238-246 applies every matching xpath_parameters entry);
    matching model_rules '+'-join (recognize.py:258-259), falling back to
    the default model.  ``from_rule`` records whether a model_rule matched:
    the reference RETURNS right after an xpath_model match
    (recognize.py:258-262 — the '+'-joined rule models are used jointly,
    verbatim), so auto_model scoring must only ever apply to the preset
    model.
    """
    if not params.block_rules and not params.model_rules:
        return params, params.model, False
    # rules see the block's classification inputs
    kind, rtl, join, _, n_chars, link_density, text_density = block
    attrs = {
        "kind": kind, "n_chars": n_chars, "link_density": link_density,
        "text_density": text_density, "rtl": rtl, "join": join,
    }
    eff = params
    overrides: dict = {}
    for expr, pairs in params.block_rules:
        if compile_predicate(expr)(attrs):
            overrides.update(_coerce_overrides(pairs))
    if overrides:
        from dataclasses import replace

        eff = replace(params, **overrides)
    models = [m for expr, m in params.model_rules if compile_predicate(expr)(attrs)]
    if models:
        return eff, "+".join(models), True
    return eff, eff.model, False

# tag -> block kind (region-type switch, recognize.py:585-674)
_BLOCK_KIND = {
    "p": "paragraph",
    "li": "paragraph",
    "pre": "paragraph",
    "dd": "paragraph",
    "dt": "paragraph",
    "h1": "heading",
    "h2": "heading",
    "h3": "heading",
    "h4": "heading",
    "h5": "heading",
    "h6": "heading",
    "figcaption": "caption",
    "caption": "caption",
    "blockquote": "floating",
    "td": "table",
    "th": "table",
}
# void block tags that carry no text
_VOID_KIND = {"hr": "separator", "img": "image"}
# inline style tags -> TextStyle bits (fontshape.py:125-140 analogue)
_STYLE_BITS = {"b": 1, "i": 2, "code": 4}
# content inside these is masked out entirely (binarize.py:106-110 analogue)
_SKIP_CONTENT = {"script", "style", "template", "noscript", "title"}
# boilerplate containers: descendants are noise (NoiseRegion analogue)
_BOILERPLATE = {"nav", "header", "footer", "aside"}

# one dict lookup per tag instead of a chain of set-membership tests in
# the parser's hottest hooks (the tag sets above are disjoint; 0 = any
# other tag, the most common case in real markup).  The categories whose
# start tag ends an implicit paragraph (boilerplate, void, block) are
# numbered last, so the parser tests them with one ``cat >= _CAT_BOILER``.
_CAT_SKIP, _CAT_BR, _CAT_A, _CAT_STYLE, _CAT_BOILER, _CAT_VOID, _CAT_BLOCK = (
    1, 2, 3, 4, 5, 6, 7,
)
_TAG_CAT = {t: _CAT_SKIP for t in _SKIP_CONTENT}
_TAG_CAT.update({t: _CAT_BOILER for t in _BOILERPLATE})
_TAG_CAT.update({t: _CAT_VOID for t in _VOID_KIND})
_TAG_CAT["br"] = _CAT_BR
_TAG_CAT["a"] = _CAT_A
_TAG_CAT.update({t: _CAT_STYLE for t in _STYLE_BITS})
_TAG_CAT.update({t: _CAT_BLOCK for t in _BLOCK_KIND})

_WS_RE = re.compile(r"[ \t\r\n\f\v]+")
#: does a text run need _WS_RE normalization at all?  any non-space
#: whitespace char, or a run of 2+ spaces (a single space maps to itself)
_WS_DIRTY_RE = re.compile(r"[\t\r\n\f\v]|  ")
_WORD_RE = re.compile(r"\S+")
_ALNUM_RE = re.compile(r"[0-9A-Za-z\u00c0-\u024f\u0590-\u06ff\u4e00-\u9fff]")

# ---------------------------------------------------------------------------
# glyph level: ranked character alternatives
# (the ChoiceIterator analogue; constants transplant recognize.py:56-57)
# ---------------------------------------------------------------------------

#: maximum number of choices to annotate (recognize.py:56)
CHOICE_THRESHOLD_NUM = 10
#: maximum score drop from the best choice (recognize.py:57; like the
#: reference's /100 scale, the drop rule is a maximum that rarely binds \u2014
#: the rank cutoff is the practical limit)
CHOICE_THRESHOLD_CONF = 1.0

#: deterministic OCR-style confusion table: char -> ranked alternatives
#: (plays the role of Tesseract's per-symbol ChoiceIterator; shared with
#: the relational glyph_topk query so both engines agree byte-for-byte)
GLYPH_CONFUSIONS = {
    "0": ("o", "O"),
    "o": ("0",),
    "O": ("0",),
    "1": ("l", "I"),
    "l": ("1", "I"),
    "I": ("1", "l"),
    "5": ("s", "S"),
    "s": ("5",),
    "S": ("5",),
    "8": ("B",),
    "B": ("8",),
    "e": ("c",),
    "c": ("e",),
    "m": ("n",),
    "n": ("m",),
    "u": ("v",),
    "v": ("u",),
}


def glyph_conf(ch: str) -> float:
    """Deterministic per-glyph confidence: 1.0 for alphanumeric glyphs,
    0.5 otherwise (the per-char basis of word_conf)."""
    return 1.0 if _ALNUM_RE.match(ch) else 0.5


def glyph_choices(ch: str, table: dict | None = None) -> list:
    """Ranked TextEquiv choices for one glyph.

    Index 0 is the recognized glyph itself; alternatives follow in
    confusion-table order with a deterministic 0.02/rank score decay,
    cut off by the reference's dual rule (recognize.py:849-851): stop at
    rank > CHOICE_THRESHOLD_NUM or when the score drop from the best
    choice exceeds CHOICE_THRESHOLD_CONF.  Alternatives equal to the best
    text are skipped (recognize.py:845-846).  ``table`` swaps in a custom
    model resource (ExtractParams.glyph_confusions).
    """
    if table is None:
        table = GLYPH_CONFUSIONS
    best = glyph_conf(ch)
    out = [{"text": ch, "conf": best}]
    for rank, alt in enumerate(table.get(ch, ()), 1):
        if alt == ch:
            continue
        conf = round(best - 0.02 * rank, 4)
        if best - conf > CHOICE_THRESHOLD_CONF or rank > CHOICE_THRESHOLD_NUM:
            break
        out.append({"text": alt, "conf": conf})
    return out


@lru_cache(maxsize=65536)
def _model_table(params: "ExtractParams", model: str) -> dict:
    """Resolve one candidate model's confusion table (its .traineddata
    analogue): named entry in ``model_resources``, else the document-level
    custom table, else the built-in."""
    for name, table in params.model_resources:
        if name == model:
            return dict(table)
    return dict(params.glyph_confusions) if params.glyph_confusions else GLYPH_CONFUSIONS


def model_block_score(line_words: list, table: dict) -> float:
    """MeanTextConf analogue (recognize.py:270-273) for one candidate
    model over one block: mean per-glyph confidence, where a glyph listed
    in the model's confusion table is ambiguous under that model and
    scores 0.25 below its base conf.  A model whose confusions overlap
    the block's glyphs less scores higher — the argmax is the model that
    'reads' the block most confidently."""
    total = 0.0
    n = 0
    for words, _ in line_words:
        for w in words:
            for ch in w:
                c = glyph_conf(ch)
                if ch in table:
                    c -= 0.25
                total += c
                n += 1
    return total / n if n else 0.0


@lru_cache(maxsize=65536)
def word_conf(word: str) -> float:
    """Deterministic per-word confidence in [0.5, 1.0].

    Plays the role of Tesseract's per-choice Confidence()/100
    (/root/reference/ocrd_tesserocr/recognize.py:638); defined as
    1 - 0.5 * (non-alphanumeric fraction), rounded to 4 decimals.
    Cached: real corpora repeat tokens heavily (Zipf), so the amortized
    cost is a dict hit (bounded LRU — unbounded would leak in a
    long-lived executor worker over web-scale vocabulary).
    """
    if not word:
        return 0.5
    alnum = len(_ALNUM_RE.findall(word))
    return round(1.0 - 0.5 * ((len(word) - alnum) / len(word)), 4)


#: raw block record layout (plain list — LOAD_FAST + BINARY_SUBSCR beat
#: slots-attribute traffic across the parser's ~40 constructions and
#: ~hundreds of accesses per document):
#:   [kind, rtl, btt, join, parts, tag_count, tag]
#: ``parts`` holds (text, in_link, style_bits); ``btt`` is the
#: bottom-to-top line order flag (common.py:131-134); ``tag`` is the tag
#: that opened the block, None for an implicit paragraph.

# single-pass token scanner, lenient like a browser tokenizer.
# Alternation order: most common first (start tag, end tag) so the engine
# tries at most one extra branch per real tag — safe because every branch
# except the bogus catch-all is mutually exclusive on the 2nd/3rd char
# ('<a', '</', '<!--', '<![', '<!D'), and bogus stays last.  Comments and
# CDATA match their opener only and the parser finds the closer: a lazy
# `<!--.*?-->` rescans to the end at every opener once no closer is left.
# The shared `<!` stays outside the opener group (`(<!--|<!\[CDATA\[)`
# doubled the token scan).
_TOKEN_RE = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9:_-]*)([^>]*)>"  # start tag (attrs incl. selfclose /)
    r"|</\s*([a-zA-Z][a-zA-Z0-9:_-]*)[^>]*>"  # end tag
    r"|<!(--|\[CDATA\[)"  # comment / cdata opener
    r"|<!DOCTYPE[^>]*>"  # doctype
    r"|<[^>]*>?",  # bogus markup -> dropped
    re.I,
)
#: opener (group 4 of _TOKEN_RE, lowered) -> its closer
_CLOSER = {"--": "-->", "[cdata[": "]]>"}
#: case-insensitive end-tag finders for raw-content skips: searching with
#: one of these from the current position replaces lowering the WHOLE
#: document (html.lower() allocated + scanned a full copy per document
#: just to skip a <title>)
_SKIP_END = {t: re.compile(r"</" + t, re.I) for t in _SKIP_CONTENT}
_ATTR_RE = re.compile(
    r"([a-zA-Z][a-zA-Z0-9_:-]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)


def _unquote_attr(v: str) -> str:
    if len(v) >= 2 and v[0] in "\"'" and v[-1] == v[0]:
        v = v[1:-1]
    return unescape(v) if "&" in v else v


#: shared immutable separator parts: whitespace-run and <br> separators
#: are appended tens of times per document — one tuple each, never rebuilt
_SEP_PART = (" ", False, 0)
_BR_PART = ("\n", False, 0)


def _parse_blocks(html: str) -> list:
    """Streaming DOM tokenizer -> flat list of raw block records in
    document order (the analogue of Tesseract's single-pass layout
    analysis: one walk over the token stream yields every block with its
    classification inputs, recognize.py:486-492).

    One function with all state in locals: the event handlers are inlined
    so the event loop runs on local-variable access instead of per-event
    method calls and attribute traffic.  One stack per kind of scope: open
    block records (each carries its tag), ``(tag, rtl)`` dir= scopes, and
    depth counters for links, boilerplate and styles.
    """
    blocks: list = []
    stack: list = []  # open block records; an implicit paragraph has tag None
    dirs: list = []  # (tag, rtl) of the open dir= scopes
    link_depth = 0
    boiler_depth = 0
    # open b/i/code depths -> current style bits for text parts
    style_depth = {"b": 0, "i": 0, "code": 0}
    style_bits = 0
    last_closer: dict = {}  # closer -> its last offset (one rfind each)

    pos = 0
    n = len(html)
    search = _TOKEN_RE.search
    tag_cat = _TAG_CAT
    unesc = unescape
    ws_dirty = _WS_DIRTY_RE.search
    ws_sub = _WS_RE.sub
    while pos < n:
        m = search(html, pos)
        if m is None:
            start = pend = n
        else:
            # one span() call instead of separate start()/end() lookups
            start, pend = m.span()
        if start > pos:
            # -- text run ------------------------------------------------
            chunk = html[pos:start]
            if "&" in chunk:
                chunk = unesc(chunk)
            if not chunk or chunk.isspace():
                # keep a single separator between inline siblings, but
                # never open an implicit block on pure whitespace
                if stack:
                    parts = stack[-1][4]
                    if parts:
                        parts.append(_SEP_PART)
            else:
                if stack:
                    top = stack[-1]
                else:
                    # bare text outside any block opens an implicit
                    # paragraph (sparse_text analogue, recognize.py:736-750)
                    top = [
                        "noise" if boiler_depth else "paragraph",
                        dirs[-1][1] if dirs else False,
                        False,
                        False,
                        [],
                        0,
                        None,
                    ]
                    blocks.append(top)
                    stack.append(top)
                # normalize whitespace runs only when one exists (single C
                # scan beats an unconditional re.sub: most parts are clean)
                if ws_dirty(chunk) is not None:
                    chunk = ws_sub(" ", chunk)
                top[4].append((chunk, link_depth > 0, style_bits))
        if m is None:
            break
        pos = pend
        # lastindex names the branch without fetching every group: start
        # tags stop at group 2 (attrs always matches, possibly empty),
        # end tags at group 3, comment/doctype/bogus at None
        li = m.lastindex
        if li == 2:
            # -- start tag -----------------------------------------------
            tag_raw, attrs_raw = m.group(1, 2)
            tag = tag_raw.lower()
            cat = tag_cat.get(tag, 0)
            if cat == _CAT_SKIP:
                # fast-forward past the raw content (script/style/...)
                mm = _SKIP_END[tag].search(html, pos)
                if mm is None:
                    break
                k = html.find(">", mm.start())
                pos = n if k < 0 else k + 1
                continue
            selfclose = attrs_raw.endswith("/")
            if selfclose:
                attrs_raw = attrs_raw[:-1]
            # attrs are only parsed when dir/data-* appear in the raw tag
            # (the overwhelmingly common tag has none)
            a = None
            if attrs_raw and (
                "dir" in attrs_raw
                or "data-join" in attrs_raw
                or "data-line-order" in attrs_raw
            ):
                a = dict(
                    (x.lower(), _unquote_attr(v))
                    for x, v in _ATTR_RE.findall(attrs_raw)
                )
                d = a.get("dir", "").lower()
                if d in ("rtl", "ltr"):
                    dirs.append((tag, d == "rtl"))
            if cat == 0:  # any other tag: counts toward text_density only
                if stack:
                    stack[-1][5] += 1
                continue
            if cat >= _CAT_BOILER and stack and stack[-1][6] is None:
                # a block, boilerplate or void start ends an implicit
                # paragraph
                stack.pop()
            if cat == _CAT_BLOCK:
                # this tag's own dir= is already on dirs
                blk = [
                    "noise" if boiler_depth else _BLOCK_KIND[tag],
                    dirs[-1][1] if dirs else False,
                    # textLineOrder bottom-to-top analogue (common.py:131-134)
                    a is not None
                    and a.get("data-line-order", "").lower()
                    in ("btt", "bottom-to-top"),
                    a is not None and "data-join" in a,
                    [],
                    0,
                    tag,
                ]
                blocks.append(blk)
                stack.append(blk)
                if not selfclose:
                    continue
                # <p/>: open + immediate close by the end-tag code below
            elif cat == _CAT_STYLE:
                style_depth[tag] += 1
                style_bits |= _STYLE_BITS[tag]
                if stack:
                    stack[-1][5] += 1
                if not selfclose:
                    continue
                # <b/>: closed by the end-tag code below
            else:
                # start-only, also when self-closed: <a/> keeps its link
                # scope open, <nav/> its boilerplate
                if cat == _CAT_A:
                    link_depth += 1
                    if stack:
                        stack[-1][5] += 1
                elif cat == _CAT_BR:
                    if stack:
                        stack[-1][4].append(_BR_PART)
                elif cat == _CAT_BOILER:
                    boiler_depth += 1
                else:  # _CAT_VOID
                    blocks.append(
                        [
                            "noise" if boiler_depth else _VOID_KIND[tag],
                            False,
                            False,
                            False,
                            [],
                            0,
                            tag,
                        ]
                    )
                continue
        elif li == 3:
            # -- end tag -------------------------------------------------
            tag = m.group(3).lower()
            cat = tag_cat.get(tag, 0)
            if cat == _CAT_SKIP:
                continue  # no skip frame can be open: starts fast-forward
        else:
            if li == 4:
                # -- comment / cdata: skip past the first closer; with
                # none left, drop up to the next '>' like bogus markup --
                closer = _CLOSER[m.group(4).lower()]
                last = last_closer.get(closer)
                if last is None:
                    last = last_closer[closer] = html.rfind(closer)
                if last >= pos:
                    pos = html.find(closer, pos) + len(closer)
                else:
                    k = html.find(">", pos)
                    pos = n if k < 0 else k + 1
            # doctype / bogus markup: dropped
            continue
        # -- close a scope: an end tag, or a self-closed block/style tag --
        # the dir pop must precede the boilerplate/<a> branches: a dir
        # attribute on <nav>/<header>/<footer>/<aside>/<a> is pushed on
        # open and would otherwise leak RTL past its close
        if dirs and dirs[-1][0] == tag:
            dirs.pop()
        if cat == _CAT_BLOCK:
            # close innermost matching open block (lenient parser)
            if stack and stack[-1][6] is None:
                stack.pop()
            if stack and stack[-1][6] == tag:
                stack.pop()
        elif cat == _CAT_STYLE:
            if style_depth[tag] > 0:
                style_depth[tag] -= 1
                if style_depth[tag] == 0:
                    style_bits &= ~_STYLE_BITS[tag]
        elif cat == _CAT_A:
            if link_depth:
                link_depth -= 1
        elif cat == _CAT_BOILER:
            if boiler_depth:
                boiler_depth -= 1
    return blocks


# --------------------------------------------------------------------------
# assembly: raw blocks -> span hierarchy + canonical text
# --------------------------------------------------------------------------


def _assemble_block(raw: list) -> tuple:
    """One raw block -> lines/words with local canonical text.

    Lines split on <br>-induced '\\n' (textLineOrder analogue,
    recognize.py:735-780); words are whitespace tokens
    (recognize.py:782-814); RTL blocks reverse word order per line
    (common.py:138-151).  A word's style bits are the OR of the bits of
    every styled part it overlaps, so a word assembled across a style
    boundary (e.g. foo<b>bar</b>) still carries the style, mirroring
    WordFontAttributes being per-word.  Each line is (words, bits), with
    bits None when the block has no styled part.
    """
    kind, rtl, btt, join, parts, tag_count, _ = raw
    if not parts:
        return (kind, rtl, join, [], 0, 0.0, 0.0)
    text = "".join([p for p, _, _ in parts])
    # chars other than ' '/'\n', the only ASCII whitespace left after the
    # tokenizer's _WS_RE normalization (U+00A0 counts as a char)
    total_chars = len(text) - text.count(" ") - text.count("\n")
    link_chars = 0
    styled = []  # (start, end, bits) of the styled parts, in offset order
    pos = 0
    for part, in_link, sbits in parts:
        if in_link:
            link_chars += len(part) - part.count(" ") - part.count("\n")
        if sbits:
            styled.append((pos, pos + len(part), sbits))
        pos += len(part)
    if styled:
        # sentinel: both forward scans below stop on it
        styled.append((pos + 1, pos + 1, 0))
        i = 0  # first styled part ending after the current word's start
    lines = []
    offset = 0
    for seg in text.split("\n"):
        if not styled:
            words = seg.split()
            bits = None
        else:
            words = []
            bits = []
            # words and styled parts are both in offset order: one
            # forward pointer, linear in words + parts
            for m in _WORD_RE.finditer(seg):
                s, e = m.span()
                s += offset
                e += offset
                while styled[i][1] <= s:
                    i += 1
                sbits = 0
                j = i
                while styled[j][0] < e:
                    sbits |= styled[j][2]
                    j += 1
                words.append(m.group())
                bits.append(sbits)
            offset += len(seg) + 1
        if words:
            if rtl:
                words.reverse()
                if bits:
                    bits.reverse()
            lines.append((words, bits))
    if btt:
        # bottom-to-top textLineOrder reverses line traversal
        # (common.py:131-134)
        lines.reverse()
    link_density = round(link_chars / total_chars, 6) if link_chars else 0.0
    text_density = round(total_chars / (1.0 + tag_count), 6)
    return (kind, rtl, join, lines, total_chars, link_density, text_density)


def _assembled_blocks(html) -> list:
    """html payload -> its ``_assemble_block`` tuples, the prefix shared by
    both walks (this module's :func:`extract_document` and the batch
    kernel's).  Bytes-like payloads decode as strict UTF-8; a ``None`` or
    undecodable payload raises, and the caller turns that into a failure
    row.  Blocks with no line are dropped unless they are structural
    markers (binary-empty filter, recognize.py:598-601)."""
    if html is None:
        raise ValueError("null payload")
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="strict")
    out = []
    for raw in _parse_blocks(html):
        a = _assemble_block(raw)
        if a[3] or a[0] in ("separator", "image"):
            out.append(a)
    return out


def _block_canonical_text(line_words: list) -> str:
    # str.join over a LIST beats a generator here (join pre-sizes;
    # measured 1.4x on the bench corpus's block-shape distribution);
    # single-line blocks (the majority) skip the outer join entirely
    if len(line_words) == 1:
        return " ".join(line_words[0][0])
    return "\n".join([" ".join(ws) for ws, _ in line_words])


def classify_is_main(kind: str, n_chars: int, link_density: float,
                     params: ExtractParams) -> bool:
    """Main-content gate (the web analogue of text-region acceptance,
    recognize.py:584-601 + the north rule's boilerplate classification)."""
    if kind not in params.main_kinds:
        return False
    if link_density > params.max_link_density:
        return False
    if kind == "paragraph" and n_chars < params.min_paragraph_chars:
        return False
    return n_chars > 0


def extract_document(html: bytes | str | None,
                     params: ExtractParams = DEFAULT_PARAMS) -> dict:
    """html payload -> extracted record (dict matching EXTRACTED_SCHEMA
    minus url/partition bookkeeping).

    Failure rows (undecodable/unparseable payloads) return
    ``{"failed": True, ...}`` instead of raising — failures are counted in
    lineage, they never abort the job (north rule).
    """
    params = resolve_params(params)  # opaque extra map -> typed fields
    # custom model resource (the .traineddata analogue): resolved once per
    # document, default table otherwise
    glyph_table = dict(params.glyph_confusions) if params.glyph_confusions else None
    try:
        assembled = _assembled_blocks(html)
    except Exception:
        return {
            "text": None,
            "conf": 0.0,
            "blocks": [],
            "features": ["failed"],
            "failed": True,
        }

    blocks = []
    doc_parts: list[str] = []
    pos = 0  # running char offset into canonical doc text
    prev_main = False
    main_confs: list[float] = []

    for idx, block in enumerate(assembled):
        kind, _, join, line_words, n_chars, link_density, text_density = block
        block_id = "block%04d" % idx
        # per-segment dynamic config (xpath_parameters/xpath_model analogue)
        eff, model, model_from_rule = _block_effective(params, block)
        # in-kernel auto_model (recognize.py:266-277): '+'-joined candidates
        # are each scored on THIS block; the argmax (first on ties, like
        # np.argmax) becomes the block's model and its confusion table
        # drives glyph recognition below.  A model selected by a matched
        # model_rule is exempt: the reference returns after an xpath_model
        # match (recognize.py:258-262), using the joined tag verbatim —
        # auto_model only ever scores the preset model.
        block_glyph_table = glyph_table
        if eff.auto_model and not model_from_rule and "+" in model:
            cands = model.split("+")
            scores = [
                model_block_score(line_words, _model_table(params, m))
                for m in cands
            ]
            model = cands[max(range(len(cands)), key=lambda i: (scores[i], -i))]
            block_glyph_table = _model_table(params, model)
        is_main = classify_is_main(kind, n_chars, link_density, eff)
        # segment-only and non-main blocks (lazy recognition) get no spans
        # and no lines; segment-only blocks carry no text either
        btext = "" if eff.segment_only else _block_canonical_text(line_words)
        b_start = b_end = -1
        bconf = 0.0
        lines_out = []
        if is_main and not eff.segment_only:
            # separator between main blocks: '\n' unless join relation
            # (common.py:166-175)
            if prev_main and not join:
                doc_parts.append("\n")
                pos += 1
            b_start = pos
            # emission gate (textequiv_level): structure below the exit
            # level is never built (the analogue of running lower RIL
            # levels only when asked, recognize.py:806-856); per-block
            # rules may deepen/shallow the level for matching blocks.
            # Offsets and confidences are identical at every level.
            level = eff.textequiv_level
            emit_lines = level in ("line", "word", "glyph")
            emit_words = level in ("word", "glyph")
            line_confs = []
            for li, (words, wbits) in enumerate(line_words):
                if li > 0:
                    doc_parts.append("\n")
                    pos += 1
                l_start = pos
                words_out = []
                wconfs = []
                line_prefix = "%s_line%04d" % (block_id, li) if emit_lines else ""
                for wi, w in enumerate(words):
                    sbits = wbits[wi] if wbits else 0
                    if wi > 0:
                        doc_parts.append(" ")
                        pos += 1
                    w_start = pos
                    doc_parts.append(w)
                    pos += len(w)
                    c = word_conf(w)
                    wconfs.append(c)
                    if not emit_words:
                        continue
                    word_id = "%s_word%04d" % (line_prefix, wi)
                    glyphs = []
                    if level == "glyph":
                        # symbol-level descent with ranked choices
                        # (recognize.py:816-856)
                        glyphs = [
                            {
                                "glyph_id": "%s_glyph%04d" % (word_id, gi),
                                "char_start": w_start + gi,
                                "char_end": w_start + gi + 1,
                                "text": ch,
                                "conf": glyph_conf(ch),
                                "choices": glyph_choices(ch, block_glyph_table),
                            }
                            for gi, ch in enumerate(w)
                        ]
                    words_out.append(
                        {
                            "word_id": word_id,
                            "char_start": w_start,
                            "char_end": pos,
                            "text": w,
                            "conf": c,
                            "style": {
                                "bold": bool(sbits & 1),
                                "italic": bool(sbits & 2),
                                "monospace": bool(sbits & 4),
                            },
                            "glyphs": glyphs,
                        }
                    )
                lconf = sum(wconfs) / len(wconfs) if wconfs else 0.0
                line_confs.append(lconf)
                if emit_lines:
                    lines_out.append(
                        {
                            "line_id": line_prefix,
                            "char_start": l_start,
                            "char_end": pos,
                            "text": " ".join(words),
                            "conf": lconf,
                            "words": words_out,
                        }
                    )
            b_end = pos
            bconf = sum(line_confs) / len(line_confs) if line_confs else 0.0
            main_confs.append(bconf)
            prev_main = True
        blocks.append(
            {
                "block_id": block_id,
                "kind": kind,
                "order_idx": idx,
                "char_start": b_start,
                "char_end": b_end,
                "text": btext,
                "conf": bconf,
                "text_density": text_density,
                "link_density": link_density,
                "is_main": is_main,
                "model": model,
                "lines": lines_out,
            }
        )

    doc_text = None
    if not params.segment_only:
        # rstrip('\n\f') on the final recognized text (recognize.py:636)
        doc_text = "".join(doc_parts).rstrip("\n\f")
    doc_conf = sum(main_confs) / len(main_confs) if main_confs else 0.0
    return {
        "text": doc_text,
        "conf": doc_conf,
        "blocks": blocks,
        "features": list(params.features),
        "failed": False,
    }
