"""Arrow-batched extraction kernel for ``mapInArrow``.

The reference holds its entire recognition loop inside one C++ call per
segment (``Recognize()``, /root/reference/ocrd_tesserocr/recognize.py:486);
our contract holds it inside Arrow batches: the JVM hands us columnar
batches, we run the per-document walk over each batch, and hand columnar
results back.

Emission is columnar.  Each document is walked with the oracle's own
helpers (``_assembled_blocks``, ``_block_effective``, ``classify_is_main``,
``_block_canonical_text``, ``word_conf``, ``model_block_score``/
``_model_table``, ``glyph_choices``) in the same loop shape as
``oracle.extract_document``, and every level's scalars go to flat
per-level lists plus list offsets.  The nested ``blocks`` column is then
assembled once per batch with ``StructArray.from_arrays``/
``ListArray.from_arrays``; ids, word and glyph offsets and styles are
derived column-wise from those offsets.  No per-word dict is built, so
there is neither a nested ``pa.array`` conversion nor dicts for CPython's
cyclic GC to rescan.
``oracle.extract_document`` stays the reference: the kernel's batch
equals ``pa.array`` over its dicts (tests/test_kernel_parity.py).

The prefix (UTF-8 decode -> ``_parse_blocks`` -> ``_assemble_block`` ->
empty-block filter) has two paths with one output.  On first import this
module compiles ``_cprefix.c`` with gcc against the interpreter's
``Python.h`` into ``_build/`` next to it (named by the source's sha256 and
``EXT_SUFFIX``, written through a temp file and an atomic rename, so
workers starting at once never load a half-written file) and walks with
its ``assembled_blocks``, which returns exactly the tuples
``oracle._assembled_blocks`` returns.  Without gcc or the headers, or
when the build fails, the walk uses ``oracle._assembled_blocks`` itself.
``PREFIX_IMPL`` names the path in use (``"c"`` or ``"python"``).
``oracle.py`` stays pure Python, so the kernel-vs-oracle tests check the
compiled prefix too.

Model-load amortization (recognize.py:143,200-203 does one InitFull reused
across pages) maps to module-level state reused across batches by the
long-lived Python worker processes Spark keeps per executor.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import sysconfig
from html import unescape

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .oracle import (
    LEVELS,
    ExtractParams,
    _assembled_blocks,
    _block_canonical_text,
    _block_effective,
    _model_table,
    classify_is_main,
    glyph_choices,
    glyph_conf,
    model_block_score,
    resolve_params,
    word_conf,
)

_CPREFIX_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_cprefix.c")
_BUILD_DIR = os.path.join(os.path.dirname(_CPREFIX_SRC), "_build")


def load_prefix(src: str = _CPREFIX_SRC, build_dir: str = _BUILD_DIR, cc: str = "gcc"):
    """(prefix function, ``"c"`` or ``"python"``): the compiled prefix,
    built from ``src`` into ``build_dir`` unless a build of the same source
    is there, or ``oracle._assembled_blocks`` when reading, compiling or
    loading fails."""
    import importlib.util

    try:
        with open(src, "rb") as f:
            code = f.read()
        so = os.path.join(build_dir, "_cprefix-%s%s" % (
            hashlib.sha256(code).hexdigest()[:16], sysconfig.get_config_var("EXT_SUFFIX")))
        if not os.path.exists(so):
            os.makedirs(build_dir, exist_ok=True)
            tmp = "%s.%d.tmp" % (so, os.getpid())
            try:
                subprocess.run(
                    [cc, "-O2", "-shared", "-fPIC", "-I", sysconfig.get_paths()["include"],
                     "-x", "c", "-", "-o", tmp],
                    input=code, capture_output=True, check=True, timeout=300,
                )
                os.replace(tmp, so)
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)
        spec = importlib.util.spec_from_file_location(__package__ + "._cprefix", so)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.setup(unescape, _assembled_blocks)
        return mod.assembled_blocks, "c"
    except (OSError, subprocess.SubprocessError, ImportError):
        return _assembled_blocks, "python"


_prefix, PREFIX_IMPL = load_prefix()


def _reuse_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive's ``(st_mtime_ns, st_size)`` changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``).  On Python 3.11 each
    cached zipimporter then re-reads its whole archive directory, once per
    importer: pyspark.zip's 1,667 entries about 16 times, 0.13-0.18 s of
    CPU per task.  Python 3.12 refills that cache lazily, so there this
    changes nothing.  Idempotent; called from the worker-side function."""
    import zipimport

    orig = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(orig, "stat_keyed", False):
        return
    seen: dict = {}  # archive -> (mtime_ns, size) at its last re-read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and seen.get(self.archive) == key:
            self._files = files
            return
        orig(self)
        seen[self.archive] = key

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _partition_id() -> int:
    try:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        return ctx.partitionId() if ctx is not None else -1
    except Exception:
        return -1


def _validate(params: ExtractParams) -> ExtractParams:
    """Raise on a malformed ``extra`` value, rule predicate or
    ``textequiv_level`` (the resolved level and every block rule's
    override must be one of ``LEVELS``); return the resolved params."""
    from .oracle import _coerce_overrides, compile_predicate

    resolved = resolve_params(params)
    level = resolved.textequiv_level
    levels = {level}
    for expr, pairs in params.block_rules:
        compile_predicate(expr)
        levels.add(_coerce_overrides(pairs).get("textequiv_level", level))
    for expr, _model in params.model_rules:
        compile_predicate(expr)
    bad = sorted(levels.difference(LEVELS))
    if bad:
        raise ValueError(f"textequiv_level must be one of {LEVELS}, got {bad}")
    return resolved


class _Columns:
    """Flat per-level columns of one batch (d_ document, b_ block, l_ line,
    w_ word, g_ glyph, c_ choice).  ``d_blocks``, ``b_lines``, ``l_words``,
    ``c_off`` and ``d_feat_off`` are Arrow list offsets into the level
    below; ``styled`` holds (first word, style bits) per styled line and
    ``glyph_words`` the (first, end) word range of every glyph-level line."""

    def __init__(self):
        self.d_text, self.d_conf, self.d_failed = [], [], []
        self.d_feat, self.d_feat_off, self.d_blocks = [], [0], [0]
        self.b_kind, self.b_idx, self.b_start, self.b_end = [], [], [], []
        self.b_text, self.b_conf, self.b_td, self.b_ld = [], [], [], []
        self.b_main, self.b_model, self.b_lines = [], [], [0]
        self.l_start, self.l_end, self.l_text, self.l_conf = [], [], [], []
        self.l_words = [0]
        self.w_text, self.w_conf, self.styled, self.glyph_words = [], [], [], []
        self.g_text, self.g_conf, self.c_text, self.c_conf = [], [], [], []
        self.c_off = [0]


def _walk(htmls: list, params: ExtractParams) -> _Columns:
    """The document walk of ``oracle.extract_document`` over one batch,
    appending each level's scalars to flat columns instead of building
    dicts.  ``params`` is already resolved."""
    cols = _Columns()
    d_text, d_conf, d_failed = cols.d_text, cols.d_conf, cols.d_failed
    d_feat, d_feat_off, d_blocks = cols.d_feat, cols.d_feat_off, cols.d_blocks
    b_kind, b_idx, b_start, b_end = cols.b_kind, cols.b_idx, cols.b_start, cols.b_end
    b_text, b_conf, b_td, b_ld = cols.b_text, cols.b_conf, cols.b_td, cols.b_ld
    b_main, b_model, b_lines = cols.b_main, cols.b_model, cols.b_lines
    l_start, l_end, l_text, l_conf = cols.l_start, cols.l_end, cols.l_text, cols.l_conf
    l_words, w_text, w_conf = cols.l_words, cols.w_text, cols.w_conf
    styled, glyph_words = cols.styled, cols.glyph_words
    g_text, g_conf = cols.g_text, cols.g_conf
    c_text, c_conf, c_off = cols.c_text, cols.c_conf, cols.c_off

    features = list(params.features)
    glyph_table = dict(params.glyph_confusions) if params.glyph_confusions else None
    # (table key, glyph) -> (choice texts, choice confs); the key is the
    # auto-selected model, or None for the batch-wide table
    choices_memo: dict = {}
    wc = word_conf

    for html in htmls:
        try:
            assembled = _prefix(html)
        except Exception:
            d_text.append(None)
            d_conf.append(0.0)
            d_failed.append(True)
            d_feat.append("failed")
            d_feat_off.append(len(d_feat))
            d_blocks.append(len(b_kind))
            continue

        doc_parts: list[str] = []
        pos = 0
        prev_main = False
        main_confs: list[float] = []
        for idx, block in enumerate(assembled):
            kind, _, join, line_words, n_chars, link_density, text_density = block
            eff, model, from_rule = _block_effective(params, block)
            table, table_key = glyph_table, None
            if eff.auto_model and not from_rule and "+" in model:
                cands = model.split("+")
                scores = [
                    model_block_score(line_words, _model_table(params, m))
                    for m in cands
                ]
                model = cands[max(range(len(cands)), key=lambda i: (scores[i], -i))]
                table, table_key = _model_table(params, model), model
            is_main = classify_is_main(kind, n_chars, link_density, eff)
            btext = "" if eff.segment_only else _block_canonical_text(line_words)
            b_kind.append(kind)
            b_idx.append(idx)
            b_text.append(btext)
            b_td.append(text_density)
            b_ld.append(link_density)
            b_main.append(is_main)
            b_model.append(model)
            if eff.segment_only or not is_main:
                # segment-only and non-main blocks (lazy recognition) get
                # no spans and no lines
                b_start.append(-1)
                b_end.append(-1)
                b_conf.append(0.0)
                b_lines.append(len(l_start))
                continue

            if prev_main and not join:
                doc_parts.append("\n")
                pos += 1
            b_start.append(pos)
            doc_parts.append(btext)
            lpos = pos  # the next line's start
            pos += len(btext)
            level = eff.textequiv_level
            emit_lines = level in ("line", "word", "glyph")
            emit_words = level in ("word", "glyph")
            line_confs = []
            for words, wbits in line_words:
                # a list only where the word confs are emitted; every
                # assembled line has at least one word
                confs = list(map(wc, words)) if emit_words else map(wc, words)
                lconf = sum(confs) / len(words)
                line_confs.append(lconf)
                if not emit_lines:
                    continue
                ltext = " ".join(words)
                l_start.append(lpos)
                lpos += len(ltext)
                l_end.append(lpos)
                lpos += 1
                l_text.append(ltext)
                l_conf.append(lconf)
                if emit_words:
                    w0 = len(w_text)
                    if wbits:
                        styled.append((w0, wbits))
                    w_text.extend(words)
                    w_conf.extend(confs)
                    if level == "glyph":
                        glyph_words.append((w0, len(w_text)))
                        chars = "".join(words)
                        g_text.extend(chars)
                        g_conf.extend(map(glyph_conf, chars))
                        for ch in chars:
                            memo_key = (table_key, ch)
                            ranked = choices_memo.get(memo_key)
                            if ranked is None:
                                cs = glyph_choices(ch, table)
                                ranked = choices_memo[memo_key] = (
                                    [c["text"] for c in cs],
                                    [c["conf"] for c in cs],
                                )
                            c_text.extend(ranked[0])
                            c_conf.extend(ranked[1])
                            c_off.append(len(c_text))
                l_words.append(len(w_text))
            bconf = sum(line_confs) / len(line_confs) if line_confs else 0.0
            main_confs.append(bconf)
            b_end.append(pos)
            b_conf.append(bconf)
            b_lines.append(len(l_start))
            prev_main = True

        d_text.append(
            None if params.segment_only else "".join(doc_parts).rstrip("\n\f")
        )
        d_conf.append(sum(main_confs) / len(main_confs) if main_confs else 0.0)
        d_failed.append(False)
        d_feat.extend(features)
        d_feat_off.append(len(d_feat))
        d_blocks.append(len(b_kind))
    return cols


def _children(offsets):
    """List offsets -> (parent index, index within parent) per child."""
    parents = np.repeat(np.arange(len(offsets) - 1), np.diff(offsets))
    return parents, np.arange(len(parents)) - offsets[:-1][parents]


def _pad4(ints):
    """``"%04d" % i`` column-wise."""
    return pc.utf8_lpad(pc.cast(pa.array(ints), pa.string()), 4, "0")


def _ids(parent_ids, parents, local, tag: str):
    """``"%s<tag>%04d" % (parent_id, local)`` column-wise."""
    return pc.binary_join_element_wise(
        pc.take(parent_ids, parents), tag, _pad4(local), ""
    )


def _struct(t, arrays):
    return pa.StructArray.from_arrays(arrays, fields=list(t))


def _list(t, offsets, values):
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values, type=t)


def _blocks_array(cols: _Columns, blocks_t):
    """The nested ``blocks`` column of one batch, in exactly ``blocks_t``."""
    block_t = blocks_t.value_type
    lines_t = block_t.field("lines").type
    line_t = lines_t.value_type
    words_t = line_t.field("words").type
    word_t = words_t.value_type
    glyphs_t = word_t.field("glyphs").type
    glyph_t = glyphs_t.value_type
    choices_t = glyph_t.field("choices").type
    i64 = np.int64

    # ids: block%04d, then parent id + _line%04d / _word%04d / _glyph%04d
    b_idx = np.array(cols.b_idx, dtype=np.int32)
    block_ids = pc.binary_join_element_wise("block", _pad4(b_idx), "")
    b_lines = np.array(cols.b_lines, dtype=i64)
    line_parents, line_local = _children(b_lines)
    line_ids = _ids(block_ids, line_parents, line_local, "_line")

    # words: offsets follow from each line's start and the word lengths
    l_words = np.array(cols.l_words, dtype=i64)
    word_parents, word_local = _children(l_words)
    w_text = pa.array(cols.w_text, pa.string())
    w_len = pc.utf8_length(w_text).to_numpy().astype(i64)
    step = w_len + 1
    before = np.cumsum(step) - step  # step sum over all earlier words
    w_start = (
        np.array(cols.l_start, dtype=i64)[word_parents]
        + before
        - before[l_words[:-1][word_parents]]
    )
    w_end = w_start + w_len
    word_ids = _ids(line_ids, word_parents, word_local, "_word")
    bits = np.zeros(len(w_len), dtype=np.int8)
    for w0, wbits in cols.styled:
        bits[w0:w0 + len(wbits)] = wbits
    style_t = word_t.field("style").type
    style = _struct(style_t, [pa.array((bits & b) != 0) for b in (1, 2, 4)])

    # glyphs: one per character of every glyph-level word
    g_count = np.zeros(len(w_len), dtype=i64)
    for w0, w1 in cols.glyph_words:
        g_count[w0:w1] = w_len[w0:w1]
    g_off = np.concatenate([[0], np.cumsum(g_count)])
    glyph_parents, glyph_local = _children(g_off)
    g_start = w_start[glyph_parents] + glyph_local
    choices = _list(choices_t, cols.c_off, _struct(choices_t.value_type, [
        pa.array(cols.c_text, pa.string()),
        pa.array(cols.c_conf, pa.float64()),
    ]))
    glyphs = _list(glyphs_t, g_off, _struct(glyph_t, [
        _ids(word_ids, glyph_parents, glyph_local, "_glyph"),
        pa.array(g_start),
        pa.array(g_start + 1),
        pa.array(cols.g_text, pa.string()),
        pa.array(cols.g_conf, pa.float64()),
        choices,
    ]))

    words = _list(words_t, l_words, _struct(word_t, [
        word_ids,
        pa.array(w_start),
        pa.array(w_end),
        w_text,
        pa.array(cols.w_conf, pa.float64()),
        style,
        glyphs,
    ]))
    lines = _list(lines_t, b_lines, _struct(line_t, [
        line_ids,
        pa.array(cols.l_start, pa.int64()),
        pa.array(cols.l_end, pa.int64()),
        pa.array(cols.l_text, pa.string()),
        pa.array(cols.l_conf, pa.float64()),
        words,
    ]))
    return _list(blocks_t, cols.d_blocks, _struct(block_t, [
        block_ids,
        pa.array(cols.b_kind, pa.string()),
        pa.array(b_idx),
        pa.array(cols.b_start, pa.int64()),
        pa.array(cols.b_end, pa.int64()),
        pa.array(cols.b_text, pa.string()),
        pa.array(cols.b_conf, pa.float64()),
        pa.array(cols.b_td, pa.float64()),
        pa.array(cols.b_ld, pa.float64()),
        pa.array(cols.b_main, pa.bool_()),
        pa.array(cols.b_model, pa.string()),
        lines,
    ]))


def make_extract_arrow_fn(params: ExtractParams):
    """Bind params into the mapInArrow function (facade pattern: the
    reference's processor subclasses are parameter presets over one core,
    ocrd_tesserocr/segment.py:17-24).

    Each input RecordBatch of (url, html) becomes one output RecordBatch
    in exactly ``to_arrow_schema(EXTRACTED_SCHEMA)``: ``_walk`` fills flat
    per-level columns with the oracle's helpers, and ``_blocks_array``
    assembles the nested blocks -> lines -> words (-> glyphs) column from
    them in Arrow's C++ builders.  Every level and config (block/model
    rules, auto_model, segment_only, extra, custom confusion tables) takes
    this one path.

    Config validation happens HERE, on the driver, before any job
    launches: a malformed ``extra`` value, rule predicate or
    ``textequiv_level`` raises at plan time instead of failing executor
    tasks (the analogue of the reference's JSON-Schema parameter
    validation at processor init)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schemas import EXTRACTED_SCHEMA

    resolved = _validate(params)
    aschema = to_arrow_schema(EXTRACTED_SCHEMA)
    blocks_t = aschema.field("blocks").type
    feats_t = aschema.field("features").type

    def fn(it):
        _reuse_zip_directories()
        pid = _partition_id()
        for rb in it:
            names = rb.schema.names
            urls = rb.column(names.index("url"))
            cols = _walk(rb.column(names.index("html")).to_pylist(), resolved)
            n = len(cols.d_text)
            yield pa.RecordBatch.from_arrays(
                [
                    urls.cast(pa.string()) if urls.type != pa.string() else urls,
                    pa.array(cols.d_text, type=pa.string()),
                    pa.array(cols.d_conf, type=pa.float64()),
                    _blocks_array(cols, blocks_t),
                    _list(feats_t, cols.d_feat_off, pa.array(cols.d_feat, pa.string())),
                    pa.array(cols.d_failed, type=pa.bool_()),
                    pa.array([pid] * n, type=pa.int32()),
                ],
                schema=aschema,
            )

    return fn
