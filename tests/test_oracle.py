"""Unit tests for the single-document oracle — every semantic rule
transplanted from the reference is pinned here (SURVEY.md section 5)."""

from __future__ import annotations

from ocrd_tesserocr_spark.oracle import (
    DEFAULT_PARAMS,
    ExtractParams,
    extract_document,
    word_conf,
)


def _doc(body: str) -> bytes:
    return ("<html><head><title>t</title></head><body>%s</body></html>" % body).encode()


def test_basic_paragraphs_join_with_newline():
    # line->region '\n' join (common.py:166-175)
    out = extract_document(_doc("<p>hello world of spark</p><p>second paragraph here ok</p>"))
    assert out["text"] == "hello world of spark\nsecond paragraph here ok"
    assert not out["failed"]


def test_words_join_with_single_space_and_whitespace_collapses():
    # word->line ' ' join (common.py:159); whitespace normalization
    out = extract_document(_doc("<p>a   lot\t of \n  spaces collapse here</p>"))
    assert out["text"] == "a lot of spaces collapse here"


def test_br_splits_lines_within_block():
    # TextLine segmentation (recognize.py:735-780)
    out = extract_document(_doc("<p>first line words here<br>second line words here</p>"))
    b = [b for b in out["blocks"] if b["is_main"]][0]
    assert len(b["lines"]) == 2
    assert out["text"] == "first line words here\nsecond line words here"


def test_ids_match_reference_formats():
    # block%04d / _line%04d / _word%04d (recognize.py:604,769,804)
    out = extract_document(_doc("<p>alpha beta gamma delta epsilon</p>"))
    b = out["blocks"][0]
    assert b["block_id"] == "block0000"
    ln = b["lines"][0]
    assert ln["line_id"] == "block0000_line0000"
    assert ln["words"][0]["word_id"] == "block0000_line0000_word0000"
    assert ln["words"][2]["word_id"] == "block0000_line0000_word0002"


def test_spans_are_consistent_and_nested():
    # span clip invariant (common.py:282-312 analogue)
    out = extract_document(
        _doc("<h1>Title Here</h1><p>one two three four five</p><p>six seven eight nine ten</p>")
    )
    text = out["text"]
    for b in out["blocks"]:
        if not b["is_main"]:
            continue
        assert text[b["char_start"] : b["char_end"]] == b["text"]
        for ln in b["lines"]:
            assert b["char_start"] <= ln["char_start"] <= ln["char_end"] <= b["char_end"]
            assert text[ln["char_start"] : ln["char_end"]] == ln["text"]
            for w in ln["words"]:
                assert ln["char_start"] <= w["char_start"] <= w["char_end"] <= ln["char_end"]
                assert text[w["char_start"] : w["char_end"]] == w["text"]


def test_join_relation_suppresses_separator():
    # Relation type='join' no-whitespace rule (common.py:90-99,166-175)
    out = extract_document(
        _doc('<p>ends with hyphen continu-</p><p data-join="1">ation text follows here</p>')
    )
    assert out["text"] == "ends with hyphen continu-ation text follows here"


def test_rtl_reverses_word_order():
    # direction-aware traversal (common.py:138-151)
    out = extract_document(_doc('<p dir="rtl">alpha beta gamma delta</p>'))
    assert out["text"] == "delta gamma beta alpha"


def test_rtl_inherited_from_ancestor():
    out = extract_document(
        ('<html><body dir="rtl"><p>alpha beta gamma delta</p></body></html>').encode()
    )
    assert out["text"] == "delta gamma beta alpha"


def test_dir_on_boilerplate_does_not_leak():
    # dir= on a boilerplate container (or <a>) must pop with its close tag;
    # a leak would RTL-reverse every subsequent block in the document
    out = extract_document(
        _doc('<nav dir="rtl">menu items here</nav><p>alpha beta gamma delta</p>')
    )
    assert out["text"] == "alpha beta gamma delta"
    out = extract_document(
        _doc('<p><a dir="rtl" href="/">x</a> link trailer words here</p>'
             "<p>alpha beta gamma delta</p>")
    )
    assert out["text"].endswith("alpha beta gamma delta")


def test_boilerplate_containers_are_noise():
    out = extract_document(
        _doc("<nav><a href='/'>Home</a> <a href='/a'>About</a></nav><p>real main content text here</p>")
    )
    kinds = {b["kind"] for b in out["blocks"]}
    assert "noise" in kinds
    assert out["text"] == "real main content text here"


def test_link_density_gate():
    # boilerplate classification (north rule); link-dense block excluded
    out = extract_document(
        _doc(
            '<p><a href="/x">linky link link link</a> <a href="/y">more links here now</a></p>'
            "<p>plain main content paragraph text</p>"
        )
    )
    assert out["text"] == "plain main content paragraph text"
    linky = out["blocks"][0]
    assert linky["link_density"] > 0.9 and not linky["is_main"]


def test_min_paragraph_chars_filter():
    # too-small region filter (recognize.py:584-597)
    out = extract_document(_doc("<p>tiny</p><p>long enough paragraph to pass the filter</p>"))
    assert out["text"] == "long enough paragraph to pass the filter"
    small = out["blocks"][0]
    assert small["is_main"] is False and small["char_start"] == -1


def test_headings_exempt_from_min_chars():
    out = extract_document(_doc("<h1>Hi</h1><p>long enough paragraph to pass the filter</p>"))
    assert out["text"].startswith("Hi\n")


def test_empty_blocks_dropped():
    # binary-empty region filter (recognize.py:598-601)
    out = extract_document(_doc("<p>   </p><p></p><p>kept paragraph with enough text</p>"))
    assert [b["kind"] for b in out["blocks"]] == ["paragraph"]


def test_separator_and_image_kept_as_markers():
    out = extract_document(_doc("<p>first paragraph long enough here</p><hr><img src='x.png'>"))
    kinds = [b["kind"] for b in out["blocks"]]
    assert kinds == ["paragraph", "separator", "image"]
    assert out["blocks"][1]["lines"] == [] and out["blocks"][1]["char_start"] == -1


def test_script_style_title_masked():
    # non-text mask (binarize.py:106-110 analogue)
    out = extract_document(
        _doc("<script>var x='nope';</script><style>.a{}</style><p>only this text stays here</p>")
    )
    assert out["text"] == "only this text stays here"


def test_table_cells_are_blocks():
    # cell segmentation (recognize.py:690-733)
    out = extract_document(
        _doc("<table><tr><td>cell one text</td><td>cell two text</td></tr></table>")
    )
    cells = [b for b in out["blocks"] if b["kind"] == "table"]
    assert len(cells) == 2
    assert out["text"] == "cell one text\ncell two text"


def test_nested_paragraph_in_cell():
    out = extract_document(
        _doc("<table><tr><td><p>nested paragraph inside a cell</p></td></tr></table>")
    )
    kinds = [b["kind"] for b in out["blocks"]]
    assert "paragraph" in kinds


def test_order_idx_dense_from_zero():
    # reading-order index allocation (recognize.py:534-544)
    out = extract_document(
        _doc("<h1>Big Title</h1><p>first paragraph long enough</p><hr><p>second paragraph long enough</p>")
    )
    assert [b["order_idx"] for b in out["blocks"]] == list(range(len(out["blocks"])))


def test_no_trailing_newline_or_formfeed():
    # rstrip('\n\f') (recognize.py:636)
    out = extract_document(_doc("<p>some good paragraph content here</p><hr>"))
    assert not out["text"].endswith("\n") and not out["text"].endswith("\f")


def test_malformed_bytes_become_failure_row():
    out = extract_document(b"<html><p>abc" + b"\xff\xfe\x80")
    assert out["failed"] is True and out["text"] is None and out["blocks"] == []
    assert out["features"] == ["failed"]


def test_null_payload_is_failure():
    assert extract_document(None)["failed"] is True


def test_whitespace_only_document():
    out = extract_document(_doc("   \n\t "))
    assert out["text"] == "" and out["blocks"] == [] and not out["failed"]


def test_confidences_are_means():
    # arithmetic means at every level (common.py:127-128, recognize.py:637)
    out = extract_document(_doc("<p>alpha beta gamma delta epsilon zeta</p>"))
    b = out["blocks"][0]
    ws = b["lines"][0]["words"]
    assert abs(b["lines"][0]["conf"] - sum(w["conf"] for w in ws) / len(ws)) < 1e-12
    assert abs(b["conf"] - b["lines"][0]["conf"]) < 1e-12
    assert abs(out["conf"] - b["conf"]) < 1e-12


def test_word_conf_deterministic():
    assert word_conf("alpha") == 1.0
    assert word_conf("a-b") == round(1 - 0.5 * (1 / 3), 4)
    assert word_conf("") == 0.5


def test_segment_only_mode():
    # textequiv_level='none' lazy recognition (recognize.py:411,481-486)
    p = ExtractParams(segment_only=True, features=("cleaned", "segmented"))
    out = extract_document(_doc("<p>some good paragraph content here</p>"), p)
    assert out["text"] is None
    assert out["blocks"][0]["lines"] == [] and out["blocks"][0]["text"] == ""
    assert out["features"] == ["cleaned", "segmented"]


def test_inline_tags_keep_word_separation():
    out = extract_document(_doc("<p>one <b>two</b> <i>three</i> four five six</p>"))
    assert out["text"] == "one two three four five six"


def test_default_params_frozen():
    assert DEFAULT_PARAMS.min_paragraph_chars == 16


def test_textequiv_level_block_prunes_lines():
    # exit-level gating (textequiv_level, ocrd-tool.json:90-98)
    p = ExtractParams(textequiv_level="block")
    full = extract_document(_doc("<p>alpha beta gamma delta epsilon</p>"))
    blk = extract_document(_doc("<p>alpha beta gamma delta epsilon</p>"), p)
    assert blk["text"] == full["text"]
    assert blk["conf"] == full["conf"]
    b_full, b_blk = full["blocks"][0], blk["blocks"][0]
    assert b_blk["lines"] == []
    assert (b_blk["char_start"], b_blk["char_end"]) == (
        b_full["char_start"], b_full["char_end"])
    assert b_blk["text"] == b_full["text"]


def test_textequiv_level_line_prunes_words():
    p = ExtractParams(textequiv_level="line")
    out = extract_document(_doc("<p>alpha beta<br>gamma delta epsilon</p>"), p)
    b = out["blocks"][0]
    assert len(b["lines"]) == 2
    for ln in b["lines"]:
        assert ln["words"] == [] and ln["text"]


def test_glyph_level_emits_char_spans_and_choices():
    # symbol descent + ranked choices (recognize.py:816-856)
    out = extract_document(
        _doc("<p>w0rld of glyph level text</p>"),
        ExtractParams(textequiv_level="glyph"),
    )
    w = out["blocks"][0]["lines"][0]["words"][0]
    assert w["text"] == "w0rld"
    gs = w["glyphs"]
    assert [g["text"] for g in gs] == list("w0rld")
    assert gs[0]["glyph_id"] == w["word_id"] + "_glyph0000"
    # spans tile the word span exactly, width 1
    assert gs[0]["char_start"] == w["char_start"]
    assert gs[-1]["char_end"] == w["char_end"]
    for g in gs:
        assert g["char_end"] - g["char_start"] == 1
        assert out["text"][g["char_start"]:g["char_end"]] == g["text"]
        # choice index 0 is the recognized glyph itself
        assert g["choices"][0] == {"text": g["text"], "conf": g["conf"]}
    # '0' has confusion alternatives o/O with decaying conf
    zero = gs[1]
    assert [c["text"] for c in zero["choices"]] == ["0", "o", "O"]
    assert [c["conf"] for c in zero["choices"]] == [1.0, 0.98, 0.96]


def test_glyph_choice_rank_cutoff(monkeypatch):
    # CHOICE_THRESHOLD_NUM bounds annotated alternatives (recognize.py:56,851)
    from ocrd_tesserocr_spark import oracle as omod

    monkeypatch.setitem(
        omod.GLYPH_CONFUSIONS, "z", tuple("abcdefghijklmno")  # 15 alternates
    )
    choices = omod.glyph_choices("z")
    assert len(choices) == 1 + omod.CHOICE_THRESHOLD_NUM
    assert choices[-1]["conf"] == round(1.0 - 0.02 * 10, 4)


def test_glyph_level_off_by_default():
    out = extract_document(_doc("<p>plain word level text</p>"))
    w = out["blocks"][0]["lines"][0]["words"][0]
    assert w["glyphs"] == []


def test_bottom_to_top_line_order():
    # textLineOrder bottom-to-top reverses line traversal (common.py:131-134)
    out = extract_document(
        _doc('<p data-line-order="btt">first line words here<br>'
             "second line words here</p>")
    )
    assert out["text"] == "second line words here\nfirst line words here"


def test_opaque_extra_params_override_typed_fields():
    # tesseract_parameters analogue (ocrd-tool.json:154-158): string map
    # overrides typed fields; unknown names carried through untouched
    out = extract_document(
        _doc("<p>short para text</p><p>long enough paragraph to pass the default</p>"),
        ExtractParams(extra=(("min_paragraph_chars", "100"), ("oem", "1"))),
    )
    assert out["text"] == ""  # both paragraphs below 100 chars
    out = extract_document(
        _doc("<p>long enough paragraph to pass the default</p>"),
        ExtractParams(extra=(("oem", "1"),)),  # unknown-only: no effect
    )
    assert out["text"] == "long enough paragraph to pass the default"


def test_block_rules_switch_params_per_segment():
    # xpath_parameters analogue (recognize.py:233-246): predicate -> params
    html = _doc(
        '<p><a href="/x">linky link link link</a> <a href="/y">more link text</a></p>'
        "<p>plain main content paragraph text</p>"
    )
    # default: link-dense paragraph excluded
    assert extract_document(html)["text"] == "plain main content paragraph text"
    # rule lifts the link-density gate for paragraphs
    rules = (("kind=paragraph and link_density>0.5", (("max_link_density", "1.0"),)),)
    out = extract_document(html, ExtractParams(block_rules=rules))
    assert out["text"].startswith("linky link link link")
    # hand-built oracle: both paragraphs now main
    assert sum(b["is_main"] for b in out["blocks"]) == 2


def test_model_rules_join_matches():
    # xpath_model analogue (recognize.py:247-262): matches '+'-joined,
    # fallback to the default model otherwise
    rules = (("kind=heading", "eng_best"), ("rtl=true", "ara"),
             ("kind=heading and n_chars>4", "deu"))
    out = extract_document(
        _doc('<h1>Heading Title</h1><p dir="rtl">alpha beta gamma delta</p>'
             "<p>plain paragraph content here</p>"),
        ExtractParams(model_rules=rules, model="base"),
    )
    models = {b["kind"]: b["model"] for b in out["blocks"]}
    assert models["heading"] == "eng_best+deu"
    assert models["paragraph"] in ("ara", "base")
    by_rtl = [b["model"] for b in out["blocks"] if b["kind"] == "paragraph"]
    assert by_rtl == ["ara", "base"]


def test_predicate_dsl_errors_and_unknown_attrs():
    import pytest

    from ocrd_tesserocr_spark.oracle import compile_predicate

    with pytest.raises(ValueError):
        compile_predicate("kind ~ paragraph")
    # unknown attribute never matches (like an XPath selecting nothing)
    assert compile_predicate("nosuch=1")({"kind": "paragraph"}) is False
    p = compile_predicate("n_chars>=10 and kind!=table")
    assert p({"n_chars": 10, "kind": "paragraph"}) is True
    assert p({"n_chars": 9, "kind": "paragraph"}) is False
    assert p({"n_chars": 50, "kind": "table"}) is False
    # type-mismatched RHS fails at COMPILE time (driver-side), never in
    # the executor: 'n_chars>ten' must not survive _validate
    with pytest.raises(ValueError, match="non-numeric"):
        compile_predicate("n_chars>ten")
    with pytest.raises(ValueError, match="non-numeric"):
        compile_predicate("kind=paragraph and link_density>=high")
    # and the kernel's plan-time validation surfaces it too
    from ocrd_tesserocr_spark.kernel import _validate
    from ocrd_tesserocr_spark.oracle import ExtractParams

    with pytest.raises(ValueError):
        _validate(ExtractParams(block_rules=(("n_chars>ten", ()),)))


def test_auto_model_picks_planted_better_model():
    """In-kernel auto_model (recognize.py:266-277; mirrors
    test_recognize.py:132-139): with model='fraktur+eng' and auto_model
    on, every candidate is scored per block and the planted better model
    (whose confusions overlap the block's glyphs less) wins, is recorded
    in block.model, and its confusion table drives glyph choices."""
    html = _doc("<p>hello yellow fellow, all will fall tall oll</p>")
    # 'fraktur' is confused about 'l' (ubiquitous here) -> low score;
    # 'eng' is only confused about 'z' (absent) -> high score
    params = ExtractParams(
        model="fraktur+eng",
        auto_model=True,
        textequiv_level="glyph",
        model_resources=(
            ("fraktur", (("l", ("t", "i")),)),
            ("eng", (("z", ("s",)),)),
        ),
    )
    out = extract_document(html, params)
    [blk] = [b for b in out["blocks"] if b["is_main"]]
    assert blk["model"] == "eng"
    # glyph choices come from the WINNER's table: no 'l' alternatives
    glyphs = [g for ln in blk["lines"] for w in ln["words"] for g in w["glyphs"]]
    l_glyphs = [g for g in glyphs if g["text"] == "l"]
    assert l_glyphs and all(len(g["choices"]) == 1 for g in l_glyphs)
    # flipping the planted tables flips the winner (and its choices)
    params2 = ExtractParams(
        model="fraktur+eng",
        auto_model=True,
        textequiv_level="glyph",
        model_resources=(
            ("fraktur", (("z", ("s",)),)),
            ("eng", (("l", ("t", "i")),)),
        ),
    )
    out2 = extract_document(html, params2)
    [blk2] = [b for b in out2["blocks"] if b["is_main"]]
    assert blk2["model"] == "fraktur"
    # without auto_model the '+'-joined tag is recorded verbatim
    out3 = extract_document(html, ExtractParams(model="fraktur+eng"))
    assert all(b["model"] == "fraktur+eng" for b in out3["blocks"])
    # auto_model is reachable through the opaque extra map too
    out4 = extract_document(
        html,
        ExtractParams(
            model="fraktur+eng",
            extra=(("auto_model", "true"),),
            model_resources=(
                ("fraktur", (("l", ("t", "i")),)),
                ("eng", ()),
            ),
        ),
    )
    assert [b["model"] for b in out4["blocks"] if b["is_main"]] == ["eng"]


def test_auto_model_exempts_rule_selected_models():
    """A model chosen by a matched model_rule is used verbatim even with
    auto_model on: the reference RETURNS after an xpath_model match
    (recognize.py:258-262 — matched models are '+'-joined and used
    jointly); auto_model scoring (recognize.py:266-277) only ever runs on
    the preset model."""
    html = _doc("<p>hello yellow fellow, all will fall tall oll</p>")
    params = ExtractParams(
        model="default",
        auto_model=True,
        model_rules=(
            ("kind=paragraph", "fraktur"),
            ("n_chars>5", "eng"),
        ),
        model_resources=(
            ("fraktur", (("l", ("t", "i")),)),
            ("eng", (("z", ("s",)),)),
        ),
    )
    out = extract_document(html, params)
    # the '+'-joined rule selection survives untouched — no argmax
    assert [b["model"] for b in out["blocks"] if b["is_main"]] == ["fraktur+eng"]


def test_word_style_from_inline_ancestry():
    """Per-word TextStyle (fontshape.py:125-140): b/i/code ancestry sets
    bold/italic/monospace; a word assembled across a style boundary keeps
    the style; nesting ORs the bits; styles never leak past the close."""
    out = extract_document(_doc(
        "<p>plain <b>bold <i>both</i></b> after foo<code>bar</code> "
        "tail words fill out the paragraph</p>"
    ))
    ws = {w["text"]: w["style"] for b in out["blocks"]
          for ln in b["lines"] for w in ln["words"]}
    assert ws["plain"] == {"bold": False, "italic": False, "monospace": False}
    assert ws["bold"] == {"bold": True, "italic": False, "monospace": False}
    assert ws["both"] == {"bold": True, "italic": True, "monospace": False}
    assert ws["after"] == {"bold": False, "italic": False, "monospace": False}
    assert ws["foobar"]["monospace"] is True and ws["foobar"]["bold"] is False
    assert ws["tail"] == {"bold": False, "italic": False, "monospace": False}
    # self-closing style tag must not leak its bit
    out2 = extract_document(_doc("<p>alpha <b/> beta gamma delta long enough text</p>"))
    ws2 = {w["text"]: w["style"] for b in out2["blocks"]
           for ln in b["lines"] for w in ln["words"]}
    assert all(not s["bold"] for s in ws2.values())


def test_block_rule_segment_only_override():
    """segment_only is block-rule-overridable: a matched block is
    segmented (classified, ordered) but NOT recognized — empty text,
    no doc-offset contribution."""
    html = _doc(
        "<h2>Head</h2><p>plain main content paragraph text</p>"
    )
    rules = (("kind=heading", (("segment_only", "true"),)),)
    out = extract_document(html, ExtractParams(block_rules=rules))
    # the heading is classified but unrecognized; the paragraph is intact
    head = [b for b in out["blocks"] if b["kind"] == "heading"]
    assert head and head[0]["text"] == "" and head[0]["char_start"] == -1
    assert out["text"] == "plain main content paragraph text"
    base = extract_document(html)
    assert [b for b in base["blocks"] if b["kind"] == "heading"][0]["text"] != ""


def test_custom_model_resource_swaps_confusion_table():
    # pluggable .traineddata analogue: a custom confusion table replaces
    # the built-in one for glyph recognition
    custom = (("x", ("y", "z")),)
    out = extract_document(
        _doc("<p>x0x marks the spot here</p>"),
        ExtractParams(textequiv_level="glyph", glyph_confusions=custom),
    )
    g = out["blocks"][0]["lines"][0]["words"][0]["glyphs"]
    assert [c["text"] for c in g[0]["choices"]] == ["x", "y", "z"]
    # built-in table NOT consulted: '0' has no alternatives under custom
    assert [c["text"] for c in g[1]["choices"]] == ["0"]


def test_comments_and_cdata_dropped_with_or_without_closer():
    """A comment or CDATA section ends at its first closer; with no closer
    left, the opener drops up to the next '>' like bogus markup."""
    cases = {
        "<p>kept <!-- hidden --> text <![CDATA[ hidden ]]> and some more</p>":
            "kept text and some more",
        "<p>before <!-- open> after and more words</p>":
            "before after and more words",
        "<p>before <![cdata[ open> after and more words</p>":
            "before after and more words",
        "<p>x <!-- a> y <!-- b --> z and some more words</p>":
            "x z and some more words",
        "<p>the opener <!--> hidden --> ends at a later closer</p>":
            "the opener ends at a later closer",
        "<p>enough words before it <!-- no closer and no end":
            "enough words before it",
    }
    for body, text in cases.items():
        assert extract_document(_doc(body))["text"] == text, body


def test_assembled_blocks_decode_parse_assemble_filter():
    """The prefix both walks share, pinned by hand: the kernel-vs-oracle
    parity tests run it on both sides, so they cannot see a change in it.
    Tuples are (kind, rtl, join, lines, n_chars, link_density,
    text_density) and each line is (words, style bits or None)."""
    import pytest

    from ocrd_tesserocr_spark.oracle import _assembled_blocks

    with pytest.raises(ValueError):
        _assembled_blocks(None)
    with pytest.raises(UnicodeDecodeError):
        _assembled_blocks(b"<p>\xff\xfe</p>")
    assert _assembled_blocks(b"") == []
    assert _assembled_blocks(b" \n\t ") == []

    para = [("paragraph", False, False, [(["alpha", "beta"], None)], 9, 0.0, 9.0)]
    raw = b"<p>alpha beta</p>"
    for payload in (raw, bytearray(raw), memoryview(raw), raw.decode()):
        assert _assembled_blocks(payload) == para

    # structural markers survive the empty filter with no words
    assert _assembled_blocks("<hr><img src=a>") == [
        ("separator", False, False, [], 0, 0.0, 0.0),
        ("image", False, False, [], 0, 0.0, 0.0),
    ]
    assert _assembled_blocks("<p> </p>") == []
    assert _assembled_blocks("<div><script>x</script></div>") == []
    assert _assembled_blocks("<p>a<br>b</p>") == [
        ("paragraph", False, False, [(["a"], None), (["b"], None)], 2, 0.0, 2.0)
    ]


def test_self_closed_block_and_style_tags_close_at_once():
    """A self-closed block or style tag (``<p/>``, ``<b/>``) opens and
    closes its scope at once; every other self-closed tag stays open like
    its start tag.  Both walks share the tokenizer, so the parity tests
    cannot see this: pinned by hand."""
    from ocrd_tesserocr_spark.oracle import _assembled_blocks, _parse_blocks

    def words(body):
        return [
            (kind, rtl, [ws for ws, _ in lines])
            for kind, rtl, _, lines, _, _, _ in _assembled_blocks(body)
        ]

    # the empty <p/> block is dropped; the text after it opens an
    # implicit paragraph (a raw record with no tag)
    body = "<p>first words</p><p/>tail words"
    assert [r[6] for r in _parse_blocks(body)] == ["p", "p", None]
    assert words(body) == [
        ("paragraph", False, [["first", "words"]]),
        ("paragraph", False, [["tail", "words"]]),
    ]
    # the dir= scope of a self-closed block closes with it
    assert words('<p dir="rtl"/>after words') == [
        ("paragraph", False, [["after", "words"]])
    ]
    # ... but a self-closed <span dir=rtl/> stays open until </span>
    assert words('<p><span dir="rtl"/>a b</p><p>c d</p>') == [
        ("paragraph", False, [["a", "b"]]),
        ("paragraph", True, [["d", "c"]]),
    ]
    assert words('<p><span dir="rtl"/>a b</p></span><p>c d</p>')[1] == (
        "paragraph", False, [["c", "d"]]
    )
    # <b/> styles nothing after it
    assert _assembled_blocks("<p>x<b/>bold?</p>")[0][3] == [(["xbold?"], None)]
    # a self-closed <a/> keeps its link scope, <nav/> its boilerplate
    linked = _assembled_blocks("<p><a/>linked words</p><p>plain words</p>")
    assert [b[5] for b in linked] == [1.0, 1.0]
    assert [b[0] for b in _assembled_blocks(
        "<nav/><p>noise words</p><p>more words</p>")] == ["noise", "noise"]
