"""Spark pipeline output must be byte-identical to the pure-Python oracle
per url over the whole synthetic corpus — the processor round-trip check
(north rule; reference analogue: /root/reference/test/test_recognize.py)."""

from __future__ import annotations

import pytest

from ocrd_tesserocr_spark.oracle import ExtractParams
from ocrd_tesserocr_spark.pipeline import extract
from ocrd_tesserocr_spark.plans import PRESETS
from tests.conftest import dict_path_batch, pages_batch


@pytest.fixture(scope="module")
def extracted_rows(spark, pages_small):
    rows = extract(spark, pages_small, num_partitions=4).collect()
    return {r["url"]: r for r in rows}


def test_row_count(extracted_rows, oracle_records):
    assert len(extracted_rows) == len(oracle_records)


def test_text_byte_identical_per_url(extracted_rows, oracle_records):
    for rec, exp in oracle_records:
        got = extracted_rows[rec["url"]]
        assert got["text"] == exp["text"], rec["url"]


def test_conf_and_failed_match(extracted_rows, oracle_records):
    for rec, exp in oracle_records:
        got = extracted_rows[rec["url"]]
        assert got["failed"] == exp["failed"]
        assert abs(got["conf"] - exp["conf"]) < 1e-12


def test_block_structures_match(extracted_rows, oracle_records):
    for rec, exp in oracle_records[:100]:
        got = extracted_rows[rec["url"]]
        assert len(got["blocks"]) == len(exp["blocks"])
        for gb, eb in zip(got["blocks"], exp["blocks"]):
            assert gb["block_id"] == eb["block_id"]
            assert gb["kind"] == eb["kind"]
            assert gb["char_start"] == eb["char_start"]
            assert gb["char_end"] == eb["char_end"]
            assert gb["text"] == eb["text"]
            assert gb["is_main"] == eb["is_main"]
            assert len(gb["lines"]) == len(eb["lines"])
            for gl, el in zip(gb["lines"], eb["lines"]):
                assert gl["text"] == el["text"]
                assert [w["text"] for w in gl["words"]] == [
                    w["text"] for w in el["words"]
                ]
                # per-word TextStyle parity (fontshape.py:125-140)
                assert [
                    (w["style"]["bold"], w["style"]["italic"],
                     w["style"]["monospace"])
                    for w in gl["words"]
                ] == [
                    (w["style"]["bold"], w["style"]["italic"],
                     w["style"]["monospace"])
                    for w in el["words"]
                ]


def test_structural_invariants(extracted_rows):
    """FIXTURES.md section 2 invariants (mirrors
    test_segment_word.py:26-28, test_recognize.py:38-46)."""
    for url, row in extracted_rows.items():
        if row["failed"]:
            continue
        text = row["text"]
        assert not text.endswith("\n") and not text.endswith("\f")
        prev_idx = -1
        for b in row["blocks"]:
            assert b["order_idx"] == prev_idx + 1  # dense reading order
            prev_idx = b["order_idx"]
            if not b["is_main"]:
                assert b["lines"] == [] and b["char_start"] == -1
                continue
            # every line's words concatenate with ' ' to the line text
            for ln in b["lines"]:
                assert " ".join(w["text"] for w in ln["words"]) == ln["text"]
                assert text[ln["char_start"] : ln["char_end"]] == ln["text"]
            # lines join with '\n' to the block text
            assert "\n".join(ln["text"] for ln in b["lines"]) == b["text"]
            assert text[b["char_start"] : b["char_end"]] == b["text"]


def test_parallelism_invariance(spark, pages_small, extracted_rows):
    """Same results at different partition counts — the reference's
    pageparallel config invariance (test/conftest.py:10-43)."""
    rows2 = extract(spark, pages_small, num_partitions=13).collect()
    assert len(rows2) == len(extracted_rows)
    for r in rows2:
        assert extracted_rows[r["url"]]["text"] == r["text"]


def test_glyph_preset_spark_schema(spark, pages_small):
    from ocrd_tesserocr_spark.plans import GLYPH

    df = extract(spark, pages_small.limit(30), params=GLYPH, num_partitions=2)
    row = df.where(~df.failed).select("blocks").first()
    words = [
        w for b in row["blocks"] for ln in b["lines"] for w in ln["words"]
    ]
    glyphs = [g for w in words for g in w["glyphs"]]
    assert glyphs, "glyph preset must emit glyphs through Arrow"
    g = glyphs[0]
    assert set(g.asDict()) == {
        "glyph_id", "char_start", "char_end", "text", "conf", "choices"
    }


_FRAKTUR_ENG = (
    ("fraktur", (("l", ("t", "i")),)),
    ("eng", (("z", ("s",)),)),
)

#: every preset, plus the rule / auto_model / segment_only / extra /
#: custom-confusion configs of test_oracle.py and a per-block level mix
_PARITY_CONFIGS = {
    **{"preset_" + name: p for name, p in PRESETS.items()},
    "block_rules": ExtractParams(block_rules=(
        ("kind=paragraph and link_density>0.5", (("max_link_density", "1.0"),)),
    )),
    "model_rules": ExtractParams(model="base", model_rules=(
        ("kind=heading", "eng_best"), ("rtl=true", "ara"),
        ("kind=heading and n_chars>4", "deu"),
    )),
    "auto_model": ExtractParams(
        model="fraktur+eng", auto_model=True, textequiv_level="glyph",
        model_resources=_FRAKTUR_ENG,
    ),
    "auto_model_extra": ExtractParams(
        model="fraktur+eng", extra=(("auto_model", "true"),),
        model_resources=_FRAKTUR_ENG,
    ),
    "auto_model_rule_exempt": ExtractParams(
        auto_model=True, textequiv_level="glyph", model_resources=_FRAKTUR_ENG,
        model_rules=(("kind=paragraph", "fraktur"), ("n_chars>5", "eng")),
    ),
    "segment_only_rule": ExtractParams(block_rules=(
        ("kind=heading", (("segment_only", "true"),)),
    )),
    "extra": ExtractParams(extra=(("min_paragraph_chars", "100"), ("oem", "1"))),
    "custom_confusions": ExtractParams(
        textequiv_level="glyph", glyph_confusions=(("x", ("y", "z")),),
    ),
    "level_rules": ExtractParams(textequiv_level="block", block_rules=(
        ("kind=heading", (("textequiv_level", "glyph"),)),
        ("kind=table", (("textequiv_level", "line"),)),
        ("n_chars>200", (("textequiv_level", "word"),)),
    )),
}


@pytest.fixture(scope="module")
def parity_inputs():
    from ocrd_tesserocr_spark.corpus import hostile_pages, pages_records
    from tests.conftest import SF_SMOKE

    recs = pages_records(SF_SMOKE)
    return {
        "sf0.001": pages_batch(recs),
        "zero_rows": pages_batch([]),
        "hostile": pages_batch(hostile_pages()),
    }


@pytest.mark.parametrize("inputs", ["sf0.001", "zero_rows", "hostile"])
@pytest.mark.parametrize("config", sorted(_PARITY_CONFIGS))
def test_kernel_batch_equals_dict_path(parity_inputs, config, inputs):
    """The whole output batch — every level, id, offset, conf and style —
    equals the batch built from ``extract_document`` dicts with
    ``pa.array``, not just selected fields."""
    from ocrd_tesserocr_spark.kernel import make_extract_arrow_fn

    params = _PARITY_CONFIGS[config]
    rb = parity_inputs[inputs]
    got = list(make_extract_arrow_fn(params)(iter([rb])))
    assert len(got) == 1
    exp = dict_path_batch(rb, params)
    assert got[0].num_rows == rb.num_rows
    assert got[0].equals(exp)
