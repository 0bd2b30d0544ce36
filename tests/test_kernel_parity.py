"""Spark pipeline output must be byte-identical to the pure-Python oracle
per url over the whole synthetic corpus — the processor round-trip check
(north rule; reference analogue: /root/reference/test/test_recognize.py)."""

from __future__ import annotations

import pytest

from ocrd_tesserocr_spark.pipeline import extract


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
    rows2 = extract(spark, pages_small, num_partitions=13, salt=7).collect()
    assert len(rows2) == len(extracted_rows)
    for r in rows2:
        assert extracted_rows[r["url"]]["text"] == r["text"]


def test_glyph_preset_round_trip(spark, pages_small):
    """textequiv_level='glyph' crosses the Arrow boundary byte-identically:
    glyph ids/spans/choices match the pure-Python oracle per url."""
    from ocrd_tesserocr_spark.corpus import pages_records
    from ocrd_tesserocr_spark.oracle import extract_document
    from ocrd_tesserocr_spark.plans import GLYPH

    # full corpus is covered at word level above; glyph parity checks a
    # deterministic sample to keep the nested-struct comparison bounded
    recs = pages_records("/root/testdata/sf0.001")[:60]
    import pyarrow as pa

    from ocrd_tesserocr_spark.kernel import make_extract_arrow_fn

    rb = pa.RecordBatch.from_pydict(
        {"url": [r["url"] for r in recs], "html": [r["html"] for r in recs]}
    )
    [got] = list(make_extract_arrow_fn(GLYPH)(iter([rb])))
    html_by_url = {r["url"]: r["html"] for r in recs}
    for row in got.to_pylist():
        exp = extract_document(html_by_url[row["url"]], GLYPH)
        for gb, eb in zip(row["blocks"], exp["blocks"]):
            for gl, el in zip(gb["lines"], eb["lines"]):
                for gw, ew in zip(gl["words"], el["words"]):
                    assert [g["text"] for g in gw["glyphs"]] == [
                        g["text"] for g in ew["glyphs"]
                    ]
                    assert [
                        [(c["text"], c["conf"]) for c in g["choices"]]
                        for g in gw["glyphs"]
                    ] == [
                        [(c["text"], c["conf"]) for c in g["choices"]]
                        for g in ew["glyphs"]
                    ]


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
