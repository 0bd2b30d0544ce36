"""Operator-layer tests: presets, dedup on planted near-dups, similarity
sanity, multimodal plumbing, CLI, sources."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# presets (facade rewrites, segment.py:17-24)
# ---------------------------------------------------------------------------
def test_segment_preset_is_layout_only(spark, pages_small):
    from ocrd_tesserocr_spark.pipeline import extract
    from ocrd_tesserocr_spark.plans import PRESETS

    rows = extract(spark, pages_small.limit(30), PRESETS["segment"], 2).collect()
    for r in rows:
        assert r["text"] is None
        for b in r["blocks"]:
            assert b["lines"] == [] and b["text"] == ""


def test_strict_main_is_subset_of_recognize(spark, pages_small):
    from ocrd_tesserocr_spark.pipeline import extract
    from ocrd_tesserocr_spark.plans import PRESETS

    sample = pages_small.limit(60)
    base = {r["url"]: r for r in extract(spark, sample, PRESETS["recognize"], 2).collect()}
    strict = extract(spark, sample, PRESETS["strict_main"], 2).collect()
    for r in strict:
        b_main = {b["block_id"] for b in r["blocks"] if b["is_main"]}
        base_main = {b["block_id"] for b in base[r["url"]]["blocks"] if b["is_main"]}
        assert b_main <= base_main


def test_sparse_preset_accepts_short_blocks(spark, pages_small):
    from ocrd_tesserocr_spark.pipeline import extract
    from ocrd_tesserocr_spark.plans import PRESETS

    sample = pages_small.limit(60)
    base = extract(spark, sample, PRESETS["recognize"], 2)
    sparse = extract(spark, sample, PRESETS["sparse"], 2)
    n_base = base.select(F.explode("blocks").alias("b")).where("b.is_main").count()
    n_sparse = sparse.select(F.explode("blocks").alias("b")).where("b.is_main").count()
    assert n_sparse >= n_base


# ---------------------------------------------------------------------------
# dedup finds planted duplicates
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """documents table with planted exact + near duplicates."""
    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    rows = base.to_dict("records")
    # exact dup of doc 0; near-dup of doc 1 (one word changed)
    d0 = dict(rows[0]);  d0["doc_id"] = 900001
    d1 = dict(rows[1]);  d1["doc_id"] = 900002
    w = d1["text"].split();  w[len(w) // 2] = "CHANGED";  d1["text"] = " ".join(w)
    rows += [d0, d1]
    out = str(tmp_path_factory.mktemp("planted"))
    pd.DataFrame(rows).to_parquet(out + "/documents.parquet")
    return out


def test_exact_dedup_finds_planted(spark, planted):
    from ocrd_tesserocr_spark.operators.dedup import q_exact_dedup

    res = q_exact_dedup(spark, planted).where("dup_count > 1").collect()
    assert len(res) == 1
    assert res[0]["dup_count"] == 2 and res[0]["keeper_doc_id"] == 0


def test_lsh_finds_planted_near_dup(spark, planted):
    from ocrd_tesserocr_spark.operators.dedup import q_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]) for r in q_lsh_pairs(spark, planted).collect()}
    assert (0, 900001) in pairs  # exact dup always collides
    assert (1, 900002) in pairs  # near dup shares >= 1 band


def test_simhash_close_for_near_dup(spark, planted):
    from ocrd_tesserocr_spark.operators.dedup import q_simhash

    sims = {r["doc_id"]: r["simhash"] for r in q_simhash(spark, planted).collect()}
    assert sims[0] == sims[900001]
    hamming = bin(sims[1] ^ sims[900002]).count("1")
    assert hamming <= 4  # one changed word flips few bits


def test_minhash_identical_for_exact_dup(spark, planted):
    from ocrd_tesserocr_spark.operators.dedup import q_minhash_signature

    sigs = {r["doc_id"]: r["minhash_sig"] for r in q_minhash_signature(spark, planted).collect()}
    assert sigs[0] == sigs[900001]


# ---------------------------------------------------------------------------
# shared word, k-gram and in-bucket pair builders
# ---------------------------------------------------------------------------
def test_word_ngram_and_pair_helpers_match_python(spark):
    """split_words/word_ngrams against Python's ' '-split k-grams (double,
    leading and trailing spaces, the empty text, n < k), ngram_starts
    against the trigram start positions, and dedup._bucket_pairs against
    itertools.combinations on sorted id arrays of sizes 0-6."""
    import itertools
    import random

    from ocrd_tesserocr_spark.functions import ngram_starts, split_words, word_ngrams
    from ocrd_tesserocr_spark.operators.dedup import _bucket_pairs

    ks = (1, 2, 3, 8)
    rng = random.Random(7)
    data = [
        (
            " ".join(rng.choice(("a", "bb", "ccc", "")) for _ in range(rng.randint(0, 12))),
            sorted(rng.sample(range(100), i % 7)),
        )
        for i in range(2000)
    ]
    df = spark.createDataFrame(data, "text string, ids array<int>")
    rows = df.select(
        "text",
        "ids",
        *[word_ngrams(split_words(F.col("text")), k).alias(f"g{k}") for k in ks],
        ngram_starts(F.length("text"), 3).alias("starts"),
        _bucket_pairs(
            F.col("ids"), lambda x, y: F.struct(x.alias("a"), y.alias("b"))
        ).alias("pairs"),
    ).collect()
    assert len(rows) == len(data)
    assert {len(t.split(" ")) for t, _ in data} >= set(range(1, 10))
    assert "" in {t for t, _ in data}
    for r in rows:
        ws = r["text"].split(" ")
        for k in ks:
            expect = [" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)]
            assert r[f"g{k}"] == expect, (r["text"], k)
        assert r["starts"] == list(range(1, len(r["text"]) - 1)), r["text"]
        assert [tuple(p) for p in r["pairs"]] == list(
            itertools.combinations(r["ids"], 2)
        ), r["ids"]


# ---------------------------------------------------------------------------
# similarity sanity: self-bucket recall, deterministic ranks
# ---------------------------------------------------------------------------
def test_cosine_topk_shape(spark):
    from ocrd_tesserocr_spark.operators.similarity import TOP_K, q_cosine_topk

    rows = q_cosine_topk(spark, SF_SMOKE).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0001 <= r["sim"] <= 1.0001
    assert all(len(v) == TOP_K for v in per_q.values())


def test_ann_bucketed_structure(spark):
    """Bucketed ANN: candidates come only from the query's sign-bucket,
    ranks are dense per query, sims non-increasing.  (The driver
    testdata's embeddings are unclustered random vectors, so recall-vs-
    brute-force is chance level by construction — correctness of the
    bucketing itself is what's assertable.)"""
    import numpy as np

    from ocrd_tesserocr_spark.operators.similarity import (
        BUCKET_DIMS,
        TOP_K,
        q_ann_bucketed,
    )

    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }

    def bucket(v):
        return "".join("1" if v[i] >= 0 else "0" for i in range(BUCKET_DIMS))

    per_q = {}
    for r in q_ann_bucketed(spark, SF_SMOKE).collect():
        per_q.setdefault(r["query_id"], []).append(r)
        assert bucket(emb[r["neighbor_id"]]) == bucket(emb[r["query_id"]])
        v1 = np.array(emb[r["query_id"]], dtype=float)
        v2 = np.array(emb[r["neighbor_id"]], dtype=float)
        expect = v1 @ v2 / (np.linalg.norm(v1) * np.linalg.norm(v2))
        assert abs(r["sim"] - round(expect, 4)) < 2e-4
    for rows in per_q.values():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= TOP_K
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------
def test_media_meta(spark, pages_small):
    from ocrd_tesserocr_spark.operators.multimodal import (
        MEDIA_DECODERS,
        decode_image_stub,
        media_meta,
    )

    # the media_meta oracle pins the stub's bytes for every decodable kind
    assert all(dec is decode_image_stub for dec in MEDIA_DECODERS.values())
    rows = media_meta(pages_small.limit(30)).collect()
    assert len(rows) == 30
    for r in rows:
        assert r["n_bytes"] > 0
        assert r["media_kind"] in ("text/html", "application/octet-stream")
        if r["sniff_ok"]:
            assert r["thumb"] is not None and len(r["thumb"]) == 16


def test_frame_sample_fanout(spark, pages_small):
    """Frame sampling is a 1->N batch-side fan-out: decodable payloads
    emit exactly N_SAMPLE_FRAMES deterministic rows with monotone
    timestamps; non-decodable payloads emit zero rows."""
    from ocrd_tesserocr_spark.operators.multimodal import (
        N_SAMPLE_FRAMES,
        frame_sample,
        sample_frame_stub,
    )

    sample = pages_small.limit(20)
    rows = frame_sample(sample).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    assert by_url, "html payloads are decodable via the thumbnail stand-in"
    for url, frames in by_url.items():
        assert len(frames) == N_SAMPLE_FRAMES
        frames.sort(key=lambda r: r["frame_idx"])
        ts = [r["ts_ms"] for r in frames]
        assert ts == sorted(ts) and ts[0] == 0
        payload = bytes(
            sample.where(F.col("url") == url).first()["html"]
        )
        assert bytes(frames[2]["frame"]) == sample_frame_stub(payload, 2)
    # determinism across runs (replay-safe)
    rows2 = frame_sample(sample).collect()
    assert sorted((r["url"], r["frame_idx"], bytes(r["frame"])) for r in rows2) == \
        sorted((r["url"], r["frame_idx"], bytes(r["frame"])) for r in rows)


def test_embed_media_matches_similarity_contract(spark, pages_small):
    """Feature-extract stub emits array<float> embeddings shaped for the
    similarity operators (same column type as the embeddings table)."""
    from ocrd_tesserocr_spark.operators.multimodal import EMBED_DIM, embed_media

    df = embed_media(pages_small.limit(10))
    assert dict(df.dtypes)["embedding"] == "array<float>"
    rows = df.collect()
    assert rows
    for r in rows:
        assert len(r["embedding"]) == EMBED_DIM
        assert all(0.0 <= v < 1.0 for v in r["embedding"])


# ---------------------------------------------------------------------------
# sources / feature filter
# ---------------------------------------------------------------------------
def test_read_pages_lang_filter_pushdown(spark, tmp_path):
    from ocrd_tesserocr_spark.corpus import pages_df
    from ocrd_tesserocr_spark.sources import read_pages

    path = str(tmp_path / "pages")
    pages_df(spark, SF_SMOKE).write.parquet(path)
    df = read_pages(spark, path, langs=["en"])
    assert df.count() > 0
    assert df.where("lang != 'en'").count() == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan


def test_filter_features(spark, pages_small):
    from ocrd_tesserocr_spark.pipeline import extract
    from ocrd_tesserocr_spark.sources import filter_features

    out = extract(spark, pages_small.limit(40), num_partitions=2)
    kept = filter_features(out, ["failed"])
    assert kept.where("failed").count() == 0


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------
def test_cli_list_presets(capsys):
    from ocrd_tesserocr_spark.cli import main

    assert main(["list-presets"]) == 0
    out = capsys.readouterr().out
    for name in ("recognize", "segment", "sparse", "strict_main"):
        assert name in out


def test_cli_rejects_unknown_preset_and_level_before_spark():
    """A misspelled --preset or --level is a usage error from argparse,
    before any Spark session starts."""
    import pytest

    from ocrd_tesserocr_spark.cli import main

    io = ["--input", "in", "--output", "out"]
    for argv in (
        ["extract", "--preset", "bogus", *io],
        ["recompute", "--preset", "bogus", "--committed", "c", *io],
        ["recompute", "--level", "wrod", "--committed", "c", *io],
        ["stream", "--preset", "bogus", "--checkpoint", "k", *io],
    ):
        with pytest.raises(SystemExit):
            main(argv)


def test_cli_list_presets_is_deterministic():
    """Set-valued params (``main_kinds``) print in sorted order, so the
    listing does not depend on the interpreter's string-hash seed."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = set()
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        outs.add(subprocess.run(
            [sys.executable, "-m", "ocrd_tesserocr_spark.cli", "list-presets"],
            cwd=repo, env=env, capture_output=True, text=True, check=True,
        ).stdout)
    assert len(outs) == 1
    assert '"main_kinds": ["caption", "floating", "heading", "paragraph", "table"]' in outs.pop()


def test_font_style_counts(spark, pages_small):
    """P7 analogue: article template wraps single words in <b>/<i>/<code>."""
    from pyspark.sql import functions as F

    from ocrd_tesserocr_spark.operators.fontshape import font_style_counts

    rows = font_style_counts(pages_small).collect()
    styled = [r for r in rows if r["n_bold"] + r["n_italic"] + r["n_monospace"] > 0]
    assert len(styled) > 10  # article template emits inline styles
    plan = font_style_counts(pages_small)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_near_dedup_verified_finds_planted(spark, planted):
    """Full pipeline: LSH candidates -> exact Jaccard verify -> keeper."""
    from ocrd_tesserocr_spark.operators.dedup import q_near_dedup_verified

    rows = q_near_dedup_verified(spark, planted).collect()
    pairs = {(r["keeper_doc_id"], r["dup_doc_id"]): r["jaccard"] for r in rows}
    assert pairs.get((0, 900001)) == 1.0  # exact dup
    near = pairs.get((1, 900002))
    assert near is not None and 0.6 <= near < 1.0  # one-word change


def test_cli_extract_end_to_end(tmp_path, pages_small, spark):
    """S6: the spark-submit entry runs a stage and reports counts.
    (Reuses the session via getOrCreate — the CLI builds the same way.)"""
    import json

    from ocrd_tesserocr_spark.cli import main

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "out")
    pages_small.limit(50).write.parquet(src)
    rc = main(["extract", "--preset", "extract", "--input", src,
               "--output", out, "--partitions", "2"])
    assert rc == 0
    from ocrd_tesserocr_spark.pipeline import read_extracted, read_manifest

    assert read_manifest(out)[0]["doc_count"] == 50


def test_cli_extract_reads_without_inference(tmp_path, pages_small, spark):
    """The CLI declares the input schema from the parquet footer: `extract`
    starts exactly the jobs of the stage itself, none for reading."""
    from ocrd_tesserocr_spark.cli import main
    from ocrd_tesserocr_spark.pipeline import run_stage
    from ocrd_tesserocr_spark.plans import EXTRACT
    from ocrd_tesserocr_spark.sources import read_parquet

    src = str(tmp_path / "pages_in")
    pages_small.limit(50).write.parquet(src)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    pages = read_parquet(spark, src)
    bare = jobs("cli-bare-stage", lambda: run_stage(
        spark, pages, str(tmp_path / "bare"), stage="extract", params=EXTRACT,
        num_partitions=2))
    cli = jobs("cli-extract", lambda: main([
        "extract", "--preset", "extract", "--input", src,
        "--output", str(tmp_path / "cli"), "--partitions", "2"]))
    assert cli == bare


def test_cli_stream_extract_end_to_end(tmp_path, pages_small, spark):
    """The `stream` subcommand (VERDICT r3 item 8): availableNow over a
    landed parquet directory runs the streaming kernel and commits an
    exactly-once parquet sink; re-running against the same checkpoint
    reprocesses nothing."""
    from ocrd_tesserocr_spark.cli import main

    src = str(tmp_path / "landing")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    pages_small.limit(30).write.parquet(src)
    rc = main(["stream", "--mode", "extract", "--input", src,
               "--output", out, "--checkpoint", ckpt])
    assert rc == 0
    extracted = spark.read.parquet(out)
    assert extracted.count() == 30 and "text" in extracted.columns
    # checkpoint makes a rerun a no-op (no new files landed)
    rc2 = main(["stream", "--mode", "extract", "--input", src,
                "--output", out, "--checkpoint", ckpt])
    assert rc2 == 0
    assert spark.read.parquet(out).count() == 30


def test_cli_stream_sessionize_starts_on_empty_landing_dir(tmp_path, spark):
    """A watcher's normal initial state is an empty landing directory:
    the sessionize mode must start from its explicit schema instead of
    crashing on batch-read schema inference (review finding)."""
    from ocrd_tesserocr_spark.cli import main

    src = tmp_path / "events_landing"
    src.mkdir()
    rc = main(["stream", "--mode", "sessionize", "--input", str(src),
               "--output", str(tmp_path / "out"),
               "--checkpoint", str(tmp_path / "ckpt")])
    assert rc == 0


def test_cli_stream_rejects_extract_params_for_stateful_modes(tmp_path):
    """--param/--rules silently ignored would mislead; stateful modes
    fail fast."""
    import pytest

    from ocrd_tesserocr_spark.cli import main

    with pytest.raises(SystemExit):
        main(["stream", "--mode", "dedup", "--param", "model=x",
              "--input", str(tmp_path), "--output", str(tmp_path / "o"),
              "--checkpoint", str(tmp_path / "c")])
    # --preset gets the same treatment: `--mode dedup --preset glyph`
    # running without complaint would imply the preset was honored
    with pytest.raises(SystemExit):
        main(["stream", "--mode", "dedup", "--preset", "glyph",
              "--input", str(tmp_path), "--output", str(tmp_path / "o"),
              "--checkpoint", str(tmp_path / "c")])


def test_hash_env_typo_fails_at_import():
    """SPARK_GRAFT_HASH routes through set_hash_impl's validator at
    import: a typo ('xxHash64') must raise, not silently run md5 while
    the operator believes the production hash is active."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-c", "import ocrd_tesserocr_spark.functions"],
        env={**os.environ, "SPARK_GRAFT_HASH": "xxHash64"},
        capture_output=True, text=True,
    )
    assert proc.returncode != 0 and "xxHash64" in proc.stderr
    ok = subprocess.run(
        [sys.executable, "-c",
         "from ocrd_tesserocr_spark import functions as fn; "
         "assert fn.HASH_IMPL == 'xxhash64'"],
        env={**os.environ, "SPARK_GRAFT_HASH": "xxhash64"},
        capture_output=True, text=True,
    )
    assert ok.returncode == 0, ok.stderr


def test_cli_param_and_rules_files(tmp_path, pages_small, spark):
    """--param K=V (repeatable) and --rules rules.json reach ExtractParams
    through the existing driver-side validation (VERDICT r2 item 8)."""
    import json

    import pytest

    from ocrd_tesserocr_spark.cli import apply_cli_params, main
    from ocrd_tesserocr_spark.plans import PRESETS

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "out_rules")
    pages_small.limit(30).write.parquet(src)
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps({
        "block_rules": [["kind=paragraph and link_density>0.5",
                         [["max_link_density", "1.0"]]]],
        "model_rules": [["kind=heading", "eng_best"]],
    }))
    rc = main([
        "extract", "--preset", "extract", "--input", src, "--output", out,
        "--partitions", "2", "--param", "min_paragraph_chars=5",
        "--param", "oem=1", "--rules", str(rules),
    ])
    assert rc == 0
    from ocrd_tesserocr_spark.pipeline import read_manifest

    assert read_manifest(out)[0]["doc_count"] == 30

    # the fold is visible on the params object itself
    p = apply_cli_params(
        PRESETS["extract"], ["min_paragraph_chars=5"], str(rules))
    assert ("min_paragraph_chars", "5") in p.extra
    assert p.model_rules == (("kind=heading", "eng_best"),)

    # malformed input fails fast, driver-side
    with pytest.raises(SystemExit):
        apply_cli_params(PRESETS["extract"], ["no-equals-sign"], None)
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"block_rules": [["kind ~~ junk", []]]}))
    with pytest.raises(ValueError):
        apply_cli_params(PRESETS["extract"], [], str(bad))
    bad2 = tmp_path / "bad2.json"
    bad2.write_text(json.dumps({"block_rules": [["n_chars>ten", []]]}))
    with pytest.raises(ValueError):
        apply_cli_params(PRESETS["extract"], [], str(bad2))


def test_connected_components_chain(spark):
    """Planted chain A-B, B-C, isolated D -> {A,B,C} one component, D alone."""
    from ocrd_tesserocr_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], ["doc_id"])
    edges = spark.createDataFrame([(2, 3), (1, 2)], ["doc_a", "doc_b"])
    comp = {r["doc_id"]: r["component_id"] for r in connected_components(nodes, edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4}


def test_connected_components_evaluates_edges_once(spark):
    """The edge DAG (= the md5-heavy LSH subtree in production) must be
    materialized exactly once, not re-executed per propagation iteration:
    an accumulator inside the edge source counts partition evaluations."""
    from pyspark.sql import types as T

    from ocrd_tesserocr_spark.operators.dedup import connected_components

    acc = spark.sparkContext.accumulator(0)

    def tag(it):
        for row in it:
            acc.add(1)
            yield row

    raw = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], ["doc_a", "doc_b"]
    ).coalesce(1)
    schema = T.StructType([
        T.StructField("doc_a", T.LongType()), T.StructField("doc_b", T.LongType())
    ])
    edges = spark.createDataFrame(raw.rdd.mapPartitions(tag), schema)
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    comp = {r["doc_id"]: r["component_id"]
            for r in connected_components(nodes, edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
    # chain 1-2-3-4 needs >1 iteration; rows seen must be exactly 2x the
    # edge count (the symmetrized union scans the source twice) — i.e. the
    # source was evaluated once, before the loop
    assert acc.value == 8


def test_cli_fontshape_and_recompute_surface(capsys):
    """Every reference CLI command has a mapped subcommand/preset
    (cli.py docstring table)."""
    from ocrd_tesserocr_spark.cli import build_parser
    from ocrd_tesserocr_spark.plans import PRESETS

    p = build_parser()
    cmds = {a.dest: a for a in p._subparsers._group_actions}
    sub = p._subparsers._group_actions[0].choices
    assert set(sub) == {
        "extract", "recompute", "fontshape", "list-presets", "lineage",
        "stream",
    }
    for preset in ("recognize", "segment", "segment_line", "segment_word",
                   "strict_main", "extract", "glyph", "sparse"):
        assert preset in PRESETS


def test_segment_level_presets_gate_emission():
    from ocrd_tesserocr_spark.oracle import extract_document
    from ocrd_tesserocr_spark.plans import SEGMENT_LINE, SEGMENT_WORD

    html = b"<html><body><p>alpha beta gamma delta epsilon</p></body></html>"
    line_out = extract_document(html, SEGMENT_LINE)
    b = line_out["blocks"][0]
    assert b["lines"] and b["lines"][0]["words"] == []
    word_out = extract_document(html, SEGMENT_WORD)
    assert word_out["blocks"][0]["lines"][0]["words"]


def test_embedding_near_dup_finds_planted(spark):
    """A planted duplicate vector must surface with sim ~1.0 and
    min-id keeper."""
    from pyspark.sql import functions as F

    from ocrd_tesserocr_spark.operators.similarity import embedding_near_dup

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    clone = base.where(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = embedding_near_dup(
        base.select("vec_id", "embedding").unionAll(clone), threshold=0.99
    ).collect()
    assert any(
        r["keeper_vec_id"] == 7 and r["dup_vec_id"] == 100007 and r["sim"] >= 0.999
        for r in out
    )


def test_hash_impl_toggle_swaps_to_xxhash64(spark):
    """The production hash toggle (SPARK_GRAFT_HASH / set_hash_impl):
    under 'xxhash64' every dispatched call site plans the JVM intrinsic
    (no md5 subtree), values stay in [0, p) via pmod, and operators run
    end-to-end; 'md5' (the DuckDB-parity default) is restored after."""
    import pytest
    from pyspark.sql import functions as F

    from ocrd_tesserocr_spark import functions as fn
    from ocrd_tesserocr_spark.operators.dedup import q_exact_dedup

    df = spark.createDataFrame([("alpha",), ("beta",)], "text string")
    try:
        fn.set_hash_impl("xxhash64")
        plan = df.select(fn.hash_long(F.col("text")))._jdf.queryExecution(
        ).executedPlan().toString()
        assert "xxhash64" in plan and "md5" not in plan
        rows = df.select(fn.hash_mod(F.col("text")).alias("h")).collect()
        assert all(0 <= r["h"] < fn.HASH_P for r in rows)
        # an operator built under the toggle plans the intrinsic too
        dedup_plan = q_exact_dedup(spark, SF_SMOKE)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "xxhash64" in dedup_plan and "md5" not in dedup_plan
    finally:
        fn.set_hash_impl("md5")
    plan_md5 = df.select(fn.hash_long(F.col("text")))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "md5" in plan_md5
    with pytest.raises(ValueError):
        fn.set_hash_impl("crc32")


def test_ann_ivf_kmeans_recall_beats_uninformative_probes(spark):
    """The fitted coarse quantizer must be informative: probing NPROBE=2
    of 8 k-means cells recovers well over the 2/8 = 0.25 of true top-k
    neighbors that uninformative (random) cells would (measured 0.56 on
    this deterministic corpus; pinned with margin for cross-run float
    summation order in the Lloyd means)."""
    from ocrd_tesserocr_spark.operators.similarity import (
        q_ann_ivf,
        q_cosine_topk,
    )

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in q_cosine_topk(spark, SF_SMOKE).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in q_ann_ivf(spark, SF_SMOKE).collect()
    }
    assert len(truth & ivf) / len(truth) >= 0.45


def test_embedding_near_dup_caps_hot_bucket(spark):
    """The per-bucket cap (HOT_BAND_CAP twin): a bucket hotter than
    ``bucket_cap`` contributes only C(cap, 2) pairs — the cap keeps the
    deterministic lowest vec_ids, so pair generation is O(vectors * cap)
    at any skew instead of O(n^2/buckets)."""
    from ocrd_tesserocr_spark.operators.similarity import embedding_near_dup

    # 10 vectors, ALL in one sign bucket (leading dims positive)
    rows = [(i, [1.0, 1.0, 1.0, 1.0, float(i % 3)]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dup(emb, threshold=-1.0, bucket_cap=4).collect()
    # exactly C(4,2)=6 pairs, only among the 4 lowest ids
    assert len(out) == 6
    ids = {r["keeper_vec_id"] for r in out} | {r["dup_vec_id"] for r in out}
    assert ids == {0, 1, 2, 3}


def test_embedding_near_dup_plan_caps_before_shuffle(spark):
    """Scale guard: the cap literal survives into the physical plan, the
    join is the bucket equi-join (never a cross join), and — the skew
    armor — Spark's WindowGroupLimit applies the row_number cap PARTIALLY
    on the map side, so a hot bucket ships at most cap rows per input
    partition through the exchange instead of its full population."""
    from ocrd_tesserocr_spark.operators.similarity import q_embedding_near_dup

    plan = q_embedding_near_dup(spark, SF_SMOKE)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "row_number" in plan and "128" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_host_skew_profiles_the_salting_target(spark):
    """host_skew (text.py T6) is the query-level face of the pipeline's
    salted repartitioning: it must reproduce corpus.host_for's counts
    exactly and assign the Zipf-head host a larger salt fan-out than any
    uniform host."""
    import collections

    from ocrd_tesserocr_spark.corpus import host_for
    from ocrd_tesserocr_spark.operators.text import q_host_skew

    rows = {r["host"]: r for r in q_host_skew(spark, SF_SMOKE).collect()}
    doc_ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    truth = collections.Counter(host_for(d) for d in doc_ids)
    assert set(rows) == set(truth)
    for h, c in truth.items():
        assert rows[h]["n_docs"] == c
    total = sum(truth.values())
    big = rows["big.example.com"]
    assert abs(big["share"] - truth["big.example.com"] / total) < 1e-6
    assert abs(sum(r["share"] for r in rows.values()) - 1.0) < 1e-4
    assert all(r["salt_buckets"] >= 1 for r in rows.values())
    assert all(
        big["salt_buckets"] > r["salt_buckets"]
        for h, r in rows.items()
        if h != "big.example.com"
    )


def test_dup_span_coverage_planted(spark, planted):
    """dup_span_coverage (dedup.py D7): an exact-dup pair must show full
    duplicated-shingle coverage on both members; the near-dup pair high
    but partial coverage; every doc gets a row with a ratio in [0, 1]."""
    from ocrd_tesserocr_spark.operators.dedup import q_dup_span_coverage

    rows = {r["doc_id"]: r for r in q_dup_span_coverage(spark, planted).collect()}
    n_docs = spark.read.parquet(f"{planted}/documents.parquet").count()
    assert len(rows) == n_docs
    # exact pair: every shingle of each member also occurs in the other
    assert rows[0]["dup_ratio"] == 1.0 and rows[900001]["dup_ratio"] == 1.0
    # near-dup: one changed word breaks at most 3 trigram shingles per side
    near = rows[900002]
    assert near["n_shingles"] > 0
    assert 0.5 < near["dup_ratio"] < 1.0
    assert all(0.0 <= r["dup_ratio"] <= 1.0 for r in rows.values())
    assert all(r["n_dup_shingles"] <= r["n_shingles"] for r in rows.values())


def test_paragraph_dedup_matches_python_recompute(spark, planted):
    """paragraph_dedup (dedup.py D8): exact agreement with a pure-Python
    first-occurrence recompute over the planted corpus — segmentation
    grid, keeper choice (lexicographic (doc_id, pos) min), counts, and
    the reassembled deduplicated text; the planted exact copy must lose
    every segment to its lower-doc_id original."""
    from ocrd_tesserocr_spark.operators.dedup import _PARA_W, q_paragraph_dedup

    docs = pd.read_parquet(planted + "/documents.parquet")
    first: dict[str, tuple[int, int]] = {}
    segs_by_doc: dict[int, list[str]] = {}
    for r in docs.sort_values("doc_id").itertuples():
        words = r.text.split(" ")
        n = (len(words) + _PARA_W - 1) // _PARA_W
        segs = [
            " ".join(words[i * _PARA_W : (i + 1) * _PARA_W]) for i in range(n)
        ]
        segs_by_doc[r.doc_id] = segs
        for pos, s in enumerate(segs):
            first.setdefault(s, (r.doc_id, pos))
    rows = {r["doc_id"]: r for r in q_paragraph_dedup(spark, planted).collect()}
    assert set(rows) == set(segs_by_doc)
    for doc_id, segs in segs_by_doc.items():
        kept = [
            s for pos, s in enumerate(segs) if first[s] == (doc_id, pos)
        ]
        got = rows[doc_id]
        assert got["n_segments"] == len(segs)
        assert got["n_kept"] == len(kept)
        assert got["dedup_text"] == " ".join(kept)
        assert got["dup_ratio"] == round(
            (len(segs) - len(kept)) / len(segs), 6
        )
    # the exact copy of doc 0 arrives second: zero kept segments
    assert rows[900001]["n_kept"] == 0
    assert rows[900001]["dup_ratio"] == 1.0
    assert rows[900001]["dedup_text"] == ""


def test_winnow_fingerprints_matches_python_recompute(spark, planted):
    """winnow_fingerprints (dedup.py D9): exact agreement with a
    pure-Python winnowing recompute (3-word shingle md5 hashes, window-4
    minima, sorted distinct), plus the MOSS overlap guarantee on the
    planted exact copy: identical documents share identical sketches."""
    import hashlib

    from ocrd_tesserocr_spark.operators.dedup import (
        HASH_P,
        _WINNOW_W,
        q_winnow_fingerprints,
    )

    def shingle_hashes(text):
        w = text.split(" ")
        return [
            int(
                hashlib.md5(" ".join(w[i : i + 3]).encode()).hexdigest()[:15],
                16,
            )
            % HASH_P
            for i in range(len(w) - 2)
        ]

    def winnow(hs):
        if not hs:
            return []
        upper = max(len(hs) - _WINNOW_W + 1, 1)
        return sorted({min(hs[i : i + _WINNOW_W]) for i in range(upper)})

    docs = {
        d["doc_id"]: d["text"]
        for d in spark.read.parquet(f"{planted}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    rows = {
        r["doc_id"]: r for r in q_winnow_fingerprints(spark, planted).collect()
    }
    assert set(rows) == set(docs)
    for did, text in docs.items():
        hs = shingle_hashes(text)
        r = rows[did]
        assert r["n_shingles"] == len(hs), did
        # sketch ships as a '-'-joined string (driver-canonicalizer-safe)
        assert r["fingerprints"] == "-".join(str(h) for h in winnow(hs)), did
        assert r["n_fingerprints"] == len(winnow(hs)), did
        # winnowing density: expected 2/(W+1), loosely bounded
        if len(hs) > 2 * _WINNOW_W:
            assert r["n_fingerprints"] <= max(len(hs) - _WINNOW_W + 1, 1)
    # exact copy shares the exact sketch (MOSS guarantee, trivially)
    assert rows[0]["fingerprints"] == rows[900001]["fingerprints"]


def test_gopher_rules_planted_violations(spark, tmp_path):
    """gopher_rules (text.py T13): each rule must fire on a document
    planted to violate exactly it, the composite verdict must be the AND
    of the flags, and every numeric column must agree with a pure-Python
    recompute."""
    from ocrd_tesserocr_spark.operators.text import (
        _GOPHER_MIN_ALPHA_FRAC,
        _GOPHER_MIN_MEAN_LEN,
        _GOPHER_MIN_STOPWORDS,
        _GOPHER_MIN_WORDS,
        _STOPWORDS,
        q_gopher_rules,
    )

    rows = [
        # 1: healthy doc — passes everything
        (1, "the quick brown fox jumps over a lazy dog and then runs "
            "far away to the old barn gate", "en", "web"),
        # 2: too short (also too few stopwords)
        (2, "tiny doc here", "en", "web"),
        # 3: mean word length over 10
        (3, " ".join(["pneumonoultramicroscopic"] * 20), "en", "web"),
        # 4: numeric tokens — alpha fraction 0 and mean length under 3
        (4, " ".join(str(i) for i in range(30)), "en", "web"),
        # 5: long and alphabetic but only one distinct stopword
        (5, "the " + " ".join(["word"] * 30), "en", "web"),
    ]
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source"]
    )
    df["n_chars"] = df["text"].str.len()
    out = str(tmp_path / "gopher")
    os.makedirs(out)
    df.to_parquet(out + "/documents.parquet")

    got = {r["doc_id"]: r for r in q_gopher_rules(spark, out).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    for doc_id, text, _, _ in rows:
        words = text.split(" ")
        n = len(words)
        mean_len = sum(len(w) for w in words) / max(n, 1)
        alpha = sum(1 for w in words if any(c.isalpha() for c in w)) / max(
            n, 1
        )
        n_stop = len({w for w in words if w in _STOPWORDS})
        r = got[doc_id]
        assert r["n_words"] == n
        assert abs(r["mean_word_len"] - mean_len) < 1e-6
        assert abs(r["alpha_frac"] - alpha) < 1e-6
        assert r["n_distinct_stopwords"] == n_stop
        assert r["rule_word_count"] == (n >= _GOPHER_MIN_WORDS)
        assert r["rule_mean_len"] == (
            _GOPHER_MIN_MEAN_LEN <= mean_len <= 10.0
        )
        assert r["rule_alpha"] == (alpha >= _GOPHER_MIN_ALPHA_FRAC)
        assert r["rule_stopwords"] == (n_stop >= _GOPHER_MIN_STOPWORDS)
        assert r["pass_gopher"] == (
            r["rule_word_count"]
            and r["rule_mean_len"]
            and r["rule_alpha"]
            and r["rule_stopwords"]
        )
    assert got[1]["pass_gopher"]
    assert not got[2]["rule_word_count"]
    assert not got[3]["rule_mean_len"]
    assert not got[4]["rule_alpha"] and not got[4]["rule_mean_len"]
    assert got[5]["rule_word_count"] and not got[5]["rule_stopwords"]


def test_char_stats_matches_python_recompute(spark, tmp_path):
    """char_stats (text.py T14): class fractions and Shannon character
    entropy must agree with a pure-Python recompute, including the
    low-entropy repeated-char and all-digit planted cases."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from ocrd_tesserocr_spark.operators.text import q_char_stats

    def r6(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    rows = [
        (1, "the quick brown fox jumps over a lazy dog", "en", "web"),
        (2, "aaaaaaaaaaaaaaaaaaaa", "en", "web"),  # single char: entropy 0
        (3, "0123456789 0123456789", "en", "web"),  # digit-heavy
        (4, "mixed CASE text with 42 numbers!", "en", "web"),
    ]
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    df["n_chars"] = df["text"].str.len()
    out = str(tmp_path / "chars")
    os.makedirs(out)
    df.to_parquet(out + "/documents.parquet")

    got = {r["doc_id"]: r for r in q_char_stats(spark, out).collect()}
    for doc_id, text, _, _ in rows:
        n = len(text)
        uniq = sorted(set(text))
        counts = [text.count(c) for c in uniq]
        ssum = 0.0
        for cnt in counts:
            ssum += cnt * math.log(float(cnt))
        ent = math.log(float(n)) - ssum / n
        r = got[doc_id]
        assert r["n_chars_total"] == n
        assert r["n_distinct_chars"] == len(uniq)
        assert r["frac_alpha"] == r6(
            sum(1 for c in text if c.isascii() and c.isalpha()) / n
        )
        assert r["frac_digit"] == r6(sum(1 for c in text if c.isdigit()) / n)
        assert r["frac_space"] == r6(text.count(" ") / n)
        assert abs(r["char_entropy"] - ent) < 1e-6, doc_id
    assert got[2]["char_entropy"] == 0.0
    assert got[3]["frac_digit"] > 0.9
    assert got[2]["n_distinct_chars"] == 1


def test_length_quantiles_matches_python_recompute(spark):
    """length_quantiles (text.py T15): counts, mean, and interpolated
    percentiles per language must agree with a pure-Python recompute
    (numpy linear interpolation = Spark percentile = DuckDB
    quantile_cont semantics)."""
    import numpy as np

    from ocrd_tesserocr_spark.operators.text import q_length_quantiles

    by_lang: dict[str, list[int]] = {}
    for d in (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("lang", "n_chars")
        .collect()
    ):
        by_lang.setdefault(d["lang"], []).append(d["n_chars"])
    rows = {r["lang"]: r for r in q_length_quantiles(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_lang)
    for lang, vals in by_lang.items():
        arr = np.array(sorted(vals), dtype=float)
        r = rows[lang]
        assert r["n_docs"] == len(vals)
        assert r["min_chars"] == min(vals) and r["max_chars"] == max(vals)
        assert abs(r["mean_chars"] - sum(vals) / len(vals)) < 1e-6
        for p, col in ((25, "p25_chars"), (50, "p50_chars"), (90, "p90_chars")):
            assert abs(r[col] - float(np.percentile(arr, p))) < 1e-6, (
                lang,
                col,
            )


def test_url_canonicalize_hand_checked(spark):
    """canonicalize_url (urls.py): hand-checked forms, including a
    non-default port that must survive and tracking-only queries that
    must drop their '?'."""
    from ocrd_tesserocr_spark.operators.urls import (
        canonicalize_url,
        n_stripped_params,
    )

    cases = [
        ("HTTP://EXAMPLE.COM:80/a?x=1&utm_source=s#f", "http://example.com/a?x=1", 1),
        ("https://Example.com:443/p/q?utm_a=1&utm_b=2", "https://example.com/p/q", 2),
        ("https://example.com:8443/a", "https://example.com:8443/a", 0),
        ("http://example.com:443/a", "http://example.com:443/a", 0),
        ("https://example.com/a?gclid=z&fbclid=y&id=3", "https://example.com/a?id=3", 2),
        ("https://example.com/plain", "https://example.com/plain", 0),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], ["url"])
    rows = df.select(
        "url",
        canonicalize_url(F.col("url")).alias("canon"),
        n_stripped_params(F.col("url")).alias("n"),
    ).collect()
    got = {r["url"]: (r["canon"], r["n"]) for r in rows}
    for url, want_canon, want_n in cases:
        assert got[url] == (want_canon, want_n), url


def test_url_canonicalize_query_shape(spark):
    """The query face: every doc gets a row; canonical urls are lowercase
    scheme/host with no :443, no fragment, no tracking params."""
    from ocrd_tesserocr_spark.operators.urls import q_url_canonicalize

    rows = q_url_canonicalize(spark, SF_SMOKE).collect()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        assert r["canon_url"].startswith("https://")
        assert ":443" not in r["canon_url"] and "#" not in r["canon_url"]
        assert "utm_" not in r["canon_url"] and "gclid" not in r["canon_url"]
        if r["doc_id"] % 3 in (0, 1):
            assert r["n_stripped_params"] >= 1
            assert "?id=" in r["canon_url"]


def test_pii_scan_finds_planted(spark):
    """pii_scan (text.py T7): every planted email/IPv4/phone doc is
    flagged, and the corpus is not all-PII (the plant is 1-in-k)."""
    from ocrd_tesserocr_spark.operators.text import q_pii_scan

    rows = {r["doc_id"]: r for r in q_pii_scan(spark, SF_SMOKE).collect()}
    assert rows, "empty result"
    for did, r in rows.items():
        if did % 5 == 0:
            assert r["n_emails"] >= 1, did
        if did % 7 == 0:
            assert r["n_ipv4"] >= 1, did
        if did % 11 == 0:
            assert r["n_phones"] >= 1, did
        assert r["has_pii"] == (
            (r["n_emails"] + r["n_ipv4"] + r["n_phones"]) > 0
        )
    assert any(not r["has_pii"] for r in rows.values())


def test_repetition_stats_matches_python_recompute(spark):
    """repetition_stats (text.py T8): exact agreement with a pure-Python
    recompute (same tie-break: max count, then lexicographically smallest
    bigram) on a sample, plus range invariants corpus-wide."""
    import collections
    from decimal import ROUND_HALF_UP, Decimal

    from ocrd_tesserocr_spark.operators.text import q_repetition_stats

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    rows = {r["doc_id"]: r for r in q_repetition_stats(spark, SF_SMOKE).collect()}
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    assert len(rows) == len(docs)
    for d in docs[:25]:
        ws = d["text"].split(" ")
        bgs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        tgs = [f"{a} {b} {c}" for a, b, c in zip(ws, ws[1:], ws[2:])]
        got = rows[d["doc_id"]]
        if bgs:
            cnt = collections.Counter(bgs)
            top = min(cnt, key=lambda g: (-cnt[g], g))
            assert got["top_bigram"] == top
            assert got["top_bigram_count"] == cnt[top]
            assert got["top_bigram_char_frac"] == r6(
                cnt[top] * len(top) / len(d["text"])
            )
        else:
            assert got["top_bigram"] == "" and got["top_bigram_count"] == 0
        if tgs:
            assert got["dup_trigram_frac"] == r6(
                (len(tgs) - len(set(tgs))) / len(tgs)
            )
    assert all(
        0.0 <= r["dup_trigram_frac"] <= 1.0 and r["top_bigram_char_frac"] >= 0.0
        for r in rows.values()
    )


def test_decontaminate_matches_python_recompute(spark):
    """decontaminate (text.py T9): exact agreement with a pure-Python
    recompute of the 8-gram eval-overlap check, and the stand-in eval
    docs (doc_id % 50 == 0) must self-flag at contamination 1.0."""
    from decimal import ROUND_HALF_UP, Decimal

    from ocrd_tesserocr_spark.operators.text import q_decontaminate

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def shingles(text):
        ws = text.split(" ")
        return {
            " ".join(ws[i : i + 8]) for i in range(len(ws) - 7)
        } if len(ws) >= 8 else set()

    rows = {r["doc_id"]: r for r in q_decontaminate(spark, SF_SMOKE).collect()}
    docs = {
        d["doc_id"]: d["text"]
        for d in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    assert len(rows) == len(docs)
    eval_set = set()
    for did, text in docs.items():
        if did % 50 == 0:
            eval_set |= shingles(text)
    assert eval_set, "eval stand-in set must be non-empty"
    for did, text in docs.items():
        ds = shingles(text)
        got = rows[did]
        hits = len(ds & eval_set)
        assert got["n_shingles"] == len(ds), did
        assert got["n_contaminated"] == hits, did
        assert got["contamination_frac"] == (
            r6(hits / len(ds)) if ds else 0.0
        ), did
        assert got["contaminated"] == (hits > 0), did
        if did % 50 == 0 and ds:
            assert got["contamination_frac"] == 1.0
    # the stand-in benchmark must not trivially contaminate everything
    assert any(not r["contaminated"] for r in rows.values())


def test_anchor_texts_matches_python_recompute(spark):
    """anchor_texts (linkgraph.py): exact agreement with a pure-Python
    re.findall recompute of the per-target rollup (total anchors,
    distinct linking pages, dominant label with (count DESC, anchor ASC)
    tie-break), cap semantics included."""
    import collections
    import re

    from ocrd_tesserocr_spark.corpus import pages_records
    from ocrd_tesserocr_spark.operators.linkgraph import (
        ANCHOR_CAP,
        ANCHOR_RE,
        q_anchor_texts,
    )

    rows = {r["href"]: r for r in q_anchor_texts(spark, SF_SMOKE).collect()}
    totals: collections.Counter = collections.Counter()
    per_label: collections.Counter = collections.Counter()
    pages_of: dict[str, set] = collections.defaultdict(set)
    n_pages_with_anchors = 0
    for rec in pages_records(SF_SMOKE):
        html = bytes(rec["html"]).decode("utf-8", errors="replace")
        pairs = re.findall(ANCHOR_RE, html)[:ANCHOR_CAP]
        if pairs:
            n_pages_with_anchors += 1
        for href, anchor in pairs:
            totals[href] += 1
            per_label[(href, anchor)] += 1
            pages_of[href].add(rec["url"])
    assert n_pages_with_anchors > 0, "corpus must contain anchors"
    assert set(rows) == set(totals)
    for href, n in totals.items():
        got = rows[href]
        assert got["n_anchors"] == n, href
        assert got["n_pages"] == len(pages_of[href]), href
        labels = {a: c for (h, a), c in per_label.items() if h == href}
        top = min(labels, key=lambda a: (-labels[a], a))
        assert got["top_anchor"] == top, href
        assert got["top_anchor_count"] == labels[top], href


def test_lm_score_matches_python_recompute(spark):
    """lm_score (text.py T10): exact agreement with a pure-Python
    recompute of the char-trigram LM fit (10% slice, support >= 5,
    1/total OOV floor), the per-doc average negative log-probability,
    and the CCNet head/middle/tail tertile bucketing with cutoffs
    estimated on the sample slice."""
    import collections
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from ocrd_tesserocr_spark.operators.text import (
        _LM_DOC_CAP,
        _LM_FIT_MOD,
        _LM_MIN_COUNT,
        q_lm_score,
    )

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def trigrams(text):
        s = text[:_LM_DOC_CAP]
        return [s[i : i + 3] for i in range(len(s) - 2)] if len(s) >= 3 else []

    docs = {
        d["doc_id"]: d["text"]
        for d in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    fit = collections.Counter()
    for did, text in docs.items():
        if did % _LM_FIT_MOD == 0:
            fit.update(trigrams(text))
    total = float(sum(fit.values()))
    model = {t: c for t, c in fit.items() if c >= _LM_MIN_COUNT}
    assert model and total > 0

    def score(text):
        ts = trigrams(text)
        if not ts:
            return 0.0
        return r6(sum(-math.log(model.get(t, 1) / total) for t in ts) / len(ts))

    sample = sorted(
        (score(t), d)
        for d, t in docs.items()
        if d % _LM_FIT_MOD == 0 and trigrams(t)
    )
    n = len(sample)
    c1 = sample[math.ceil(n / 3.0) - 1][0]
    c2 = sample[math.ceil(n * 2 / 3.0) - 1][0]

    rows = {r["doc_id"]: r for r in q_lm_score(spark, SF_SMOKE).collect()}
    assert len(rows) == len(docs)
    buckets = collections.Counter()
    for did, text in docs.items():
        ts = trigrams(text)
        got = rows[did]
        assert got["n_trigrams"] == len(ts), did
        assert got["n_oov"] == sum(1 for t in ts if t not in model), did
        s = score(text)
        assert abs(got["avg_neg_logp"] - s) <= 1e-6, did
        if not ts:
            exp = "tail"
        elif s <= c1:
            exp = "head"
        elif s <= c2:
            exp = "middle"
        else:
            exp = "tail"
        assert got["lm_bucket"] == exp, did
        assert got["lm_keep"] == (exp != "tail"), did
        buckets[exp] += 1
    # tertile cutoffs must split the corpus into three populated buckets
    assert all(buckets[b] > 0 for b in ("head", "middle", "tail")), buckets


def test_mix_weights_matches_python_recompute(spark):
    """mix_weights (text.py T11): exact agreement with a pure-Python
    recompute of the T=2 temperature rates (sqrt(n_min/n_l), smallest
    language kept whole) and the deterministic md5 sampling draw."""
    import collections
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from ocrd_tesserocr_spark.operators.text import _MIX_MOD, q_mix_weights

    langs = {
        d["doc_id"]: d["lang"]
        for d in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    counts = collections.Counter(langs.values())
    n_min = min(counts.values())

    def draw(doc_id):
        h = int(hashlib.md5(f"mix|{doc_id}".encode()).hexdigest()[:15], 16)
        return (h % _MIX_MOD) / float(_MIX_MOD)

    rows = {r["doc_id"]: r for r in q_mix_weights(spark, SF_SMOKE).collect()}
    assert len(rows) == len(langs)
    kept = collections.Counter()
    for did, lang in langs.items():
        got = rows[did]
        rate = math.sqrt(n_min / counts[lang])
        assert got["lang"] == lang and got["n_docs_lang"] == counts[lang], did
        exp_rate = float(
            Decimal(repr(rate)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )
        assert abs(got["sample_rate"] - exp_rate) <= 1e-9, did
        assert got["keep"] == (draw(did) < rate), did
        kept[lang] += got["keep"]
    # the smallest language is kept whole (rate exactly 1.0: every
    # hash fraction < 1.0), and the expected kept count per language
    # is sqrt(n_min * n_l) -- check within 5 sigma of the binomial
    smallest = min(counts, key=lambda l: (counts[l], l))
    assert kept[smallest] == counts[smallest]
    for lang, n in counts.items():
        exp = math.sqrt(n_min * n)
        sigma = math.sqrt(max(exp * (1 - math.sqrt(n_min / n)), 1.0))
        assert abs(kept[lang] - exp) <= 5 * sigma, (lang, kept[lang], exp)


def test_pack_sequences_matches_python_recompute(spark):
    """pack_sequences (text.py T12): exact agreement with a pure-Python
    recompute of the bucket-local concat-then-chunk layout (md5 bucket
    assignment, doc_id-ordered cumulative token count, SEQ_LEN chunk
    grid), plus layout invariants: within a bucket the token stream is
    gapless and every doc's span arithmetic is consistent."""
    import collections
    import hashlib

    from ocrd_tesserocr_spark.operators.text import (
        _PACK_BUCKETS,
        _PACK_SEQ_LEN,
        q_pack_sequences,
    )

    docs = {
        d["doc_id"]: len(d["text"].split(" "))
        for d in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }

    def bucket(doc_id):
        h = int(hashlib.md5(f"pack|{doc_id}".encode()).hexdigest()[:15], 16)
        return h % _PACK_BUCKETS

    streams = collections.defaultdict(list)
    for did in sorted(docs):
        streams[bucket(did)].append(did)
    expected = {}
    for b, dids in streams.items():
        cum = 0
        for did in dids:
            n = docs[did]
            start = cum
            cum += n
            expected[did] = (
                b,
                n,
                start // _PACK_SEQ_LEN,
                start % _PACK_SEQ_LEN,
                (cum - 1) // _PACK_SEQ_LEN - start // _PACK_SEQ_LEN + 1,
            )

    rows = {r["doc_id"]: r for r in q_pack_sequences(spark, SF_SMOKE).collect()}
    assert len(rows) == len(docs)
    assert len(streams) == _PACK_BUCKETS  # every bucket populated at sf0.001
    for did, (b, n, seq_i, off, spanned) in expected.items():
        got = rows[did]
        assert (
            got["bucket"],
            got["n_tokens"],
            got["seq_index"],
            got["seq_offset"],
            got["n_seqs_spanned"],
        ) == (b, n, seq_i, off, spanned), did
    # gaplessness: per bucket, total tokens == last doc's end position
    for b, dids in streams.items():
        total = sum(docs[d] for d in dids)
        last = rows[dids[-1]]
        assert (
            last["seq_index"] * _PACK_SEQ_LEN + last["seq_offset"]
            + last["n_tokens"] == total
        )
