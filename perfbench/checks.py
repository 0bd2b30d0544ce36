"""Output checks: canonical digests of committed snapshots and of the
pure-Python oracle over the same pages, and the DuckDB twin comparison
for operator queries.

A digest is a sha256 over named streams, each fed in url order:
strings as (length, utf-8 bytes) with length -1 for null, integers as
little-endian int64.  Both sides feed the same streams, so equal digests
mean equal (url, text, spans) sets whatever the row order of the files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


class StreamDigest:
    """Named sha256 streams combined into one hex digest."""

    def __init__(self):
        self._h: dict[str, "hashlib._Hash"] = {}

    def _stream(self, name: str):
        if name not in self._h:
            self._h[name] = hashlib.sha256()
        return self._h[name]

    def ints(self, name: str, values) -> None:
        a = np.asarray(values, dtype="<i8")
        self._stream(name).update(a.tobytes())

    def strings(self, name: str, values) -> None:
        enc = [None if v is None else v.encode("utf-8") for v in values]
        self.ints(name + ".len", [-1 if b is None else len(b) for b in enc])
        self._stream(name + ".bytes").update(b"".join(b for b in enc if b is not None))

    def hexdigest(self) -> str:
        top = hashlib.sha256()
        for name in sorted(self._h):
            top.update(name.encode() + b"=" + self._h[name].hexdigest().encode() + b";")
        return top.hexdigest()


# ---------------------------------------------------------------------------
# block level (extract_stage)
# ---------------------------------------------------------------------------


def feed_blocks(d: StreamDigest, urls, texts, blocks) -> None:
    """Feed docs in the given order: url, text and each block's
    (block_id, kind, char_start, char_end).  ``blocks`` is a list per doc
    of dicts."""
    d.strings("url", urls)
    d.strings("text", texts)
    d.ints("n_blocks", [len(bs) for bs in blocks])
    flat = [b for bs in blocks for b in bs]
    d.strings("block_id", [b["block_id"] for b in flat])
    d.strings("kind", [b["kind"] for b in flat])
    d.ints("char_start", [b["char_start"] for b in flat])
    d.ints("char_end", [b["char_end"] for b in flat])


def _sorted_snapshot(path: str, columns: list[str]) -> pa.Table:
    t = pq.read_table(path, columns=columns)
    return t.take(pc.sort_indices(t, sort_keys=[("url", "ascending")]))


def snapshot_block_digest(snapshot_path: str) -> dict:
    """Digest, doc count and failure count of one committed snapshot."""
    t = _sorted_snapshot(snapshot_path, ["url", "text", "blocks", "failed"])
    d = StreamDigest()
    blocks = pc.list_flatten(t.column("blocks"))
    lens = pc.list_value_length(t.column("blocks")).fill_null(0)
    d.strings("url", t.column("url").to_pylist())
    d.strings("text", t.column("text").to_pylist())
    d.ints("n_blocks", lens.to_numpy())
    d.strings("block_id", pc.struct_field(blocks, "block_id").to_pylist())
    d.strings("kind", pc.struct_field(blocks, "kind").to_pylist())
    d.ints("char_start", pc.struct_field(blocks, "char_start").to_numpy())
    d.ints("char_end", pc.struct_field(blocks, "char_end").to_numpy())
    failed = int(pc.sum(t.column("failed").cast(pa.int64())).as_py() or 0)
    return {"digest": d.hexdigest(), "docs": t.num_rows, "failed": failed}


def oracle_chunk(level: str, htmls: list) -> list[dict]:
    """Pool task: the oracle's records for a chunk of payloads, trimmed to
    what the digests read."""
    import dataclasses

    from ocrd_tesserocr_spark.oracle import DEFAULT_PARAMS, extract_document

    params = dataclasses.replace(DEFAULT_PARAMS, textequiv_level=level)
    out = []
    for h in htmls:
        r = extract_document(h, params)
        blocks = [
            {
                "block_id": b["block_id"],
                "kind": b["kind"],
                "char_start": b["char_start"],
                "char_end": b["char_end"],
                "words": [
                    (w["char_start"], w["char_end"], w["text"])
                    for ln in b.get("lines", ())
                    for w in ln["words"]
                ],
            }
            for b in r["blocks"]
        ]
        out.append({"text": r["text"], "failed": r["failed"], "blocks": blocks})
    return out


def oracle_records(pages_path: str, level: str, procs: int) -> tuple[list, list]:
    """(sorted urls, oracle records in url order) for a pages corpus."""
    from .inputs import pool

    t = pq.read_table(pages_path, columns=["url", "html"])
    t = t.take(pc.sort_indices(t, sort_keys=[("url", "ascending")]))
    urls = t.column("url").to_pylist()
    htmls = t.column("html").to_pylist()
    step = max(1, len(htmls) // (procs * 8))
    chunks = [htmls[i : i + step] for i in range(0, len(htmls), step)]
    with pool(procs) as p:
        parts = p.starmap(oracle_chunk, [(level, c) for c in chunks])
    return urls, [r for part in parts for r in part]


def oracle_block_digest(urls: list, recs: list) -> dict:
    d = StreamDigest()
    feed_blocks(d, urls, [r["text"] for r in recs], [r["blocks"] for r in recs])
    return {
        "digest": d.hexdigest(),
        "docs": len(recs),
        "failed": sum(1 for r in recs if r["failed"]),
    }


# ---------------------------------------------------------------------------
# word level (recompute_word)
# ---------------------------------------------------------------------------


def oracle_word_digest(urls: list, recs: list) -> str:
    d = StreamDigest()
    d.strings("url", urls)
    blocks = [b for r in recs for b in r["blocks"]]
    d.ints("n_blocks", [len(r["blocks"]) for r in recs])
    d.ints("n_words", [len(b["words"]) for b in blocks])
    words = [w for b in blocks for w in b["words"]]
    d.ints("w_start", [w[0] for w in words])
    d.ints("w_end", [w[1] for w in words])
    d.strings("w_text", [w[2] for w in words])
    return d.hexdigest()


def snapshot_word_digest(snapshot_path: str) -> dict:
    """Word-span digest and document count of a word-level snapshot."""
    t = _sorted_snapshot(snapshot_path, ["url", "text", "blocks"])
    d = StreamDigest()
    d.strings("url", t.column("url").to_pylist())
    blocks_col = t.column("blocks").combine_chunks()
    d.ints("n_blocks", pc.list_value_length(blocks_col).fill_null(0).to_numpy())
    blocks = pc.list_flatten(blocks_col)
    lines = pc.struct_field(blocks, "lines")
    line_words = pc.list_flatten(lines)
    words_per_line = pc.struct_field(line_words, "words")
    # words per block = sum over the block's lines of their word counts
    per_line = pc.list_value_length(words_per_line).fill_null(0).to_numpy()
    line_offsets = lines.offsets.to_numpy()
    line_offsets = line_offsets - line_offsets[0]
    cum = np.concatenate([[0], np.cumsum(per_line)])
    d.ints("n_words", cum[line_offsets[1:]] - cum[line_offsets[:-1]])
    words = pc.list_flatten(words_per_line)
    d.ints("w_start", pc.struct_field(words, "char_start").to_numpy())
    d.ints("w_end", pc.struct_field(words, "char_end").to_numpy())
    d.strings("w_text", pc.struct_field(words, "text").to_pylist())
    return {"digest": d.hexdigest(), "docs": t.num_rows}


def snapshot_text_digest(snapshot_path: str) -> str:
    """Digest of a snapshot's (url, text) pairs."""
    t = _sorted_snapshot(snapshot_path, ["url", "text"])
    d = StreamDigest()
    d.strings("url", t.column("url").to_pylist())
    d.strings("text", t.column("text").to_pylist())
    return d.hexdigest()


def lineage_doc_count(out_dir: str, snapshot_id: int) -> int:
    path = os.path.join(out_dir, "_lineage", f"snapshot_id={snapshot_id}")
    t = pq.read_table(path, columns=["doc_count"])
    return int(pc.sum(t.column("doc_count")).as_py() or 0)


# ---------------------------------------------------------------------------
# operator queries (DuckDB twins)
# ---------------------------------------------------------------------------


def normalize(df):
    """Column-sorted, row-sorted frame with object columns as strings --
    the comparison ``tools/check_parity.py`` makes."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_match(spark_df, duck_df) -> str:
    """"OK" or the first mismatch, by ``tools/check_parity.py``'s rules:
    same columns, same dtype kinds, same row count, values equal within
    1e-9 after sorting."""
    import pandas as pd

    a, b = normalize(spark_df), normalize(duck_df)
    if list(a.columns) != list(b.columns):
        return f"schema mismatch spark={list(a.columns)} duck={list(b.columns)}"
    if [d.kind for d in a.dtypes] != [d.kind for d in b.dtypes]:
        return "dtype mismatch"
    if len(a) != len(b):
        return f"row count mismatch spark={len(a)} duck={len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
    except AssertionError as e:
        return "value mismatch: " + str(e).split("\n")[0]
    return "OK"


def duckdb_twins(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict:
    """Run each query's ``oracle_sql()`` twin on DuckDB over the sf
    directory's tables; returns name -> pandas frame."""
    import duckdb

    from .inputs import OPERATOR_TABLES

    con = duckdb.connect()
    try:
        con.sql("SET threads TO 2")
        for t in OPERATOR_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
        return {n: con.sql(oracles[n]).df() for n in names}
    finally:
        con.close()
