"""Seeded input generator: the sf tables and the pages corpora.

The base tables come from a fixed seed (like the fixed-seed
``documents``/``lineitem``/... tables the engine is tested on), so every
run sees the same documents.  The run's ``--seed`` then decides what
varies between runs:

* extraction workloads: the ``doc_id`` offset of each replica, which page
  gets which ``repeat`` factor (the shares are fixed), where the
  style-dense pages go, and the document slice of a partial replica;
* the operators probe of traced runs: the row order of every table and
  how many parquet files each table is split into.

Everything is written with pyarrow under the checkout's ``.bench_work``
directory; the program under test only ever reads the finished files.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

#: rows per scale factor 1.0 (the shapes the operator queries are written for)
ROWS_PER_SF = {
    "documents": 50_000,
    "lineitem": 6_000_000,
    "orders": 1_500_000,
    "events": 1_000_000,
}
#: tables the 31 headline queries read
OPERATOR_TABLES = ["documents", "lineitem", "orders", "events", "embeddings"]

#: the pages corpora replicate the documents of this scale factor
PAGES_SF = 0.1
#: replica ``doc_id`` stride, as in ``bench.prepare_pages``
REPLICA_STRIDE = 10_000_019


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet part files under ``path`` (a
    directory, which Spark, DuckDB and pyarrow all read as one table)."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(tmp, f"part-{i:03d}.parquet"))
    os.replace(tmp, path)


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def documents(sf: float) -> pa.Table:
    """The fixed-seed ``documents`` table: texts over a 31-word vocabulary,
    8-96 words long, in five languages."""
    rng = np.random.default_rng([BASE_SEED, 0])
    n_doc = int(ROWS_PER_SF["documents"] * sf)
    n_words = rng.integers(8, 97, n_doc)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in n_words]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The fixed-seed sf tables the headline queries read."""
    rng = np.random.default_rng([BASE_SEED, 1])
    n_ord = int(ROWS_PER_SF["orders"] * sf)
    n_cust = max(1, n_ord // 10)
    day = 86_400 * 1_000_000
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), type=pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2400, n_ord) * day),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
                type=pa.string(),
            ),
        }
    )

    n_li = int(ROWS_PER_SF["lineitem"] * sf)
    n_part = max(1, int(200_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), type=pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), type=pa.string()),
            "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2499, n_li) * day),
        }
    )

    n_ev = int(ROWS_PER_SF["events"] * sf)
    month_us = 30 * day
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
            "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, month_us, n_ev))),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), type=pa.int64()),
            "event_type": pa.array(
                rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), type=pa.string()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], type=pa.string()),
        }
    )

    n_vec = max(10, int(round(math.sqrt(sf) * 6_300)))
    vecs = rng.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), type=pa.int32()),
        }
    )
    return {
        "documents": documents(sf),
        "lineitem": lineitem,
        "orders": orders,
        "events": events,
        "embeddings": embeddings,
    }


def operator_sf_dir(work: str, sf: float, seed: int) -> str:
    """The seed's sf directory: base tables with seeded row order and a
    seeded number of part files per table."""
    out = os.path.join(work, "inputs", f"ops_sf{sf}_s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    for name, tbl in base_tables(sf).items():
        perm = rng.permutation(tbl.num_rows)
        files = int(rng.integers(1, 5))
        path = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(path):
            _write(tbl.take(pa.array(perm)), path, files)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


# ---------------------------------------------------------------------------
# pages corpora
# ---------------------------------------------------------------------------

#: heavy-tailed page-size mix for ``extract_stage``: (repeat, weight)
REPEAT_MIX = [(1, 0.30), (2, 0.22), (4, 0.18), (8, 0.14), (16, 0.09), (32, 0.05), (64, 0.02)]


def style_dense_html(doc_id: int, rng: np.random.Generator, n_words: int) -> bytes:
    """One long paragraph whose every 4th word is wrapped in ``<b>`` or
    ``<i>`` -- the inline-style shape whose cost grows with words x styled
    runs in the block assembler."""
    vocab = np.array(VOCAB)
    words = vocab[rng.integers(0, len(VOCAB), n_words)].tolist()
    for i in range(0, n_words, 4):
        tag = "b" if (i // 4) % 2 == 0 else "i"
        words[i] = f"<{tag}>{words[i]}</{tag}>"
    body = "<h1>dense %d</h1><p>%s</p>" % (doc_id, " ".join(words))
    return ("<html><head><title>t</title></head><body>%s</body></html>" % body).encode()


def _write_pages(path: str, rows: list[tuple[int, str, str, int]], dense: dict[int, int], seed: int) -> None:
    """Build and write one part file of a pages corpus (a pool task)."""
    from ocrd_tesserocr_spark.corpus import build_page

    url, ts, html, lang = [], [], [], []
    for doc_id, text, lg, repeat in rows:
        page = build_page(doc_id, text, lg, repeat)
        if doc_id in dense:
            rng = np.random.default_rng([seed, 3, doc_id])
            page["html"] = style_dense_html(doc_id, rng, dense[doc_id])
        url.append(page["url"])
        ts.append(page["warc_ts"])
        html.append(page["html"])
        lang.append(page["lang"])
    table = pa.table(
        {
            "url": pa.array(url, type=pa.string()),
            "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, type=pa.binary()),
            "text": pa.nulls(len(url), type=pa.string()),
            "lang": pa.array(lang, type=pa.string()),
        }
    )
    pq.write_table(table, path)


def pages_corpus(
    work: str,
    name: str,
    seed: int,
    n_pages: int,
    repeat_mix: list[tuple[int, float]],
    dense_share: float = 0.0,
    dense_words: tuple[int, int] = (600, 2400),
    procs: int = 4,
) -> str:
    """Seeded replicated pages corpus (parquet directory of 8 files).

    Replica ``k`` of the fixed documents gets ``doc_id`` offset
    ``k * REPLICA_STRIDE + off_k`` with a seeded ``off_k``; the pages get
    the ``repeat`` factors of ``repeat_mix`` in its proportions, in seeded
    order; a ``dense_share`` of pages, at seeded positions, is replaced by
    one style-dense paragraph, their word counts evenly spread over
    ``dense_words``."""
    key = json.dumps([n_pages, repeat_mix, dense_share, dense_words, PAGES_SF])
    tag = hashlib.sha256(key.encode()).hexdigest()[:10]
    out = os.path.join(work, "inputs", f"{name}_s{seed}_{tag}")
    if os.path.exists(out):
        return out
    docs = documents(PAGES_SF)
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    rng = np.random.default_rng([seed, 2])
    rows = []
    k = 0
    while len(rows) < n_pages:
        # a multiple of 90 keeps each page's template (doc_id % 9) and
        # big-host share (doc_id % 10); the seed moves the rest
        off = int(rng.integers(0, 1000)) * 90
        take = min(len(ids), n_pages - len(rows))
        for i in rng.permutation(len(ids))[:take]:
            rows.append((ids[i] + k * REPLICA_STRIDE + off, texts[i], langs[i]))
        k += 1
    # stratified: the share of each repeat factor is fixed, the seed only
    # decides which page gets which, so the corpus' total work barely
    # moves between seeds
    reps, weights = zip(*repeat_mix)
    counts = np.floor(np.array(weights) / sum(weights) * len(rows)).astype(int)
    counts[0] += len(rows) - counts.sum()
    repeats = rng.permutation(np.repeat(reps, counts))
    rows = [(d, t, lg, int(r)) for (d, t, lg), r in zip(rows, repeats)]
    n_dense = int(round(dense_share * len(rows)))
    dense_idx = rng.choice(len(rows), n_dense, replace=False) if n_dense else []
    sizes = np.linspace(dense_words[0], dense_words[1], n_dense).astype(int)
    dense = {rows[i][0]: int(w) for i, w in zip(dense_idx, sizes)}
    files = 8
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    tasks = [
        (os.path.join(tmp, f"part-{i:03d}.parquet"), rows[i::files], dense, seed)
        for i in range(files)
    ]
    with pool(procs) as p:
        p.starmap(_write_pages, tasks)
    os.replace(tmp, out)
    return out


@contextlib.contextmanager
def pool(procs: int):
    """A spawn-started process pool whose workers have ended when the
    ``with`` block is left."""
    import multiprocessing as mp

    p = mp.get_context("spawn").Pool(procs)
    try:
        yield p
    finally:
        p.close()
        p.join()
