"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

The reference's pixel-domain operators (binarize/crop/deskew over PIL
images) generalize to media payloads handled as binary columns with the
heavy decode inside Arrow batches.  The image/audio codecs are NOT in this
container, so the decode kernels are deterministic stubs behind
``MEDIA_DECODERS`` — the Spark-side plumbing (schema, partitioning, batch
shape, UDF signatures) is real and tested, and swapping a stub for a
pillow/ffmpeg call changes nothing outside this module.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import materialize_pages, pages_cache_path
from ..sources import read_documents, read_parquet

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("media_kind", T.StringType(), False),
        T.StructField("sniff_ok", T.BooleanType(), False),
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("thumb", T.BinaryType(), True),
    ]
)

_MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",
    b"<htm": "text/html",
    b"<HTM": "text/html",
    b"<!do": "text/html",
    b"<!DO": "text/html",
}


def sniff_kind(payload: bytes | None) -> str:
    if not payload:
        return "empty"
    head = bytes(payload[:8])
    for magic, kind in _MAGIC.items():
        if head[: len(magic)] == magic:
            return kind
    if head.lstrip()[:1] == b"<":
        return "text/html"
    return "application/octet-stream"


def decode_image_stub(payload: bytes) -> bytes:
    """Deterministic fake 'decode + resize to thumbnail': 16-byte digest.

    Real deployment: ``PIL.Image.open(io.BytesIO(payload)).resize(...)``;
    the cluster-side contract (bytes in -> small bytes out, inside an
    Arrow batch) is identical.  The media_meta oracle pins these bytes.
    """
    return hashlib.sha256(payload).digest()[:16]


MEDIA_DECODERS = {
    "image/png": decode_image_stub,
    "image/jpeg": decode_image_stub,
    "text/html": decode_image_stub,  # thumbnail-of-render stand-in
}


def media_meta_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: binary payload -> typed metadata + thumbnail."""
    for pdf in it:
        out = {c: [] for c in ("url", "n_bytes", "media_kind", "sniff_ok", "content_hash", "thumb")}
        for url, payload in zip(pdf["url"], pdf["html"]):
            b = bytes(payload) if payload is not None else b""
            kind = sniff_kind(b)
            dec = MEDIA_DECODERS.get(kind)
            out["url"].append(url)
            out["n_bytes"].append(len(b))
            out["media_kind"].append(kind)
            out["sniff_ok"].append(dec is not None)
            out["content_hash"].append(hashlib.md5(b).hexdigest())
            out["thumb"].append(dec(b) if dec and b else None)
        yield pd.DataFrame(out)


def media_meta(pages: DataFrame) -> DataFrame:
    return pages.select("url", "html").mapInPandas(
        media_meta_batches, schema=MEDIA_META_SCHEMA
    )


# ---------------------------------------------------------------------------
# frame sampling (video) + feature extraction (embedding): same contract —
# deterministic stub kernels, REAL Spark plumbing.  mapInPandas is the
# right shape for frame sampling because one input row fans out to 0..N
# output rows (a flatMap the DataFrame API can't express JVM-side over an
# opaque codec).
# ---------------------------------------------------------------------------
N_SAMPLE_FRAMES = 4

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def sample_frame_stub(payload: bytes, idx: int) -> bytes:
    """Deterministic fake 'decode container + seek + grab frame': a
    16-byte digest of (payload, idx).  Real deployment: ffmpeg/pyav
    keyframe extraction; only this function changes."""
    return hashlib.md5(payload + idx.to_bytes(4, "big")).digest()


def frame_sample_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: media payload -> up to N_SAMPLE_FRAMES rows
    (evenly spaced synthetic timestamps).  Non-decodable payloads emit
    zero rows — the fan-out/filter happens inside the batch, never as
    per-row Python at the Spark API surface."""
    for pdf in it:
        out = {c: [] for c in ("url", "frame_idx", "ts_ms", "frame")}
        for url, payload in zip(pdf["url"], pdf["html"]):
            b = bytes(payload) if payload is not None else b""
            if sniff_kind(b) not in MEDIA_DECODERS or not b:
                continue
            # synthetic duration: 1 ms per payload byte
            for i in range(N_SAMPLE_FRAMES):
                out["url"].append(url)
                out["frame_idx"].append(i)
                out["ts_ms"].append(i * len(b) // N_SAMPLE_FRAMES)
                out["frame"].append(sample_frame_stub(b, i))
        yield pd.DataFrame(out).astype({"frame_idx": "int32", "ts_ms": "int64"})


def frame_sample(pages: DataFrame) -> DataFrame:
    return pages.select("url", "html").mapInPandas(
        frame_sample_batches, schema=FRAME_SAMPLE_SCHEMA
    )


EMBED_DIM = 16

EMBED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)


def embed_stub(payload: bytes) -> list:
    """Deterministic fake feature extractor: EMBED_DIM floats in [0, 1)
    from the payload digest — the shape/typing contract of a real encoder
    (CLIP/wav2vec), matching the ``embeddings`` table's array<float>."""
    d = hashlib.md5(payload).digest()
    return [b / 256.0 for b in d[:EMBED_DIM]]


def embed_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        urls, vecs = [], []
        for url, payload in zip(pdf["url"], pdf["html"]):
            b = bytes(payload) if payload is not None else b""
            if not b:
                continue
            urls.append(url)
            vecs.append(embed_stub(b))
        yield pd.DataFrame({"url": urls, "embedding": vecs})


def embed_media(pages: DataFrame) -> DataFrame:
    """Feature-extract: payload -> array<float> embedding column, the
    input contract of the similarity operators (cosine_topk/ann_*)."""
    return pages.select("url", "html").mapInPandas(
        embed_batches, schema=EMBED_SCHEMA
    )


# --- driver-facing query (binary metadata over documents.text bytes has an
# exact SQL oracle; the pages-payload variant is rows-only) ---------------
def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
    )


SQL_BINARY_META = """
SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS content_hash
FROM documents
"""


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sniff/decode kernel over the materialized pages corpus.

    The Spark side is the real mapInPandas kernel (the plumbing contract);
    the DuckDB oracle re-expresses the sniff switch over ``hex(html)``
    (DuckDB 1.0 has no BLOB substring/md5).  content_hash/thumb stay out of
    the checked projection: md5-of-blob has no DuckDB twin (binary_meta
    proves hash parity on string payloads) and thumb is the declared
    decode stub.
    """
    pages = read_parquet(spark, materialize_pages(sf_dir)).select("url", "html")
    return media_meta(pages).select("url", "n_bytes", "media_kind", "sniff_ok")


def _hex_prefix(b: bytes) -> str:
    return b.hex().upper()


def _sniff_case_sql() -> str:
    """CASE over hex(html) replicating sniff_kind byte-for-byte: the magic
    table in its dict order, then the lstrip-then-'<' fallback."""
    arms = [
        f"WHEN substr(h, 1, {2 * len(magic)}) = '{_hex_prefix(magic)}' THEN '{kind}'"
        for magic, kind in _MAGIC.items()
    ]
    # bytes.lstrip() strips b' \t\n\r\x0b\x0c'; '<' is 0x3C
    ws = "(20|09|0A|0D|0B|0C)"
    arms.append(f"WHEN regexp_matches(h, '^({ws})*3C') THEN 'text/html'")
    return "CASE WHEN h = '' THEN 'empty' " + " ".join(arms) + \
        " ELSE 'application/octet-stream' END"


# only the corpus NAME matters — the cache layout is repo-relative
SQL_MEDIA_META = f"""
WITH p AS (
  SELECT url, octet_length(html)::BIGINT AS n_bytes, hex(html) AS h
  FROM read_parquet('{pages_cache_path("sf0.01")}'))
SELECT url, n_bytes,
       {_sniff_case_sql()} AS media_kind,
       ({_sniff_case_sql()}) IN ('image/png', 'image/jpeg', 'text/html') AS sniff_ok
FROM p
"""

QUERIES = {
    "binary_meta": q_binary_meta,
    "media_meta": q_media_meta,
}

ORACLE_SQL = {
    "binary_meta": SQL_BINARY_META,
    "media_meta": SQL_MEDIA_META,
}
