"""URL canonicalization — the canonical-URL dedup key of a web-crawl
pipeline (scheme/host lowercasing, default-port and fragment removal,
tracking-parameter stripping).

The reference normalizes identifiers before joining on them (model-name
``.traineddata`` strip, recognize.py segment-id %04d formatting); this is
the webtext analogue: two crawls of the same page differ only in URL
noise (``UTM`` attribution params, fragments, casing, explicit default
ports), and the canonical form is the key exact URL-level dedup groups
on.  Everything is pure JVM string expressions (regexp + higher-order
array functions) — no UDFs — with an exactly-mirrored DuckDB oracle.

The query face synthesizes a deterministically-messy URL per document
(tracking params on 2 of 3 docs, fragment on 1 of 4, uppercased
scheme/host, explicit :443) identically in both engines, then
canonicalizes Spark-side only — so the parity gate proves the
canonicalizer, not the synthesis.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import read_documents, resplit

#: query parameters stripped by canonicalization: attribution/tracking
#: noise that never changes page content.  Prefix match for utm_*.
TRACKING_PREFIXES = ("utm_", "fbclid", "gclid")


def _is_tracking(param: Column) -> Column:
    """Whether query param ``param`` starts with a tracking prefix."""
    return reduce(operator.or_, [param.startswith(t) for t in TRACKING_PREFIXES])


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL (pure JVM expressions).

    Steps: lowercase scheme + host, drop an explicit default port
    (http:80 / https:443), drop the fragment, strip tracking query
    params (utm_*, fbclid, gclid), drop the ``?`` when the query
    empties, preserve everything else byte-for-byte.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.when(
        scheme == "https", F.regexp_replace(hostport, r":443$", "")
    ).otherwise(
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", "")).otherwise(
            hostport
        )
    )
    rest = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    kept = F.filter(F.split(query, "&"), lambda p: (p != "") & ~_is_tracking(p))
    canon_query = F.array_join(kept, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(canon_query != "", F.concat(F.lit("?"), canon_query)).otherwise(
            F.lit("")
        ),
    )


def n_stripped_params(url: Column) -> Column:
    """How many query params canonicalization removed (long)."""
    query = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+[^#]*?\?([^#]*)", 1)
    parts = F.filter(F.split(query, "&"), lambda p: p != "")
    return F.size(F.filter(parts, _is_tracking)).cast("long")


def _messy_url() -> Column:
    """Deterministic messy URL per document (mirrored in SQL below)."""
    host = F.when(
        F.col("doc_id") % 10 < 3, F.lit("BIG.EXAMPLE.COM")
    ).otherwise(
        F.concat(
            F.lit("HOST"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".EXAMPLE.ORG"),
        )
    )
    tail = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("?utm_source=feed&id="), (F.col("doc_id") % 100).cast("string")),
    ).otherwise(
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("?id="),
                (F.col("doc_id") % 100).cast("string"),
                F.lit("&utm_campaign=x&gclid=abc"),
            ),
        ).otherwise(F.lit(""))
    )
    frag = F.when(F.col("doc_id") % 4 == 0, F.lit("#frag")).otherwise(F.lit(""))
    return F.concat(
        F.lit("HTTPS://"),
        host,
        F.lit(":443/"),
        F.col("lang"),
        F.lit("/"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        tail,
        frag,
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # narrow (doc_id, lang) re-split before the regex-heavy map
    docs = resplit(read_documents(spark, sf_dir).select("doc_id", "lang"))
    messy = docs.select("doc_id", "lang", _messy_url().alias("url"))
    return messy.select(
        "doc_id",
        "url",
        canonicalize_url(F.col("url")).alias("canon_url"),
        n_stripped_params(F.col("url")).alias("n_stripped_params"),
    )


SQL_URL_CANONICALIZE = """
WITH messy AS (
  SELECT doc_id,
         'HTTPS://' ||
         CASE WHEN doc_id % 10 < 3 THEN 'BIG.EXAMPLE.COM'
              ELSE 'HOST' || (doc_id % 7)::VARCHAR || '.EXAMPLE.ORG' END ||
         ':443/' || lang || '/' || lpad(doc_id::VARCHAR, 8, '0') ||
         CASE WHEN doc_id % 3 = 0
                THEN '?utm_source=feed&id=' || (doc_id % 100)::VARCHAR
              WHEN doc_id % 3 = 1
                THEN '?id=' || (doc_id % 100)::VARCHAR || '&utm_campaign=x&gclid=abc'
              ELSE '' END ||
         CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS rest
  FROM messy),
split_q AS (
  SELECT doc_id, url, scheme,
         CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
              ELSE hostport END AS host,
         regexp_extract(rest, '^([^?]*)', 1) AS path,
         list_filter(str_split(regexp_extract(rest, '\\?(.*)$', 1), '&'),
                     p -> p <> '') AS params
  FROM parts),
canon AS (
  SELECT doc_id, url, scheme, host, path,
         list_filter(params, p -> NOT (p LIKE 'utm\\_%' ESCAPE '\\'
                                       OR p LIKE 'fbclid%'
                                       OR p LIKE 'gclid%')) AS kept,
         len(list_filter(params, p -> p LIKE 'utm\\_%' ESCAPE '\\'
                                      OR p LIKE 'fbclid%'
                                      OR p LIKE 'gclid%'))::BIGINT
           AS n_stripped_params
  FROM split_q)
SELECT doc_id, url,
       scheme || '://' || host || path ||
       CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
            ELSE '' END AS canon_url,
       n_stripped_params
FROM canon
"""


QUERIES = {"url_canonicalize": q_url_canonicalize}
ORACLE_SQL = {"url_canonicalize": SQL_URL_CANONICALIZE}
