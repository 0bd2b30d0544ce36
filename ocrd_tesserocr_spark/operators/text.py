"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline layer (language-ID heuristic, quality scoring,
token counting, document fingerprinting).

These generalize the reference's script/orientation detection
(/root/reference/ocrd_tesserocr/deskew.py:120-197) and mean-confidence
scoring (recognize.py:978) to web text.  All pure Spark built-ins (JVM-side,
whole-stage codegen); exact DuckDB parity via shared md5-derived hashing
(functions/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    POLY_P,
    hash_long,
    hash_mod,
    ngram_starts,
    split_words,
    sql_md5_mod,
    word_ngrams,
)
from ..sources import read_documents, resplit


_STOPWORDS = ("the", "a", "of", "and", "to")


def _stop_ratio(words):
    """Share of ``words`` that are stopwords (an empty array counts as one
    word)."""
    n = F.greatest(F.size(words), F.lit(1))
    return F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))) / n


def _quality(words):
    """Blended quality score over the row's ``n_chars`` and ``words``:
    0.4 length (saturating at 400 chars) + 0.3 stopword ratio + 0.3 share
    of words longer than two characters."""
    n = F.greatest(F.size(words), F.lit(1))
    len_score = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    short_ratio = F.size(F.filter(words, lambda w: F.length(w) <= 2)) / n
    return 0.4 * len_score + 0.3 * _stop_ratio(words) + 0.3 * (1.0 - short_ratio)


# ---------------------------------------------------------------------------
# T1 — language-ID heuristic (script detection analogue, deskew.py:146-195)
# ---------------------------------------------------------------------------
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    words = split_words(F.col("text"))
    n = F.size(words)
    ratio = _stop_ratio(words)
    guessed = F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("und"))
    # confidence gate (deskew.py:135-143): low-evidence docs keep their
    # declared lang
    final = F.when(n < 20, F.col("lang")).otherwise(guessed)
    return docs.select(
        "doc_id",
        F.round(ratio, 6).alias("stop_ratio"),
        final.alias("guessed_lang"),
    )


SQL_LANG_ID = f"""
WITH w AS (
  SELECT doc_id, lang, str_split(text, ' ') AS words FROM documents)
SELECT doc_id,
       ROUND(len(list_filter(words, x -> x IN ('the','a','of','and','to')))::DOUBLE
             / GREATEST(len(words), 1), 6) AS stop_ratio,
       CASE WHEN len(words) < 20 THEN lang
            WHEN len(list_filter(words, x -> x IN ('the','a','of','and','to')))::DOUBLE
                 / GREATEST(len(words), 1) >= 0.08 THEN 'en'
            ELSE 'und' END AS guessed_lang
FROM w
"""


# ---------------------------------------------------------------------------
# T2 — quality scoring (length / stopword / alpha ratios)
# ---------------------------------------------------------------------------
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged word array over a re-split scan: inline, the split would run
    # once per referencing expression, on the scan's one or two tasks
    staged = resplit(read_documents(spark, sf_dir)).select(
        "doc_id", "n_chars", split_words(F.col("text")).alias("__w")
    )
    score = F.round(_quality(F.col("__w")), 6)
    return staged.select("doc_id", score.alias("quality"))


SQL_QUALITY = """
WITH w AS (
  SELECT doc_id, n_chars, str_split(text, ' ') AS words FROM documents),
r AS (
  SELECT doc_id,
         LEAST(1.0, n_chars / 400.0) AS len_score,
         len(list_filter(words, x -> x IN ('the','a','of','and','to')))::DOUBLE
           / GREATEST(len(words), 1) AS stop_ratio,
         len(list_filter(words, x -> length(x) <= 2))::DOUBLE
           / GREATEST(len(words), 1) AS short_ratio
  FROM w)
SELECT doc_id,
       ROUND(0.4 * len_score + 0.3 * stop_ratio + 0.3 * (1.0 - short_ratio), 6) AS quality
FROM r
"""


# ---------------------------------------------------------------------------
# T3 — token counting: whitespace + BPE-ish regex pieces
# ---------------------------------------------------------------------------
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    ws = F.size(split_words(F.col("text")))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]{1,4}"), 0))
    return docs.select("doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens"))


SQL_TOKEN_COUNT = """
SELECT doc_id,
       len(str_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]{1,4}')) AS bpe_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# T4 — document fingerprint: polynomial rolling hash over word hashes
# (the scalable analogue of per-page checksumming; md5-parity fold)
# ---------------------------------------------------------------------------
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir))
    words = split_words(F.col("text"))
    hashes = F.transform(words, lambda w: hash_mod(w, POLY_P))
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(POLY_P),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


SQL_FINGERPRINT = f"""
WITH w AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '), x -> {sql_md5_mod('x', POLY_P)}) AS hs
  FROM documents)
SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT, hs),
                   (acc, h) -> (acc * 31 + h) % {POLY_P}) AS fingerprint
FROM w
"""


# ---------------------------------------------------------------------------
# T5 — curation verdict: the composed training-data gate (quality score +
# language evidence + exact-dup keeper) — one pass, one output row per doc.
# This is the "would this page enter the training set" decision a 100 TB
# pipeline runs after extraction.
# ---------------------------------------------------------------------------
def q_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    quality = _quality(split_words(F.col("text")))
    w = Window.partitionBy(hash_long(F.col("text"))).orderBy("doc_id")
    keeper = F.row_number().over(w) == 1
    keep = keeper & (quality >= 0.5) & (F.col("n_chars") >= 50)
    return docs.select(
        "doc_id",
        F.round(quality, 6).alias("quality"),
        keeper.alias("is_content_keeper"),
        keep.alias("keep"),
    )


SQL_CURATION = """
WITH q AS (
  SELECT doc_id, n_chars, text,
         0.4 * LEAST(1.0, n_chars / 400.0)
         + 0.3 * (len(list_filter(str_split(text,' '),
                   x -> x IN ('the','a','of','and','to')))::DOUBLE
                  / GREATEST(len(str_split(text,' ')), 1))
         + 0.3 * (1.0 - len(list_filter(str_split(text,' '),
                   x -> length(x) <= 2))::DOUBLE
                  / GREATEST(len(str_split(text,' ')), 1)) AS quality,
         ROW_NUMBER() OVER (
           PARTITION BY ('0x' || substr(md5(text), 1, 15))::BIGINT
           ORDER BY doc_id) = 1 AS is_content_keeper
  FROM documents)
SELECT doc_id, ROUND(quality, 6) AS quality, is_content_keeper,
       (is_content_keeper AND quality >= 0.5 AND n_chars >= 50) AS keep
FROM q
"""


# ---------------------------------------------------------------------------
# T6 — host-skew profile: the query-level face of the pipeline's salted
# repartitioning (pipeline.py:35-43).  Per-host page counts, corpus share,
# skew factor vs a uniform host distribution, and the salt fan-out the
# pipeline would assign (capped at the partition count).  Hosts derive
# deterministically from doc_id exactly as corpus.host_for does
# (corpus.py:101-105), so the DuckDB oracle computes the identical table.
# Scale shape: one map-side-combined groupBy on host, then the corpus
# totals reduced to ONE row and broadcast back — never a single-partition
# window over the host table, which at real Common-Crawl scale holds
# ~10^8 rows.
# ---------------------------------------------------------------------------
def q_host_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    host = F.when(
        F.col("doc_id") % 10 < 3, F.lit("big.example.com")
    ).otherwise(
        F.concat(
            F.lit("host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org"),
        )
    )
    # the host aggregate (O(distinct hosts), tiny next to the corpus) feeds
    # BOTH the output and the totals branch; the two branches' host
    # exchanges are identical, so AQE runs one and the other plans as a
    # ReusedExchange: the documents table is scanned once
    # (test_plans_quality pins this).
    agg = (
        docs.select(host.alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = agg.agg(
        F.sum("n_docs").cast("double").alias("_total"),
        F.count(F.lit(1)).alias("_n_hosts"),
    )
    out = agg.crossJoin(F.broadcast(totals))
    share = F.col("n_docs").cast("double") / F.col("_total")
    skew = (F.col("n_docs") * F.col("_n_hosts")).cast("double") / F.col("_total")
    salt = F.least(
        F.lit(32).cast("long"),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil((F.col("n_docs") * F.lit(32)).cast("double") / F.col("_total")),
        ),
    )
    return out.select(
        "host",
        "n_docs",
        F.round(share, 6).alias("share"),
        F.round(skew, 6).alias("skew"),
        salt.alias("salt_buckets"),
    )


SQL_HOST_SKEW = """
WITH h AS (
  SELECT CASE WHEN doc_id % 10 < 3 THEN 'big.example.com'
              ELSE 'host' || (doc_id % 7)::VARCHAR || '.example.org'
         END AS host
  FROM documents),
a AS (SELECT host, COUNT(*) AS n_docs FROM h GROUP BY host),
t AS (SELECT SUM(n_docs)::DOUBLE AS _total, COUNT(*) AS _n_hosts FROM a)
SELECT host, n_docs,
       ROUND(n_docs::DOUBLE / _total, 6) AS share,
       ROUND((n_docs * _n_hosts)::DOUBLE / _total, 6) AS skew,
       CAST(LEAST(32, GREATEST(1, CEIL((n_docs * 32)::DOUBLE / _total)))
            AS BIGINT) AS salt_buckets
FROM a, t
"""


# ---------------------------------------------------------------------------
# T7 — PII scan: email / IPv4 / phone-shaped counts per document, the
# redaction-pass precursor every public training-data pipeline runs before
# release.  Pure JVM regexp_extract_all; the patterns are written to the
# intersection of Java regex and RE2 (no backreferences, no lookaround) so
# the DuckDB oracle matches token-for-token.  The query face plants
# deterministic PII in the document text identically in both engines
# (1 in 5 docs an email, 1 in 7 an IPv4, 1 in 11 a phone) so the gate
# proves the scanner on non-zero counts, not an all-zero corpus.
# ---------------------------------------------------------------------------
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{2} \d{3}-\d{4}"


def _planted_pii_text() -> F.Column:
    did = F.col("doc_id")
    email = F.when(
        did % 5 == 0,
        F.concat(F.lit(" contact user"), (did % 100).cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 7 == 0,
        F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 11 == 0,
        F.concat(F.lit(" call +41 555-01"), F.lpad((did % 100).cast("string"), 2, "0")),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, ip, phone)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir))
    t = _planted_pii_text()
    n_emails = F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), 0)).cast("long")
    n_ipv4 = F.size(F.regexp_extract_all(t, F.lit(_PII_IPV4), 0)).cast("long")
    n_phones = F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), 0)).cast("long")
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ipv4.alias("n_ipv4"),
        n_phones.alias("n_phones"),
        ((n_emails + n_ipv4 + n_phones) > 0).alias("has_pii"),
    )


SQL_PII_SCAN = r"""
WITH p AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || (doc_id % 100)::VARCHAR || '@example.com'
              ELSE '' END ||
         CASE WHEN doc_id % 7 = 0
              THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.1'
              ELSE '' END ||
         CASE WHEN doc_id % 11 = 0
              THEN ' call +41 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
              ELSE '' END AS t
  FROM documents),
c AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
         len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
         len(regexp_extract_all(t, '\+\d{2} \d{3}-\d{4}'))::BIGINT AS n_phones
  FROM p)
SELECT doc_id, n_emails, n_ipv4, n_phones,
       (n_emails + n_ipv4 + n_phones) > 0 AS has_pii
FROM c
"""


# ---------------------------------------------------------------------------
# T8 — repetition stats (the Gopher/MassiveText repetition filters, Rae et
# al. 2021 Table A1): fraction of characters covered by the most frequent
# word 2-gram, and fraction of word-3-gram occurrences that are repeats.
# Pages dominated by one repeated phrase (nav boilerplate, SEO stuffing)
# score high and are filtered before training.
#
# Scale shape: ZERO-SHUFFLE.  The per-doc top bigram never leaves its row:
# sort the bigram array and fold it once (F.aggregate) tracking the longest
# run of equal adjacent elements — the argmax of a multiset is the longest
# run of its sorted form.  Strict `>` on the run length keeps the FIRST
# maximal run, which in a sorted array is the lexicographically smallest
# gram, reproducing the oracle's `ORDER BY cnt DESC, bg ASC` tie-break.
# Exploding every bigram into a corpus-wide groupBy+window would shuffle
# O(total words) rows; this shape is a narrow projection over the scan.
# The one exchange below carries only (doc_id, text) to re-split the scan
# for the CPU-heavy fold (sources.resplit).
# ---------------------------------------------------------------------------
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir).select("doc_id", "text"))
    # word array staged as a named column (see functions.word_ngrams)
    docs = docs.select("doc_id", "text", split_words(F.col("text")).alias("__w"))
    bigrams = word_ngrams(F.col("__w"), 2)
    trigrams = word_ngrams(F.col("__w"), 3)

    # longest-run fold over the sorted bigram array: acc = (prev gram,
    # current run length, best count, best gram).  `x == acc.prev` is null
    # on the first element (prev starts null) so the run resets to 1.
    # sort_array: codegen'd natural ordering vs array_sort's interpreted
    # comparison lambda — identical on null-free string arrays
    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > acc["best_cnt"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best_cnt"]).alias("best_cnt"),
            F.when(better, x).otherwise(acc["best"]).alias("best"),
        )

    top_struct = F.aggregate(
        F.sort_array(bigrams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best_cnt"),
            F.lit(None).cast("string").alias("best"),
        ),
        step,
    )

    # trigrams and the longest-run fold are staged too: the projection
    # below references each twice (size + distinct-size; best + best_cnt),
    # and inline the trigram build and the whole bigram fold would each
    # run twice per row
    staged = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_text_chars"),
        trigrams.alias("__tg"),
        top_struct.alias("__top"),
    )
    out = staged.select(
        "doc_id",
        "n_text_chars",
        F.size("__tg").cast("long").alias("n_trigrams"),
        F.size(F.array_distinct("__tg")).cast("long").alias("n_distinct_trigrams"),
        F.col("__top")["best"].alias("top_bigram"),
        F.col("__top")["best_cnt"].alias("top_bigram_count"),
    )
    top_cnt = F.coalesce(F.col("top_bigram_count"), F.lit(0).cast("long"))
    top_frac = F.when(
        F.col("n_text_chars") > 0,
        top_cnt * F.length(F.coalesce(F.col("top_bigram"), F.lit("")))
        / F.col("n_text_chars"),
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        F.col("n_trigrams") > 0,
        (F.col("n_trigrams") - F.col("n_distinct_trigrams")) / F.col("n_trigrams"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
        top_cnt.alias("top_bigram_count"),
        F.round(top_frac, 6).alias("top_bigram_char_frac"),
        F.round(dup_frac, 6).alias("dup_trigram_frac"),
    )


SQL_REPETITION_STATS = """
WITH w AS (
  SELECT doc_id, text, str_split(text, ' ') AS ws FROM documents),
base AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_text_chars,
         CASE WHEN len(ws) >= 3 THEN len(ws) - 2 ELSE 0 END::BIGINT AS n_trigrams,
         CASE WHEN len(ws) >= 3 THEN len(list_distinct(
           list_transform(generate_series(1, len(ws) - 2),
                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
              ELSE 0 END::BIGINT AS n_distinct_trigrams
  FROM w),
bg AS (
  SELECT doc_id, unnest(
    list_transform(generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1])) AS bg
  FROM w WHERE len(ws) >= 2),
counts AS (
  SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bg),
top AS (
  SELECT doc_id, bg AS top_bigram, cnt AS top_bigram_count
  FROM counts
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY cnt DESC, bg ASC) = 1)
SELECT b.doc_id,
       COALESCE(t.top_bigram, '') AS top_bigram,
       COALESCE(t.top_bigram_count, 0)::BIGINT AS top_bigram_count,
       ROUND(CASE WHEN b.n_text_chars > 0
                  THEN COALESCE(t.top_bigram_count, 0)
                       * length(COALESCE(t.top_bigram, ''))::DOUBLE
                       / b.n_text_chars
                  ELSE 0.0 END, 6) AS top_bigram_char_frac,
       ROUND(CASE WHEN b.n_trigrams > 0
                  THEN (b.n_trigrams - b.n_distinct_trigrams)::DOUBLE
                       / b.n_trigrams
                  ELSE 0.0 END, 6) AS dup_trigram_frac
FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# T9 — benchmark decontamination (the eval-overlap gate every LLM training
# pipeline runs before a corpus ships: GPT-3 app. C / PaLM sec. 7 style
# n-gram collision check against held-out benchmark text).  A deterministic
# stand-in eval set (every 50th document) plays the benchmark; a training
# doc is contaminated when it shares any word 8-gram with it.
#
# Scale shape: the eval side reduces to a small DISTINCT shingle table
# (benchmark suites are MBs, broadcastable by construction) that broadcast-
# hash-joins onto the corpus's exploded shingles — the hash table is built
# ONCE per task, never per row (a per-row array_intersect against the eval
# array was measured 20x slower: it rebuilds the eval hash set for every
# document, fatal with a real multi-million-n-gram benchmark).  The explode
# is narrow, the join is broadcast, and the map-side partial agg collapses
# to one row per doc BEFORE the only shuffle — so the exchange carries
# O(docs), never O(corpus shingles).  This generalizes the reference's
# model-resource broadcast pattern (recognize.py:383-402 loads a shared
# wordlist once per worker) to eval-set membership.
# ---------------------------------------------------------------------------
_DECON_K = 8  # shingle width in words
_DECON_EVAL_MOD = 50  # doc_id % 50 == 0 -> the stand-in benchmark set


def _staged_decon_shingles(df: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, ds): distinct word 8-grams over a staged
    word array (see functions.word_ngrams)."""
    staged = df.select("doc_id", split_words(F.col("text")).alias("__w"))
    shingles = word_ngrams(F.col("__w"), _DECON_K)
    return staged.select("doc_id", F.array_distinct(shingles).alias("ds"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir).select("doc_id", "text"))
    with_sh = _staged_decon_shingles(docs)
    # eval branch reads its own scan with the filter BELOW any exchange —
    # the 2% benchmark slice never rides the corpus repartition
    eval_sh = (
        _staged_decon_shingles(
            read_documents(spark, sf_dir)
            .select("doc_id", "text")
            .where(F.col("doc_id") % _DECON_EVAL_MOD == 0)
        )
        .select(F.explode("ds").alias("es"))
        .distinct()
    )
    exploded = with_sh.select(
        "doc_id",
        F.size("ds").cast("long").alias("n_shingles"),
        F.explode_outer("ds").alias("s"),
    )
    hit = (
        exploded.join(F.broadcast(eval_sh), exploded["s"] == eval_sh["es"], "left")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("es").alias("n_contaminated"))
    )
    frac = F.when(
        F.col("n_shingles") > 0, F.col("n_contaminated") / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return hit.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(frac, 6).alias("contamination_frac"),
        (F.col("n_contaminated") > 0).alias("contaminated"),
    )


SQL_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 8 THEN list_distinct(
           list_transform(generate_series(1, len(ws) - 7),
             i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '
                  ||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]))
         ELSE []::VARCHAR[] END AS ds
  FROM w),
ev AS (
  SELECT list(DISTINCT s) AS eval_set
  FROM (SELECT unnest(ds) AS s FROM sh WHERE doc_id % 50 = 0))
SELECT doc_id,
       len(ds)::BIGINT AS n_shingles,
       len(list_intersect(ds, eval_set))::BIGINT AS n_contaminated,
       ROUND(CASE WHEN len(ds) > 0
                  THEN len(list_intersect(ds, eval_set))::DOUBLE / len(ds)
                  ELSE 0.0 END, 6) AS contamination_frac,
       len(list_intersect(ds, eval_set)) > 0 AS contaminated
FROM sh, ev
"""


# ---------------------------------------------------------------------------
# T10 — LM quality score (the CCNet/CC-100 perplexity filter, Wenzek et
# al. 2020: score every document under a small language model trained on
# a trusted slice, keep the low-perplexity head).  The sandbox LM is a
# character-trigram unigram model — deliberately tiny, because the SHAPE
# is the point: fit on a deterministic 10% slice (its scan filter pushes
# down, the fit pass never reads the other 90%), reduce to a
# support-thresholded count table (no global top-V sort — a >= MIN_COUNT
# filter is per-key, so no single-partition window exists even though a
# real vocab is ~1M rows), broadcast the model, and score the corpus
# with one narrow explode -> broadcast-join -> map-side-partial groupBy:
# the only full-corpus exchange carries O(docs) rows.  This is the same
# fit-small/broadcast/score-wide shape as decontaminate's eval table and
# the reference's shared wordlist load (recognize.py:383-402); swapping
# the trigram table for real KenLM weights changes only the broadcast
# payload.  OOV trigrams take the 1/total floor probability.
# ---------------------------------------------------------------------------
_LM_DOC_CAP = 2000  # chars scored per doc: bounds trigram fanout per row
_LM_FIT_MOD = 10  # doc_id % 10 == 0 -> the trusted fit + cutoff slice
_LM_MIN_COUNT = 5  # vocab support threshold (replaces a global top-V sort)


def _lm_tri_idx(s):
    """Start positions of the character trigrams of ``s``.  Exploding the
    positions and slicing with a codegen'd substr beats exploding a
    higher-order trigram array, whose lambda is interpreted per element
    (measured 1.2-1.3x on the sf1.0 fit pass); explode/explode_outer of
    the empty position array behaves like an empty trigram array, and a
    null position from explode_outer yields a null trigram."""
    return ngram_starts(F.length(s), 3)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (a) the capped text is projected BEFORE a re-split exchange: a bare
    #     scan runs the whole trigram explode at the single-row-group
    #     parquet's 1-2 task parallelism;
    # (b) the tertile-cutoff sample is scored on its OWN 10%-slice
    #     pipeline instead of filtering the corpus-wide `scored`, which
    #     would evaluate the full explode->join->agg DAG twice (once under
    #     the cutoff branch, once under the final projection).  Scoring is
    #     per-doc deterministic, so slice-scoring gives identical cutoffs.
    base = read_documents(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, _LM_DOC_CAP).alias("s")
    )
    docs = resplit(base)
    # the fit slice feeds the fit pass and the cutoff sample below through
    # one re-split exchange; the second consumer reads a ReusedExchange.
    # The fit pass's explode infers isnotnull(s) at its scan; stating it
    # here keeps both scans equal, and it is a no-op for the sample too (a
    # null s scores n_trigrams = 0, which the sample drops)
    fit = resplit(
        base.where((F.col("doc_id") % _LM_FIT_MOD == 0) & F.col("s").isNotNull())
    )
    fit_occ = fit.select(
        "doc_id", "s", F.explode(_lm_tri_idx(F.col("s"))).alias("i")
    ).select("doc_id", F.col("s").substr(F.col("i"), F.lit(3)).alias("t"))
    # the O(vocab) count table feeds BOTH the model and the normalizer.  The
    # model's left join infers isnotnull(t) below this aggregate; stating it
    # here (a no-op: t is never null) keeps both branches' exchanges equal,
    # so AQE explodes and aggregates the fit slice once and the normalizer
    # reads a ReusedExchange (host_skew precedent).  Counting doc_id (never
    # null in the slice) equals counting rows and keeps doc_id in the fit
    # exchange, which the cutoff sample's exchange also carries
    cnts = (
        fit_occ.where(F.col("t").isNotNull())
        .groupBy("t")
        .agg(F.count("doc_id").alias("cnt"))
    )
    # normalizer = ALL fit-slice occurrences (below-threshold mass stays in
    # the denominator, so probabilities stay a true distribution + floor)
    total = cnts.agg(F.sum("cnt").cast("double").alias("total"))
    model = cnts.where(F.col("cnt") >= _LM_MIN_COUNT)

    def _score(d: DataFrame) -> DataFrame:
        occ = d.select(
            "doc_id", "s", F.explode_outer(_lm_tri_idx(F.col("s"))).alias("i")
        ).select("doc_id", F.col("s").substr(F.col("i"), F.lit(3)).alias("t"))
        p = F.coalesce(F.col("cnt"), F.lit(1)).cast("double") / F.col("total")
        agged = (
            occ.join(F.broadcast(model), "t", "left")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(
                F.count("t").cast("long").alias("n_trigrams"),
                F.sum(
                    F.when(
                        F.col("t").isNotNull() & F.col("cnt").isNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_oov"),
                F.avg(F.when(F.col("t").isNotNull(), -F.log(p))).alias("a"),
            )
        )
        score = F.round(F.coalesce(F.col("a"), F.lit(0.0)), 6)
        return agged.select(
            "doc_id", "n_trigrams", "n_oov", score.alias("avg_neg_logp")
        )

    scored = _score(docs)
    # CCNet head/middle/tail: tertile CUTOFFS estimated on the sample
    # slice only (the rank window sorts O(sample), never the corpus; a
    # production run subsamples the slice to a fixed size first), then
    # broadcast as two scalars.  Ordering on the ROUNDED score with a
    # doc_id tie-break is deterministic across engines — no float-rank
    # ambiguity.  The corpus-wide bucket assignment is a narrow map.
    sample = (
        _score(fit)
        .where(F.col("n_trigrams") > 0)
        .select("doc_id", F.col("avg_neg_logp").alias("s"))
    )
    wr = Window.orderBy(F.col("s").asc(), F.col("doc_id").asc())
    ranked = sample.select(
        "s",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(
            wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    cuts = ranked.agg(
        F.min(F.when(F.col("rn") == F.ceil(F.col("n") / 3.0), F.col("s"))).alias(
            "c1"
        ),
        F.min(
            F.when(F.col("rn") == F.ceil(F.col("n") * 2 / 3.0), F.col("s"))
        ).alias("c2"),
    )
    out = scored.crossJoin(F.broadcast(cuts))
    bucket = (
        F.when(F.col("n_trigrams") == 0, F.lit("tail"))
        .when(F.col("avg_neg_logp") <= F.col("c1"), F.lit("head"))
        .when(F.col("avg_neg_logp") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select(
        "doc_id",
        "n_trigrams",
        "n_oov",
        "avg_neg_logp",
        bucket.alias("lm_bucket"),
        (bucket != "tail").alias("lm_keep"),
    )


SQL_LM_SCORE = f"""
WITH s AS (
  SELECT doc_id, substr(text, 1, {_LM_DOC_CAP}) AS s FROM documents),
tg AS (
  SELECT doc_id,
         CASE WHEN length(s) >= 3 THEN
           list_transform(generate_series(1, length(s) - 2),
                          i -> substr(s, i, 3))
         ELSE []::VARCHAR[] END AS ts
  FROM s),
fit AS (
  SELECT unnest(ts) AS t FROM tg WHERE doc_id % {_LM_FIT_MOD} = 0),
cnts AS (
  SELECT t, COUNT(*) AS cnt FROM fit GROUP BY t),
tot AS (
  SELECT SUM(cnt)::DOUBLE AS total FROM cnts),
model AS (
  SELECT t, cnt FROM cnts WHERE cnt >= {_LM_MIN_COUNT}),
occ AS (
  SELECT doc_id, unnest(ts) AS t FROM tg),
scored AS (
  SELECT o.doc_id,
         COUNT(*)::BIGINT AS n_trigrams,
         SUM(CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
         AVG(-ln(COALESCE(m.cnt, 1)::DOUBLE / total)) AS a
  FROM occ o LEFT JOIN model m ON o.t = m.t, tot
  GROUP BY o.doc_id),
final AS (
  SELECT d.doc_id,
         COALESCE(sc.n_trigrams, 0)::BIGINT AS n_trigrams,
         COALESCE(sc.n_oov, 0)::BIGINT AS n_oov,
         ROUND(COALESCE(sc.a, 0.0), 6) AS avg_neg_logp
  FROM documents d LEFT JOIN scored sc ON d.doc_id = sc.doc_id),
ranked AS (
  SELECT avg_neg_logp AS s,
         ROW_NUMBER() OVER (ORDER BY avg_neg_logp ASC, doc_id ASC) AS rn,
         COUNT(*) OVER () AS n
  FROM final WHERE doc_id % {_LM_FIT_MOD} = 0 AND n_trigrams > 0),
cuts AS (
  SELECT MIN(CASE WHEN rn = CEIL(n / 3.0) THEN s END) AS c1,
         MIN(CASE WHEN rn = CEIL(n * 2 / 3.0) THEN s END) AS c2
  FROM ranked)
SELECT f.doc_id, f.n_trigrams, f.n_oov, f.avg_neg_logp,
       CASE WHEN f.n_trigrams = 0 THEN 'tail'
            WHEN f.avg_neg_logp <= c.c1 THEN 'head'
            WHEN f.avg_neg_logp <= c.c2 THEN 'middle'
            ELSE 'tail' END AS lm_bucket,
       CASE WHEN f.n_trigrams = 0 THEN 'tail'
            WHEN f.avg_neg_logp <= c.c1 THEN 'head'
            WHEN f.avg_neg_logp <= c.c2 THEN 'middle'
            ELSE 'tail' END <> 'tail' AS lm_keep
FROM final f, cuts c
"""


# ---------------------------------------------------------------------------
# T11 — temperature-based language mixing weights (training-data mixing)
# ---------------------------------------------------------------------------
#: modulus for the per-doc deterministic sampling draw: 6 decimal digits of
#: hash → uniform fraction in [0, 1) with 1e-6 granularity.
_MIX_MOD = 1_000_000


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (T = 2, i.e. rate ∝ n^-1/2,
    normalized to the smallest language): the data-mixing step a
    multilingual training pipeline runs after language-ID.

    Per language l with n_l docs, ``sample_rate_l = sqrt(n_min / n_l)``
    — the expected kept count is sqrt(n_min · n_l), exactly the α = 0.5
    temperature rebalance of mT5/XLM-R, anchored so the smallest
    language is kept whole.  The keep decision is a deterministic
    per-doc hash draw (shared md5/xxhash64 layer), so the sample is
    reproducible across runs, engines, and partitionings.

    Analogue in the reference: per-segment model *selection* by ranked
    confidence (recognize.py:372-395 auto_model argmax); here the
    corpus-level analogue selects per-language retention by ranked
    abundance.

    Scale: one tiny groupBy (|langs| rows), an unpartitioned window over
    that post-agg table only, a broadcast join back, then a narrow map —
    zero corpus-wide shuffles beyond the count.  Cross-engine parity
    uses only count, min, division and sqrt — all exactly-rounded IEEE
    ops, so no pow/sum-order divergence risk (similarity.py k-means
    note).
    """
    docs = read_documents(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs_lang"))
    # unpartitioned window is safe HERE ONLY: it runs on the post-agg
    # table, whose row count is the number of distinct languages
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts = counts.withColumn("n_min", F.min("n_docs_lang").over(w_all))
    rate = F.sqrt(F.col("n_min") / F.col("n_docs_lang"))
    counts = counts.select("lang", "n_docs_lang", rate.alias("rate"))
    frac = hash_mod(
        F.concat(F.lit("mix|"), F.col("doc_id").cast("string")), _MIX_MOD
    ) / F.lit(float(_MIX_MOD))
    return (
        docs.join(F.broadcast(counts), "lang")
        .select(
            "doc_id",
            "lang",
            "n_docs_lang",
            F.round(F.col("rate"), 6).alias("sample_rate"),
            (frac < F.col("rate")).alias("keep"),
        )
    )


SQL_MIX_WEIGHTS = f"""
WITH counts AS (
  SELECT lang, COUNT(*)::BIGINT AS n_docs_lang FROM documents GROUP BY lang),
m AS (SELECT MIN(n_docs_lang) AS n_min FROM counts),
r AS (
  SELECT lang, n_docs_lang,
         sqrt(n_min::DOUBLE / n_docs_lang) AS rate
  FROM counts, m)
SELECT d.doc_id, d.lang, r.n_docs_lang,
       ROUND(r.rate, 6) AS sample_rate,
       ({sql_md5_mod("'mix|' || d.doc_id", _MIX_MOD)}::DOUBLE
        / {float(_MIX_MOD)}) < r.rate AS keep
FROM documents d JOIN r USING (lang)
"""


# ---------------------------------------------------------------------------
# T12 — sequence packing (concat-then-chunk training-example layout)
# ---------------------------------------------------------------------------
#: training context length for the packing layout
_PACK_SEQ_LEN = 512
#: packing buckets: packing is bucket-local, so buckets are the unit of
#: parallelism (production: ~executor-slots × small k; 8 here so every
#: bucket is populated at sf0.001's 500 docs)
_PACK_BUCKETS = 8


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing: within a bucket,
    documents are concatenated in doc_id order and the token stream is
    chunked into fixed ``_PACK_SEQ_LEN`` windows; each doc reports the
    training sequence and offset where it starts and how many sequences
    it spans — the layout step every LLM training pipeline runs last.

    Packing is inherently order-dependent, so it is made *bucket-local*:
    a deterministic hash assigns each doc to one of ``_PACK_BUCKETS``
    streams and the running token count is a window partitioned by
    bucket.  That is exactly how production packers shard (one stream
    per writer task) — the shuffle is one O(docs) hash exchange and the
    per-bucket sort is the unavoidable price of a deterministic layout;
    no global ordering exists anywhere.  All arithmetic is exact int64
    (token counts, cumulative sums, floor-div), so DuckDB parity is
    bit-exact with no float involvement.

    Analogue in the reference: the reading-order concat that assembles
    page text from ordered segments (recognize.py:986-1004); here the
    corpus-level analogue assembles fixed-length training sequences
    from ordered documents.
    """
    docs = read_documents(spark, sf_dir)
    tokens = F.size(split_words(F.col("text"))).cast("long")
    bucket = hash_mod(
        F.concat(F.lit("pack|"), F.col("doc_id").cast("string")), _PACK_BUCKETS
    )
    base = docs.select(
        "doc_id", tokens.alias("n_tokens"), bucket.alias("bucket")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("tok_start")
    out = base.select("doc_id", "bucket", "n_tokens", cum.alias("cum"), start)
    # integer DIV keeps the whole operator in exact int64 — no float
    # division even at 10^14-token cumulative counts (beyond double's
    # 2^53 integer range)
    s = _PACK_SEQ_LEN
    return out.select(
        "doc_id",
        "bucket",
        "n_tokens",
        F.expr(f"tok_start DIV {s}").alias("seq_index"),
        (F.col("tok_start") % F.lit(s)).alias("seq_offset"),
        F.expr(f"(cum - 1) DIV {s} - tok_start DIV {s} + 1").alias(
            "n_seqs_spanned"
        ),
    )


SQL_PACK_SEQUENCES = f"""
WITH base AS (
  SELECT doc_id,
         len(str_split(text, ' '))::BIGINT AS n_tokens,
         {sql_md5_mod("'pack|' || doc_id", _PACK_BUCKETS)} AS bucket
  FROM documents),
runs AS (
  SELECT doc_id, bucket, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM base)
SELECT doc_id, bucket, n_tokens,
       ((cum - n_tokens) // {_PACK_SEQ_LEN})::BIGINT AS seq_index,
       ((cum - n_tokens) % {_PACK_SEQ_LEN})::BIGINT AS seq_offset,
       (((cum - 1) // {_PACK_SEQ_LEN}) - ((cum - n_tokens) // {_PACK_SEQ_LEN})
        + 1)::BIGINT AS n_seqs_spanned
FROM runs
"""


# ---------------------------------------------------------------------------
# T13 — Gopher quality rules (Rae et al. 2021 §A1.1): the named
# threshold filters every large-scale webtext pipeline runs before
# training — word-count bounds, mean-word-length band, alphabetic-word
# fraction, and stopword presence — emitted as PER-RULE booleans plus the
# overall verdict, so downstream can audit WHICH rule dropped a document
# (the quality_score operator above gives a blended score; this is the
# hard gate).  Thresholds follow the paper where the corpus carries the
# signal (3 <= mean word length <= 10, >= 0.8 alphabetic-word fraction,
# >= 2 distinct stopwords) with the word-count band adapted to the
# synthetic corpus scale.
#
# Scale shape: a pure narrow map — every rule is a JVM higher-order
# array expression over the row's own words, no shuffle, no UDF; the
# filter composes with any downstream operator without repartitioning.
# Analogue in the reference: the confidence/size gates that drop
# degenerate segments before recognition (recognize.py:1007-1029,
# segment_region size filters).
# ---------------------------------------------------------------------------
_GOPHER_MIN_WORDS = 15
_GOPHER_MAX_WORDS = 100000
_GOPHER_MIN_MEAN_LEN = 3.0
_GOPHER_MAX_MEAN_LEN = 10.0
_GOPHER_MIN_ALPHA_FRAC = 0.8
_GOPHER_MIN_STOPWORDS = 2


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the word array and each heavy per-row reduction are named columns
    # computed once, over a re-split scan: in one projection every rule
    # would re-run the split (~10x) and the char-sum fold (3x), on the
    # scan's one task
    staged = resplit(read_documents(spark, sf_dir)).select(
        "doc_id", split_words(F.col("text")).alias("__w")
    )
    words = F.col("__w")
    counted = staged.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("__cs"),
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).alias("__na"),
        F.size(
            F.array_distinct(F.filter(words, lambda w: w.isin(*_STOPWORDS)))
        ).alias("n_distinct_stopwords"),
    )
    n = F.col("n_words")
    n_safe = F.greatest(n, F.lit(1))
    mean_len = F.col("__cs") / n_safe
    alpha_frac = F.col("__na") / n_safe
    n_stop = F.col("n_distinct_stopwords")
    r_words = (n >= _GOPHER_MIN_WORDS) & (n <= _GOPHER_MAX_WORDS)
    r_mean = (mean_len >= _GOPHER_MIN_MEAN_LEN) & (
        mean_len <= _GOPHER_MAX_MEAN_LEN
    )
    r_alpha = alpha_frac >= _GOPHER_MIN_ALPHA_FRAC
    r_stop = n_stop >= _GOPHER_MIN_STOPWORDS
    return counted.select(
        "doc_id",
        "n_words",
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        "n_distinct_stopwords",
        r_words.alias("rule_word_count"),
        r_mean.alias("rule_mean_len"),
        r_alpha.alias("rule_alpha"),
        r_stop.alias("rule_stopwords"),
        (r_words & r_mean & r_alpha & r_stop).alias("pass_gopher"),
    )


SQL_GOPHER_RULES = f"""
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS words FROM documents),
m AS (
  SELECT doc_id,
         len(words) AS n_words,
         list_sum(list_transform(words, x -> length(x)))::DOUBLE
           / GREATEST(len(words), 1) AS mean_word_len,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
           / GREATEST(len(words), 1) AS alpha_frac,
         len(list_distinct(list_filter(words,
             x -> x IN ('the','a','of','and','to')))) AS n_distinct_stopwords
  FROM w)
SELECT doc_id, n_words,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(alpha_frac, 6) AS alpha_frac,
       n_distinct_stopwords,
       (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS})
         AS rule_word_count,
       (mean_word_len >= {_GOPHER_MIN_MEAN_LEN}
        AND mean_word_len <= {_GOPHER_MAX_MEAN_LEN}) AS rule_mean_len,
       (alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}) AS rule_alpha,
       (n_distinct_stopwords >= {_GOPHER_MIN_STOPWORDS}) AS rule_stopwords,
       (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS}
        AND mean_word_len >= {_GOPHER_MIN_MEAN_LEN}
        AND mean_word_len <= {_GOPHER_MAX_MEAN_LEN}
        AND alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}
        AND n_distinct_stopwords >= {_GOPHER_MIN_STOPWORDS}) AS pass_gopher
FROM m
"""


# ---------------------------------------------------------------------------
# T14 — character-level stats (C4/CCNet natural-language signals): char
# class fractions (alphabetic / digit / space) and the Shannon character
# entropy in nats — low entropy flags repeated-char junk and template
# boilerplate, extreme class fractions flag code/markup/number dumps; the
# usual companions to the word-level gopher_rules gate above.
#
# Scale shape: a pure narrow map — the char array, class filters, and the
# entropy fold are all row-local higher-order expressions; zero shuffle.
# Cross-engine float parity: both engines iterate the SAME sorted distinct
# char order for the sum of cnt*ln(cnt) (a groupBy-sum twin would change
# summation order and risk ulp drift at the rounding boundary).
# ---------------------------------------------------------------------------
def q_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Row-local O(n log n): class fractions come from whole-string
    # regexp_count / replace (one pass each, no char array), and the
    # entropy term sum(cnt*ln(cnt)) is a single run-length fold over the
    # SORTED char array (repetition_stats' pattern) — runs close in
    # sorted-char order, which is exactly the order the DuckDB twin sums
    # its per-uniq terms in, so the float sums agree bit-for-bit.  The
    # sorted array is a NAMED column referenced once by the fold, so the
    # expensive build is never duplicated (the inline O(n*d) per-uniq
    # count form measured 47 s on the bench corpus; this shape ~1 s).
    docs = resplit(read_documents(spark, sf_dir))
    text = F.col("text")
    n = F.length(text).cast("long")
    # split on the empty regex is a single JVM call producing the char
    # array directly (Java "abc".split("") semantics: no empty tokens for
    # non-empty input) — measured ~3x faster than a per-index substr
    # lambda, which evaluates one interpreted expression per character
    sorted_chars = F.when(
        n >= 1, F.sort_array(F.split(text, ""))
    ).otherwise(F.array().cast("array<string>"))
    n_safe = F.greatest(n, F.lit(1).cast("long"))
    # equal-run extraction is ONE Java-regex pass, not an interpreted
    # per-CHAR lambda (a 4-field struct built per char): '(?s)(.)\1*'
    # greedily matches each maximal run of one codepoint in the sorted-char
    # string, so the run array IS the run-length encoding, and the per-run
    # aggregate touches d elements (distinct chars), not n (chars).  Terms
    # len*ln(len) are added in ascending-char order, the DuckDB twin's
    # order, and a length-1 run contributes +0.0.  Measured ~8x faster
    # than the per-char fold on the sf1.0 corpus.
    base = docs.select(
        "doc_id",
        n.alias("n"),
        F.regexp_extract_all(
            F.array_join(sorted_chars, ""), F.lit(r"(?s)(.)\1*"), F.lit(0)
        ).alias("runs"),
        (F.regexp_count(text, F.lit("[A-Za-z]")) / n_safe).alias("fa"),
        (F.regexp_count(text, F.lit("[0-9]")) / n_safe).alias("fd"),
        (
            (n - F.length(F.replace(text, F.lit(" "), F.lit("")))) / n_safe
        ).alias("fs"),
    )

    def _run_term(run):
        return F.when(
            run > 0, run.cast("double") * F.log(run.cast("double"))
        ).otherwise(F.lit(0.0))

    fold = F.aggregate(
        F.col("runs"),
        F.lit(0.0),
        lambda acc, r: acc + _run_term(F.length(r).cast("long")),
    )
    s = base.select(
        "doc_id",
        "n",
        "fa",
        "fd",
        "fs",
        F.size("runs").cast("long").alias("nu"),
        fold.alias("ssum"),
    )
    entropy = F.when(
        F.col("n") >= 1,
        F.log(F.col("n").cast("double")) - F.col("ssum") / F.col("n"),
    ).otherwise(F.lit(0.0))
    return s.select(
        "doc_id",
        F.col("n").alias("n_chars_total"),
        F.col("nu").alias("n_distinct_chars"),
        F.round("fa", 6).alias("frac_alpha"),
        F.round("fd", 6).alias("frac_digit"),
        F.round("fs", 6).alias("frac_space"),
        F.round(entropy, 6).alias("char_entropy"),
    )


SQL_CHAR_STATS = """
WITH c AS (
  SELECT doc_id, text, length(text)::BIGINT AS n,
         CASE WHEN length(text) >= 1 THEN
           list_transform(generate_series(1, length(text)),
                          i -> substr(text, i, 1))
         ELSE []::VARCHAR[] END AS chars
  FROM documents),
u AS (
  SELECT doc_id, text, n, chars,
         list_sort(list_distinct(chars)) AS uniq
  FROM c),
s AS (
  -- per-uniq terms summed in sorted-char order: the same order the
  -- Spark run-length fold closes its runs in, so float sums agree
  SELECT doc_id, text, n, uniq,
         list_sum(list_transform(uniq,
           cc -> len(list_filter(chars, x -> x = cc))::DOUBLE
                 * ln(len(list_filter(chars, x -> x = cc))::DOUBLE)))
           AS ssum
  FROM u)
SELECT doc_id,
       n AS n_chars_total,
       len(uniq) AS n_distinct_chars,
       ROUND(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE
             / GREATEST(n, 1), 6) AS frac_alpha,
       ROUND(len(regexp_extract_all(text, '[0-9]'))::DOUBLE
             / GREATEST(n, 1), 6) AS frac_digit,
       ROUND((n - length(replace(text, ' ', '')))::DOUBLE
             / GREATEST(n, 1), 6) AS frac_space,
       ROUND(CASE WHEN n >= 1 THEN ln(n::DOUBLE) - COALESCE(ssum, 0.0) / n
                  ELSE 0.0 END, 6) AS char_entropy
FROM s
"""


# ---------------------------------------------------------------------------
# T15 — per-language length distribution (the corpus-profile report every
# mixture-planning pass starts from: how long are documents per language,
# at the quartiles that drive packing and truncation choices).  Exact
# interpolated percentiles here for oracle parity (both engines sort the
# same int64 column, interpolation on exact ints is deterministic); at
# production scale swap the percentile() calls for approx_percentile —
# the one-pass KLL/GK sketch — which is the documented deployment form
# (exact per-group percentiles need a per-group sort that is pointless
# at 10^12 rows when the report tolerates sketch error).
#
# Scale shape: one groupBy on lang (|langs| rows out, map-side partials
# for count/sum/min/max); mean is an exact int64 sum divided once, so
# cross-engine float parity is exact regardless of summation order.
# ---------------------------------------------------------------------------
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    n = F.col("n_chars")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(n).alias("min_chars"),
            F.round(
                F.sum(n).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_chars"),
            F.percentile(n, F.lit(0.25)).alias("p25"),
            F.percentile(n, F.lit(0.5)).alias("p50"),
            F.percentile(n, F.lit(0.9)).alias("p90"),
            F.max(n).alias("max_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "min_chars",
            "mean_chars",
            F.round("p25", 6).alias("p25_chars"),
            F.round("p50", 6).alias("p50_chars"),
            F.round("p90", 6).alias("p90_chars"),
            "max_chars",
        )
    )


SQL_LENGTH_QUANTILES = """
SELECT lang,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       ROUND(SUM(n_chars)::DOUBLE / COUNT(*), 6) AS mean_chars,
       ROUND(quantile_cont(n_chars, 0.25), 6) AS p25_chars,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


QUERIES = {
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "fingerprint": q_fingerprint,
    "curation_verdict": q_curation_verdict,
    "host_skew": q_host_skew,
    "pii_scan": q_pii_scan,
    "repetition_stats": q_repetition_stats,
    "decontaminate": q_decontaminate,
    "lm_score": q_lm_score,
    "mix_weights": q_mix_weights,
    "pack_sequences": q_pack_sequences,
    "gopher_rules": q_gopher_rules,
    "char_stats": q_char_stats,
    "length_quantiles": q_length_quantiles,
}

ORACLE_SQL = {
    "lang_id": SQL_LANG_ID,
    "quality_score": SQL_QUALITY,
    "token_count": SQL_TOKEN_COUNT,
    "fingerprint": SQL_FINGERPRINT,
    "curation_verdict": SQL_CURATION,
    "host_skew": SQL_HOST_SKEW,
    "pii_scan": SQL_PII_SCAN,
    "repetition_stats": SQL_REPETITION_STATS,
    "decontaminate": SQL_DECONTAMINATE,
    "lm_score": SQL_LM_SCORE,
    "mix_weights": SQL_MIX_WEIGHTS,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "gopher_rules": SQL_GOPHER_RULES,
    "char_stats": SQL_CHAR_STATS,
    "length_quantiles": SQL_LENGTH_QUANTILES,
}
