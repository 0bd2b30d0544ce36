"""Deduplication operators over ``documents`` — exact, MinHash+LSH,
SimHash, and n-gram Jaccard.

Core training-data-pipeline layer.  Everything is JVM-side Spark built-ins
(higher-order array functions, hash-groupBy, equi-joins) so Catalyst/AQE
handle pushdown and skew; the only shuffle is the dedup groupBy/join on the
hash keys, which is the theoretical minimum.  Cross-engine hash parity with
the DuckDB oracles comes from md5-derived integers (functions/__init__.py):
Spark's xxhash64/hash have no DuckDB twin, md5 does.

At 100 TB the same plans hold: shingle hashing is a narrow map; the LSH
band join shuffles only (band_key, doc_id) pairs — a tiny projection of the
corpus — and AQE's skew-join splitting handles hot bands (boilerplate-heavy
shingle clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    HASH_P,
    hash_long,
    hash_mod,
    split_words,
    sql_md5_long,
    sql_md5_mod,
    word_ngrams,
)
from ..sources import read_documents, resplit

N_HASHES = 16
BAND_SIZE = 4
N_BANDS = N_HASHES // BAND_SIZE
# deterministic affine-hash parameters (shared literals on both engines)
_A = [((2 * i + 1) * 1103515245) % HASH_P for i in range(N_HASHES)]
_B = [(i * 12345 + 6789) % HASH_P for i in range(N_HASHES)]

SIMHASH_BITS = 16


# ---------------------------------------------------------------------------
# shared shingling: 3-word shingles -> md5-derived int hashes
# ---------------------------------------------------------------------------
def _affine(a: int, b: int):
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_P)


def _sig_cols() -> list:
    return [
        F.array_min(F.transform(F.col("hs"), _affine(a, b))).alias(f"s{i}")
        for i, (a, b) in enumerate(zip(_A, _B))
    ]


def _staged_hs(docs: DataFrame) -> DataFrame:
    """docs -> docs + ``hs`` (3-word-shingle md5 hashes), with the word
    array staged as a named column: CollapseProject keeps a named,
    multi-referenced non-cheap alias in its own Project, so the split runs
    once per row instead of once per element reference inside the shingle
    lambda (measured 3.4x on the sf1.0 shingle map, 1.50 s -> 0.44 s,
    identical values)."""
    cols = docs.columns
    staged = docs.select(*cols, split_words(F.col("text")).alias("__w"))
    sh = staged.select(*cols, word_ngrams(F.col("__w"), 3).alias("__sh"))
    return sh.select(
        *cols,
        F.transform(F.col("__sh"), lambda s: hash_mod(s, HASH_P)).alias("hs"),
    )


_SQL_SHINGLE_HASHES = f"""
list_transform(
  list_transform(generate_series(1, len(str_split(text,' ')) - 2),
                 i -> str_split(text,' ')[i] || ' ' ||
                      str_split(text,' ')[i+1] || ' ' ||
                      str_split(text,' ')[i+2]),
  s -> {sql_md5_mod('s', HASH_P)})
"""


# ---------------------------------------------------------------------------
# D1 — exact dedup: hash-groupBy on content (keeper = min doc_id)
# ---------------------------------------------------------------------------
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir))
    return (
        docs.select(hash_long(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


SQL_EXACT_DEDUP = f"""
SELECT {sql_md5_long('text')} AS content_hash,
       MIN(doc_id) AS keeper_doc_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# D2 — MinHash signatures (shingle -> minhash; band-join candidates below)
# ---------------------------------------------------------------------------
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir)).where(
        F.size(split_words(F.col("text"))) >= 3
    )
    with_h = _staged_hs(docs).select("doc_id", "hs")
    sigged = with_h.select("doc_id", *_sig_cols())
    sig_str = F.concat_ws("-", *[F.col(f"s{i}").cast("string") for i in range(N_HASHES)])
    return sigged.select("doc_id", sig_str.alias("minhash_sig"))


def _sql_sig_exprs() -> list[str]:
    return [
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {HASH_P})) AS s{i}"
        for i, (a, b) in enumerate(zip(_A, _B))
    ]


SQL_MINHASH_SIG = f"""
WITH h AS (
  SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs
  FROM documents WHERE len(str_split(text,' ')) >= 3),
s AS (
  SELECT doc_id, {', '.join(_sql_sig_exprs())} FROM h)
SELECT doc_id,
       {" || '-' || ".join(f"s{i}::VARCHAR" for i in range(N_HASHES))} AS minhash_sig
FROM s
"""


# ---------------------------------------------------------------------------
# D2b — LSH band bucketing: candidate near-duplicate pairs
# (band bucketing makes the shuffle O(docs * bands), never O(docs^2))
#
# Physical shape: ONE pass computes the signatures (no alias self-join, which
# would plan the md5-heavy signature DAG twice), then groupBy(band_key)
# collects each bucket and generates in-bucket pairs with higher-order array
# functions — a single hash shuffle of (band_key, doc_id) pairs.  Hot bands
# (boilerplate-heavy shingle clusters: at web scale one band bucket can hold
# 10^6 docs, a 10^12-pair explosion) are capped at HOT_BAND_CAP docs and
# skipped; near-duplicates still pair through their other, more selective
# bands, so recall degrades gracefully instead of the job dying.
# ---------------------------------------------------------------------------
HOT_BAND_CAP = 64


def _band_keys_col() -> F.Column:
    return F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(str(b)),
                *[
                    F.col(f"s{b * BAND_SIZE + j}").cast("string")
                    for j in range(BAND_SIZE)
                ],
            )
            for b in range(N_BANDS)
        ]
    )


def _bucket_pairs(arr, pair):
    """``pair(x, y)`` for every element x of the sorted bucket array
    ``arr`` and every later element y, flattened into one array.  slice is
    1-based, so the tail of element i starts at i + 2."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)), lambda y: pair(x, y)
            ),
        )
    )


def lsh_candidate_pairs(docs: DataFrame, hs_df: DataFrame | None = None) -> DataFrame:
    """docs(doc_id, text) -> distinct candidate pairs (doc_a < doc_b).

    Shared by q_lsh_pairs / q_near_dedup_verified / q_dedup_components so
    the signature DAG exists exactly once in every consumer's plan.

    ``hs_df``: optional precomputed (doc_id, hs) shingle-hash table — a
    caller that also needs the shingle sets for exact verification passes
    its shared copy so the md5-heavy shingle map runs once, not per
    branch.  MinHash is invariant under duplicate elements, so distinct or
    raw shingle arrays give identical signatures."""
    if hs_df is None:
        docs = docs.where(F.size(split_words(F.col("text"))) >= 3)
        hs_df = _staged_hs(docs).select("doc_id", "hs")
    sigged = hs_df.select("doc_id", *_sig_cols())
    banded = sigged.select("doc_id", F.explode(_band_keys_col()).alias("band_key"))
    buckets = (
        banded.groupBy("band_key")
        # sort_array, not array_sort: array_sort lowers to an interpreted
        # comparison lambda per element pair, sort_array is codegen'd
        # natural ordering — identical for null-free elements
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= HOT_BAND_CAP))
    )
    pairs = _bucket_pairs(
        F.col("ids"), lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(resplit(read_documents(spark, sf_dir)))


def _sql_band_selects() -> str:
    parts = []
    for b in range(N_BANDS):
        cols = " || '-' || ".join(
            f"s{b * BAND_SIZE + j}::VARCHAR" for j in range(BAND_SIZE)
        )
        parts.append(f"SELECT doc_id, '{b}' || '-' || {cols} AS band_key FROM s")
    return " UNION ALL ".join(parts)


# the oracle applies the identical hot-band cap via a window count
_SQL_BANDED_CAPPED = f"""
  SELECT doc_id, band_key FROM banded
  QUALIFY COUNT(*) OVER (PARTITION BY band_key) BETWEEN 2 AND {HOT_BAND_CAP}
"""

SQL_LSH_PAIRS = f"""
WITH h AS (
  SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs
  FROM documents WHERE len(str_split(text,' ')) >= 3),
s AS (
  SELECT doc_id, {', '.join(_sql_sig_exprs())} FROM h),
banded AS ({_sql_band_selects()}),
capped AS ({_SQL_BANDED_CAPPED})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM capped a JOIN capped b USING (band_key)
WHERE a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# D3 — SimHash (bit-majority fingerprint over word hashes)
# ---------------------------------------------------------------------------
def _vote_fn(b: int):
    return lambda acc, h: acc + (F.shiftright(h, b) % 2) * 2 - 1


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir))
    words = split_words(F.col("text"))
    hs = F.transform(words, lambda w: hash_mod(w, HASH_P))
    with_h = docs.select("doc_id", hs.alias("hs"))
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        vote = F.aggregate(
            F.col("hs"),
            F.lit(0).cast("long"),
            _vote_fn(b),
        )
        sim = sim + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return with_h.select("doc_id", sim.alias("simhash"))


def _sql_simhash_expr() -> str:
    terms = [
        f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {b}) % 2) * 2 - 1)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    ]
    return " + ".join(terms)


SQL_SIMHASH = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '), w -> {sql_md5_mod('w', HASH_P)}) AS hs
  FROM documents)
SELECT doc_id, ({_sql_simhash_expr()})::BIGINT AS simhash FROM h
"""


# ---------------------------------------------------------------------------
# D4 — n-gram Jaccard near-dup statistics (exact verification layer that
# sits behind LSH candidate generation at scale)
#
# Scale guard: shingles with document frequency > SHINGLE_DF_CAP are dropped
# BEFORE the pair join.  Without it, one stopword-ish shingle shared by 10^6
# docs is a 10^12-pair explosion inside a single join key; with it, per-key
# fanout is bounded at DF_CAP^2 and the Jaccard is computed over the capped
# shingle universe on both engines (sizes are counted after the cap, so
# intersection and union stay consistent).  The df filter is a window count
# over the same key the join shuffles on — one extra pass, no extra shuffle
# pattern.
# ---------------------------------------------------------------------------
SHINGLE_DF_CAP = 64


def q_ngram_jaccard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir))
    exploded = _staged_hs(docs).select(
        "doc_id", "lang", F.explode(F.array_distinct("hs")).alias("h")
    )
    # bucket-and-generate (same physical shape as lsh_candidate_pairs): ONE
    # groupBy(h) shuffle collects each shingle's posting list, the df-cap
    # drops hot shingles, and pairs are generated in-bucket with
    # higher-order array functions — no self-join, no second pass over the
    # shingle table.  Posting lists are bounded at SHINGLE_DF_CAP members.
    buckets = (
        exploded.groupBy("h")
        .agg(
            # sort_array: codegen'd natural struct ordering (see q_lsh_pairs)
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id").alias("d"), F.col("lang").alias("g")))
            ).alias("ms")
        )
        .where(F.size("ms") <= SHINGLE_DF_CAP)
    )
    # NOT checkpointed although two branches consume it: the static plan
    # shows two scan subtrees, but AQE's runtime exchange reuse collapses
    # them, while an eager localCheckpoint of the posting table measured
    # ~10x the whole query in row-wise RDD materialization of the struct
    # arrays.
    # per-doc size over the capped shingle universe
    sizes = (
        buckets.select(F.explode("ms").alias("m"))
        .groupBy(F.col("m.d").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    # filter the pair array, not the exploded rows: a row filter after the
    # explode measured 1.12x slower at sf0.1
    pairs = _bucket_pairs(
        F.col("ms"),
        lambda x, y: F.struct(
            x["g"].alias("lang"),
            x["d"].alias("da"),
            y["d"].alias("db"),
            (x["g"] == y["g"]).alias("same"),
        ),
    )
    pair_arr = F.filter(pairs, lambda p: p["same"])
    inter = (
        buckets.where(F.size("ms") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(
            F.col("p.lang").alias("lang"),
            F.col("p.da").alias("da"),
            F.col("p.db").alias("db"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    # sizes joins: let AQE pick broadcast-vs-shuffle from runtime stats (at
    # 10^12 docs the per-doc size table is NOT broadcastable)
    j = (
        inter.join(sa, "da")
        .join(sb, "db")
        .withColumn("jac", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.count_if(F.col("jac") >= 0.5).alias("n_dup_pairs"),
        F.round(F.max("jac"), 6).alias("max_jaccard"),
    )


SQL_NGRAM_JACCARD = f"""
WITH h AS (
  SELECT doc_id, lang, list_distinct({_SQL_SHINGLE_HASHES}) AS hs FROM documents),
e0 AS (
  SELECT doc_id, lang, unnest(hs) AS h FROM h),
e AS (
  SELECT doc_id, lang, h FROM e0
  QUALIFY COUNT(*) OVER (PARTITION BY h) <= {SHINGLE_DF_CAP}),
sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY doc_id),
inter AS (
  SELECT a.lang AS lang, a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
  FROM e a JOIN e b ON a.h = b.h AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3),
j AS (
  SELECT i.lang, i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) AS jac
  FROM inter i JOIN sizes sa ON i.da = sa.doc_id JOIN sizes sb ON i.db = sb.doc_id)
SELECT lang, COUNT(*) AS n_candidate_pairs,
       count_if(jac >= 0.5)::BIGINT AS n_dup_pairs,
       ROUND(MAX(jac), 6) AS max_jaccard
FROM j GROUP BY lang
"""


# ---------------------------------------------------------------------------
# D5 — the full verified near-dedup pipeline: LSH candidates -> exact
# Jaccard verification -> keeper assignment.  This is the canonical
# web-scale shape: the O(n^2) exact measure runs ONLY on the LSH candidate
# set (O(docs x bands) shuffle), and the final map picks min(doc_id) as
# keeper per duplicate pair (greedy union-by-min suffices at one hop;
# transitive closure is an iterative job out of SQL scope and documented
# as such).
# ---------------------------------------------------------------------------
JACCARD_THRESHOLD = 0.6


def q_near_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir)).where(
        F.size(split_words(F.col("text"))) >= 3
    )
    # the shingle table feeds the LSH signature branch AND both
    # verification sides.  Ending it in a re-split exchange lets AQE run the
    # md5 shingle map once and hand the other consumers a ReusedExchange
    # (ngram_jaccard_stats precedent; no eager checkpoint, so building the
    # query runs no job).  For the exchanges to match: the joins infer
    # isnotnull(doc_id), which is stated here (a no-op for the LSH side too:
    # collect_list drops null ids), and the verification sides join on
    # DataFrame aliases instead of renamed columns, since a rename is
    # pushed below the exchange
    with_h = resplit(
        _staged_hs(docs.where(F.col("doc_id").isNotNull()))
        .select("doc_id", F.array_distinct("hs").alias("hs"))
    )
    cands = lsh_candidate_pairs(docs, hs_df=with_h).select(
        F.col("doc_a").alias("da"), F.col("doc_b").alias("db")
    )
    ha, hb = with_h.alias("ha"), with_h.alias("hb")
    verified = (
        cands.join(ha, F.col("da") == F.col("ha.doc_id"))
        .join(hb, F.col("db") == F.col("hb.doc_id"))
        .select("da", "db", F.col("ha.hs").alias("hsa"), F.col("hb.hs").alias("hsb"))
        .withColumn("inter", F.size(F.array_intersect("hsa", "hsb")))
        .withColumn(
            "jac",
            F.col("inter")
            / (F.size("hsa") + F.size("hsb") - F.col("inter")),
        )
        .where(F.col("jac") >= JACCARD_THRESHOLD)
    )
    return verified.select(
        F.col("da").alias("keeper_doc_id"),
        F.col("db").alias("dup_doc_id"),
        F.round("jac", 6).alias("jaccard"),
    )


SQL_NEAR_DEDUP = f"""
WITH docs3 AS (
  SELECT doc_id, text FROM documents WHERE len(str_split(text,' ')) >= 3),
h AS (
  SELECT doc_id, list_distinct({_SQL_SHINGLE_HASHES}) AS hs FROM docs3),
hraw AS (
  SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM docs3),
s AS (
  SELECT doc_id, {', '.join(_sql_sig_exprs())} FROM hraw),
banded AS ({{bands}}),
capped AS ({_SQL_BANDED_CAPPED}),
cands AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM capped a JOIN capped b USING (band_key)
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT c.da, c.db,
         len(list_intersect(ha.hs, hb.hs))::DOUBLE
           / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) AS jac
  FROM cands c JOIN h ha ON c.da = ha.doc_id JOIN h hb ON c.db = hb.doc_id)
SELECT da AS keeper_doc_id, db AS dup_doc_id, ROUND(jac, 6) AS jaccard
FROM verified WHERE jac >= {JACCARD_THRESHOLD}
""".replace("{bands}", _sql_band_selects())


# ---------------------------------------------------------------------------
# D6 — duplicate clusters: connected components over the LSH pair graph.
# The one genuinely ITERATIVE algorithm in the inventory: min-label
# propagation to fixpoint (driver loop over joins; at production scale each
# iteration is checkpointed and the loop runs O(graph diameter) times,
# which for near-dup clusters is tiny).  Oracle: DuckDB recursive CTE.
# ---------------------------------------------------------------------------
def connected_components(nodes: DataFrame, edges: DataFrame, max_iter: int = 200) -> DataFrame:
    """nodes(doc_id), edges(doc_a, doc_b) -> (doc_id, component_id) where
    component_id = min doc_id reachable (undirected).

    Runs min-label propagation to FIXPOINT (the oracle is the true
    transitive closure); ``max_iter`` is a safety bound well above any
    plausible near-dup-cluster diameter, and exceeding it raises rather
    than silently returning unconverged labels."""
    # materialize the edge list ONCE before the loop: edges is typically the
    # LSH candidate DAG (shingle md5 + band shuffle), and without the
    # checkpoint every iteration would re-execute that whole subtree.
    adj = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(F.col("doc_id").alias("node"), F.col("doc_id").alias("comp"))
    converged = False
    for _ in range(max_iter):
        nbr = (
            adj.join(labels, adj.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_min"))
        )
        # checkpoint FIRST (one execution of the join per iteration), then
        # derive `changed` from the materialized labels — a cheap join of
        # two checkpointed tables, not a second run of the propagation.
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_min", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} iterations; "
            "graph diameter exceeds the safety bound"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("component_id"))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir))
    nodes = docs.select("doc_id")
    edges = q_lsh_pairs(spark, sf_dir)
    return connected_components(nodes, edges)


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE h AS (
  SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs
  FROM documents WHERE len(str_split(text,' ')) >= 3),
s AS (
  SELECT doc_id, {', '.join(_sql_sig_exprs())} FROM h),
banded AS ({_sql_band_selects()}),
capped AS ({_SQL_BANDED_CAPPED}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b USING (band_key)
  WHERE a.doc_id < b.doc_id),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node)
SELECT node AS doc_id, MIN(comp) AS component_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# D7 — duplicated-substring coverage (the exact-substring-dedup signal of
# Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better"): per document, how much of its shingle set also appears in
# OTHER documents.  Where the pair operators above answer "which documents
# duplicate each other", this answers "how much of THIS document is
# duplicated text" — the per-doc removal/score signal an exact substring
# deduper thresholds on.
#
# Scale shape: NO pair generation anywhere — one groupBy(h) with map-side
# partial combine for the corpus df table, one equi-join back on h (AQE
# skew-split handles stopword-trigram hot keys; the join carries a count,
# never a posting list), one groupBy(doc_id), and a co-partitioned
# doc_id left join to re-attach zero-shingle docs.  Unlike the pair ops
# no df cap is needed: per-key work is O(df), not O(df^2).
# ---------------------------------------------------------------------------
def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_shingles is carried THROUGH the explode (the decontaminate
    # precedent), so there is no separate counts branch (a third plan of
    # the md5 shingle DAG) and no final doc_id join of two per-doc tables:
    # two shingle passes, one narrow groupBy(h), one left join against the
    # small df>=2 table (AQE broadcast), one map-side-combined
    # groupBy(doc_id).  explode_outer keeps shingle-less
    # docs as (h = null) rows, which the left join carries through with
    # df null, so count("df") gives them n_dup = 0 — same rows as before.
    docs = resplit(read_documents(spark, sf_dir))
    ds = _staged_hs(docs).select("doc_id", F.array_distinct("hs").alias("ds"))
    e = ds.select(
        "doc_id",
        F.size("ds").cast("long").alias("n_shingles"),
        F.explode_outer("ds").alias("h"),
    )
    dfc = (
        e.where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
    )
    per_doc = (
        e.join(dfc, "h", "left")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("df").alias("n_dup_shingles"))
    )
    ratio = F.when(
        F.col("n_shingles") > 0, F.col("n_dup_shingles") / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_dup_shingles",
        F.round(ratio, 6).alias("dup_ratio"),
    )


SQL_DUP_SPAN_COVERAGE = f"""
WITH hs AS (
  SELECT doc_id, list_distinct({_SQL_SHINGLE_HASHES}) AS hs FROM documents),
counts AS (SELECT doc_id, len(hs)::BIGINT AS n_shingles FROM hs),
e AS (SELECT doc_id, unnest(hs) AS h FROM hs),
dfc AS (SELECT h, COUNT(*) AS df FROM e GROUP BY h),
dup AS (
  SELECT e.doc_id, COUNT(*) AS n_dup_shingles
  FROM e JOIN dfc ON e.h = dfc.h WHERE dfc.df >= 2 GROUP BY e.doc_id)
SELECT c.doc_id, c.n_shingles,
       COALESCE(d.n_dup_shingles, 0) AS n_dup_shingles,
       ROUND(CASE WHEN c.n_shingles > 0
                  THEN COALESCE(d.n_dup_shingles, 0)::DOUBLE / c.n_shingles
                  ELSE 0.0 END, 6) AS dup_ratio
FROM counts c LEFT JOIN dup d ON c.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# D8 — paragraph-level exact dedup (CCNet-style line dedup; Wenzek et al.
# 2020 remove duplicated lines BEFORE document-level dedup, and FineWeb
# keeps the same stage).  The corpus text has no newline structure, so the
# segmenter is a deterministic fixed-width word grid (_PARA_W words per
# segment) — the corpus-level analogue of the reference's fixed-grid line
# segmentation inside a region (segment_line splitting in
# /root/reference/ocrd_tesserocr/recognize.py:701-741): split, identify,
# keep first occurrence, reassemble in reading order.
#
# Scale shape: NO pair generation and NO windows over the hash key.  The
# global first-occurrence winner is a groupBy(h) arg-min carried as a
# single (doc_id, pos) struct — map-side partial combine collapses every
# mapper's copies of a hot boilerplate segment to ONE row before the
# shuffle, so the classic hot-line skew (cookie banners, nav text) never
# concentrates on a reducer.  Then one equi-join back on h (AQE
# skew-split) and one groupBy(doc_id) whose order-guaranteed concat is
# the same sort-within-group shape as agg_concat_reading_order.  All
# shuffles are O(segments); per-key state is one struct, so no cap is
# needed.
# ---------------------------------------------------------------------------
_PARA_W = 8  # words per pseudo-paragraph segment


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir))
    w = _PARA_W
    # the word array is STAGED as a named column: an inline split would
    # re-run once per segment inside the slice lambda — O(n_words x
    # n_segs) per row (see functions.word_ngrams)
    staged = docs.select("doc_id", split_words(F.col("text")).alias("__w"))
    wc = F.col("__w")
    n_segs = F.floor((F.size(wc) + F.lit(w - 1)) / F.lit(w)).cast("int")
    segs_arr = F.transform(
        F.sequence(F.lit(0).cast("int"), n_segs - 1),
        lambda i: F.array_join(F.slice(wc, i * w + 1, w), " "),
    )
    segs = staged.select(
        "doc_id", F.posexplode(segs_arr).alias("pos", "seg")
    ).withColumn("h", hash_long(F.concat(F.lit("para|"), F.col("seg"))))
    keepers = segs.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("k")
    )
    j = segs.join(keepers, "h").select(
        "doc_id",
        "pos",
        "seg",
        (
            (F.col("doc_id") == F.col("k.doc_id"))
            & (F.col("pos") == F.col("k.pos"))
        ).alias("kept"),
    )
    out = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        # sort_array + getField: the array_sort comparison lambda and the
        # transform projection lambda are both interpreted; these codegen'd
        # twins are value-identical on the null-free kept list
        F.array_join(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("kept"), F.struct("pos", "seg"))
                )
            ).getField("seg"),
            " ",
        ).alias("dedup_text"),
    )
    ratio = (F.col("n_segments") - F.col("n_kept")) / F.col("n_segments")
    return out.select(
        "doc_id",
        "n_segments",
        "n_kept",
        F.round(ratio, 6).alias("dup_ratio"),
        "dedup_text",
    )


SQL_PARAGRAPH_DEDUP = f"""
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS words FROM documents),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(words[(i * {_PARA_W} + 1):(i * {_PARA_W} + {_PARA_W})], ' ') AS seg
  FROM w, UNNEST(range((len(words) + {_PARA_W - 1}) // {_PARA_W})) AS t(i)),
hs AS (
  SELECT doc_id, pos, seg, {sql_md5_long("'para|' || seg")} AS h FROM segs),
k AS (
  SELECT h, MIN(struct_pack(d := doc_id, p := pos)) AS k FROM hs GROUP BY h),
j AS (
  SELECT hs.doc_id, hs.pos, hs.seg,
         (hs.doc_id = k.k.d AND hs.pos = k.k.p) AS kept
  FROM hs JOIN k USING (h))
SELECT doc_id,
       COUNT(*) AS n_segments,
       SUM(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       ROUND((COUNT(*) - SUM(CASE WHEN kept THEN 1 ELSE 0 END))::DOUBLE
             / COUNT(*), 6) AS dup_ratio,
       COALESCE(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE kept), '')
         AS dedup_text
FROM j GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# D9 — winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
# local document sketch): slide a window of _WINNOW_W consecutive shingle
# hashes and keep each window's minimum; the selected set is position-
# robust (guaranteed to share fingerprints with any copy that overlaps by
# one window) with expected density 2/(W+1) — the substring-matching
# sketch that complements minhash (set similarity) and the whole-doc
# polynomial fingerprint.  Documents shorter than one window keep their
# global minimum, the standard degenerate case.
#
# Scale shape: a pure narrow map — windows, minima, distinct, and sort
# are all row-local higher-order array expressions; zero shuffle, zero
# Python.  The sketch column then feeds any downstream bucketed join
# (same O(docs x density) shape as the LSH band table) without ever
# generating pairs here.
# ---------------------------------------------------------------------------
_WINNOW_W = 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = resplit(read_documents(spark, sf_dir))
    w = _WINNOW_W
    # staged projections: `hs` (the md5-heavy shingle map) is a NAMED
    # column referenced W+1 times above, so CollapseProject keeps it in
    # its own project and the md5 subtree is computed once (same shape
    # the minhash plan test pins); the window minimum is W unrolled
    # try_element_at lookups under least() (null-ignoring on both
    # engines) — NOT array_min(slice(...)), whose per-window array
    # allocation measured ~20x slower on the bench corpus.  Out-of-range
    # lookups (only the m < W degenerate case) yield nulls least()
    # skips, so the short-document fallback is the global min for free.
    base = _staged_hs(docs).select("doc_id", "hs")
    withm = base.select("doc_id", "hs", F.size("hs").alias("m"))
    hs, m = F.col("hs"), F.col("m")
    seq = F.sequence(F.lit(1), F.greatest(m - F.lit(w - 1), F.lit(1)))
    sel = F.when(
        m >= 1,
        F.transform(
            seq,
            lambda i: F.least(
                *[F.try_element_at(hs, i + j) for j in range(w)]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    staged = withm.select("doc_id", m.alias("n_shingles"), sel.alias("sel"))
    fpd = staged.select(
        "doc_id",
        "n_shingles",
        F.sort_array(F.array_distinct("sel")).alias("fps"),
    )
    # '-'-joined string sketch (the minhash_sig precedent above): a raw
    # array<bigint> column cannot be sorted by a pandas-based parity
    # check ("unhashable type: 'list'"), so the fingerprint set ships as
    # one scalar string; n_fingerprints stays the scalar cardinality
    return fpd.select(
        "doc_id",
        "n_shingles",
        F.size("fps").alias("n_fingerprints"),
        F.array_join(F.col("fps").cast("array<string>"), "-").alias(
            "fingerprints"
        ),
    )


SQL_WINNOW_FINGERPRINTS = f"""
WITH hs AS (
  SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM documents),
m AS (SELECT doc_id, hs, len(hs) AS m FROM hs),
sel AS (
  SELECT doc_id, m,
         CASE WHEN m >= 1 THEN
           list_sort(list_distinct(list_transform(
             generate_series(1, GREATEST(m - {_WINNOW_W - 1}, 1)),
             i -> LEAST({", ".join(f"hs[i + {j}]" for j in range(_WINNOW_W))}))))
         ELSE []::BIGINT[] END AS fps
  FROM m)
SELECT doc_id, m AS n_shingles, len(fps) AS n_fingerprints,
       array_to_string(fps, '-') AS fingerprints
FROM sel
"""


QUERIES = {
    "exact_dedup": q_exact_dedup,
    "minhash_signature": q_minhash_signature,
    "lsh_pairs": q_lsh_pairs,
    "simhash": q_simhash,
    "ngram_jaccard_stats": q_ngram_jaccard_stats,
    "near_dedup_verified": q_near_dedup_verified,
    "dedup_components": q_dedup_components,
    "dup_span_coverage": q_dup_span_coverage,
    "paragraph_dedup": q_paragraph_dedup,
    "winnow_fingerprints": q_winnow_fingerprints,
}

ORACLE_SQL = {
    "exact_dedup": SQL_EXACT_DEDUP,
    "minhash_signature": SQL_MINHASH_SIG,
    "lsh_pairs": SQL_LSH_PAIRS,
    "simhash": SQL_SIMHASH,
    "ngram_jaccard_stats": SQL_NGRAM_JACCARD,
    "near_dedup_verified": SQL_NEAR_DEDUP,
    "dedup_components": SQL_DEDUP_COMPONENTS,
    "dup_span_coverage": SQL_DUP_SPAN_COVERAGE,
    "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
}
