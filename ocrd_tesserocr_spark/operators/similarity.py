"""Similarity search over the ``embeddings`` table (array<float>).

Brute-force cosine top-k is the correctness baseline; the sign-bucketed
(IVF/LSH-style) variant is the scale path: at 10^9+ vectors the cross join
is infeasible, but a coarse bucket key turns it into an equi-join whose
shuffle is O(vectors), with each bucket scanned independently.

Everything is JVM-side (``zip_with`` + ``aggregate`` fold for the dot
product over whole-array-cast doubles — no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import read_table, resplit

N_QUERIES = 50  # query set: vec_id < 50
TOP_K = 5
BUCKET_DIMS = 4  # sign bits of the first 4 dims -> 16 buckets


def _dot(a, b):
    # whole-array cast BEFORE the fold: one codegen'd Cast per array
    # instead of an interpreted x.cast lambda dispatch per element, which
    # measured half the fold's cost (2.0x on the sf1.0 cosine_topk pair
    # loop; values bit-identical, same left-to-right summation order)
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _top_k(scored: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, sim) -> the TOP_K best neighbors per query,
    ranked by sim, ties broken by the lower neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "rnk", "sim")
    )


def _norm(a):
    ad = a.cast("array<double>")
    return F.sqrt(
        F.aggregate(
            F.zip_with(ad, ad, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# ---------------------------------------------------------------------------
# SIM1 — brute-force cosine top-k (baseline)
# ---------------------------------------------------------------------------
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # norms materialize in projections BELOW the join: O(n) norm folds,
    # not O(n*q) — the interpreted higher-order fold is the expensive part
    emb = resplit(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    # broadcast the small query side; the big side streams through unshuffled
    joined = emb.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("qv"), F.col("embedding")) / (F.col("qnrm") * F.col("nrm"))
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 4).alias("sim"),
    )
    return _top_k(scored)


_SQL_COS = """
ROUND(
  list_sum(list_transform(list_zip(q.embedding, e.embedding),
                          p -> p[1]::DOUBLE * p[2]::DOUBLE))
  / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4)
"""

SQL_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS sim
  FROM embeddings e, q WHERE e.vec_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM scored)
SELECT query_id, neighbor_id, rnk, sim FROM ranked WHERE rnk <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# SIM2 — sign-bucketed ANN (the scale path): coarse bucket = sign bits of
# the leading dims; equi-join on bucket instead of cross join
# ---------------------------------------------------------------------------
def _bucket(col, dims: int = BUCKET_DIMS) -> F.Column:
    bits = [
        F.when(F.element_at(col, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(dims)
    ]
    return F.concat(*bits)


def q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = resplit(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        _bucket(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket"),
        F.col("nrm").alias("qnrm"),
    )
    joined = emb.join(F.broadcast(q), "bucket").where(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qv"), F.col("embedding")) / (F.col("qnrm") * F.col("nrm"))
    scored = joined.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), F.round(cos, 4).alias("sim")
    )
    return _top_k(scored)


_SQL_BUCKET = " || ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
    for i in range(BUCKET_DIMS)
)

SQL_ANN_BUCKETED = f"""
WITH b AS (
  SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings),
q AS (
  SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_SQL_COS} AS sim
  FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM scored)
SELECT query_id, neighbor_id, rnk, sim FROM ranked WHERE rnk <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# SIM3 — embedding-cosine near-dup: bucketed candidate pairs -> cosine gate
# -> keeper (min vec_id).  The embedding-space member of the dedup family
# (exact / MinHash-LSH / SimHash / n-gram Jaccard / cosine): candidates come
# from the same sign-bucket equi-join as SIM2, exact cosine runs only inside
# buckets.  The synthetic test embeddings are random (no planted near-dups),
# so the default gate is calibrated to that corpus; production text
# embeddings use ~0.9+.
#
# Scale shape (the HOT_BAND_CAP twin, dedup.py:147-154): ``bucket_dims``
# sign bits give 2^bits buckets — size it so n_vectors / 2^bits stays near
# ``bucket_cap`` (10^9 vectors -> 16-24 bits, not this module's test-corpus
# default of 4) — and each bucket keeps only its ``bucket_cap`` lowest
# vec_ids before pair generation.  Candidate pairs are then bounded by
# 2^bits * C(cap, 2) = O(n_vectors * cap) for balanced buckets, never
# O(n^2/2^bits): a hot bucket (near-duplicate pile-up, the common case in
# web embeddings) degrades RECALL gracefully (dups beyond the cap horizon
# of their bucket are missed) instead of exploding the join.
# ---------------------------------------------------------------------------
COSINE_DUP_THRESHOLD = 0.40
BUCKET_CAP = 128


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    bucket_dims: int = BUCKET_DIMS,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """embeddings(vec_id, embedding) -> (keeper_vec_id, dup_vec_id, sim).

    The ROW_NUMBER cap plans as a map-side partial WindowGroupLimit: a hot
    bucket ships at most ``bucket_cap`` rows per input partition through
    the bucket exchange (skew never explodes the shuffle), and in-bucket
    pair generation is bounded by C(bucket_cap, 2).  The self-join's two
    capped sides are identical subplans — AQE reuses the shuffle stage at
    runtime; at 100 TB, persist the capped table first if scanning the
    embeddings twice matters."""
    b = emb.select(
        "vec_id",
        "embedding",
        _bucket(F.col("embedding"), bucket_dims).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    w = Window.partitionBy("bucket").orderBy(F.asc("vec_id"))
    capped = (
        b.withColumn("bpos", F.row_number().over(w))
        .where(F.col("bpos") <= F.lit(bucket_cap))
        .drop("bpos")
    )
    a = capped.alias("a")
    c = capped.alias("c")
    pairs = a.join(c, "bucket").where(F.col("a.vec_id") < F.col("c.vec_id"))
    cos = _dot(F.col("a.embedding"), F.col("c.embedding")) / (
        F.col("a.nrm") * F.col("c.nrm")
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("keeper_vec_id"),
            F.col("c.vec_id").alias("dup_vec_id"),
            F.round(cos, 4).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = resplit(read_table(spark, sf_dir, "embeddings"))
    return embedding_near_dup(emb)


# the oracle applies the identical per-bucket cap via a window row_number
# (pattern: dedup.py's QUALIFY hot-band cap)
SQL_EMBEDDING_NEAR_DUP = f"""
WITH b AS (
  SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings),
capped AS (
  SELECT vec_id, embedding, bucket FROM b
  QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) <= {BUCKET_CAP}),
p AS (
  SELECT a.vec_id AS keeper_vec_id, e.vec_id AS dup_vec_id, {_SQL_COS.replace('q.', 'a.')} AS sim
  FROM capped a JOIN capped e ON a.bucket = e.bucket AND a.vec_id < e.vec_id)
SELECT keeper_vec_id, dup_vec_id, sim FROM p WHERE sim >= {COSINE_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SIM4 — IVF-style ANN: coarse quantizer (k-means fit) + probes.
# The inverted-file shape: every vector is assigned to its nearest centroid
# (a narrow map against a broadcast centroid set), queries probe their
# NPROBE nearest centroids, and exact cosine runs only inside probed cells —
# an equi-join on centroid_id, O(vectors) shuffle.
#
# The quantizer is a genuine (sampled) k-means: init = the first
# N_CENTROIDS vectors, then KMEANS_ITERS Lloyd steps over the first
# KMEANS_SAMPLE vectors with cosine assignment, expressed RELATIONALLY
# (posexplode -> per-component mean -> reassemble) so the DuckDB oracle
# reproduces the identical fit.  Sample smallness is the point: at 10^9
# vectors you still fit on a bounded sample (uniform instead of the
# deterministic prefix used here for oracle reproducibility) and broadcast
# the trained centroids exactly the same way; the fit cost never scales
# with the corpus.  Component means are rounded to 6 dp after every Lloyd
# step so cross-engine float summation order cannot flip an assignment.
# ---------------------------------------------------------------------------
N_CENTROIDS = 8
NPROBE = 2
KMEANS_SAMPLE = 64
KMEANS_ITERS = 2


def _kmeans_centroids(emb: DataFrame) -> DataFrame:
    """emb(vec_id, embedding) -> (centroid_id, cv array<double>): the
    deterministic sampled Lloyd fit described above."""
    sample = emb.where(F.col("vec_id") < KMEANS_SAMPLE).select(
        "vec_id", "embedding"
    )
    cent = emb.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        # whole-array cast: one codegen'd Cast, not a per-element lambda
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    for _ in range(KMEANS_ITERS):
        ccos = _dot(F.col("embedding"), F.col("cv")) / (
            _norm(F.col("embedding")) * _norm(F.col("cv"))
        )
        assigned = (
            sample.crossJoin(F.broadcast(cent))
            .select("vec_id", "embedding", "centroid_id", ccos.alias("ccos"))
            .withColumn("r", F.row_number().over(w))
            .where(F.col("r") == 1)
        )
        means = (
            assigned.select(
                "centroid_id", F.posexplode("embedding").alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            # 6-dp rounding per Lloyd step keeps the Spark fit and the
            # DuckDB-SQL twin on the same trajectory.  Residual risk,
            # accepted: Spark F.round is HALF_UP over the double's repr
            # while DuckDB rounds the binary double, and AVG summation
            # order differs between engines — a mean landing EXACTLY on a
            # 5e-7 boundary could flip one component and diverge the fit.
            # The driver's hash-parity gate is the backstop; it has never
            # tripped here, and the corpus means sit far from boundaries.
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
            .groupBy("centroid_id")
            .agg(
                # sort_array + getField: codegen'd twins of the interpreted
                # array_sort/transform lambdas, identical on null-free
                # struct lists
                F.sort_array(F.collect_list(F.struct("pos", "m")))
                .getField("m")
                .alias("mv")
            )
        )
        # an empty cluster keeps its previous centroid
        cent = cent.join(means, "centroid_id", "left").select(
            "centroid_id", F.coalesce("mv", "cv").alias("cv")
        )
    return cent


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = resplit(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    # the fit reuses the SAME projected source (no second parquet listing):
    # the vec_id < sample filters push through the repartition to the scan
    cent = _kmeans_centroids(emb).select(
        "centroid_id",
        F.col("cv"),
        _norm(F.col("cv")).alias("cnrm"),
    )
    cos_c = _dot(F.col("embedding"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    scored_c = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", "nrm", "centroid_id", cos_c.alias("ccos")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    ranked_c = scored_c.withColumn("crnk", F.row_number().over(w_assign))
    # inverted lists: rank-1 centroid per vector; queries keep NPROBE cells
    assigned = ranked_c.where(F.col("crnk") == 1).select(
        "vec_id", "embedding", "nrm", "centroid_id"
    )
    probes = (
        ranked_c.where((F.col("vec_id") < N_QUERIES) & (F.col("crnk") <= NPROBE))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qnrm"),
            "centroid_id",
        )
    )
    joined = assigned.join(F.broadcast(probes), "centroid_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qv"), F.col("embedding")) / (F.col("qnrm") * F.col("nrm"))
    scored = joined.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), F.round(cos, 4).alias("sim")
    ).distinct()  # a neighbor can surface via multiple probed cells
    return _top_k(scored)


_SQL_CCOS = """
list_sum(list_transform(list_zip(e.embedding, c.cv),
                        p -> p[1]::DOUBLE * p[2]::DOUBLE))
/ (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
   * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE))))
"""

def _sql_kmeans_cent() -> str:
    """The identical deterministic Lloyd fit in DuckDB SQL: per-component
    means via a lateral positional unnest, reassembled with an ordered
    list(), rounded to 6 dp per step like the Spark side."""
    ccos = """
      list_sum(list_transform(list_zip(s.embedding, c.cv),
                              p -> p[1]::DOUBLE * p[2]::DOUBLE))
      / (sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE)))
         * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE))))
    """
    parts = [
        f"""ksample AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {KMEANS_SAMPLE}),
cent0 AS (
  SELECT vec_id AS centroid_id, list_transform(embedding, x -> x::DOUBLE) AS cv
  FROM embeddings WHERE vec_id < {N_CENTROIDS})"""
    ]
    for i in range(1, KMEANS_ITERS + 1):
        prev = f"cent{i - 1}"
        parts.append(f"""assign{i} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT s.vec_id, s.embedding, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
                              ORDER BY {ccos} DESC, c.centroid_id ASC) AS r
    FROM ksample s, {prev} c) WHERE r = 1),
means{i} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS mv FROM (
    SELECT centroid_id, pos, ROUND(AVG(embedding[pos]::DOUBLE), 6) AS m
    FROM assign{i}, UNNEST(generate_series(1, len(embedding))) AS u(pos)
    GROUP BY centroid_id, pos)
  GROUP BY centroid_id),
cent{i} AS (
  SELECT c.centroid_id, COALESCE(m.mv, c.cv) AS cv
  FROM {prev} c LEFT JOIN means{i} m USING (centroid_id))""")
    return ",\n".join(parts)


SQL_ANN_IVF = f"""
WITH {_sql_kmeans_cent()},
cent AS (
  SELECT centroid_id, cv FROM cent{KMEANS_ITERS}),
scored_c AS (
  SELECT e.vec_id, e.embedding, c.centroid_id, {_SQL_CCOS} AS ccos
  FROM embeddings e, cent c),
ranked_c AS (
  SELECT vec_id, embedding, centroid_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, centroid_id ASC) AS crnk
  FROM scored_c),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM ranked_c WHERE crnk = 1),
probes AS (
  SELECT vec_id AS query_id, embedding AS qembedding, centroid_id
  FROM ranked_c WHERE vec_id < {N_QUERIES} AND crnk <= {NPROBE}),
cand AS (
  SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id,
         ROUND(
           list_sum(list_transform(list_zip(q.qembedding, e.embedding),
                                   p -> p[1]::DOUBLE * p[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.qembedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4) AS sim
  FROM assigned e JOIN probes q ON e.centroid_id = q.centroid_id
  WHERE e.vec_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM cand)
SELECT query_id, neighbor_id, rnk, sim FROM ranked WHERE rnk <= {TOP_K}
"""


QUERIES = {
    "cosine_topk": q_cosine_topk,
    "ann_bucketed": q_ann_bucketed,
    "embedding_near_dup": q_embedding_near_dup,
    "ann_ivf": q_ann_ivf,
}

ORACLE_SQL = {
    "cosine_topk": SQL_COSINE_TOPK,
    "ann_bucketed": SQL_ANN_BUCKETED,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "ann_ivf": SQL_ANN_IVF,
}
