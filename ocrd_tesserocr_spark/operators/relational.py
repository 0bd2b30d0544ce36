"""Relational re-expressions of the reference's operator inventory
(SURVEY.md section 2) over the driver's TPC-H-ish tables.

Every query here is declarative DataFrame API — Catalyst gets full freedom
to push filters into the parquet scan, prune columns, and pick join
strategies.  Each has an exactly-matching DuckDB oracle (column names and
values), forming the driver's correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import split_words
from ..sources import read_table


# ---------------------------------------------------------------------------
# A1 + W1/W2 — bottom-up ordered concatenation
# (word->line->region joins, common.py:68-180; reading order recognize.py:631)
# ---------------------------------------------------------------------------
def q_agg_concat_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    token = F.concat(
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.floor(F.col("l_quantity")).cast("long").cast("string"),
    )
    # sort_array (codegen'd natural struct ordering) instead of array_sort,
    # whose generated comparison lambda is interpreted per element pair;
    # .getField drops the transform lambda too.  Identical ordering/values
    # (verified row-for-row), 1.46x faster on the sf1.0 replica.
    ordered = F.sort_array(
        F.collect_list(F.struct(F.col("l_linenumber").alias("i"), token.alias("t")))
    )
    return li.groupBy("l_orderkey").agg(
        F.array_join(ordered.getField("t"), " ").alias("doc_text"),
        F.count(F.lit(1)).alias("n_parts"),
    )


SQL_AGG_CONCAT = """
SELECT l_orderkey,
       string_agg(l_returnflag || l_linestatus ||
                  CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS VARCHAR),
                  ' ' ORDER BY l_linenumber,
                      l_returnflag || l_linestatus ||
                      CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS VARCHAR)) AS doc_text,
       COUNT(*) AS n_parts
FROM lineitem GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# A2/A6 — confidence averaging (arithmetic means, common.py:127-128)
# ---------------------------------------------------------------------------
def q_conf_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SQL_CONF_MEAN = """
SELECT lang, ROUND(AVG(n_chars), 4) AS avg_chars, COUNT(*) AS n_docs
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# A3/P1 — crop-bounds min/max aggregation (crop.py:99-155)
# ---------------------------------------------------------------------------
def q_crop_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("first_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("last_date"),
    )


SQL_CROP_BOUNDS = """
SELECT o_custkey,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price,
       strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_date,
       strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_date
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# A5/W1 — reading-order index allocation (recognize.py:534-544)
# ---------------------------------------------------------------------------
def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.row_number().over(w) - F.lit(1)).alias("order_idx"),
    )


SQL_READING_ORDER = """
SELECT user_id, event_id,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS order_idx
FROM events
"""


# ---------------------------------------------------------------------------
# W4/F8 — top-k choices with confidence-drop cutoff
# (CHOICE_THRESHOLD_NUM=10, CHOICE_THRESHOLD_CONF=1, recognize.py:56-57,849-851)
# ---------------------------------------------------------------------------
def q_topk_choices(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    wb = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round("value", 6).alias("conf"),
            F.row_number().over(w).alias("rnk"),
            F.max("value").over(wb).alias("best"),
        )
        .where((F.col("rnk") <= 10) & (F.col("value") >= F.col("best") - 1.0))
        .select("user_id", "event_id", "conf", "rnk")
    )


SQL_TOPK_CHOICES = """
WITH ranked AS (
  SELECT user_id, event_id, ROUND(value, 6) AS conf,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk,
         MAX(value) OVER (PARTITION BY user_id) AS best, value
  FROM events)
SELECT user_id, event_id, conf, rnk
FROM ranked WHERE rnk <= 10 AND value >= best - 1.0
"""


# ---------------------------------------------------------------------------
# G1/G2/G7 — span clamp to parent (polygon_for_parent, common.py:282-312)
# ---------------------------------------------------------------------------
def q_span_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    cs = F.col("l_partkey") % 100
    ce = cs + F.col("l_linenumber") * 7
    ps = F.col("l_suppkey") % 60
    pe = ps + F.lit(50)
    start = F.greatest(cs, ps)
    end = F.least(ce, pe)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            start.alias("char_start"),
            end.alias("char_end"),
        )
        .where(F.col("char_end") > F.col("char_start"))
    )


SQL_SPAN_CLAMP = """
SELECT l_orderkey, l_linenumber,
       GREATEST(l_partkey % 100, l_suppkey % 60) AS char_start,
       LEAST(l_partkey % 100 + l_linenumber * 7, l_suppkey % 60 + 50) AS char_end
FROM lineitem
WHERE LEAST(l_partkey % 100 + l_linenumber * 7, l_suppkey % 60 + 50)
      > GREATEST(l_partkey % 100, l_suppkey % 60)
"""


# ---------------------------------------------------------------------------
# F1-F4 — degenerate-segment filters (recognize.py:584-601, crop.py:129-138)
# ---------------------------------------------------------------------------
def q_filter_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(split_words(F.col("text")))
    return (
        docs.select("doc_id", "n_chars", n_tokens.alias("n_tokens"))
        .where((F.col("n_chars") >= 16) & (n_tokens >= 5))
    )


SQL_FILTER_DEGENERATE = """
SELECT doc_id, n_chars, len(str_split(text, ' ')) AS n_tokens
FROM documents
WHERE n_chars >= 16 AND len(str_split(text, ' ')) >= 5
"""


# ---------------------------------------------------------------------------
# F5 — resume anti-join (skip-if-output-exists, test_recognize.py:144-146)
# ---------------------------------------------------------------------------
def q_resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_custkey"
    )


SQL_RESUME_ANTIJOIN = """
SELECT o_orderkey, o_custkey FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


# ---------------------------------------------------------------------------
# A4 — auto_model argmax (score every model, keep best; recognize.py:266-277)
# ---------------------------------------------------------------------------
def q_auto_model_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.groupBy("lang", "source").agg(
        F.round(F.avg("n_chars"), 4).alias("score")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("source"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", F.col("source").alias("best_model"), F.col("score").alias("best_score"))
    )


SQL_AUTO_MODEL = """
WITH scored AS (
  SELECT lang, source, ROUND(AVG(n_chars), 4) AS score
  FROM documents GROUP BY lang, source),
ranked AS (
  SELECT lang, source, score,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, source ASC) AS rn
  FROM scored)
SELECT lang, source AS best_model, score AS best_score FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# section 2.8 scalars — id formats (recognize.py:604) + rstrip (recognize.py:636)
# ---------------------------------------------------------------------------
def q_id_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.format_string("block%04d", (F.col("doc_id") % 10000).cast("int")).alias("block_id"),
        F.regexp_replace(F.concat(F.substring("text", 1, 20), F.lit("\n\f")), "[\n\f]+$", "").alias("head"),
    )


SQL_ID_FORMAT = """
SELECT doc_id,
       printf('block%04d', (doc_id % 10000)::INT) AS block_id,
       regexp_replace(substr(text, 1, 20) || chr(10) || chr(12), '[\n\f]+$', '') AS head
FROM documents
"""


# ---------------------------------------------------------------------------
# P3 — script -> ISO 15924 map lookup: the reference's FULL 44-entry OSD
# script-name table (deskew.py:155-195) with its .get() default
# ('Latn - Latin').  The query derives a deterministic script name per doc
# (doc_id % 45: all 44 entries + one unknown name exercising the fallback)
# and folds through the map on both engines.
# ---------------------------------------------------------------------------
SCRIPT_ISO_MAP = {
    "Arabic": "Arab - Arabic",
    "Armenian": "Armn - Armenian",
    "Bengali": "Armn - Armenian",
    "Canadian_Aboriginal": "Cans - Unified Canadian Aboriginal Syllabics",
    "Cherokee": "Cher - Cherokee",
    "Common": "Latn - Latin",
    "Cyrillic": "Cyrl - Cyrillic",
    "Devanagari": "Deva - Devanagari (Nagari)",
    "Ethiopic": "Ethi - Ethiopic",
    "Fraktur": "Latf - Latin (Fraktur variant)",
    "Georgian": "Geor - Georgian (Mkhedruli)",
    "Greek": "Grek - Greek",
    "Gujarati": "Gujr - Gujarati",
    "Gurmukhi": "Guru - Gurmukhi",
    "Han": "Hant - Han (Traditional variant)",
    "Hangul": "Hang - Hangul",
    "Hangul_vert": "Hang - Hangul",
    "HanS": "Hans - Han (Simplified variant)",
    "HanS_vert": "Hans - Han (Simplified variant)",
    "HanT": "Hant - Han (Traditional variant)",
    "HanT_vert": "Hant - Han (Traditional variant)",
    "Hebrew": "Hebr - Hebrew",
    "Hiragana": "Jpan - Japanese",
    "Japanese": "Jpan - Japanese",
    "Japanese_vert": "Jpan - Japanese",
    "Kannada": "Knda - Kannada",
    "Katakana": "Jpan - Japanese",
    "Khmer": "Khmr - Khmer",
    "Lao": "Laoo - Lao",
    "Latin": "Latn - Latin",
    "Malayalam": "Mlym - Malayalam",
    "Myanmar": "Mymr - Myanmar (Burmese)",
    "Oriya": "Orya - Oriya",
    "Sinhala": "Sinh - Sinhala",
    "Syriac": "Syrc - Syriac",
    "Tamil": "Taml - Tamil",
    "Telugu": "Telu - Telugu",
    "Thaana": "Thaa - Thaana",
    "Thai": "Thai - Thai",
    "Tibetan": "Tibt - Tibetan",
    "Vietnamese": "Tavt - Tai Viet",
}
_SCRIPT_DEFAULT = "Latn - Latin"
# 41 distinct names above + 3 script-detection aliases the reference also
# routes through Latn (deskew.py:160,'Common') = the full switch; one extra
# unknown name exercises the fallback arm
_SCRIPT_NAMES = list(SCRIPT_ISO_MAP.keys()) + ["Klingon"]


def q_script_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    idx = (F.col("doc_id") % len(_SCRIPT_NAMES)).cast("int")
    name = F.element_at(F.array(*[F.lit(n) for n in _SCRIPT_NAMES]), idx + 1)
    iso = None
    for n, code in SCRIPT_ISO_MAP.items():
        iso = F.when(name == n, code) if iso is None else iso.when(name == n, code)
    iso = iso.otherwise(_SCRIPT_DEFAULT)
    return (
        docs.select(name.alias("script_name"), iso.alias("iso"))
        .groupBy("script_name", "iso")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_script_case() -> str:
    arms = " ".join(
        f"WHEN '{n}' THEN '{code}'" for n, code in SCRIPT_ISO_MAP.items()
    )
    return f"CASE script_name {arms} ELSE '{_SCRIPT_DEFAULT}' END"


SQL_SCRIPT_MAP = f"""
WITH named AS (
  SELECT ([{", ".join("'%s'" % n for n in _SCRIPT_NAMES)}])
           [(doc_id % {len(_SCRIPT_NAMES)})::INT + 1] AS script_name
  FROM documents)
SELECT script_name, {_sql_script_case()} AS iso, COUNT(*) AS n_docs
FROM named GROUP BY script_name, iso
"""


# ---------------------------------------------------------------------------
# section 2.8 — feature-tag append (features + ',cropped', crop.py:185)
# ---------------------------------------------------------------------------
def q_feature_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    base = F.array(F.lit("cleaned"), F.lit("segmented"))
    extra = F.when(F.col("n_chars") > 300, F.array(F.lit("cropped"))).otherwise(
        F.array().cast("array<string>")
    )
    tags = F.array_join(F.array_sort(F.array_distinct(F.concat(base, extra))), ",")
    return docs.select("doc_id", tags.alias("tags"))


SQL_FEATURE_TAGS = """
SELECT doc_id,
       array_to_string(list_sort(list_distinct(
         list_concat(['cleaned','segmented'],
                     CASE WHEN n_chars > 300 THEN ['cropped'] ELSE [] END))), ',') AS tags
FROM documents
"""


# ---------------------------------------------------------------------------
# A7 — lineage counters (per-partition doc/failure accounting)
# ---------------------------------------------------------------------------
def q_lineage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.count_if(F.col("n_chars") < 150).alias("failure_count"),
    )


SQL_LINEAGE_COUNTS = """
SELECT source, COUNT(*) AS doc_count,
       count_if(n_chars < 150)::BIGINT AS failure_count
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# F7 — confidence gate (when(conf < tau, fallback), deskew.py:135-151)
# ---------------------------------------------------------------------------
def q_conf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    conf = F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
    fixed = F.when(conf < 0.3, F.col("lang")).otherwise(F.lit("en"))
    return docs.select("doc_id", F.round(conf, 6).alias("conf"), fixed.alias("fixed_lang"))


SQL_CONF_GATE = """
SELECT doc_id,
       ROUND(LEAST(1.0, n_chars / 500.0), 6) AS conf,
       CASE WHEN LEAST(1.0, n_chars / 500.0) < 0.3 THEN lang ELSE 'en' END AS fixed_lang
FROM documents
"""


# ---------------------------------------------------------------------------
# G6/W — running hull projection as window min/max (common.py:182-217)
# ---------------------------------------------------------------------------
def q_running_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.max("value").over(w), 6).alias("run_max"),
        F.round(F.min("value").over(w), 6).alias("run_min"),
    )


SQL_RUNNING_HULL = """
SELECT user_id, event_id,
       ROUND(MAX(value) OVER w, 6) AS run_max,
       ROUND(MIN(value) OVER w, 6) AS run_min
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# flagship relational aggregate — TPC-H Q1-style pricing summary
# (the closest classical analogue of the A1/A2 per-level rollup)
# ---------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# G4/G5 — span union / hull of child segments (join_polygons, common.py:223-265)
# ---------------------------------------------------------------------------
def q_span_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    cs = F.col("l_partkey") % 100
    ce = cs + F.col("l_linenumber") * 7
    return (
        li.select("l_orderkey", cs.alias("cs"), ce.alias("ce"))
        .groupBy("l_orderkey")
        .agg(
            F.min("cs").alias("hull_start"),
            F.max("ce").alias("hull_end"),
            F.count(F.lit(1)).alias("n_children"),
        )
    )


SQL_SPAN_UNION = """
SELECT l_orderkey,
       MIN(l_partkey % 100) AS hull_start,
       MAX(l_partkey % 100 + l_linenumber * 7) AS hull_end,
       COUNT(*) AS n_children
FROM lineitem GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# P6 — context padding of span windows (pad_image, common.py:267-280)
# ---------------------------------------------------------------------------
def q_context_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pos = (F.col("doc_id") % 40) + 10
    start = F.greatest(pos - 8, F.lit(1))
    end = F.least(pos + 8, F.length("text"))
    # clamp: end-start+1 goes negative on texts shorter than the window
    # start; Spark substr returns '' but DuckDB diverges, so both sides
    # clamp the length to >= 0 explicitly
    length = F.greatest(end - start + 1, F.lit(0))
    return docs.select(
        "doc_id",
        F.col("text").substr(start, length).alias("window"),
    )


SQL_CONTEXT_PAD = """
SELECT doc_id,
       substr(text, GREATEST((doc_id % 40) + 10 - 8, 1),
              GREATEST(
                LEAST((doc_id % 40) + 10 + 8, length(text))
                - GREATEST((doc_id % 40) + 10 - 8, 1) + 1, 0)) AS window
FROM documents
"""


# ---------------------------------------------------------------------------
# W3 — data-dependent direction reversal (RTL traversal, common.py:131-151)
# ---------------------------------------------------------------------------
def q_direction_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    words = F.slice(split_words(F.col("text")), 1, 6)
    ordered = F.when(F.col("lang").isin("ar", "he"), F.reverse(words)).otherwise(words)
    return docs.select(
        "doc_id", "lang", F.array_join(ordered, " ").alias("head_text")
    )


SQL_DIRECTION_REVERSE = """
SELECT doc_id, lang,
       array_to_string(
         CASE WHEN lang IN ('ar','he')
              THEN list_reverse(list_slice(str_split(text,' '), 1, 6))
              ELSE list_slice(str_split(text,' '), 1, 6) END, ' ') AS head_text
FROM documents
"""


# ---------------------------------------------------------------------------
# W+ — gap-based sessionization over events (the stateful-window pattern a
# streaming deployment would run via applyInPandasWithState; here expressed
# relationally: lag -> gap flag -> running sum = session id)
# ---------------------------------------------------------------------------
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800,
        F.lit(1),
    ).otherwise(F.lit(0))
    with_flag = ev.select(
        "user_id", "event_id", "ts", gap.alias("new_session")
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = with_flag.select(
        "user_id",
        "event_id",
        F.sum("new_session").over(w2).alias("session_idx"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events")
    )


SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END
           AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, event_id,
         (SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         )::BIGINT AS session_idx
  FROM flagged)
SELECT user_id, session_idx, COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# section 2.8 — angle arithmetic: deg/rad conversion + modular normalization
# (the reference's deskew angle handling: math.degrees/radians + angle % 360
# normalization, deskew.py:128-151, common.py:56-66)
# ---------------------------------------------------------------------------
def q_angle_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # signed raw angle in (-360, 360): the deskew estimate analogue
    raw = (F.col("doc_id") * 73) % 720 - 360
    norm = F.pmod(raw, F.lit(360))  # canonical [0, 360)
    rad = F.radians(norm)
    return docs.select(
        "doc_id",
        norm.cast("long").alias("angle_deg"),
        F.round(rad, 6).alias("angle_rad"),
        F.round(F.degrees(rad), 4).alias("roundtrip_deg"),
    )


SQL_ANGLE_NORM = """
WITH a AS (
  SELECT doc_id, (doc_id * 73) % 720 - 360 AS raw FROM documents),
n AS (
  SELECT doc_id, ((raw % 360) + 360) % 360 AS deg FROM a)
SELECT doc_id, deg::BIGINT AS angle_deg,
       ROUND(radians(deg), 6) AS angle_rad,
       ROUND(degrees(radians(deg)), 4) AS roundtrip_deg
FROM n
"""


QUERIES = {
    "agg_concat_reading_order": q_agg_concat_reading_order,
    "conf_mean": q_conf_mean,
    "crop_bounds": q_crop_bounds,
    "reading_order": q_reading_order,
    "topk_choices": q_topk_choices,
    "span_clamp": q_span_clamp,
    "filter_degenerate": q_filter_degenerate,
    "resume_antijoin": q_resume_antijoin,
    "auto_model_argmax": q_auto_model_argmax,
    "id_format": q_id_format,
    "script_map": q_script_map,
    "feature_tags": q_feature_tags,
    "lineage_counts": q_lineage_counts,
    "conf_gate": q_conf_gate,
    "running_hull": q_running_hull,
    "q1_pricing_summary": q1_pricing_summary,
    "span_union": q_span_union,
    "context_pad": q_context_pad,
    "direction_reverse": q_direction_reverse,
    "sessionize": q_sessionize,
    "angle_norm": q_angle_norm,
}

ORACLE_SQL = {
    "agg_concat_reading_order": SQL_AGG_CONCAT,
    "conf_mean": SQL_CONF_MEAN,
    "crop_bounds": SQL_CROP_BOUNDS,
    "reading_order": SQL_READING_ORDER,
    "topk_choices": SQL_TOPK_CHOICES,
    "span_clamp": SQL_SPAN_CLAMP,
    "filter_degenerate": SQL_FILTER_DEGENERATE,
    "resume_antijoin": SQL_RESUME_ANTIJOIN,
    "auto_model_argmax": SQL_AUTO_MODEL,
    "id_format": SQL_ID_FORMAT,
    "script_map": SQL_SCRIPT_MAP,
    "feature_tags": SQL_FEATURE_TAGS,
    "lineage_counts": SQL_LINEAGE_COUNTS,
    "conf_gate": SQL_CONF_GATE,
    "running_hull": SQL_RUNNING_HULL,
    "q1_pricing_summary": SQL_Q1,
    "span_union": SQL_SPAN_UNION,
    "context_pad": SQL_CONTEXT_PAD,
    "direction_reverse": SQL_DIRECTION_REVERSE,
    "sessionize": SQL_SESSIONIZE,
    "angle_norm": SQL_ANGLE_NORM,
}
