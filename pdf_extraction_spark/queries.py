"""Operator-level correctness queries + DuckDB oracle SQL.

Each query exercises one operator family from SURVEY.md §2 through the *real*
Spark operator implementations, on deterministic text derived from the
driver's parquet tables (orders / documents / embeddings) so an independent
ANSI-SQL transcription of the same reference semantics (run by DuckDB on the
same tables) must produce identical results.

The derived-line recipe is shared: Python constants below are rendered both
into Spark column expressions and into the oracle SQL string, so the *input*
is identical by construction and only the *operator semantics* are under
test.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import rules
from .functions.text import (boilerplate_col, normalize_text, priority_col,
                             status_col, title_col)
from .operators.segmentation import segment_issues
from .plans.extraction import build_blocks, classify_spans, explode_spans
from .operators.sections import track_sections

# ---------------------------------------------------------------------------
# Shared derived-line recipe (rendered into both Spark and SQL)
# ---------------------------------------------------------------------------

N_DOCS_DERIVED = 100

SECS = ["I. STRUCTURAL SYSTEMS", "II. ELECTRICAL SYSTEMS",
        "III. HEATING AND COOLING", "IV. PLUMBING SYSTEMS", "V. APPLIANCES"]
SUBS = ["A. Foundations", "B. Grading and Drainage", "C. Roof Covering",
        "D. Interior Walls"]
STATUS_VARIANTS = ["D - marked deficient on form", "I = inspected item ok",
                   "P noted on checklist", "checked item I on list"]
ITEMS = ["The window frame", "The door trim", "The ceiling surface",
         "The floor tile", "The wall panel"]
PHRASES = ["shows hairline crack near the corner",
           "has a small leak at the joint",
           "is worn and requires repair",
           "is in acceptable condition",
           "shows rust at the fastener"]
SUFFIXES = ["", " and requires repair", " posing a safety hazard",
            " near the foundation", " with minor wear"]
TBL_HEADERS = ["Item | Estimated Cost | Notes", "Point | Elevation | Grade",
               "Task | Price Range | Urgency"]
TBL_DATA = ["Roof fix | $500 - $700 | flashing",
            "A1 | 100.2 | 1.2% slope",
            "Panel fix | 150$ each | soon",
            "Total | 2,000 dollars | combined"]


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in items) + "]"


def _sql_like_any(expr: str, words: list[str]) -> str:
    return "(" + " OR ".join(
        f"{expr} LIKE '%" + w.replace("'", "''") + "%'" for w in words) + ")"


def _pick(arr: list[str], idx: Column) -> Column:
    return F.element_at(F.array(*[F.lit(x) for x in arr]),
                        (idx + 1).cast("int"))


def derived_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id bigint, k bigint, offset int, text string) from orders."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    m = F.pmod(k, F.lit(11))
    sec = _pick(SECS, F.pmod(F.floor(k / 11), F.lit(5)))
    sub = _pick(SUBS, F.pmod(F.floor(k / 11), F.lit(4)))
    st = _pick(STATUS_VARIANTS, F.pmod(F.floor(k / 11), F.lit(4)))
    item = _pick(ITEMS, F.pmod(F.floor(k / 7), F.lit(5)))
    phrase = _pick(PHRASES, F.pmod(F.floor(k / 5), F.lit(5)))
    suffix = _pick(SUFFIXES, F.pmod(k, F.lit(5)))
    line = (F.when(m == 0, sec)
            .when(m == 1, sub)
            .when(m == 2, st)
            .when(m == 3, F.concat(F.lit("Comments: "), item, F.lit(" "), phrase))
            .when(m == 4, _pick(TBL_HEADERS, F.pmod(F.floor(k / 11), F.lit(3))))
            .when(m == 5, _pick(TBL_DATA, F.pmod(F.floor(k / 7), F.lit(4))))
            .otherwise(F.concat(item, F.lit(" "), phrase, suffix)))
    df = o.select(F.pmod(k, F.lit(N_DOCS_DERIVED)).alias("doc_id"),
                  k.alias("k"), line.alias("text"))
    w = F.row_number().over(Window.partitionBy("doc_id").orderBy("k")) - 1
    return df.withColumn("offset", w.cast("int"))


SQL_LINES_CTE = f"""
lines AS (
  SELECT o_orderkey % {N_DOCS_DERIVED} AS doc_id, o_orderkey AS k,
    CASE CAST(o_orderkey % 11 AS INT)
      WHEN 0 THEN {_sql_list(SECS)}[CAST(1 + (o_orderkey // 11) % 5 AS INT)]
      WHEN 1 THEN {_sql_list(SUBS)}[CAST(1 + (o_orderkey // 11) % 4 AS INT)]
      WHEN 2 THEN {_sql_list(STATUS_VARIANTS)}[CAST(1 + (o_orderkey // 11) % 4 AS INT)]
      WHEN 3 THEN 'Comments: ' || {_sql_list(ITEMS)}[CAST(1 + (o_orderkey // 7) % 5 AS INT)]
                  || ' ' || {_sql_list(PHRASES)}[CAST(1 + (o_orderkey // 5) % 5 AS INT)]
      WHEN 4 THEN {_sql_list(TBL_HEADERS)}[CAST(1 + (o_orderkey // 11) % 3 AS INT)]
      WHEN 5 THEN {_sql_list(TBL_DATA)}[CAST(1 + (o_orderkey // 7) % 4 AS INT)]
      ELSE {_sql_list(ITEMS)}[CAST(1 + (o_orderkey // 7) % 5 AS INT)]
           || ' ' || {_sql_list(PHRASES)}[CAST(1 + (o_orderkey // 5) % 5 AS INT)]
           || {_sql_list(SUFFIXES)}[CAST(1 + o_orderkey % 5 AS INT)]
    END AS text
  FROM orders),
ordered AS (
  SELECT doc_id, k, text,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS INT) AS off
  FROM lines)
"""

# classified spans CTE: kind + status + W1 section state (oracle side).
_IS_SEC = r"regexp_matches(text, '^[IVX]+\.\s+.+$')"
_IS_SUB = r"regexp_matches(text, '^[A-Z]\.\s+.+$')"
_STATUS = r"nullif(regexp_extract(text, '\b([DINP])\b', 1), '')"

SQL_CLASSIFIED_CTE = SQL_LINES_CTE + f""",
classified AS (
  SELECT doc_id, k, off, text,
    {_IS_SEC} AS is_sec,
    ({_IS_SUB} AND NOT {_IS_SEC}) AS is_sub,
    ({_sql_like_any('lower(text)', rules.METADATA_KEYWORDS)}
     OR ({_sql_like_any('lower(text)', rules.DISCLAIMER_PHRASES)}
         AND NOT {_sql_like_any('lower(text)', rules.DISCLAIMER_RESCUE_WORDS)})) AS is_boiler,
    {_STATUS} AS status
  FROM ordered),
tracked AS (
  SELECT *,
    sum(CASE WHEN is_sec THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY off
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch,
    last_value(CASE WHEN is_sec THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY off
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_section
  FROM classified),
tracked2 AS (
  SELECT *,
    last_value(CASE WHEN is_sub THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id, epoch ORDER BY off
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_subsection
  FROM tracked),
blocks AS (
  SELECT doc_id, off, text AS content, status,
    coalesce(raw_section, '{rules.DEFAULT_SECTION}') AS section,
    coalesce(raw_subsection, '') AS subsection
  FROM tracked2
  WHERE NOT is_sec AND NOT is_sub AND text NOT LIKE '% | %' AND text <> '')
"""


def _spark_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the real extraction front-end (explode → classify → W1 → blocks)
    over the derived lines."""
    lines = derived_lines(spark, sf_dir)
    docs = (lines.groupBy("doc_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "text"))),
                lambda x: F.struct(
                    F.lit("text").alias("kind"), x["text"].alias("text"),
                    F.lit("").alias("media_ref"), x["offset"].alias("offset")),
            ).alias("spans")))
    spans = track_sections(classify_spans(explode_spans(docs)))
    return build_blocks(spans)


# ---------------------------------------------------------------------------
# Query implementations
# ---------------------------------------------------------------------------

def q_status_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — first-match-wins status detection (text_extractor.pyc:140-175)."""
    lines = derived_lines(spark, sf_dir)
    return lines.select(
        "doc_id", F.col("k").alias("line_key"),
        status_col(F.col("text")).alias("status"))


SQL_STATUS = f"""
WITH {SQL_LINES_CTE}
SELECT doc_id, k AS line_key, {_STATUS} AS status FROM ordered
"""


def q_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — running section/subsection tracking (text_extractor.pyc:90-129)."""
    blocks = _spark_blocks(spark, sf_dir)
    return blocks.select("doc_id", F.col("offset").cast("int").alias("offset"),
                         "section", "subsection", "content")


SQL_SECTIONS = f"""
WITH {SQL_CLASSIFIED_CTE}
SELECT doc_id, off AS "offset", section, subsection, content FROM blocks
"""


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — boilerplate/disclaimer detection (data_quality_validator.py:376-409)
    over documents.text (real corpus) + injected boilerplate lines."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = F.when(
        F.pmod(F.col("doc_id"), F.lit(4)) == 0,
        F.concat(F.lit("It is recommended that professionals review. "),
                 F.col("text"))
    ).when(
        F.pmod(F.col("doc_id"), F.lit(4)) == 1,
        F.concat(F.lit("Noting limitations in scope. "), F.col("text"))
    ).when(
        F.pmod(F.col("doc_id"), F.lit(4)) == 2,
        F.concat(F.lit("Disclaimer: please repair notes. "), F.col("text"))
    ).otherwise(F.col("text"))
    return d.select(
        "doc_id",
        boilerplate_col(injected).alias("is_boilerplate"))


SQL_BOILERPLATE = f"""
WITH inj AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'It is recommended that professionals review. ' || text
      WHEN 1 THEN 'Noting limitations in scope. ' || text
      WHEN 2 THEN 'Disclaimer: please repair notes. ' || text
      ELSE text END AS t
  FROM documents)
SELECT doc_id,
  ({_sql_like_any('lower(t)', rules.METADATA_KEYWORDS)}
   OR ({_sql_like_any('lower(t)', rules.DISCLAIMER_PHRASES)}
       AND NOT {_sql_like_any('lower(t)', rules.DISCLAIMER_RESCUE_WORDS)})) AS is_boilerplate
FROM inj
"""


def q_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — priority rule (src/data_structurer.py:110-144)."""
    lines = derived_lines(spark, sf_dir)
    status = F.when(F.pmod(F.col("k"), F.lit(4)) == 0, F.lit("I")) \
        .when(F.pmod(F.col("k"), F.lit(4)) == 1, F.lit("NI")) \
        .when(F.pmod(F.col("k"), F.lit(4)) == 2, F.lit("D"))
    return lines.select(
        "doc_id", F.col("k").alias("line_key"),
        priority_col(F.lower(F.col("text")), status).alias("priority"))


SQL_PRIORITY = f"""
WITH {SQL_LINES_CTE}
SELECT doc_id, k AS line_key,
  CASE
    WHEN {_sql_like_any('lower(text)', rules.HIGH_PRIORITY_KEYWORDS)} THEN 'high'
    WHEN {_sql_like_any('lower(text)', rules.MEDIUM_PRIORITY_KEYWORDS)} THEN 'medium'
    WHEN (CASE CAST(k % 4 AS INT) WHEN 0 THEN 'I' WHEN 1 THEN 'NI' WHEN 2 THEN 'D' END)
         IN ('I','NI','NP') THEN 'low'
    ELSE 'info'
  END AS priority
FROM ordered
"""


_FONT_CYCLE = ("helvetica", "Arial-BoldMT", "Times-Italic",
               "Courier-Oblique", "Arial-Black", "georgia")


def q_font_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2+C4 — formatting-aware priority (src/data_structurer.py:110-144,
    text_extractor.pyc:178-207): a font-bearing span corpus flows through
    the REAL schema-tolerant plan path. explode_spans picks the optional
    bold/underlined/font/size attrs up (absent attrs fall back to the
    fontless S4 constant-False) and derives the full detect_formatting
    rule — bold from the explicit attr OR a bold/black font name OR
    size > 12pt, italic from an italic/oblique font name — then bold
    wins 'high' and underlined wins 'medium' ahead of the keyword
    tiers. The synthetic corpus cycles six real font names and sizes
    8..15pt so every C2 sub-branch fires."""
    from .plans.extraction import explode_spans

    lines = derived_lines(spark, sf_dir)
    k = F.col("k")
    fonts = F.array(*[F.lit(f) for f in _FONT_CYCLE])
    span = F.struct(
        k.cast("int").alias("offset"),
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        (F.pmod(k, F.lit(7)) == 0).alias("bold"),
        (F.pmod(k, F.lit(5)) == 0).alias("underlined"),
        F.element_at(fonts, F.pmod(k, F.lit(6)).cast("int") + 1)
        .alias("font"),
        (F.pmod(k, F.lit(8)) + 8.0).alias("size"))
    docs = (lines.select("doc_id", span.alias("s"))
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("s")).alias("spans")))
    ex = explode_spans(docs)
    off = F.col("offset")
    status = F.when(F.pmod(off, F.lit(4)) == 0, F.lit("I")) \
        .when(F.pmod(off, F.lit(4)) == 1, F.lit("NI")) \
        .when(F.pmod(off, F.lit(4)) == 2, F.lit("D"))
    return ex.select(
        "doc_id", off.cast("long").alias("line_key"),
        "bold", "italic", "underlined",
        priority_col(F.lower(F.col("text")), status,
                     bold=F.col("bold"),
                     underlined=F.col("underlined")).alias("priority"))


# bold: explicit attr (k%7=0) OR bold/black font (k%6 in 1,4) OR size>12
# (8 + k%8 > 12); italic: italic/oblique font (k%6 in 2,3)
_SQL_BOLD = "(k % 7 = 0 OR CAST(k % 6 AS INT) IN (1, 4) OR k % 8 + 8 > 12)"
SQL_FONT_PRIORITY = f"""
WITH {SQL_LINES_CTE}
SELECT doc_id, k AS line_key,
  {_SQL_BOLD} AS bold,
  CAST(k % 6 AS INT) IN (2, 3) AS italic,
  k % 5 = 0 AS underlined,
  CASE
    WHEN {_SQL_BOLD} THEN 'high'
    WHEN {_sql_like_any('lower(text)', rules.HIGH_PRIORITY_KEYWORDS)} THEN 'high'
    WHEN k % 5 = 0 THEN 'medium'
    WHEN {_sql_like_any('lower(text)', rules.MEDIUM_PRIORITY_KEYWORDS)} THEN 'medium'
    WHEN (CASE CAST(k % 4 AS INT) WHEN 0 THEN 'I' WHEN 1 THEN 'NI' WHEN 2 THEN 'D' END)
         IN ('I','NI','NP') THEN 'low'
    ELSE 'info'
  END AS priority
FROM ordered
"""


def q_bbox_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — bbox aggregation (text_extractor.pyc:211-227): a bbox-bearing
    span corpus flows through the REAL schema-tolerant plan path
    (explode_spans picks the optional x0/y0/x1/y1 attrs up; null/absent
    attrs take the reference's (0,0,0,0) empty default), then
    section_bboxes computes each raw-section region's spatial extent as
    the reference's (min x0, min top, max x1, max bottom). Output values
    are quarter-unit-scaled BIGINTs so the driver's exact hash cannot
    diverge on float representation (every input is dyadic so the scale
    is lossless)."""
    from .plans.extraction import section_bboxes

    lines = derived_lines(spark, sf_dir)
    o = F.col("offset")
    has = F.pmod(o, F.lit(6)) != 0
    x0 = F.pmod(o, F.lit(13)) * 7.5
    y0 = F.pmod(o, F.lit(17)) * 3.25
    span = F.struct(
        o.cast("int").alias("offset"),
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.when(has, x0).alias("x0"),
        F.when(has, y0).alias("y0"),
        F.when(has, x0 + 50.0 + F.pmod(o, F.lit(5)) * 2.5).alias("x1"),
        F.when(has, y0 + 10.5).alias("y1"))
    docs = (lines.select("doc_id", span.alias("s"))
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("s")).alias("spans")))
    blocks = build_blocks(track_sections(classify_spans(explode_spans(docs))))
    bb = section_bboxes(blocks)

    def q(c: str) -> Column:
        return (F.col(c) * 4).cast("long").alias(c + "_q")

    return bb.select("doc_id", "section", "subsection",
                     q("x0"), q("y0"), q("x1"), q("y1"))


SQL_BBOX_AGG = f"""
WITH {SQL_CLASSIFIED_CTE},
bb AS (
  SELECT doc_id, section, subsection,
    CASE WHEN off % 6 = 0 THEN 0.0 ELSE (off % 13) * 7.5 END AS x0,
    CASE WHEN off % 6 = 0 THEN 0.0 ELSE (off % 17) * 3.25 END AS y0,
    CASE WHEN off % 6 = 0 THEN 0.0
         ELSE (off % 13) * 7.5 + 50.0 + (off % 5) * 2.5 END AS x1,
    CASE WHEN off % 6 = 0 THEN 0.0 ELSE (off % 17) * 3.25 + 10.5 END AS y1
  FROM blocks)
SELECT doc_id, section, subsection,
  CAST(min(x0) * 4 AS BIGINT) AS x0_q,
  CAST(min(y0) * 4 AS BIGINT) AS y0_q,
  CAST(max(x1) * 4 AS BIGINT) AS x1_q,
  CAST(max(y1) * 4 AS BIGINT) AS y1_q
FROM bb
GROUP BY doc_id, section, subsection
"""


def q_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — title extraction (src/data_structurer.py:147-157), long+short cases."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    content = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(F.substring(F.col("text"), 1, 40), F.lit(". "),
                 F.substring(F.col("text"), 41, 60)),
    ).otherwise(F.col("text"))
    return d.select("doc_id", title_col(content).alias("title"))


SQL_TITLE = """
WITH c AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
         THEN substring(text, 1, 40) || '. ' || substring(text, 41, 60)
         ELSE text END AS content
  FROM documents)
SELECT doc_id,
  CASE WHEN length(string_split(content, '.')[1]) < 100
       THEN trim(string_split(content, '.')[1])
       ELSE trim(substring(content, 1, 100))
            || CASE WHEN length(content) > 100 THEN '...' ELSE '' END
  END AS title
FROM c
"""


def q_price_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — price parsing (src/data_structurer.py:181-224) on constructed cells."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = F.pmod(F.col("l_partkey"), F.lit(100))
    amount = F.concat(
        F.floor(F.col("l_extendedprice")).cast("long").cast("string"),
        F.lit("."), F.lpad(cents.cast("string"), 2, "0"))
    cell = (F.when(F.pmod(F.col("l_orderkey"), F.lit(3)) == 0,
                   F.concat(F.lit("estimate $"), amount, F.lit(" for repair")))
            .when(F.pmod(F.col("l_orderkey"), F.lit(3)) == 1,
                  F.concat(F.lit("about "), amount, F.lit(" dollars total")))
            .otherwise(F.concat(F.lit("quantity "),
                                F.col("l_quantity").cast("int").cast("string"),
                                F.lit(" units"))))
    prices_s = F.coalesce(*[
        F.when(F.size(e := F.regexp_extract_all(cell, F.lit(p), F.lit(1))) > 0, e)
        for p in rules.PRICE_PATTERNS])
    prices = F.transform(prices_s,
                         lambda x: F.regexp_replace(x, ",", "").cast("double"))
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.array_min(prices).alias("price_min"),
        F.array_max(prices).alias("price_max"))


SQL_PRICE = r"""
WITH cells AS (
  SELECT l_orderkey AS order_key, l_linenumber AS line_no,
    CASE CAST(l_orderkey % 3 AS INT)
      WHEN 0 THEN 'estimate $' || CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR)
                  || '.' || lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0') || ' for repair'
      WHEN 1 THEN 'about ' || CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR)
                  || '.' || lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0') || ' dollars total'
      ELSE 'quantity ' || CAST(CAST(l_quantity AS INT) AS VARCHAR) || ' units'
    END AS cell
  FROM lineitem),
ext AS (
  SELECT order_key, line_no,
    CASE
      WHEN len(regexp_extract_all(cell, '\$(\d+(?:,\d{3})*(?:\.\d{2})?)', 1)) > 0
        THEN regexp_extract_all(cell, '\$(\d+(?:,\d{3})*(?:\.\d{2})?)', 1)
      WHEN len(regexp_extract_all(cell, '(\d+(?:,\d{3})*(?:\.\d{2})?)\s*\$', 1)) > 0
        THEN regexp_extract_all(cell, '(\d+(?:,\d{3})*(?:\.\d{2})?)\s*\$', 1)
      WHEN len(regexp_extract_all(cell, '(\d+(?:,\d{3})*(?:\.\d{2})?)\s*dollars?', 1)) > 0
        THEN regexp_extract_all(cell, '(\d+(?:,\d{3})*(?:\.\d{2})?)\s*dollars?', 1)
    END AS ps
  FROM cells)
SELECT order_key, line_no,
  list_min(list_transform(ps, x -> CAST(replace(x, ',', '') AS DOUBLE))) AS price_min,
  list_max(list_transform(ps, x -> CAST(replace(x, ',', '') AS DOUBLE))) AS price_max
FROM ext
"""


def q_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3/C4/C5 — issue segmentation via the grouped-map operator
    (src/data_structurer.py:35-107). The derived corpus keeps every
    subsection change adjacent to a section change, so the SQL oracle can
    express boundaries as keyword/D-status/section-change."""
    blocks = _spark_blocks(spark, sf_dir)
    issues = segment_issues(
        blocks.withColumn("doc_id", F.col("doc_id").cast("string")))
    return issues.select(
        "doc_id", "issue_order", "id", "section", "subsection", "status",
        "priority", "title",
        F.size("page_numbers").alias("n_pages"), "description")


SQL_SEGMENTATION = f"""
WITH {SQL_CLASSIFIED_CTE},
b2 AS (
  SELECT *,
    (status = 'D' OR {_sql_like_any('lower(content)', rules.ISSUE_KEYWORDS)}) AS is_start,
    CAST(off // 50 + 1 AS INT) AS page_num
  FROM blocks),
b3 AS (
  SELECT * FROM (
    SELECT *, min(CASE WHEN is_start THEN off END)
                OVER (PARTITION BY doc_id) AS first_start
    FROM b2) WHERE off >= first_start),
b3a AS (
  SELECT *, coalesce(status, '@') AS status_nn,
    (is_start OR section <> lag(section, 1, section)
                 OVER (PARTITION BY doc_id ORDER BY off)) AS is_boundary
  FROM b3),
b4 AS (
  SELECT *,
    sum(CASE WHEN is_boundary THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY off
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM b3a)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
  CAST(seg - 1 AS INT) AS issue_order,
  arg_min(section, off) || '_' || CAST(seg - 1 AS VARCHAR) AS id,
  arg_min(section, off) AS section,
  arg_min(subsection, off) AS subsection,
  CASE WHEN arg_min(status_nn, off) = '@' THEN 'I'
       ELSE arg_min(status_nn, off) END AS status,
  CASE
    WHEN {_sql_like_any('lower(arg_min(content, off))', rules.HIGH_PRIORITY_KEYWORDS)} THEN 'high'
    WHEN {_sql_like_any('lower(arg_min(content, off))', rules.MEDIUM_PRIORITY_KEYWORDS)} THEN 'medium'
    WHEN arg_min(status_nn, off) IN ('I','NI','NP') THEN 'low'
    ELSE 'info'
  END AS priority,
  CASE WHEN length(string_split(arg_min(content, off), '.')[1]) < 100
       THEN trim(string_split(arg_min(content, off), '.')[1])
       ELSE trim(substring(arg_min(content, off), 1, 100))
            || CASE WHEN length(arg_min(content, off)) > 100 THEN '...' ELSE '' END
  END AS title,
  CAST(count(DISTINCT page_num) AS INT) AS n_pages,
  string_agg(content, chr(10) ORDER BY off) AS description
FROM b4
GROUP BY doc_id, seg
"""


DIRTY_PREFIXES = ["caf\u00e9 ", "\u201cquoted\u201d ", "dash\u2013dash ",
                  "em\u2014em ", "A\u00a0B ", "z\u200bw ", "\u00fcber ",
                  "\u00feorn ", "", "plain "]


def _sql_replace_chain(expr: str) -> str:
    """Render rules.UNICODE_REPLACEMENTS as a nested SQL replace() chain."""
    for old, new in rules.UNICODE_REPLACEMENTS:
        if old == "\x00":
            expr = "replace(" + expr + ", chr(0), '')"
        else:
            o = old.replace("'", "''")
            n = new.replace("'", "''")
            expr = "replace(" + expr + ", '" + o + "', '" + n + "')"
    return expr


def q_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 \u2014 unicode normalization (text_extractor.pyc:11-64): replacement
    map, NFKD, combining-mark strip (= strip_accents on this charset)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dirty = F.concat(
        _pick(DIRTY_PREFIXES, F.pmod(F.col("doc_id"), F.lit(10))),
        F.substring(F.col("text"), 1, 40))
    return d.select("doc_id", normalize_text(dirty).alias("norm"))


SQL_NORMALIZE = f"""
WITH dirty AS (
  SELECT doc_id,
    {_sql_list(DIRTY_PREFIXES)}[CAST(1 + doc_id % 10 AS INT)]
      || substring(text, 1, 40) AS t
  FROM documents)
SELECT doc_id, trim(strip_accents({_sql_replace_chain("t")})) AS norm
FROM dirty
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup — hash-groupBy on content (training-data op)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (d.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min("doc_id").alias("keeper_doc_id")))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, count(*) AS n_copies,
       min(doc_id) AS keeper_doc_id
FROM documents GROUP BY md5(text)
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (training-data op): whitespace tokens, uniques,
    chars, BPE-ish pre-tokenizer count (operators/textstats.py)."""
    from .operators.textstats import bpe_tokens_col

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).alias("n_chars_nospace"),
        F.size(bpe_tokens_col(F.col("text"))).alias("n_bpe_tokens"))


def _sql_token_stats() -> str:
    from .operators.textstats import BPE_TOKEN_PATTERN

    bpe = BPE_TOKEN_PATTERN.replace("'", "''")
    return rf"""
SELECT doc_id,
  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_unique,
  length(regexp_replace(text, '\s+', '', 'g')) AS n_chars_nospace,
  len(regexp_extract_all(text, '{bpe}')) AS n_bpe_tokens
FROM documents
"""


SQL_TOKEN_STATS = _sql_token_stats()


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (training-data op): stopword / length signals as
    scaled integers (engine-stable)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    stop = F.array([F.lit(w) for w in
                    ["the", "a", "an", "and", "of", "to", "in", "is"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_tok = F.size(toks)
    return d.select(
        "doc_id", n_tok.alias("n_tokens"), n_stop.alias("n_stopwords"),
        F.floor(n_stop.cast("long") * 1000000 / n_tok)
        .cast("long").alias("stop_ratio_ppm"),
        (n_tok.between(5, 1000)).alias("length_ok"))


SQL_QUALITY = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
  len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is'))) AS n_stopwords,
  CAST(floor(len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','in','is')))
             * 1000000.0 / len(toks)) AS BIGINT) AS stop_ratio_ppm,
  len(toks) BETWEEN 5 AND 1000 AS length_ok
FROM t
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (training-data op): English function-word hits."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    en = F.array([F.lit(w) for w in ["the", "a", "and", "of", "is", "to"]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    return d.select(
        "doc_id", hits.alias("en_hits"),
        F.when(hits.cast("long") * 100 >= F.size(toks), F.lit("en"))
        .otherwise(F.lit("unknown")).alias("pred_lang"))


SQL_LANGID = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents)
SELECT doc_id,
  len(list_filter(toks, x -> x IN ('the','a','and','of','is','to'))) AS en_hits,
  CASE WHEN len(list_filter(toks, x -> x IN ('the','a','and','of','is','to'))) * 100
            >= len(toks)
       THEN 'en' ELSE 'unknown' END AS pred_lang
FROM t
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (training-data op): order-canonical content
    fingerprint = md5 over the sorted distinct token set."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.array_sort(F.array_distinct(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")))
    return d.select(
        "doc_id", F.md5(F.array_join(toks, " ")).alias("fingerprint"))


SQL_FINGERPRINT = r"""
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(
      string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fingerprint
FROM documents
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (similarity-search
    baseline; the LSH/IVF path shares the same scoring kernel)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("q_emb"))
    joined = e.crossJoin(F.broadcast(q))
    dot = F.aggregate(F.zip_with("embedding", "q_emb", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    sim = dot / (norm(F.col("embedding")) * norm(F.col("q_emb")))
    scored = joined.select("vec_id", "label",
                           F.floor(sim * 1000).cast("long").alias("sim_milli"))
    return scored.orderBy(F.desc("sim_milli"), "vec_id").limit(10)


SQL_COSINE_TOPK = """
WITH q AS (SELECT embedding AS q_emb FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT vec_id, label,
  CAST(floor(list_cosine_similarity(embedding, q_emb) * 1000) AS BIGINT) AS sim_milli
FROM embeddings, q
ORDER BY sim_milli DESC, vec_id LIMIT 10
"""


def q_ngram_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-style shingle selection (near-dup building block): the K
    smallest md5(3-gram shingle) values per doc — deterministic, engine-
    portable, and the exact candidate-generation kernel the LSH dedup uses."""
    K = 8
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - 2)
    grams = F.array_distinct(F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(toks, i),
                                   F.element_at(toks, i + 1),
                                   F.element_at(toks, i + 2))))
    shingles = F.when(n >= 3, grams).otherwise(F.array().cast("array<string>"))
    hashes = F.slice(F.array_sort(
        F.transform(shingles, lambda s: F.md5(s))), 1, K)
    return (d.select("doc_id", F.explode(hashes).alias("shingle_hash"))
            .groupBy("shingle_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_doc_id")))


SQL_NGRAM_SHINGLES = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        for i in range(1, len(toks) - 2 + 1)])
    ELSE [] END AS shingles
  FROM t),
hashed AS (
  SELECT doc_id,
    list_sort(list_transform(shingles, s -> md5(s)))[1:8] AS hs
  FROM sh),
un AS (SELECT doc_id, unnest(hs) AS shingle_hash FROM hashed)
SELECT shingle_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM un GROUP BY shingle_hash
"""


def q_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/C6/W5/T6/F10 — table assembly, classification, section context,
    and price parsing via the real operators (operators/tables.py)."""
    from .operators.tables import extract_tables

    lines = derived_lines(spark, sf_dir)
    docs = (lines.groupBy("doc_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "text"))),
                lambda x: F.struct(
                    F.lit("text").alias("kind"), x["text"].alias("text"),
                    F.lit("").alias("media_ref"), x["offset"].alias("offset")),
            ).alias("spans")))
    spans = track_sections(classify_spans(explode_spans(docs)))
    t = extract_tables(spans)
    return t.select(
        "doc_id", F.col("first_offset").cast("int").alias("first_off"),
        "page_num", "section", "table_type",
        F.array_join("headers", "~").alias("headers_joined"),
        F.size("table_data").alias("n_rows"),
        F.col("cost.min").alias("cost_min"),
        F.col("cost.max").alias("cost_max"),
        F.col("cost.average").alias("cost_avg"))


def _sql_tables() -> str:
    type_case = ""
    for ttype, kws in rules.TABLE_TYPE_KEYWORDS:
        type_case += f"WHEN {_sql_like_any('combined', kws)} THEN '{ttype}' "
    price_pats = [p.replace("'", "''") for p in rules.PRICE_PATTERNS]
    cell_prices = (
        "CASE "
        f"WHEN len(regexp_extract_all(c, '{price_pats[0]}', 1)) > 0 "
        f"THEN regexp_extract_all(c, '{price_pats[0]}', 1) "
        f"WHEN len(regexp_extract_all(c, '{price_pats[1]}', 1)) > 0 "
        f"THEN regexp_extract_all(c, '{price_pats[1]}', 1) "
        f"WHEN len(regexp_extract_all(c, '{price_pats[2]}', 1)) > 0 "
        f"THEN regexp_extract_all(c, '{price_pats[2]}', 1) "
        "ELSE [] END")
    return f"""
WITH {SQL_CLASSIFIED_CTE},
trow AS (
  SELECT doc_id, off, text FROM classified
  WHERE text LIKE '% | %' AND NOT is_sec AND NOT is_sub),
runs AS (
  SELECT *, off - row_number() OVER (PARTITION BY doc_id ORDER BY off) AS run
  FROM trow),
grouped AS (
  SELECT doc_id, run, min(off) AS first_off,
    list(list_transform(string_split(text, '|'),
                        c -> trim(regexp_replace(c, '\\s+', ' ', 'g')))
         ORDER BY off) AS rows_all
  FROM runs GROUP BY doc_id, run),
cleaned AS (
  SELECT doc_id, first_off,
    list_filter(rows_all,
                r -> len(list_filter(r, c -> c <> '')) > 0) AS rows_ne
  FROM grouped),
sized AS (
  SELECT doc_id, first_off, rows_ne[1] AS headers,
         rows_ne[2:] AS data_rows
  FROM cleaned
  WHERE len(rows_ne) >= 2
    AND len(rows_ne) - 1 <= {rules.TABLE_MAX_ROWS}
    AND len(rows_ne[1]) <= {rules.TABLE_MAX_COLS}),
typed AS (
  SELECT *, CAST(first_off // 50 + 1 AS INT) AS page_num,
    lower(array_to_string(headers, ' ') || ' ' ||
          array_to_string(list_transform(data_rows,
                          r -> array_to_string(r, ' ')), ' ')) AS combined
  FROM sized),
page_secs AS (
  SELECT doc_id, CAST(off // 50 + 1 AS INT) AS page_num,
         arg_min(text, off) AS page_section
  FROM classified WHERE is_sec GROUP BY 1, 2),
priced AS (
  SELECT t.*,
    coalesce(p.page_section, 'PAGE_' || CAST(t.page_num AS VARCHAR)) AS section,
    CASE {type_case} ELSE 'generic' END AS table_type,
    list_filter(list_transform(data_rows,
      r -> CASE WHEN len(list_filter(list_transform(r, c -> {cell_prices}),
                                     x -> len(x) > 0)) > 0
                THEN list_filter(list_transform(r, c -> {cell_prices}),
                                 x -> len(x) > 0)[-1] END),
      x -> x IS NOT NULL) AS price_rows
  FROM typed t LEFT JOIN page_secs p USING (doc_id, page_num)),
final AS (
  SELECT *, CASE WHEN len(price_rows) > 0 THEN
      list_transform(price_rows[1],
                     x -> CAST(replace(x, ',', '') AS DOUBLE)) END AS prices
  FROM priced)
SELECT doc_id, CAST(first_off AS INT) AS first_off, page_num, section,
  table_type,
  array_to_string(headers, '~') AS headers_joined,
  CAST(len(data_rows) AS INT) AS n_rows,
  list_min(prices) AS cost_min, list_max(prices) AS cost_max,
  CASE WHEN prices IS NOT NULL THEN
    list_sum(prices) / len(prices) END AS cost_avg
FROM final
"""


def q_raw_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — doc-ordered per-section concatenation via the real operator
    (plans/extraction.py raw_section_rows)."""
    from .plans.extraction import raw_section_rows

    blocks = _spark_blocks(spark, sf_dir)
    return raw_section_rows(blocks).select("doc_id", "section_key", "text")


SQL_RAW_SECTIONS = f"""
WITH {SQL_CLASSIFIED_CTE}
SELECT doc_id,
  CASE WHEN subsection <> '' THEN section || ' > ' || subsection
       ELSE section END AS section_key,
  string_agg(content || chr(10), '' ORDER BY off) AS text
FROM blocks GROUP BY 1, 2
"""


META_LINE_EXPRS_DOC = """
  'Report Number: RPT' || CAST(doc_id AS VARCHAR) || chr(10) ||
  'Inspection Date: Saturday, August 16' || chr(10) ||
  'Built in ' || CAST(1900 + doc_id % 120 AS VARCHAR) || chr(10) ||
  CAST(1 + doc_id % 8 AS VARCHAR) || ',' ||
    lpad(CAST((doc_id * 37) % 1000 AS VARCHAR), 3, '0') || ' square feet' || chr(10) ||
  CAST(1 + doc_id % 5 AS VARCHAR) || ' bedrooms, ' ||
    CAST(1 + doc_id % 3 AS VARCHAR) || '.5 bathrooms' || chr(10) ||
  CAST(1 + doc_id % 3 AS VARCHAR) || ' story layout' || chr(10) ||
  'Property Type: single family residence' || chr(10) ||
  'Lot size: 8,500 sq ft' || chr(10) ||
  'Property Address: ' || CAST(100 + doc_id AS VARCHAR) ||
    ' Oak Hollow Dr, Austin, TX 78701'
"""


def q_property_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/T7 — report + property metadata regex cascades via the real
    doc_metadata operator (plans/extraction.py)."""
    from .plans.extraction import doc_metadata

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_id = F.col("doc_id")
    lines = F.array(
        F.concat(F.lit("Report Number: RPT"), doc_id.cast("string")),
        F.lit("Inspection Date: Saturday, August 16"),
        F.concat(F.lit("Built in "), (1900 + F.pmod(doc_id, F.lit(120))).cast("string")),
        F.concat((1 + F.pmod(doc_id, F.lit(8))).cast("string"), F.lit(","),
                 F.lpad(F.pmod(doc_id * 37, F.lit(1000)).cast("string"), 3, "0"),
                 F.lit(" square feet")),
        F.concat((1 + F.pmod(doc_id, F.lit(5))).cast("string"),
                 F.lit(" bedrooms, "),
                 (1 + F.pmod(doc_id, F.lit(3))).cast("string"),
                 F.lit(".5 bathrooms")),
        F.concat((1 + F.pmod(doc_id, F.lit(3))).cast("string"),
                 F.lit(" story layout")),
        F.lit("Property Type: single family residence"),
        F.lit("Lot size: 8,500 sq ft"),
        F.concat(F.lit("Property Address: "), (100 + doc_id).cast("string"),
                 F.lit(" Oak Hollow Dr, Austin, TX 78701")),
    )
    spans = F.transform(
        lines, lambda t, i: F.struct(
            F.lit("text").alias("kind"), t.alias("text"),
            F.lit("").alias("media_ref"), i.cast("int").alias("offset")))
    docs = d.select(doc_id.cast("string").alias("doc_id"),
                    spans.alias("spans"))
    md = doc_metadata(classify_spans(explode_spans(docs)))
    return md.select(
        "doc_id", F.col("metadata.total_pages").alias("total_pages"),
        F.col("metadata.report_type").alias("report_type"),
        F.col("metadata.report_number").alias("report_number"),
        F.col("metadata.inspection_date").alias("inspection_date"),
        F.col("metadata.property_address").alias("property_address"),
        F.col("metadata.square_footage").alias("square_footage"),
        F.col("metadata.year_built").alias("year_built"),
        F.col("metadata.stories").alias("stories"),
        F.col("metadata.home_type").alias("home_type"),
        F.col("metadata.lot_size").alias("lot_size"),
        F.col("metadata.bedrooms").alias("bedrooms"),
        F.col("metadata.bathrooms").alias("bathrooms"),
        F.col("metadata.location").alias("location"))


SQL_PROPERTY_META = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {META_LINE_EXPRS_DOC} AS txt
  FROM documents)
SELECT doc_id, 1 AS total_pages, 'inspection' AS report_type,
  nullif(regexp_extract(txt, 'Report Number:\\s*(\\S+)', 1), '') AS report_number,
  trim(nullif(regexp_extract(txt, 'Inspection Date:\\s*(.+?)(?:\\n|$)', 1), ''))
    AS inspection_date,
  nullif(regexp_extract(txt,
    '(\\d+\\s+[\\w\\s]+,\\s*\\w+,\\s*TX\\s*\\d{{5}})', 1), '') AS property_address,
  CAST(replace(nullif(regexp_extract(txt,
    '(?i)(\\d{{1,2}},?\\d{{3}})\\s*(?:square\\s*feet|sq\\.?\\s*ft\\.?|sf)', 1),
    ''), ',', '') AS INT) AS square_footage,
  -- year extraction is leftmost-first over the whole metadata text
  -- (YEAR_PATTERNS[1] has an optional prefix, so it grabs the FIRST
  -- 4-digit run); a 4-digit report number hijacks the match and fails
  -- the 1800-2025 range check -> NULL (faithful operator behavior)
  CASE WHEN TRY_CAST(regexp_extract(txt, '(\\d{{4}})', 1) AS INT)
            BETWEEN 1800 AND 2025
       THEN TRY_CAST(regexp_extract(txt, '(\\d{{4}})', 1) AS INT) END
    AS year_built,
  CAST(1 + CAST(doc_id AS INT) % 3 AS INT) AS stories,
  trim(nullif(regexp_extract(txt,
    '(?i)(?:property\\s*type|home\\s*type|style)[:\\s]*([\\w\\s]+?)(?:\\n|,|;)', 1),
    '')) AS home_type,
  nullif(regexp_extract(txt,
    '(?i)lot\\s*size[:\\s]*([\\d,]+)\\s*(?:sq\\.?\\s*ft\\.?|sf)', 1), '') AS lot_size,
  CAST(nullif(regexp_extract(txt, '(?i)(\\d+)\\s*bed(?:room)?s?', 1), '') AS INT)
    AS bedrooms,
  CAST(nullif(regexp_extract(txt,
    '(?i)(\\d+(?:\\.\\d+)?)\\s*bath(?:room)?s?', 1), '') AS DOUBLE) AS bathrooms,
  trim(regexp_replace(nullif(regexp_extract(txt,
    '(?i)(?:location|address|property\\s*address)[:\\s]*([^\\n]+)', 1), ''),
    '\\s+', ' ', 'g')) AS location
FROM t
"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram jaccard near-dup pairs over bounded top-K shingle sets
    (operators/dedup.py jaccard_pairs)."""
    from .operators.dedup import jaccard_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    return jaccard_pairs(d, min_shared=2)


SQL_JACCARD_PAIRS = r"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
sh AS (
  SELECT id,
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        for i in range(1, len(toks) - 2 + 1)])
    ELSE [] END AS shingles
  FROM t),
hs AS (
  SELECT id, list_sort(list_transform(shingles, s -> md5(s)))[1:8] AS hs
  FROM sh),
un AS (SELECT id, hs, unnest(hs) AS h FROM hs),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         any_value(a.hs) AS hs_a, any_value(b.hs) AS hs_b,
         count(*) AS n_shared
  FROM un a JOIN un b ON a.h = b.h AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b,
  CAST(len(list_intersect(hs_a, hs_b)) AS BIGINT) AS n_intersect,
  len(list_intersect(hs_a, hs_b))
    / CAST(len(list_distinct(list_concat(hs_a, hs_b))) AS DOUBLE) AS jaccard
FROM pairs WHERE n_shared >= 2
"""


def q_knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-label vote (operators/similarity.py knn_label_vote)."""
    from .operators.similarity import knn_label_vote

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = e.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    return knn_label_vote(e, [float(x) for x in qv], k=10)


SQL_KNN_VOTE = """
WITH q AS (SELECT embedding AS q_emb FROM embeddings ORDER BY vec_id LIMIT 1),
top AS (
  SELECT label FROM embeddings, q
  ORDER BY list_cosine_similarity(embedding, q_emb) DESC, vec_id LIMIT 10)
SELECT label, count(*) AS votes FROM top
GROUP BY label ORDER BY votes DESC, label LIMIT 1
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (operators/dedup.py). max_hamming=3 matches
    the 4-chunk banding recall guarantee exactly (pigeonhole), so the
    banded Spark plan must equal the brute-force oracle."""
    from .operators.dedup import simhash, simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    return simhash_pairs(simhash(d), max_hamming=3)


SQL_SIMHASH_PAIRS = r"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
h AS (
  SELECT doc_id,
    list_transform(toks, tok -> ('0x' || substr(md5(tok),1,16))::UBIGINT) AS hs
  FROM t),
sig AS (
  SELECT doc_id,
    CASE WHEN len(hs) = 0 THEN 0::UBIGINT ELSE
      CAST(list_sum([
        CASE WHEN 2 * list_sum(list_transform(hs,
                     x -> CAST((x >> b) & 1 AS BIGINT))) > len(hs)
             THEN (1::UBIGINT << b) ELSE 0::UBIGINT END
        for b in range(0, 64)]) AS UBIGINT) END AS s
  FROM h)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3
"""


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup verdicts (operators/dedup.py). The md5-derived
    shingle hashes and modular permutations are engine-portable, so the
    full banded LSH pipeline has an exact DuckDB transcription."""
    from .operators.dedup import minhash_dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    out = minhash_dedup(d, threshold=0.5)
    return out.select("doc_id", "keeper_doc_id", "is_near_duplicate")


def _sql_minhash_dedup(k: int = 64, bands: int = 16,
                       threshold: float = 0.5) -> str:
    """Full SQL transcription of minhash_dedup: same seeded (a_i, b_i)
    permutation constants (numpy default_rng(42), as in
    operators/dedup.py minhash_signature), same banding, same keeper rule."""
    import numpy as np

    rng = np.random.default_rng(42)
    mersenne = (1 << 31) - 1
    a = rng.integers(1, mersenne, size=k, dtype=np.int64)
    b = rng.integers(0, mersenne, size=k, dtype=np.int64)
    perms = ", ".join("{'a': %d, 'b': %d}" % (int(a[i]), int(b[i]))
                      for i in range(k))
    rows = k // bands
    return rf"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
sh AS (
  SELECT id,
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        for i in range(1, len(toks) - 2 + 1)])
    ELSE [] END AS shingles
  FROM t),
xs AS (
  SELECT id,
    list_transform(shingles,
      s -> ('0x' || substr(md5(s),1,15))::BIGINT % 1073741824) AS xs
  FROM sh),
sigs AS (
  SELECT id,
    [list_min(list_transform(xs, x -> (p.a * x + p.b) % {mersenne}))
     for p in [{perms}]] AS sig
  FROM xs WHERE len(xs) > 0),
banded AS (
  SELECT id, j,
    md5(array_to_string(sig[{rows}*j+1:{rows}*j+{rows}], ',')) AS h
  FROM sigs CROSS JOIN unnest(range(0, {bands})) AS t(j)),
id_pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.j = b.j AND a.h = b.h AND a.id < b.id),
scored AS (
  SELECT id_a, id_b,
    len(list_filter(range(1, {k}+1), i -> sa.sig[i] = sb.sig[i]))
      / CAST({k} AS DOUBLE) AS jaccard_est
  FROM id_pairs p
  JOIN sigs sa ON sa.id = p.id_a
  JOIN sigs sb ON sb.id = p.id_b),
near AS (SELECT * FROM scored WHERE jaccard_est >= {threshold}),
partners AS (
  SELECT id_a AS id, id_b AS partner FROM near
  UNION ALL
  SELECT id_b AS id, id_a AS partner FROM near),
keeper AS (SELECT id, min(partner) AS min_partner FROM partners GROUP BY id)
SELECT t.id AS doc_id,
  least(coalesce(k.min_partner, t.id), t.id) AS keeper_doc_id,
  least(coalesce(k.min_partner, t.id), t.id) <> t.id AS is_near_duplicate
FROM t LEFT JOIN keeper k ON k.id = t.id
"""


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup (operators/dedup.py
    minhash_dedup_incremental): a synthetic ingest batch against the
    already-stored corpus signatures. Batch tiers: exact copies of
    corpus docs (corpus-canonical keeper), twin copies of docs ABSENT
    from the corpus (batch-minimum keeper), and token-reversed docs
    (shingle-destroyed — kept). Derivations are dyadic (doc_id % 8 and
    +10^6 offsets) so DuckDB and Spark agree bit-for-bit."""
    from .operators.dedup import (minhash_dedup_incremental,
                                  minhash_signatures_arrow)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("did"), "text")
    corpus = d.where(F.col("did") % 8 != 5).select(
        F.col("did").cast("string").alias("doc_id"), "text")
    rev = F.concat_ws(" ", F.reverse(F.split(F.trim(F.col("text")),
                                             r"\s+")))
    batch = (
        d.where(F.col("did") % 8 == 1).select(
            (F.col("did") + 1000000).cast("string").alias("doc_id"),
            "text")
        .unionByName(d.where(F.col("did") % 8 == 5).select(
            (F.col("did") + 1000000).cast("string").alias("doc_id"),
            "text"))
        .unionByName(d.where(F.col("did") % 8 == 5).select(
            (F.col("did") + 2000000).cast("string").alias("doc_id"),
            "text"))
        .unionByName(d.where(F.col("did") % 8 == 3).select(
            (F.col("did") + 3000000).cast("string").alias("doc_id"),
            rev.alias("text"))))
    out = minhash_dedup_incremental(
        batch, minhash_signatures_arrow(corpus), threshold=0.5)
    return out.select("doc_id", "keeper_doc_id", "is_near_duplicate")


def _sql_minhash_incremental(k: int = 64, bands: int = 16,
                             threshold: float = 0.5) -> str:
    """SQL transcription of minhash_dedup_incremental over the same
    dyadic corpus/batch split: same seeded permutations and banding as
    _sql_minhash_dedup, candidate pairs restricted to >=1 new side, and
    the corpus-canonical keeper rule (min corpus partner first, else
    batch minimum, else self)."""
    import numpy as np

    rng = np.random.default_rng(42)
    mersenne = (1 << 31) - 1
    a = rng.integers(1, mersenne, size=k, dtype=np.int64)
    b = rng.integers(0, mersenne, size=k, dtype=np.int64)
    perms = ", ".join("{'a': %d, 'b': %d}" % (int(a[i]), int(b[i]))
                      for i in range(k))
    rows = k // bands
    return rf"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, text
  FROM documents WHERE doc_id % 8 <> 5),
batch AS (
  SELECT CAST(doc_id + 1000000 AS VARCHAR) AS id, text
  FROM documents WHERE doc_id % 8 = 1
  UNION ALL
  SELECT CAST(doc_id + 1000000 AS VARCHAR), text
  FROM documents WHERE doc_id % 8 = 5
  UNION ALL
  SELECT CAST(doc_id + 2000000 AS VARCHAR), text
  FROM documents WHERE doc_id % 8 = 5
  UNION ALL
  SELECT CAST(doc_id + 3000000 AS VARCHAR),
    array_to_string(list_reverse(
      string_split_regex(trim(text), '\s+')), ' ')
  FROM documents WHERE doc_id % 8 = 3),
allr AS (
  SELECT id, text, FALSE AS is_new FROM corpus
  UNION ALL
  SELECT id, text, TRUE FROM batch),
t AS (
  SELECT id, is_new,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM allr),
sh AS (
  SELECT id, is_new,
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        for i in range(1, len(toks) - 2 + 1)])
    ELSE [] END AS shingles
  FROM t),
xs AS (
  SELECT id, is_new,
    list_transform(shingles,
      s -> ('0x' || substr(md5(s),1,15))::BIGINT % 1073741824) AS xs
  FROM sh),
sigs AS (
  SELECT id, is_new,
    [list_min(list_transform(xs, x -> (p.a * x + p.b) % {mersenne}))
     for p in [{perms}]] AS sig
  FROM xs WHERE len(xs) > 0),
banded AS (
  SELECT id, is_new, j,
    md5(array_to_string(sig[{rows}*j+1:{rows}*j+{rows}], ',')) AS h
  FROM sigs CROSS JOIN unnest(range(0, {bands})) AS t(j)),
cand AS (
  SELECT DISTINCT n.id AS id_n, o.id AS id_o, o.is_new AS o_new
  FROM banded n JOIN banded o ON n.j = o.j AND n.h = o.h AND n.id <> o.id
  WHERE n.is_new),
scored AS (
  SELECT id_n, id_o, o_new,
    len(list_filter(range(1, {k}+1), i -> sa.sig[i] = sb.sig[i]))
      / CAST({k} AS DOUBLE) AS jaccard_est
  FROM cand
  JOIN sigs sa ON sa.id = cand.id_n
  JOIN sigs sb ON sb.id = cand.id_o),
near AS (SELECT * FROM scored WHERE jaccard_est >= {threshold}),
verdict AS (
  SELECT id_n,
    min(CASE WHEN NOT o_new THEN id_o END) AS corpus_partner,
    min(CASE WHEN o_new THEN id_o END) AS batch_partner
  FROM near GROUP BY id_n)
SELECT b.id AS doc_id,
  coalesce(v.corpus_partner,
           least(coalesce(v.batch_partner, b.id), b.id)) AS keeper_doc_id,
  coalesce(v.corpus_partner,
           least(coalesce(v.batch_partner, b.id), b.id)) <> b.id
    AS is_near_duplicate
FROM batch b LEFT JOIN verdict v ON v.id_n = b.id
"""


ANN_N_PLANES = 8
ANN_DIM = 64


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbours (the candidate pruning
    of operators/similarity.py ann_topk — bucket + Hamming-1 multi-probe),
    scored at milli precision so float fold-order differences between
    engines cannot reorder the top-k."""
    from .operators.similarity import (cosine_scores_arrow, with_lsh_buckets,
                                       hyperplanes)
    import numpy as np

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = e.orderBy("vec_id").limit(1).collect()[0]
    qv = [float(x) for x in first["embedding"]]
    planes = hyperplanes(ANN_DIM, ANN_N_PLANES)
    q_bucket = int(sum((1 << i) for i, p in enumerate(planes)
                       if float(np.dot(np.asarray(qv), p)) >= 0))
    bucketed = with_lsh_buckets(e, ANN_DIM, ANN_N_PLANES)
    cand = bucketed.where(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(q_bucket))) <= 1)
    # Arrow scoring kernel — bit-identical to the unrolled
    # cosine_col(emb, double-literal query, dim) projection it replaced
    scored = cosine_scores_arrow(cand, qv)
    return (scored.select(
        "vec_id", "label",
        F.floor(F.col("cosine") * 1000).cast("long").alias("sim_milli"))
        .orderBy(F.desc("sim_milli"), "vec_id").limit(10))


def _sql_ann_topk() -> str:
    """SQL transcription of the ANN gate: the same seeded hyperplanes
    (inlined as literals), sign-bit bucket, Hamming<=1 probe set, and
    milli-floored cosine scoring."""
    from .operators.similarity import hyperplanes

    planes = hyperplanes(ANN_DIM, ANN_N_PLANES)
    plane_lits = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes)
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product({{emb}}, pl.planes[{i+1}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(ANN_N_PLANES))
    return f"""
WITH pl AS (SELECT [{plane_lits}] AS planes),
q AS (SELECT embedding AS q_emb FROM embeddings ORDER BY vec_id LIMIT 1),
qb AS (SELECT {bucket_expr.format(emb='q_emb')} AS q_bucket FROM q, pl),
be AS (
  SELECT vec_id, label, embedding,
         {bucket_expr.format(emb='embedding')} AS bucket
  FROM embeddings, pl),
cand AS (
  SELECT be.vec_id, be.label, be.embedding
  FROM be, qb
  WHERE bit_count(xor(CAST(be.bucket AS UBIGINT),
                      CAST(qb.q_bucket AS UBIGINT))) <= 1)
SELECT vec_id, label,
  CAST(floor(list_cosine_similarity(embedding, q_emb) * 1000) AS BIGINT)
    AS sim_milli
FROM cand, q
ORDER BY sim_milli DESC, vec_id LIMIT 10
"""


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (streaming/events.py)."""
    from .streaming.events import windowed_counts

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_counts(e, "1 hour")


SQL_EVENTS_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, sum(value) AS value_sum
FROM events GROUP BY 1, 2
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (operators/multimodal.py): synthesize media for
    refs derived from documents, decode with the deterministic stand-in.
    The feature vector (a 16-bin byte histogram over the synthetic
    content, each count/128 exact in float32) is projected to its integer
    counts joined as a string — hashable for the gate, and exactly
    recomputable by the SQL oracle from the md5 hex nibbles."""
    from .operators.multimodal import decode_media, synthesize_media

    refs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("img://doc_"), F.col("doc_id").cast("string"),
                 F.lit("/0")).alias("media_ref"))
    media = synthesize_media(spark, refs)
    feats = decode_media(media, fake=True)
    counts = F.transform(
        F.col("feature"),
        lambda x: F.round(x.cast("double") * 128).cast("int").cast("string"))
    return feats.select(
        "media_ref", "mime", "width", "height",
        F.array_join(counts, ",").alias("hist_counts"))


def _sql_media_features() -> str:
    """SQL twin of the fake decode: synthetic content = unhex(repeat(md5(
    ref), 8)) (128 bytes), and a 16-bin histogram over byte values where
    bin(v) = v >> 4 = the byte's first hex nibble — so each bin count is
    8 x (occurrences of that hex digit at odd positions of the md5)."""
    odd_chars = " || ".join(f"substr(h, {2*i+1}, 1)" for i in range(16))
    digits = "0123456789abcdef"
    cnts = ", ".join(
        f"CAST(8 * (16 - length(replace(odd, '{d}', ''))) AS VARCHAR)"
        for d in digits)
    return f"""
WITH refs AS (
  SELECT 'img://doc_' || CAST(doc_id AS VARCHAR) || '/0' AS media_ref
  FROM documents),
m AS (SELECT media_ref, md5(media_ref) AS h FROM refs),
meta AS (
  SELECT media_ref, h, {odd_chars} AS odd,
    CAST(('0x' || substr(h, 1, 4))::INT % 1920 + 16 AS INT) AS width,
    CAST(('0x' || substr(h, 5, 4))::INT % 1080 + 16 AS INT) AS height,
    CASE ('0x' || substr(h, 11, 2))::INT % 3
      WHEN 0 THEN 'image/png' WHEN 1 THEN 'video/mp4'
      ELSE 'audio/wav' END AS mime
  FROM m)
SELECT media_ref, mime, width, height,
  concat_ws(',', {cnts}) AS hist_counts
FROM meta
"""


# shared 40-token paragraph planted on every third doc so cross-doc
# windows duplicate by construction (stray natural duplicates in the
# corpus text compare fine too — both engines count the same data)
_SHARED_PARA = " ".join(f"shared corpus boilerplate token{i}"
                        for i in range(10))


def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document windowed substring duplication (operators/dedup
    substring_dup_stats — the ExactSubstr signal): 20-token windows,
    stride 20, occurrence-counted corpus-wide."""
    from .operators.dedup import substring_dup_stats

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = d.select(
        "doc_id",
        F.expr(f"CASE WHEN doc_id % 3 = 0 THEN '{_SHARED_PARA} ' "
               f"|| COALESCE(text, '') ELSE COALESCE(text, '') END")
        .alias("text"))
    out = substring_dup_stats(planted, window=20, stride=20)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_windows", "n_dup_windows", "dup_ppm")         .orderBy("doc_id")


SQL_SUBSTR_DEDUP = f"""
WITH d AS (SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN '{_SHARED_PARA} '
      || COALESCE(text, '') ELSE COALESCE(text, '') END AS text
  FROM documents),
tok AS (SELECT doc_id,
          string_split_regex(trim(text), '\\s+') AS toks FROM d),
w AS (SELECT doc_id, toks,
        greatest(cast(floor((len(toks) - 20) / 20) as bigint) + 1,
                 0) AS nw
      FROM tok),
ex AS (SELECT doc_id,
         unnest(CASE WHEN nw > 0 THEN
           [md5(array_to_string(toks[(i-1)*20+1:(i-1)*20+20], ' '))
            for i in range(1, nw + 1)]
           ELSE [NULL] END) AS whash
       FROM w),
cnt AS (SELECT whash, count(*) AS occ FROM ex
        WHERE whash IS NOT NULL GROUP BY whash),
mk AS (SELECT e.doc_id, e.whash,
         CASE WHEN c.occ >= 2 THEN 1 END AS is_dup
       FROM ex e LEFT JOIN cnt c ON e.whash = c.whash),
o AS (SELECT doc_id, count(whash) AS n_windows,
        COALESCE(sum(is_dup), 0) AS n_dup FROM mk GROUP BY doc_id)
SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
  CAST(n_dup AS BIGINT) AS n_dup_windows,
  CASE WHEN n_windows > 0
    THEN cast(floor(n_dup * 1000000 / n_windows) as bigint)
    ELSE CAST(0 AS BIGINT) END AS dup_ppm
FROM o ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "status_detect": q_status_detect,
    "sections": q_sections,
    "segmentation": q_segmentation,
    "boilerplate": q_boilerplate,
    "priority": q_priority,
    "font_priority": q_font_priority,
    "bbox_agg": q_bbox_agg,
    "title": q_title,
    "price_parse": q_price_parse,
    "normalize_unicode": q_normalize_unicode,
    "dedup_exact": q_dedup_exact,
    "substr_dedup": q_substr_dedup,
    "token_stats": q_token_stats,
    "quality_score": q_quality_score,
    "langid": q_langid,
    "fingerprint": q_fingerprint,
    "cosine_topk": q_cosine_topk,
    "ngram_shingles": q_ngram_shingles,
    "jaccard_pairs": q_jaccard_pairs,
    "knn_vote": q_knn_vote,
    "simhash_pairs": q_simhash_pairs,
    "minhash_dedup": q_minhash_dedup,
    "minhash_incremental": q_minhash_incremental,
    "ann_topk": q_ann_topk,
    "media_features": q_media_features,
    "events_window": q_events_window,
    "tables": q_tables,
    "raw_sections": q_raw_sections,
    "property_meta": q_property_meta,
}

ORACLES: dict[str, str] = {
    "status_detect": SQL_STATUS,
    "sections": SQL_SECTIONS,
    "segmentation": SQL_SEGMENTATION,
    "boilerplate": SQL_BOILERPLATE,
    "priority": SQL_PRIORITY,
    "font_priority": SQL_FONT_PRIORITY,
    "bbox_agg": SQL_BBOX_AGG,
    "title": SQL_TITLE,
    "price_parse": SQL_PRICE,
    "normalize_unicode": SQL_NORMALIZE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "substr_dedup": SQL_SUBSTR_DEDUP,
    "token_stats": SQL_TOKEN_STATS,
    "quality_score": SQL_QUALITY,
    "langid": SQL_LANGID,
    "fingerprint": SQL_FINGERPRINT,
    "cosine_topk": SQL_COSINE_TOPK,
    "ngram_shingles": SQL_NGRAM_SHINGLES,
    "jaccard_pairs": SQL_JACCARD_PAIRS,
    "knn_vote": SQL_KNN_VOTE,
    "events_window": SQL_EVENTS_WINDOW,
    "tables": _sql_tables(),
    "raw_sections": SQL_RAW_SECTIONS,
    "property_meta": SQL_PROPERTY_META,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "minhash_dedup": _sql_minhash_dedup(),
    "minhash_incremental": _sql_minhash_incremental(),
    "ann_topk": _sql_ann_topk(),
    "media_features": _sql_media_features(),
}
