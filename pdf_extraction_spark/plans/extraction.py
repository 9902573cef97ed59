"""The extraction plan: span table in -> structured per-doc output.

Mirrors the reference's ``process_pdf`` orchestration
(src/pipeline.py:56-120) as a DAG of DataFrame transforms:

  explode -> T1 normalize -> classify kinds (C1/F5/S5-marker) -> W1 sections
  -> blocks -> W2 segmentation (grouped map) -> J1 cost link -> A1/A4/S1/T7
  -> per-doc reassembly (ordered span sequence + issues + tables + metadata)

Everything except W2 is pure ``pyspark.sql.functions`` (JVM/codegen).
"""

from __future__ import annotations

import sys
import unicodedata
from functools import cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import rules
from ..functions.text import boilerplate_col, normalize_text, status_col
from ..operators.sections import track_sections, with_defaults
from ..operators.segmentation import segment_issues
from ..operators.tables import extract_tables, link_costs, page_col

BLOCK_KINDS = ("status_line", "boilerplate", "text")
TABLE_ROW_MARKER = " | "


def explode_spans(docs: DataFrame) -> DataFrame:
    """Schema-tolerant span explode: the contract columns plus the
    OPTIONAL font attributes (bold/underlined/italic via font name and
    size, C2) and OPTIONAL bbox attributes (x0/y0/x1/y1, C3) when the
    input span struct carries them — constant-False / (0,0,0,0)
    otherwise (the fontless S4 fallback, reference
    text_extractor.pyc:178-227 and the get_text_bbox empty default at
    text_extractor.pyc:211-227).

    C2 derivation (detect_formatting, text_extractor.pyc:178-207):
    bold when the explicit attr says so, OR the font name contains
    bold/black, OR the font size exceeds 12pt; italic when the font
    name contains italic/oblique. ``font``/``size`` are per-span
    (the reference's per-line max-over-matching-words aggregation
    happens upstream in the span model, like the C3 line bbox)."""
    span_fields = set(docs.schema["spans"].dataType.elementType.fieldNames())

    def opt_flag(name: str) -> Column:
        if name in span_fields:
            return F.coalesce(F.col(f"s.{name}").cast("boolean"),
                              F.lit(False))
        return F.lit(False)

    def opt_num(name: str) -> Column:
        if name in span_fields:
            return F.coalesce(F.col(f"s.{name}").cast("double"),
                              F.lit(0.0))
        return F.lit(0.0)

    font = (F.lower(F.coalesce(F.col("s.font").cast("string"), F.lit("")))
            if "font" in span_fields else F.lit(""))
    bold = (opt_flag("bold")
            | font.rlike("bold|black")
            | (opt_num("size") > 12.0))
    italic = font.rlike("italic|oblique")

    return docs.select(
        "doc_id",
        F.explode("spans").alias("s"),
    ).select(
        "doc_id",
        F.col("s.kind").alias("raw_kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
        bold.alias("bold"),
        italic.alias("italic"),
        opt_flag("underlined").alias("underlined"),
        opt_num("x0").alias("x0"),
        opt_num("y0").alias("y0"),
        opt_num("x1").alias("x1"),
        opt_num("y1").alias("y1"),
    )


def classify_spans(df: DataFrame) -> DataFrame:
    """T1 + kind classification + C1 status + pseudo-page.

    Kind precedence (documented contract, oracle.classify_span_kind):
    media > section > subsection > table_row > boilerplate > status_line > text.
    """
    is_media = F.col("raw_kind") == "media"
    df = df.withColumn(
        "norm", F.when(is_media, F.lit("")).otherwise(normalize_text(F.col("text"))))
    df = df.withColumn("status", F.when(~is_media, status_col(F.col("norm"))))
    df = df.withColumn(
        "out_kind",
        F.when(is_media, F.lit("media_ref"))
        .when(F.col("norm") == "", F.lit("text"))
        .when(F.col("norm").rlike(rules.jre(rules.SECTION_RE)),
              F.lit("section_heading"))
        .when(F.col("norm").rlike(rules.jre(rules.SUBSECTION_RE)),
              F.lit("subsection_heading"))
        .when(F.col("norm").contains(TABLE_ROW_MARKER), F.lit("table_row"))
        .when(boilerplate_col(F.col("norm")), F.lit("boilerplate"))
        .when(F.col("status").isNotNull(), F.lit("status_line"))
        .otherwise(F.lit("text")))
    return df.withColumn("page_num", page_col(F.col("offset")))


def build_blocks(spans: DataFrame) -> DataFrame:
    """The reference TextBlock stream: non-heading, non-table, non-media,
    non-empty spans with W1 section state attached."""
    blocks = spans.filter(
        F.col("out_kind").isin(*BLOCK_KINDS) & (F.col("norm") != ""))
    blocks = with_defaults(blocks)
    return blocks.select("doc_id", "offset", "page_num", "section",
                         "subsection", "status",
                         F.col("norm").alias("content"),
                         "bold", "italic", "underlined",
                         "x0", "y0", "x1", "y1")


def section_bboxes(blocks: DataFrame) -> DataFrame:
    """C3 — bbox aggregation (text_extractor.pyc:211-227,
    src/models.py:31): the reference computes a line's bbox as
    (min x0, min top, max x1, max bottom) over its matching words with
    (0,0,0,0) when nothing matches. In the span model the per-line word
    aggregation has already happened upstream (the span carries its
    line bbox, or the S4 fallback zeros), so the operator surfaces as
    the same min/min/max/max over each raw-section group — the spatial
    extent of every 'section > subsection' region, one shuffle on the
    same key as A4. Pure column aggregation, no UDF."""
    return blocks.groupBy("doc_id", "section", "subsection").agg(
        F.min("x0").alias("x0"),
        F.min("y0").alias("y0"),
        F.max("x1").alias("x1"),
        F.max("y1").alias("y1"))


def _ne(col: Column) -> Column:
    return F.when(col != "", col)


def _pystrip(col: Column) -> Column:
    """python str.strip() equivalent: F.trim only removes 0x20 spaces,
    while the reference strips all (unicode) whitespace — a tab after a
    captured date is a real divergence (found by differential fuzzing)."""
    return F.regexp_replace(col, rules.jre(r"^\s+|\s+$"), "")


@cache
def _decimal_digits() -> tuple[str, str]:
    """Every Unicode decimal digit (category Nd) and its ASCII digit."""
    nd = [chr(c) for c in range(sys.maxunicode + 1)
          if unicodedata.category(chr(c)) == "Nd"]
    return "".join(nd), "".join(str(unicodedata.decimal(c)) for c in nd)


def _ascii_digits(col: Column) -> Column:
    """Captured \\d runs with ASCII digits: (?U)\\d captures every Nd
    digit and the reference's int()/float() read them ('2١٠٠' is
    2100), while a Spark cast rejects them, under ANSI by failing
    the job."""
    return F.translate(col, *_decimal_digits())


def _first_match(text: Column, patterns: list[str], flags: str = "") -> Column:
    return F.coalesce(
        *[_ne(F.regexp_extract(text, rules.jre(flags + p), 1)) for p in patterns],
        F.lit(None).cast("string"))


def doc_metadata(spans: DataFrame) -> DataFrame:
    """S1 (metadata_extractor.py:10-49) over raw page-1 text and T7
    (text_extractor.pyc:273-409) over raw first-2-pages text."""
    text_spans = spans.filter(F.col("raw_kind") != "media")

    def page_text(max_page: int, alias: str) -> DataFrame:
        return (text_spans.filter(F.col("page_num") <= max_page)
                .groupBy("doc_id")
                .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("offset", "text"))),
                        lambda x: x["text"]),
                    "\n").alias(alias)))

    p1 = page_text(1, "_p1")
    p2 = page_text(2, "_p2")
    pages = spans.groupBy("doc_id").agg(F.max("page_num").alias("total_pages"))

    df = pages.join(p1, "doc_id", "left").join(p2, "doc_id", "left")
    t1, t2 = F.col("_p1"), F.col("_p2")

    sqft = _first_match(t2, rules.SQFT_PATTERNS, "(?i)")
    years = [_ascii_digits(_ne(F.regexp_extract(
        t2, rules.jre("(?i)" + p), 1))).try_cast("int")
             for p in rules.YEAR_PATTERNS]
    year = F.coalesce(*[
        F.when(y.between(rules.YEAR_MIN, rules.YEAR_MAX), y) for y in years])
    stories_raw = _ascii_digits(F.coalesce(*[
        _ne(F.lower(F.regexp_extract(t2, rules.jre("(?i)" + p), 1)))
        for p in rules.STORIES_PATTERNS]))
    stories = F.when(stories_raw.rlike(r"^\d$"), stories_raw.cast("int"))
    for word, n in rules.STORY_WORDS.items():
        stories = stories.when(stories_raw == word, F.lit(n))
    loc = _first_match(t2, rules.LOCATION_PATTERNS, "(?i)")

    return df.select(
        "doc_id",
        F.struct(
            F.col("total_pages"),
            F.when(t1.contains(rules.REPORT_TYPE_ESTIMATE_MARKER),
                   F.lit("estimate")).otherwise(F.lit("inspection")).alias("report_type"),
            _ne(F.regexp_extract(t1, rules.jre(rules.REPORT_NUMBER_RE), 1)).alias("report_number"),
            _pystrip(F.coalesce(
                _ne(F.regexp_extract(t1, rules.jre(rules.INSPECTION_DATE_RE), 1)),
                _ne(F.regexp_extract(t1, rules.jre(rules.DATE_FALLBACK_RE), 1)),
                F.lit(None).cast("string"))).alias("inspection_date"),
            F.coalesce(
                _ne(F.regexp_extract(t1, rules.jre(rules.ADDRESS_TX_RE), 1)),
                _ne(F.regexp_extract(t1, rules.jre(rules.ADDRESS_ANY_RE), 1)),
                F.lit(None).cast("string")).alias("property_address"),
            _ascii_digits(F.regexp_replace(sqft, ",", "")).try_cast("int")
            .alias("square_footage"),
            year.alias("year_built"),
            stories.alias("stories"),
            _pystrip(_first_match(t2, rules.HOME_TYPE_PATTERNS, "(?i)")).alias("home_type"),
            _first_match(t2, rules.LOT_PATTERNS, "(?i)").alias("lot_size"),
            _ascii_digits(_first_match(t2, rules.BED_PATTERNS, "(?i)"))
            .try_cast("int").alias("bedrooms"),
            _ascii_digits(_first_match(t2, rules.BATH_PATTERNS, "(?i)"))
            .cast("double").alias("bathrooms"),
            _pystrip(F.regexp_replace(loc, rules.jre(r"\s+"), " ")).alias("location"),
        ).alias("metadata"))


def raw_section_rows(blocks: DataFrame) -> DataFrame:
    """A4 (src/data_structurer.py:227-237) as rows:
    (doc_id, section_key, text) with 'sec > subsec' keys and doc-ordered,
    newline-terminated concatenated content."""
    key = F.when(F.col("subsection") != "",
                 F.concat(F.col("section"), F.lit(" > "), F.col("subsection"))
                 ).otherwise(F.col("section"))
    return (blocks.withColumn("section_key", key)
            .groupBy("doc_id", "section_key")
            .agg(F.concat(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("offset", "content"))),
                        lambda x: x["content"]),
                    "\n"),
                F.lit("\n")).alias("text")))


def raw_sections(blocks: DataFrame) -> DataFrame:
    """A4 rolled up to one map per doc."""
    return (raw_section_rows(blocks).groupBy("doc_id")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("section_key", "text")))
                .alias("raw_sections")))


def assemble(docs: DataFrame) -> DataFrame:
    """Full extraction: docs(doc_id, spans) -> one structured row per doc;
    the classified spans are persisted, since every branch reads them."""
    spans = track_sections(classify_spans(explode_spans(docs))).persist()

    blocks = build_blocks(spans)
    issues = segment_issues(blocks)
    tables = extract_tables(spans)
    issues = link_costs(issues, tables)

    issues_arr = (issues.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(
                "issue_order", "id", "section", "subsection", "status",
                "priority", "title", "description", "page_numbers",
                "estimated_cost"))),
            lambda x: F.struct(
                x["id"].alias("id"), x["section"].alias("section"),
                x["subsection"].alias("subsection"), x["status"].alias("status"),
                x["priority"].alias("priority"), x["title"].alias("title"),
                x["description"].alias("description"),
                x["page_numbers"].alias("page_numbers"),
                x["estimated_cost"].alias("estimated_cost")),
        ).alias("issues"),
        F.count(F.when(F.col("status") == "D", 1)).alias("deficient"),
        F.count(F.when(F.col("status") == "I", 1)).alias("inspected"),
        F.count(F.when(F.col("status") == "NI", 1)).alias("not_inspected"),
        F.count(F.when(F.col("status") == "NP", 1)).alias("not_present"),
        F.count(F.when(F.col("priority") == "high", 1)).alias("high"),
        F.count(F.when(F.col("priority") == "medium", 1)).alias("medium"),
        F.count(F.when(F.col("priority") == "low", 1)).alias("low"),
        F.count(F.when(F.col("priority") == "info", 1)).alias("info"),
    ))

    tables_arr = (tables.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(
                "first_offset", "page_num", "section", "table_type",
                "headers", "table_data"))),
            lambda x: F.struct(
                x["page_num"].alias("page_num"), x["section"].alias("section"),
                x["table_type"].alias("table_type"),
                x["headers"].alias("headers"),
                x["table_data"].alias("table_data")),
        ).alias("tables"),
        F.count(F.lit(1)).alias("total_tables")))

    spans_arr = (spans.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(
                F.col("offset").alias("order"), F.col("out_kind").alias("kind"),
                F.col("norm").alias("text"), F.col("media_ref").alias("media_ref")))),
            lambda x: F.struct(
                x["kind"].alias("kind"), x["text"].alias("text"),
                x["media_ref"].alias("media_ref"), x["order"].alias("order")),
        ).alias("spans")))

    meta = doc_metadata(spans)
    rawsec = raw_sections(build_blocks(spans))

    out = (docs.select("doc_id").distinct()
           .join(spans_arr, "doc_id", "left")
           .join(issues_arr, "doc_id", "left")
           .join(tables_arr, "doc_id", "left")
           .join(rawsec, "doc_id", "left")
           .join(meta, "doc_id", "left"))

    zero = F.lit(0).cast("long")
    out = out.select(
        "doc_id", "spans",
        F.coalesce("issues", F.array().cast(out.schema["issues"].dataType)).alias("issues"),
        F.coalesce("tables", F.array().cast(out.schema["tables"].dataType)).alias("tables"),
        "raw_sections", "metadata",
        F.struct(
            F.coalesce(F.size("issues"), F.lit(0)).alias("total_issues"),
            F.coalesce("deficient", zero).alias("deficient"),
            F.coalesce("inspected", zero).alias("inspected"),
            F.coalesce("not_inspected", zero).alias("not_inspected"),
            F.coalesce("not_present", zero).alias("not_present"),
            F.coalesce("high", zero).alias("high"),
            F.coalesce("medium", zero).alias("medium"),
            F.coalesce("low", zero).alias("low"),
            F.coalesce("info", zero).alias("info"),
            F.coalesce("total_tables", zero).alias("total_tables"),
        ).alias("summary"))
    return out
