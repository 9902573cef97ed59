"""Gate queries for the WARC container layer
(``operators/warc.py``): raw ``.warc``/``.warc.gz`` bytes -> record
split -> HTTP decode -> charset decode.

The Spark side synthesizes one complete WARC file per document row
with the deterministic writer (``build_one_warc``: warcinfo + request
+ response records, per-record gzip members on odd doc_ids, HTTP
charset / meta-prescan / chunked / Content-Encoding-gzip / 404 /
binary-resource variants all selected by doc_id arithmetic) and runs
the actual parser over the bytes; the DuckDB oracle computes every
expected row in CLOSED FORM from the same arithmetic — the parser is
forced to agree with spec-implied content, not with itself.  The
planted 'é' makes charset decoding value-gated: iso-8859-1 stores it
as one byte, utf-8 as two, and only a correct decode chain yields the
identical character from both channels (``payload_len`` pins the
on-wire byte count via DuckDB ``strlen`` minus the latin-1 delta).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.multimodal import build_image_blobs, image_header_meta
from .operators.warc import (build_warc_files, records_from_warc,
                             warc_to_pages)


def _warc_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_warc_files(d)


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-container parse to typed record rows (gzip members,
    record framing, HTTP status/headers, transfer/content decoding,
    charset resolution) as one map-only Arrow pass."""
    recs = records_from_warc(_warc_files(spark, sf_dir))
    return recs.select(
        F.col("warc_id").cast("long").alias("doc_id"),
        "rec_idx", "warc_type", "target_uri", "warc_date",
        "content_type", "http_status", "charset", "charset_src",
        "payload_len", "text") \
        .orderBy("doc_id", "rec_idx")


_SQL_RECORDS = """
WITH b AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents),
h AS (
  SELECT doc_id, t,
    'https://host' || (doc_id % 10) || '.example/doc/' || doc_id
      AS uri,
    '2026-08-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
      || 'T12:00:00Z' AS d,
    '<html><head><title>W' || doc_id || '</title>'
      || CASE WHEN doc_id % 3 = 2 THEN '<meta charset="utf-8">'
              ELSE '' END
      || '</head><body><p>' || t || '</p><p>café ' || doc_id
      || '</p></body></html>' AS html
  FROM b),
u AS (
  SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
    CAST(NULL AS VARCHAR) AS target_uri, d AS warc_date,
    'application/warc-fields' AS content_type,
    CAST(NULL AS INT) AS http_status,
    'utf-8' AS charset, 'default' AS charset_src,
    CAST(66 AS BIGINT) AS payload_len,
    'software: pdf-extraction-spark/0.4' || chr(13) || chr(10)
      || 'format: WARC File Format 1.1' || chr(13) || chr(10) AS text
  FROM h
  UNION ALL
  SELECT doc_id, 1, 'request', uri, d,
    CAST(NULL AS VARCHAR), CAST(NULL AS INT),
    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    CAST(0 AS BIGINT), CAST(NULL AS VARCHAR)
  FROM h
  UNION ALL
  SELECT doc_id, 2, 'response', uri, d, 'text/html',
    CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INT),
    CASE WHEN doc_id % 3 = 1 THEN 'iso-8859-1' ELSE 'utf-8' END,
    CASE WHEN doc_id % 3 = 2 THEN 'meta' ELSE 'http' END,
    CAST(strlen(html)
         - CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT),
    html
  FROM h
  UNION ALL
  SELECT doc_id, 3, 'resource', uri || '/logo.png', d, 'image/png',
    CAST(NULL AS INT), CAST(NULL AS VARCHAR),
    CAST(NULL AS VARCHAR), CAST(45 AS BIGINT),
    CAST(NULL AS VARCHAR)
  FROM h WHERE doc_id % 6 = 0)
SELECT doc_id, CAST(rec_idx AS INT) AS rec_idx, warc_type,
  target_uri, warc_date, content_type, http_status, charset,
  charset_src, payload_len, text
FROM u ORDER BY doc_id, rec_idx
"""


def q_warc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-page bridge: HTTP-200 text/html response records ->
    (doc_id = target URI, decoded html) — the row set the fused
    extraction plan ingests through dispatch_spans' html branch."""
    pages = warc_to_pages(_warc_files(spark, sf_dir))
    return pages.select(
        F.col("doc_id").alias("uri"),
        F.length("html").cast("long").alias("html_chars"),
        F.substring("html", 1, 40).alias("head40")) \
        .orderBy("uri")


_SQL_PAGES = """
WITH b AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM documents
  WHERE doc_id % 7 <> 0),
h AS (
  SELECT doc_id,
    'https://host' || (doc_id % 10) || '.example/doc/' || doc_id
      AS uri,
    '<html><head><title>W' || doc_id || '</title>'
      || CASE WHEN doc_id % 3 = 2 THEN '<meta charset="utf-8">'
              ELSE '' END
      || '</head><body><p>' || t || '</p><p>café ' || doc_id
      || '</p></body></html>' AS html
  FROM b)
SELECT uri, CAST(length(html) AS BIGINT) AS html_chars,
  substr(html, 1, 40) AS head40
FROM h ORDER BY uri
"""


def q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-header metadata sniff (operators/multimodal.py
    sniff_image): dimensions/depth/mime from raw container bytes —
    PNG IHDR, JPEG SOFn behind APP0/COM segments with marker bait,
    GIF logical screen, top-down BMP, WebP VP8L 14-bit fields — as
    one map-only Arrow pass, no codec library."""
    meta = image_header_meta(build_image_blobs(
        spark.read.parquet(f"{sf_dir}/documents.parquet")))
    return meta.select(
        F.col("media_ref").cast("long").alias("doc_id"),
        "mime", "width", "height", "depth").orderBy("doc_id")


_SQL_IMAGE_META = """
SELECT doc_id,
  CASE doc_id % 5 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
    WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/bmp'
    ELSE 'image/webp' END AS mime,
  CAST(64 + doc_id % 1200 AS INT) AS width,
  CAST(48 + doc_id % 900 AS INT) AS height,
  CAST(CASE WHEN doc_id % 5 = 3 THEN 24 ELSE 8 END AS INT) AS depth
FROM documents ORDER BY doc_id
"""


QUERIES_WARC: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "warc_records": q_warc_records,
    "warc_pages": q_warc_pages,
    "image_meta": q_image_meta,
}

ORACLES_WARC: dict[str, str] = {
    "warc_records": _SQL_RECORDS,
    "warc_pages": _SQL_PAGES,
    "image_meta": _SQL_IMAGE_META,
}


def q_warc_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-payload container -> mime-routed unified contract spans
    (``operators/warc.py dispatch_spans``): one WARC per document
    whose 200 response carries doc%4-selected HTML / PDF / DOCX /
    PPTX plus doc%5 PNG resource records — the html family rides the
    ``html_to_spans`` bridge, the pdf family the whole-file parser
    chain, the office families the OOXML parsers, and image
    resources land as single-media-span documents whose span text
    carries the header-sniffed '<mime> <w>x<h>' metadata
    (``multimodal.sniff_image``), all keyed by target URI after the
    latest-capture-per-URI dedupe.  The oracle computes every
    family's spans in CLOSED
    FORM from the same doc_id arithmetic (the html/pdffile/docx/pptx
    gates' own closed forms, restricted to their modulus class), so
    the ROUTING — not just each parser — is value-gated."""
    from .operators.warc import (build_mixed_warc_files,
                                 warc_dispatch_spans)
    from .queries_html import _media_page_expr

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = d.select(
        "doc_id", F.expr("COALESCE(text, '')").alias("t")) \
        .select("doc_id", F.col("t").alias("text"),
                F.expr(_media_page_expr("CAST(doc_id AS STRING)"))
                 .alias("html"))
    spans = warc_dispatch_spans(build_mixed_warc_files(pages))
    e = spans.select("doc_id", F.explode("spans").alias("s"))
    return e.select(
        F.col("doc_id").alias("doc_id"),
        F.col("s.offset").cast("int").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref")) \
        .orderBy("doc_id", "offset")


def _sql_warc_dispatch() -> str:
    from .operators.pdffile import PAD
    from .queries_html import _GATE_PAGES, _media_page_expr, \
        sql_blocks_cte
    from .queries_pdffile import _R

    html_pages = _GATE_PAGES.format(
        expr=_media_page_expr("CAST(doc_id AS VARCHAR)")) \
        + " WHERE doc_id % 4 = 0"
    uri = ("'https://host' || (doc_id % 10) || '.example/doc/' "
           "|| doc_id")
    # family restrictions imply: docx family (doc%4==2) never has the
    # doc%4==0 table branch (i4=0) but CAN carry the doc%3==0 inline
    # image (i3); pptx family (doc%4==3) is always odd, so the
    # two-slide/reversed-sldIdLst branches never fire there (covered
    # by the dedicated pptx gates) while its doc%3 image can
    return f"""
WITH {sql_blocks_cte(html_pages)},
keep AS (
  SELECT doc_id,
         list_filter(bl, b -> b.cls IN ('content', 'media')) AS kb
  FROM blocks),
hsp AS (
  SELECT doc_id, unnest(list_transform(kb, (b, i) -> struct_pack(
      off := CAST(i - 1 AS INT),
      kind := CASE WHEN b.cls = 'media' THEN 'media' ELSE 'text' END,
      text := CASE WHEN b.cls = 'media' THEN '' ELSE b.text END,
      media_ref := CASE WHEN b.cls = 'media' THEN b.text
                        ELSE '' END))) AS u
  FROM keep),
pb AS (
  SELECT doc_id, COALESCE(text, '') || '{PAD}' AS p
  FROM documents WHERE doc_id % 4 = 1),
db AS (
  SELECT doc_id, COALESCE(text, '') AS t,
    CAST(doc_id % 3 = 0 AS INT) AS i3
  FROM documents WHERE doc_id % 4 = 2),
xb AS (
  SELECT doc_id, COALESCE(text, '') AS t,
    CAST(doc_id % 3 = 0 AS INT) AS i3
  FROM documents WHERE doc_id % 4 = 3),
allsp AS (
  SELECT doc_id, u.off AS off, u.kind AS kind, u.text AS text,
         u.media_ref AS media_ref, 0 AS is_logo
  FROM hsp
  UNION ALL
  SELECT doc_id, 0, 'text', {_R['t']}, '', 0 FROM pb
  UNION ALL SELECT doc_id, 1, 'text',
    {_R['a']} || chr(10) || {_R['b']}, '', 0 FROM pb
  UNION ALL SELECT doc_id, 2, 'media', '', 'Im0', 0 FROM pb
  UNION ALL SELECT doc_id, 3, 'text',
    {_R['c']} || chr(10) || {_R['d']}, '', 0 FROM pb
  UNION ALL
  SELECT doc_id, 0, 'text', 'Doc ' || doc_id || ' title', '', 0
  FROM db
  UNION ALL SELECT doc_id, 1, 'text',
    t || ' bold' || doc_id || ' & x <y>', '', 0 FROM db
  UNION ALL SELECT doc_id, 2, 'media', '',
    'word/media/image1.png', 0 FROM db WHERE i3 = 1
  UNION ALL SELECT doc_id, 2 + i3, 'text',
    'tail ' || doc_id || chr(9) || 'col' || chr(10) || 'next line',
    '', 0 FROM db
  UNION ALL
  SELECT doc_id, 0, 'text', 'Deck ' || doc_id || ' title', '', 0
  FROM xb
  UNION ALL SELECT doc_id, 1, 'text',
    t || ' s1p' || doc_id || ' & a <b>', '', 0 FROM xb
  UNION ALL SELECT doc_id, 2, 'media', '',
    'ppt/media/image1.png', 0 FROM xb WHERE i3 = 1
  UNION ALL
  SELECT doc_id, 0, 'media',
    'image/png ' || (16 + doc_id % 8) || 'x' || (9 + doc_id % 5),
    {uri} || '/logo.png', 1
  FROM documents WHERE doc_id % 5 = 0)
SELECT {uri} || CASE WHEN is_logo = 1 THEN '/logo.png' ELSE '' END
    AS doc_id,
  CAST(off AS INT) AS "offset", kind, text, media_ref
FROM allsp
ORDER BY doc_id, "offset"
"""


QUERIES_WARC["warc_dispatch"] = q_warc_dispatch
ORACLES_WARC["warc_dispatch"] = _sql_warc_dispatch()
