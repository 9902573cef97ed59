"""Gate queries for the whole-PDF-file layer
(``operators/pdffile.py``): raw ``%PDF-...%%EOF`` bytes -> xref walk ->
filter decode -> page tree -> content streams -> contract spans.

The Spark side synthesizes a complete two-page PDF FILE per document
row with the deterministic writer (``build_pdf``: nested page tree,
classic-xref/xref-stream variants by doc_id parity, object streams,
Flate/ASCIIHex/ASCII85/RunLength + chained filters by doc_id mod 4/2,
an incremental ``/Prev`` update revising the title) and runs the
actual parser over the bytes; the DuckDB oracle computes every
expected value in CLOSED FORM from the same doc_id arithmetic and the
same (start, length) text slices — the parser's output is forced to
agree byte-for-byte with spec-implied content, not with itself.

- ``pdf_file_pages``: decoded per-page content streams — gates xref
  tables AND xref streams, /Prev chains, ObjStm loading, all four
  filters plus the [AHx Fl] chain, page-tree recursion and /Contents
  arrays, byte-exactly (the oracle rebuilds the page templates with
  the PDF literal-string escaping applied).
- ``pdf_file_meta``: structural metadata (page/object/revision
  counts, xref flavor, post-update /Info title, page-1 filter name).
- ``pdf_file_spans``: the full chain file -> pages -> tokenize ->
  layout -> page-ordered gapless contract spans (the BASELINE.json
  input_hint shape), with the expected block structure known
  analytically from the fixed template geometry.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.filepass import file_pass
from .operators.pdffile import (CMAP_SLICES, FILES_SCHEMA, SLICES, PAD,
                                WIDTH_SLICES, build_pdf, file_meta,
                                files_to_spans, pages_from_files)
from .queries_pdf import _esc

# slice expressions over the padded text, shared by all three oracles
_E = {k: _esc(f"substr(p, {a}, {n})") for k, (a, n) in SLICES.items()}
_R = {k: f"substr(p, {a}, {n})" for k, (a, n) in SLICES.items()}

_BASE = f"""
b AS (SELECT doc_id, COALESCE(text, '') || '{PAD}' AS p
      FROM documents)
""".strip()


def _built_files(spark: SparkSession, sf_dir: str,
                 build: Callable[[int, str], bytes]) -> DataFrame:
    """The documents table as (doc_id, pdf) files written by one of
    the deterministic ``build_pdf*`` writers."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return file_pass(d, "doc_id", ["text"], FILES_SCHEMA,
                     lambda key, text: [(build(int(key), text or ""),)])


def _span_rows(spans: DataFrame, with_media: bool = False) -> DataFrame:
    """Span arrays -> one row per span in (doc_id, offset) order."""
    cols = ["kind", "text"] + (["media_ref"] if with_media else [])
    e = spans.select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.explode("spans").alias("s"))
    return e.select(
        "doc_id", F.col("s.offset").cast("long").alias("offset"),
        *[F.col(f"s.{c}").alias(c) for c in cols]) \
        .orderBy("doc_id", "offset")


def q_pdf_file_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file parse to decoded page content streams (xref walk +
    filters + page tree as one map-only Arrow pass)."""
    pages = pages_from_files(_built_files(spark, sf_dir, build_pdf))
    return pages.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "page", "stream").orderBy("doc_id", "page")


# the writer's PAGE1_TMPL / PAGE2_TMPL rebuilt in SQL with the PDF
# literal-string escaping applied to each embedded slice
_SQL_PAGES = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS page,
    'BT /F1 16 Tf 72 708 Td (' || {_E['t']} || ') Tj '
    || '/F2 10 Tf 12 TL 0 -32 Td (' || {_E['a']} || ') Tj T* ('
    || {_E['b']} || ') Tj ET q 1 0 0 1 60 300 cm /Im0 Do Q'
    AS stream FROM b
  UNION ALL
  SELECT doc_id, 1,
    'BT /F2 10 Tf 72 700 Td (' || {_E['c']} || ') Tj 12 TL T* ('
    || {_E['d']} || ') Tj ET' FROM b)
SELECT doc_id, CAST(page AS INT) AS page, stream
FROM u ORDER BY doc_id, page
"""


def q_pdf_file_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural metadata: xref flavor, object/revision counts, the
    incrementally-updated /Info title, page-1 filter."""
    return file_meta(_built_files(spark, sf_dir, build_pdf)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_pages", "n_objects", "xref_kind", "n_revisions",
        "title", "page1_filter").orderBy("doc_id")


_SQL_META = """
SELECT doc_id,
  CAST(2 AS INT) AS n_pages,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 12 ELSE 15 END AS INT)
    AS n_objects,
  CASE WHEN doc_id % 2 = 0 THEN 'table' ELSE 'stream' END
    AS xref_kind,
  CAST(2 AS INT) AS n_revisions,
  'Doc ' || doc_id || ' rev2' AS title,
  CASE doc_id % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'FlateDecode'
    WHEN 2 THEN 'ASCIIHexDecode' ELSE 'ASCII85Decode' END
    AS page1_filter
FROM documents ORDER BY doc_id
"""


def q_pdf_file_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw PDF files -> contract span arrays end-to-end (parse ->
    per-page tokenize/layout -> page-ordered gapless spans)."""
    files = _built_files(spark, sf_dir, build_pdf)
    return _span_rows(files_to_spans(files), with_media=True)


# analytic block structure (page height 792, y-down tops: page-1
# heading 68, body 106/118 (2pt gap -> one block), Im0 491; page-2
# lines 82/94 -> one block) => reading order t | a\nb | Im0 | c\nd
_SQL_SPANS = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS off, 'text' AS kind, {_R['t']} AS text,
    '' AS media_ref FROM b
  UNION ALL SELECT doc_id, 1, 'text',
    {_R['a']} || chr(10) || {_R['b']}, '' FROM b
  UNION ALL SELECT doc_id, 2, 'media', '', 'Im0' FROM b
  UNION ALL SELECT doc_id, 3, 'text',
    {_R['c']} || chr(10) || {_R['d']}, '' FROM b)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", kind, text, media_ref
FROM u ORDER BY doc_id, "offset"
"""


def q_pdf_file_cmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ToUnicode CMap extraction end-to-end: files whose body text is
    2-byte glyph codes through an embedded-font /ToUnicode CMap
    (operators/pdffile.build_pdf_cmap) parse back to the original
    text — fontmaps ride the pages kernel as JSON and decode inside
    the tokenize pass (pdfstream.tokenize_streams maps_col)."""
    from .operators.pdffile import build_pdf_cmap

    files = _built_files(spark, sf_dir, build_pdf_cmap)
    return _span_rows(files_to_spans(files))


# analytic blocks (H=792): plain line top 64; glyph-coded lines top
# 108/120 (2pt gap -> one block) => spans p | a\nb, all decoded back
# from code = char + 0x100 by the bfrange
_CE = {k: f"substr(p, {a}, {n})" for k, (a, n) in CMAP_SLICES.items()}
_SQL_CMAP = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS off, 'text' AS kind, {_CE['p']} AS text FROM b
  UNION ALL SELECT doc_id, 1, 'text',
    {_CE['a']} || chr(10) || {_CE['b']} FROM b)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", kind, text
FROM u ORDER BY doc_id, "offset"
"""


def q_pdf_file_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-font /Encoding resolution end-to-end (§9.6.5): files
    whose body lines ride a /WinAnsiEncoding font and a /BaseEncoding
    + /Differences font (operators/pdffile.build_pdf_encoding) parse
    back to the decorated text — page_font_maps composes the
    glyphlist tables when no /ToUnicode is present and the width-1
    maps decode inside the tokenize pass."""
    from .operators.pdffile import build_pdf_encoding

    files = _built_files(spark, sf_dir, build_pdf_encoding)
    return _span_rows(files_to_spans(files))


# same slices/geometry as the cmap gate; the decorations are the
# closed-form images of the encoding bytes (pdffile.ENC_*): WinAnsi
# 0x93/0x94 curly quotes around line a; Differences Euro/bullet/
# emdash + MacRoman-base guillemotleft prefixing line b
_SQL_ENCODING = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS off, 'text' AS kind, {_CE['p']} AS text FROM b
  UNION ALL SELECT doc_id, 1, 'text',
    '“' || {_CE['a']} || '”' || chr(10) || '€•—« ' || {_CE['b']}
  FROM b)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", kind, text
FROM u ORDER BY doc_id, "offset"
"""


def q_pdf_file_xobject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Form-XObject execution end-to-end (§8.10): files whose page
    invokes a form twice (own /Matrix, form-scoped WinAnsi font,
    image inside the form, nested resource-less form falling back to
    the page scope — operators/pdffile.build_pdf_xobject) parse to
    each invocation's spans at its translated position; the forms
    scope rides the pages kernel JSON and replays inside tokenize."""
    from .operators.pdffile import build_pdf_xobject

    files = _built_files(spark, sf_dir, build_pdf_xobject)
    return _span_rows(files_to_spans(files), with_media=True)


# closed-form spans of the double form invocation (H=792, tops:
# page line 64; first invocation enc 208 / nested 249; second 278 /
# 319; the form's image lands at 557 and 627) => reading order
# p | “a” | b | “a” | b | Im1 | Im1
_SQL_XOBJECT = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS off, 'text' AS kind, {_CE['p']} AS text,
    '' AS media_ref FROM b
  UNION ALL SELECT doc_id, 1, 'text',
    '“' || {_CE['a']} || '”', '' FROM b
  UNION ALL SELECT doc_id, 2, 'text', {_CE['b']}, '' FROM b
  UNION ALL SELECT doc_id, 3, 'text',
    '“' || {_CE['a']} || '”', '' FROM b
  UNION ALL SELECT doc_id, 4, 'text', {_CE['b']}, '' FROM b
  UNION ALL SELECT doc_id, 5, 'media', '', 'Im1' FROM b
  UNION ALL SELECT doc_id, 6, 'media', '', 'Im1' FROM b)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", kind, text, media_ref
FROM u ORDER BY doc_id, "offset"
"""


def q_pdf_file_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§7.6 standard-security decryption end-to-end: owner-locked
    RC4 files (40-bit V1/R2 even docs, 128-bit V2/R3 odd) parse to
    the original text — file key from Algorithm 2 with the empty user
    password, /U verified, per-object keys on strings and streams."""
    from .operators.pdffile import build_pdf_encrypted

    files = _built_files(spark, sf_dir, build_pdf_encrypted)
    return _span_rows(files_to_spans(files))


def _nav_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pdffile import build_pdf_nav

    return _built_files(spark, sf_dir, build_pdf_nav)


def q_pdf_file_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bookmark-tree extraction (§12.3.3): /First//Next walk with
    depth, /Dest and /A-GoTo page resolution against the page tree."""
    from .operators.pdffile import outline_table

    t = outline_table(_nav_files(spark, sf_dir))
    return t.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "ord", "depth", "title", "page") \
        .orderBy("doc_id", "ord")


_SQL_OUTLINE = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS ord, 0 AS depth, substr(p, 1, 20) AS title,
    0 AS page FROM b
  UNION ALL SELECT doc_id, 1, 1, substr(p, 25, 20), 1 FROM b
  UNION ALL SELECT doc_id, 2, 0, substr(p, 55, 20), 1 FROM b)
SELECT doc_id, CAST(ord AS INT) AS ord, CAST(depth AS INT) AS depth,
       title, CAST(page AS INT) AS page
FROM u ORDER BY doc_id, ord
"""


def q_pdf_file_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-annotation extraction (§12.5.6.5): /Annots -> /Link ->
    /URI actions per page — the PDF entry into the crawl link
    chain."""
    from .operators.pdffile import pdf_link_table

    t = pdf_link_table(_nav_files(spark, sf_dir))
    return t.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "page", "uri").orderBy("doc_id", "page", "uri")


_SQL_PDF_LINKS = """
WITH u AS (
  SELECT doc_id, 0 AS page,
    'https://example.com/doc' || doc_id AS uri FROM documents
  UNION ALL SELECT doc_id, 0,
    'mailto:a@b' || (doc_id % 7) || '.org' FROM documents
  UNION ALL SELECT doc_id, 1,
    'http://h' || (doc_id % 5) || '.test/p' || doc_id
  FROM documents WHERE doc_id % 2 = 1)
SELECT doc_id, CAST(page AS INT) AS page, uri
FROM u ORDER BY doc_id, page, uri
"""


def q_pdf_file_acroform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive-form extraction end-to-end (§12.7): files carrying
    a filled /AcroForm tree (operators/pdffile.build_pdf_acroform —
    nested fields, /FT and /V inheritance, a choice kid, a button
    whose /T-less widget kids collapse to one row) parse to
    (name, ftype, value) rows the oracle states in closed form."""
    from .operators.pdffile import acroform_table, build_pdf_acroform

    files = _built_files(spark, sf_dir, build_pdf_acroform)
    t = acroform_table(files)
    return t.select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("ord").cast("long").alias("ord"),
                    "name", "ftype", "value") \
        .orderBy("doc_id", "ord")


_SQL_ACROFORM = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS o, 'owner' AS name, 'Tx' AS ftype,
    {_CE['a']} AS value FROM b
  UNION ALL SELECT doc_id, 1, 'insp.date', 'Tx', {_CE['b']} FROM b
  UNION ALL SELECT doc_id, 2, 'insp.note', 'Tx', {_CE['p']} FROM b
  UNION ALL SELECT doc_id, 3, 'insp.grade', 'Ch',
    CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'B' END FROM b
  UNION ALL SELECT doc_id, 4, 'approved', 'Btn',
    CASE WHEN doc_id % 3 = 0 THEN 'Yes' ELSE 'Off' END FROM b)
SELECT doc_id, CAST(o AS BIGINT) AS ord, name, ftype, value
FROM u ORDER BY doc_id, ord
"""


def q_pdf_file_annots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-annotation extraction end-to-end (§12.5): /FreeText,
    /Text, /Highlight, parity-conditional /Square rows with /Link and
    /Popup excluded (operators/pdffile.build_pdf_annots) — reviewer
    commentary that lives outside the content streams."""
    from .operators.pdffile import annot_table, build_pdf_annots

    files = _built_files(spark, sf_dir, build_pdf_annots)
    t = annot_table(files)
    return t.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "page", "subtype", "contents") \
        .orderBy("doc_id", "page", "subtype")


_SQL_ANNOTS = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS page, 'FreeText' AS subtype,
    {_R['a']} AS contents FROM b
  UNION ALL SELECT doc_id, 0, 'Text', {_R['b']} FROM b
  UNION ALL SELECT doc_id, 1, 'Highlight', {_R['c']} FROM b
  UNION ALL SELECT doc_id, 1, 'Square', {_R['d']} FROM b
  WHERE doc_id % 2 = 1)
SELECT doc_id, CAST(page AS INT) AS page, subtype, contents
FROM u ORDER BY doc_id, page, subtype
"""


def q_pdf_file_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-file extraction (§7.11.4): /Names -> /EmbeddedFiles
    name tree (-> /Kids intermediates -> /Names leaves) -> filespec
    /EF stream, filters applied — attachments as corpus rows."""
    from .operators.pdffile import PdfFile

    t = file_pass(_nav_files(spark, sf_dir), "doc_id", ["pdf"],
                  "doc_id string, name string, content string",
                  lambda _key, blob: [
                      (name, data.decode("utf-8"))
                      for name, data in PdfFile(blob).embedded_files()])
    return t.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "name", "content").orderBy("doc_id", "name")


_SQL_ATTACH = f"""
WITH {_BASE}
SELECT doc_id, 'a' || (doc_id % 3) || '.txt' AS name,
       'att ' || doc_id || ': ' || substr(p, 81, 40) AS content
FROM b ORDER BY doc_id, name
"""


def q_pdf_file_widths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-glyph /Widths metrics end-to-end (§9.6.2.1): files whose
    runs are placed so the gap-aware word join is decided by the
    width table (operators/pdffile.build_pdf_widths) — 'iii mmzz'
    and the joined FB line hold only when /FirstChar+/Widths+
    /MissingWidth drive the advance instead of the uniform 0.5-em
    fallback; the Type0 line repeats the pattern through 2-byte CIDs
    and the descendant's §9.7.4.3 /W+/DW."""
    from .operators.pdffile import build_pdf_widths

    files = _built_files(spark, sf_dir, build_pdf_widths)
    return _span_rows(files_to_spans(files))


# analytic blocks (H=792): plain top 64/bottom 78, FV line top 92
# (14pt gap -> own block), FB line top 132 (30pt gap -> own block);
# the joins inside lines 1-2 are the closed-form images of the
# /Widths-driven advances (see build_pdf_widths docstring)
_WE = {k: f"substr(p, {a}, {n})"
       for k, (a, n) in WIDTH_SLICES.items()}
_SQL_WIDTHS = f"""
WITH {_BASE},
u AS (
  SELECT doc_id, 0 AS off, 'text' AS kind, {_WE['p']} AS text FROM b
  UNION ALL SELECT doc_id, 1, 'text', 'iii mmzz' FROM b
  UNION ALL SELECT doc_id, 2, 'text', {_WE['a']} || {_WE['b']} FROM b
  UNION ALL SELECT doc_id, 3, 'text', 'iii mmzz' FROM b)
SELECT doc_id, CAST(off AS BIGINT) AS "offset", kind, text
FROM u ORDER BY doc_id, "offset"
"""


QUERIES_PDFFILE: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pdf_file_pages": q_pdf_file_pages,
    "pdf_file_meta": q_pdf_file_meta,
    "pdf_file_spans": q_pdf_file_spans,
    "pdf_file_cmap": q_pdf_file_cmap,
    "pdf_file_encoding": q_pdf_file_encoding,
    "pdf_file_xobject": q_pdf_file_xobject,
    "pdf_file_encrypted": q_pdf_file_encrypted,
    "pdf_file_outline": q_pdf_file_outline,
    "pdf_file_links": q_pdf_file_links,
    "pdf_file_attach": q_pdf_file_attach,
    "pdf_file_acroform": q_pdf_file_acroform,
    "pdf_file_annots": q_pdf_file_annots,
    "pdf_file_widths": q_pdf_file_widths,
}

ORACLES_PDFFILE: dict[str, str] = {
    "pdf_file_pages": _SQL_PAGES,
    "pdf_file_meta": _SQL_META,
    "pdf_file_spans": _SQL_SPANS,
    "pdf_file_cmap": _SQL_CMAP,
    "pdf_file_encoding": _SQL_ENCODING,
    "pdf_file_xobject": _SQL_XOBJECT,
    # same slices and page geometry as the cmap gate by design: the
    # expected plaintext spans are identical, only the on-disk
    # representation differs (glyph codes there, ciphertext here)
    "pdf_file_encrypted": _SQL_CMAP,
    "pdf_file_outline": _SQL_OUTLINE,
    "pdf_file_links": _SQL_PDF_LINKS,
    "pdf_file_attach": _SQL_ATTACH,
    "pdf_file_acroform": _SQL_ACROFORM,
    "pdf_file_annots": _SQL_ANNOTS,
    "pdf_file_widths": _SQL_WIDTHS,
}
