"""The per-file Arrow pass is written once (`operators/filepass.py`).

Two checks keep it that way: an AST scan that finds no other
``.mapInArrow(`` call in the whole-file families, and a plan check
that every reader and writer routed through ``file_pass`` plans as
ONE map-only pass with the schema it declares, on a one-row input and
on an empty one.  A third check holds the container parsers to
``filepass.zip_member``: a member whose stored bytes do not decode reads
like a missing one."""

from __future__ import annotations

import ast
import io
import zipfile
from pathlib import Path

import pytest
from pyspark.sql.types import StructType

from pdf_extraction_spark.corpus import SPAN_SCHEMA
from pdf_extraction_spark.operators import (docx, epub, filepass,
                                            multimodal, pdffile, pptx,
                                            warc, xlsx)

REPO = Path(__file__).resolve().parents[1]
SCANNED = [f"pdf_extraction_spark/operators/{m}.py" for m in
           ("pdffile", "docx", "pptx", "xlsx", "epub", "warc",
            "multimodal")] + ["pdf_extraction_spark/queries_pdffile.py",
                              "bench.py"]

TEXT = "Alpha beta gamma delta epsilon zeta eta theta " * 6
HTML = f"<html><body><p>{TEXT}</p><img src='a.png'/></body></html>"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("path", SCANNED)
def test_no_mapinarrow_outside_file_pass(path):
    """Outside `filepass.file_pass`, no function in the whole-file
    families calls ``.mapInArrow(`` — a new reader or writer goes
    through the helper instead of copying the Arrow plumbing.  (The
    multimodal feature/frame kernels are ``mapInPandas``.)"""
    tree = ast.parse((REPO / path).read_text(), path)
    calls = [n.lineno for n in ast.walk(tree)
             if isinstance(n, ast.Call)
             and isinstance(n.func, ast.Attribute)
             and n.func.attr == "mapInArrow"]
    assert calls == [], f"{path}: mapInArrow at lines {calls}"


# name -> (function, declared DDL); writers take (doc_id, text, html)
_WRITERS = {
    "pdffile.wrap_stream_files": (
        lambda d: pdffile.wrap_stream_files(
            d.withColumnRenamed("text", "stream")),
        "doc_id string, pdf binary"),
    "pdffile.build_pdf_files": (pdffile.build_pdf_files,
                                "doc_id string, pdf binary"),
    "docx.build_docx_files": (docx.build_docx_files,
                              "doc_id string, docx binary"),
    "pptx.build_pptx_files": (pptx.build_pptx_files,
                              "doc_id string, pptx binary"),
    "xlsx.build_xlsx_files": (xlsx.build_xlsx_files,
                              "doc_id string, xlsx binary"),
    "epub.build_epub_files": (epub.build_epub_files,
                              "doc_id string, epub binary"),
    "warc.build_warc_files": (warc.build_warc_files,
                              "warc_id string, warc binary"),
    "warc.build_mixed_warc_files": (warc.build_mixed_warc_files,
                                    "warc_id string, warc binary"),
    "multimodal.build_image_blobs": (multimodal.build_image_blobs,
                                     "media_ref string, content binary"),
}

# name -> (function, input DDL, one file's bytes, declared DDL)
_PDF_IN = "doc_id string, pdf binary"
_READERS = {
    "pdffile.pages_from_files": (
        pdffile.pages_from_files, _PDF_IN,
        lambda: pdffile.build_pdf(6, TEXT), pdffile.PAGES_SCHEMA),
    "pdffile.file_meta": (
        pdffile.file_meta, _PDF_IN,
        lambda: pdffile.build_pdf(6, TEXT), pdffile.META_SCHEMA),
    "pdffile.outline_table": (
        pdffile.outline_table, _PDF_IN,
        lambda: pdffile.build_pdf_nav(6, TEXT), pdffile.OUTLINE_SCHEMA),
    "pdffile.pdf_link_table": (
        pdffile.pdf_link_table, _PDF_IN,
        lambda: pdffile.build_pdf_nav(6, TEXT), pdffile.LINKS_SCHEMA),
    "pdffile.annot_table": (
        pdffile.annot_table, _PDF_IN,
        lambda: pdffile.build_pdf_annots(6, TEXT), pdffile.ANNOTS_SCHEMA),
    "pdffile.acroform_table": (
        pdffile.acroform_table, _PDF_IN,
        lambda: pdffile.build_pdf_acroform(6, TEXT),
        pdffile.ACROFORM_SCHEMA),
    "docx.docx_rows_from_files": (
        docx.docx_rows_from_files, "doc_id string, docx binary",
        lambda: docx.build_one_docx(6, TEXT), docx.ROWS_SCHEMA),
    "docx.docx_to_spans": (
        docx.docx_to_spans, "doc_id string, docx binary",
        lambda: docx.build_one_docx(6, TEXT), SPAN_SCHEMA),
    "pptx.pptx_rows_from_files": (
        pptx.pptx_rows_from_files, "doc_id string, pptx binary",
        lambda: pptx.build_one_pptx(6, TEXT), pptx.ROWS_SCHEMA),
    "pptx.pptx_to_spans": (
        pptx.pptx_to_spans, "doc_id string, pptx binary",
        lambda: pptx.build_one_pptx(6, TEXT), SPAN_SCHEMA),
    "xlsx.xlsx_rows_from_files": (
        xlsx.xlsx_rows_from_files, "doc_id string, xlsx binary",
        lambda: xlsx.build_one_xlsx(6, TEXT), xlsx.ROWS_SCHEMA),
    "xlsx.xlsx_to_spans": (
        xlsx.xlsx_to_spans, "doc_id string, xlsx binary",
        lambda: xlsx.build_one_xlsx(6, TEXT), SPAN_SCHEMA),
    "warc.records_from_warc": (
        warc.records_from_warc, "warc_id string, warc binary",
        lambda: warc.build_one_warc(6, TEXT), warc.RECORDS_SCHEMA),
    "multimodal.image_header_meta": (
        multimodal.image_header_meta,
        "media_ref string, content binary",
        lambda: warc.synth_png(32, 24), multimodal.IMAGE_META_SCHEMA),
}


def _check(make, one_row, empty, ddl):
    want = StructType.fromDDL(ddl)
    for df in (make(one_row), make(empty)):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert plan.count("MapInArrow _file_pass(") == 1, plan
        assert df.schema == want
    assert make(one_row).collect()
    assert make(empty).collect() == []


@pytest.mark.parametrize("name", sorted(_WRITERS))
def test_writer_is_one_file_pass(spark, name):
    fn, ddl = _WRITERS[name]
    schema = "doc_id long, text string, html string"
    _check(fn, spark.createDataFrame([(6, TEXT, HTML)], schema),
           spark.createDataFrame([], schema), ddl)


@pytest.mark.parametrize("name", sorted(_READERS))
def test_reader_is_one_file_pass(spark, name):
    fn, schema, blob, ddl = _READERS[name]
    _check(fn,
           spark.createDataFrame([("6", bytearray(blob()))], schema),
           spark.createDataFrame([], schema), ddl)


@pytest.mark.parametrize("parse, build, member", [
    (pptx.parse_pptx, pptx.build_one_pptx, "ppt/presentation.xml"),
    (xlsx.parse_xlsx, xlsx.build_one_xlsx, "xl/worksheets/sheet1.xml"),
    (epub.parse_epub, epub.build_one_epub, "META-INF/container.xml"),
    (epub.parse_epub, epub.build_one_epub, "OEBPS/ch2.xhtml"),
    (docx.parse_docx, docx.build_one_docx, "word/document.xml"),
])
def test_undecodable_member_parses_as_missing(parse, build, member):
    blob = build(6, TEXT)
    src = zipfile.ZipFile(io.BytesIO(blob))
    info = src.getinfo(member)
    damaged = bytearray(blob)   # first stored byte inverted
    damaged[info.header_offset + 30 + len(info.filename)
            + len(info.extra)] ^= 0xFF
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for i in src.infolist():
            if i.filename != member:
                zf.writestr(i, src.read(i.filename))
    damaged = bytes(damaged)
    assert filepass.zip_member(
        zipfile.ZipFile(io.BytesIO(damaged)), member) is None
    assert parse(damaged) == parse(buf.getvalue())
