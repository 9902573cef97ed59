"""DOCX ingestion (operators/docx.py): container + WordprocessingML
parse, spans bridge, damaged parts, plan shape.  Exact-value gates:
``docx_text``/``docx_spans`` (queries_docx.py, closed-form oracles)."""

import io
import zipfile
import zlib

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.docx import (build_docx_files,
                                                 build_one_docx,
                                                 docx_rows_from_files,
                                                 docx_to_spans,
                                                 parse_docx)

SF_DIR = "/root/testdata/sf0.001"


def test_roundtrip_all_writer_variants():
    for doc in range(0, 24):
        rows = parse_docx(build_one_docx(doc, f"body {doc}"))
        kinds = [r["kind"] for r in rows]
        exp = ["heading", "para"]
        if doc % 3 == 0:
            exp.append("image")
        if doc % 4 == 0:
            exp += ["table_row", "table_row"]
        exp.append("para")
        assert kinds == exp, (doc, kinds)
        assert rows[1]["text"].endswith(f"bold{doc} & x <y>")
        assert rows[-1]["text"] == f"tail {doc}\tcol\nnext line"


def test_damaged_inputs_yield_empty():
    assert parse_docx(b"") == []
    assert parse_docx(b"PK\x03\x04 truncated junk") == []
    # a valid zip without the main part
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("other.xml", "<x/>")
    assert parse_docx(buf.getvalue()) == []


def test_unresolvable_embed_keeps_raw_id():
    buf = io.BytesIO()
    doc = ('<w:document><w:body><w:p><w:r><w:drawing>'
           '<a:blip r:embed="rIdMissing"/></w:drawing></w:r></w:p>'
           '</w:body></w:document>')
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    rows = parse_docx(buf.getvalue())
    assert rows == [{"kind": "image", "style": "", "text": "",
                     "media_ref": "rIdMissing", "n_cells": 0}]


def test_nested_entities_and_preserve_space():
    buf = io.BytesIO()
    doc = ('<w:document><w:body><w:p><w:r>'
           '<w:t xml:space="preserve">  a&amp;amp;b  </w:t>'
           '</w:r></w:p></w:body></w:document>')
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    rows = parse_docx(buf.getvalue())
    # &amp;amp; decodes once to &amp; (amp substituted last, once)
    assert rows[0]["text"] == "  a&amp;b  "


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 48).select("doc_id", "text")


def test_docx_spans_feed_fused_extraction(spark, docs):
    """End-to-end: .docx bytes -> contract spans -> the fused
    extraction plan, media spans preserved in document order."""
    from pdf_extraction_spark.plans.fused import assemble_fused
    out = assemble_fused(docx_to_spans(build_docx_files(docs)))
    row = out.where(F.col("doc_id") == "12").collect()[0]
    kinds = [s["kind"] for s in row["spans"]]
    # fused output spells media spans kind='media_ref'
    assert "media_ref" in kinds                  # 12 % 3 == 0
    refs = [s["media_ref"] for s in row["spans"]
            if s["kind"] == "media_ref"]
    assert refs == ["word/media/image1.png"]
    orders = [s["order"] for s in row["spans"]]
    assert orders == sorted(orders)


def _damaged_media_docx(flip: int) -> bytes:
    """build_one_docx(6) plus a good copy of its image as image2.png,
    with byte ``flip`` of image1.png's stored data inverted."""
    src = zipfile.ZipFile(io.BytesIO(build_one_docx(6, "body 6")))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in src.namelist():
            zf.writestr(name, src.read(name))
        zf.writestr("word/media/image2.png",
                    src.read("word/media/image1.png"))
    blob = bytearray(buf.getvalue())
    info = zipfile.ZipFile(io.BytesIO(bytes(blob))).getinfo(
        "word/media/image1.png")
    blob[info.header_offset + 30 + len(info.filename)
         + len(info.extra) + flip] ^= 0xFF
    return bytes(blob)


@pytest.mark.parametrize("flip", [0, 1])  # bad deflate data, bad CRC
def test_damaged_media_part_skipped(flip):
    blob = _damaged_media_docx(flip)
    with pytest.raises((zipfile.BadZipFile, zlib.error)):
        zipfile.ZipFile(io.BytesIO(blob)).read("word/media/image1.png")
    assert len(parse_docx(blob)) == 4


def test_docx_plans_are_map_only(spark, docs):
    files = build_docx_files(docs)
    for df in (docx_rows_from_files(files), docx_to_spans(files)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_fuzz_docx_sample():
    """50-seed sample of the by-construction campaign
    (tools/fuzz_docx.py — 0 mismatches across the committed ranges)."""
    import sys as _sys
    _sys.path.insert(0, "tools")
    from fuzz_docx import check_seed
    for seed in range(50):
        assert check_seed(seed) == []


# ------------------------------------------------------------- pptx

def test_pptx_parse_variants():
    from pdf_extraction_spark.operators.pptx import (build_one_pptx,
                                                     parse_pptx)
    rows = parse_pptx(build_one_pptx(0, "hello"))
    assert [(r["slide"], r["kind"]) for r in rows] == \
        [(1, "title"), (1, "body"), (1, "image"),
         (2, "body"), (2, "body")]
    assert rows[1]["text"] == "hello s1p0 & a <b>"   # entities + runs
    assert rows[2]["media_ref"] == "ppt/media/image1.png"
    assert rows[4]["text"] == "second half"          # two-run concat


def test_pptx_sldidlst_order_beats_part_numbering():
    """doc%4==2 decks list slide 2 first in sldIdLst; output must
    follow the presentation order, not slideN.xml numbering."""
    from pdf_extraction_spark.operators.pptx import (build_one_pptx,
                                                     parse_pptx)
    rows = parse_pptx(build_one_pptx(2, "x"))
    assert rows[0] == {"slide": 1, "kind": "body", "text": "s2 2",
                       "media_ref": ""}
    assert rows[2]["kind"] == "title"                # slide1 second
    assert rows[2]["slide"] == 2


def test_pptx_damaged_and_unresolvable():
    import io
    import zipfile
    from pdf_extraction_spark.operators.pptx import parse_pptx
    assert parse_pptx(b"junk") == []
    assert parse_pptx(b"") == []
    # a slide with an image whose rels part is missing keeps raw rid
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("ppt/slides/slide1.xml",
                    '<p:sld><p:cSld><p:spTree><p:pic><p:blipFill>'
                    '<a:blip r:embed="rId3"/></p:blipFill></p:pic>'
                    '</p:spTree></p:cSld></p:sld>')
    rows = parse_pptx(buf.getvalue())    # numeric-name fallback order
    assert rows == [{"slide": 1, "kind": "image", "text": "",
                     "media_ref": "rId3"}]


def test_pptx_spans_contract_and_plan(spark):
    from pdf_extraction_spark.operators.pptx import (build_pptx_files,
                                                     pptx_to_spans)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 40).select("doc_id", "text")
    spans = pptx_to_spans(build_pptx_files(docs))
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan        # map-only, writer + bridge
    for r in spans.collect():
        offs = [s["offset"] for s in r["spans"]]
        assert offs == list(range(len(offs)))


def test_pptx_media_part_feeds_image_sniffer():
    """The embedded PNG the writer plants is a real container the
    image-header sniffer can read (cross-module contract)."""
    import io
    import zipfile
    from pdf_extraction_spark.operators.multimodal import sniff_image
    from pdf_extraction_spark.operators.pptx import build_one_pptx
    blob = build_one_pptx(6, "x")        # 6%3==0 -> image present
    zf = zipfile.ZipFile(io.BytesIO(blob))
    png = zf.read("ppt/media/image1.png")
    mime, w, h, d = sniff_image(png)
    assert (mime, w, h) == ("image/png", 40 + 6 % 12, 30 + 6 % 6)


def test_fuzz_pptx_sample():
    """50-seed sample of the by-construction campaign
    (tools/fuzz_pptx.py — 0 mismatches across the committed ranges)."""
    import sys as _sys
    _sys.path.insert(0, "tools")
    from fuzz_pptx import check_seed
    for seed in range(50):
        assert check_seed(seed) == []


# ------------------------------------------------------------- xlsx

def test_xlsx_parse_variants():
    from pdf_extraction_spark.operators.xlsx import (build_one_xlsx,
                                                     parse_xlsx)
    rows = parse_xlsx(build_one_xlsx(0, "cell text payload"))
    assert [(r["sheet"], r["kind"], r["n_cells"]) for r in rows] == \
        [(1, "sheet", 0), (1, "row", 2), (1, "row", 3),
         (2, "sheet", 0), (2, "row", 2)]
    assert rows[1]["text"] == "Doc 0 head | inl 0"  # rich-si + inline
    # raw numeric | VALUE-LESS cell -> '' | entity-decoded shared ref
    assert rows[2]["text"] == "10 |  | cell text payload & x <y>"
    assert rows[4]["text"] == "mark0 | f0"          # t="str" formula


def test_xlsx_workbook_order_beats_part_numbering():
    from pdf_extraction_spark.operators.xlsx import (build_one_xlsx,
                                                     parse_xlsx)
    rows = parse_xlsx(build_one_xlsx(2, "x"))
    assert rows[0] == {"sheet": 1, "kind": "sheet", "text": "Beta",
                       "n_cells": 0}
    assert rows[2]["text"] == "Alpha 2"


def test_xlsx_damaged_and_fallbacks():
    import io
    import zipfile
    from pdf_extraction_spark.operators.xlsx import parse_xlsx
    assert parse_xlsx(b"junk") == []
    # no workbook part: numeric-name fallback order, default names;
    # shared-string ref with no sharedStrings part -> ''
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/worksheets/sheet1.xml",
                    '<worksheet><sheetData><row r="1">'
                    '<c r="A1" t="s"><v>0</v></c>'
                    '<c r="B1"><v>7</v></c></row>'
                    "</sheetData></worksheet>")
    rows = parse_xlsx(buf.getvalue())
    assert rows == [
        {"sheet": 1, "kind": "sheet", "text": "Sheet1", "n_cells": 0},
        {"sheet": 1, "kind": "row", "text": " | 7", "n_cells": 2}]


def test_xlsx_spans_contract_and_plan(spark):
    from pdf_extraction_spark.operators.xlsx import (build_xlsx_files,
                                                     xlsx_to_spans)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 40).select("doc_id", "text")
    spans = xlsx_to_spans(build_xlsx_files(docs))
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for r in spans.collect():
        offs = [s["offset"] for s in r["spans"]]
        assert offs == list(range(len(offs)))


def test_dispatch_routes_xlsx_mime(spark):
    """An XLSX response record routes through the spreadsheet parser
    with spans byte-identical to the direct parse."""
    from pdf_extraction_spark.operators.warc import (
        XLSX_MIME, dispatch_spans, records_from_warc, warc_record)
    from pdf_extraction_spark.operators.xlsx import (build_one_xlsx,
                                                     build_xlsx_files,
                                                     xlsx_to_spans)
    body = build_one_xlsx(4, "dispatch me")
    msg = (f"HTTP/1.1 200 OK\r\nContent-Type: {XLSX_MIME}\r\n"
           f"Content-Length: {len(body)}\r\n\r\n").encode() + body
    blob = warc_record(
        "response",
        [("WARC-Target-URI", "https://h.example/d/4"),
         ("Content-Type", "application/http;msgtype=response")], msg)
    files = spark.createDataFrame([("w1", bytearray(blob))],
                                  "warc_id string, warc binary")
    got = dispatch_spans(records_from_warc(files)).collect()
    docs = spark.createDataFrame([(4, "dispatch me")],
                                 "doc_id long, text string")
    exp = xlsx_to_spans(build_xlsx_files(docs)).collect()
    assert len(got) == 1
    assert [tuple(s) for s in got[0]["spans"]] == \
        [tuple(s) for s in exp[0]["spans"]]


def test_fuzz_xlsx_sample():
    """50-seed sample of the by-construction campaign
    (tools/fuzz_xlsx.py — 0 mismatches across the committed ranges)."""
    import sys as _sys
    _sys.path.insert(0, "tools")
    from fuzz_xlsx import check_seed
    for seed in range(50):
        assert check_seed(seed) == []


# ------------------------------------------------------------- epub

def test_epub_spine_order_beats_filename_order():
    from pdf_extraction_spark.operators.epub import (build_one_epub,
                                                     parse_epub)
    rows = parse_epub(build_one_epub(6, "x" * 200))
    # 6%4==2: spine rotates last-first -> ch3, ch1, ch2
    assert [r["path"] for r in rows] == \
        ["OEBPS/ch3.xhtml", "OEBPS/ch1.xhtml", "OEBPS/ch2.xhtml"]
    assert [r["chapter"] for r in rows] == [1, 2, 3]


def test_epub_fallback_and_damage():
    import io
    import zipfile
    from pdf_extraction_spark.operators.epub import parse_epub
    assert parse_epub(b"broken") == []
    # no container.xml: zip-order xhtml fallback; css ignored
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("b.xhtml", "<html><body><p>B</p></body></html>")
        zf.writestr("a.xhtml", "<html><body><p>A</p></body></html>")
        zf.writestr("s.css", "p{}")
    rows = parse_epub(buf.getvalue())
    assert [r["path"] for r in rows] == ["b.xhtml", "a.xhtml"]


def test_epub_spans_reading_order_and_offsets(spark):
    from pdf_extraction_spark.operators.epub import (build_epub_files,
                                                     epub_to_spans)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 40).select("doc_id", "text")
    spans = epub_to_spans(build_epub_files(docs))
    rows = {r["doc_id"]: r["spans"] for r in spans.collect()}
    six = rows["6"]                       # spine ch3, ch1, ch2
    assert [s["offset"] for s in six] == list(range(12))
    assert six[0]["text"].startswith("Heading 3 of 6")
    assert six[2] == ("media", "", "img://6/3", 2)
    assert six[4]["text"].startswith("Heading 1 of 6")
    # media spans interleave in reading order for every book
    for sp in rows.values():
        offs = [s["offset"] for s in sp]
        assert offs == list(range(len(offs)))
        assert [s["kind"] for s in sp].count("media") == len(sp) // 4


def test_dispatch_routes_epub_mime(spark):
    from pdf_extraction_spark.operators.epub import (build_epub_files,
                                                     build_one_epub,
                                                     epub_to_spans)
    from pdf_extraction_spark.operators.warc import (
        EPUB_MIME, dispatch_spans, records_from_warc, warc_record)
    body = build_one_epub(6, "dispatch epub " * 30)
    msg = (f"HTTP/1.1 200 OK\r\nContent-Type: {EPUB_MIME}\r\n"
           f"Content-Length: {len(body)}\r\n\r\n").encode() + body
    blob = warc_record(
        "response",
        [("WARC-Target-URI", "https://h.example/b/6"),
         ("Content-Type", "application/http;msgtype=response")], msg)
    files = spark.createDataFrame([("w1", bytearray(blob))],
                                  "warc_id string, warc binary")
    got = dispatch_spans(records_from_warc(files)).collect()
    docs = spark.createDataFrame([(6, "dispatch epub " * 30)],
                                 "doc_id long, text string")
    exp = epub_to_spans(build_epub_files(docs)).collect()
    assert len(got) == 1
    assert [tuple(s) for s in got[0]["spans"]] == \
        [tuple(s) for s in exp[0]["spans"]]


def test_fuzz_epub_sample():
    """50-seed sample of the by-construction campaign
    (tools/fuzz_epub.py — 0 mismatches across the committed ranges)."""
    import sys as _sys
    _sys.path.insert(0, "tools")
    from fuzz_epub import check_seed
    for seed in range(50):
        assert check_seed(seed) == []


def test_pptx_rel_target_resolution_variants():
    """Rels targets resolve against the slide part's directory:
    '../media/x' -> ppt/media/x, plain-relative 'media/x' ->
    ppt/slides/media/x, absolute '/ppt/media/x' -> ppt/media/x
    (string-stripping used to mangle the last two)."""
    import io
    import zipfile
    from pdf_extraction_spark.operators.pptx import parse_pptx

    def deck(target: str) -> bytes:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("ppt/slides/slide1.xml",
                        '<p:sld><p:cSld><p:spTree><p:pic>'
                        '<p:blipFill><a:blip r:embed="rId1"/>'
                        '</p:blipFill></p:pic>'
                        '</p:spTree></p:cSld></p:sld>')
            zf.writestr("ppt/slides/_rels/slide1.xml.rels",
                        '<Relationships><Relationship Id="rId1" '
                        f'Target="{target}"/></Relationships>')
        return buf.getvalue()

    for target, want in [
            ("../media/image1.png", "ppt/media/image1.png"),
            ("media/image1.png", "ppt/slides/media/image1.png"),
            ("/ppt/media/image1.png", "ppt/media/image1.png")]:
        rows = parse_pptx(deck(target))
        assert rows == [{"slide": 1, "kind": "image", "text": "",
                         "media_ref": want}], target


def test_epub_opf_relative_href_normalization():
    """Manifest hrefs with '../' (OPF in a subdirectory) and with a
    leading '/' (container root) must resolve to real zip members
    instead of being silently skipped."""
    import io
    import zipfile
    from pdf_extraction_spark.operators.epub import parse_epub

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("META-INF/container.xml",
                    '<container><rootfiles><rootfile '
                    'full-path="OEBPS/content.opf"/>'
                    '</rootfiles></container>')
        zf.writestr(
            "OEBPS/content.opf",
            '<package><manifest>'
            '<item id="c1" href="../text/ch1.xhtml" '
            'media-type="application/xhtml+xml"/>'
            '<item id="c2" href="/text/ch2.xhtml" '
            'media-type="application/xhtml+xml"/>'
            '</manifest><spine>'
            '<itemref idref="c1"/><itemref idref="c2"/>'
            '</spine></package>')
        zf.writestr("text/ch1.xhtml",
                    "<html><body><p>one</p></body></html>")
        zf.writestr("text/ch2.xhtml",
                    "<html><body><p>two</p></body></html>")
    rows = parse_epub(buf.getvalue())
    assert [r["path"] for r in rows] == \
        ["text/ch1.xhtml", "text/ch2.xhtml"]
    assert [r["chapter"] for r in rows] == [1, 2]


def test_epub_damaged_book_surfaces_as_empty_spans(spark):
    """A damaged EPUB must surface as an empty-span document row —
    the same contract as the docx/pptx/xlsx bridges — not silently
    vanish from the output."""
    from pdf_extraction_spark.operators.epub import (build_one_epub,
                                                     epub_to_spans)
    files = spark.createDataFrame(
        [("good", bytearray(build_one_epub(1, "hello " * 40))),
         ("bad", bytearray(b"not a zip at all"))],
        "doc_id string, epub binary")
    rows = {r["doc_id"]: r["spans"] for r in
            epub_to_spans(files).collect()}
    assert set(rows) == {"good", "bad"}
    assert rows["bad"] == []
    assert len(rows["good"]) > 0


def test_epub_spans_keep_whole_doc_id(spark):
    """The per-chapter key splits back at its first separator, so a
    doc_id holding U+001F comes back whole with every chapter's
    spans, the same as a plain id; a NULL doc_id comes back as one
    NULL-id book, not one fake document per chapter."""
    from pdf_extraction_spark.operators.epub import (build_one_epub,
                                                     epub_to_spans)
    book = bytearray(build_one_epub(6, "hello " * 40))
    files = spark.createDataFrame(
        [("site/a\x1fb", book), ("plain", book), (None, book)],
        "doc_id string, epub binary")
    got = epub_to_spans(files).collect()
    rows = {r["doc_id"]: r["spans"] for r in got}
    assert len(got) == 3 and set(rows) == {"site/a\x1fb", "plain", None}
    assert rows["site/a\x1fb"] == rows["plain"] and len(rows["plain"]) > 4
    assert rows[None] == rows["plain"]


def test_pptx_root_level_slide_part_with_rels():
    """A rels-resolved deck whose slide part lives at package root
    (no '/' in the part name) must parse, not crash on the rels-part
    path derivation — damaged-input contract is [] or rows, never an
    uncaught exception."""
    import io
    import zipfile
    from pdf_extraction_spark.operators.pptx import parse_pptx

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("ppt/presentation.xml",
                    '<p:presentation><p:sldIdLst>'
                    '<p:sldId id="256" r:id="rId1"/>'
                    '</p:sldIdLst></p:presentation>')
        zf.writestr("ppt/_rels/presentation.xml.rels",
                    '<Relationships><Relationship Id="rId1" '
                    'Target="/slide1.xml"/></Relationships>')
        zf.writestr("slide1.xml",
                    '<p:sld><p:cSld><p:spTree><p:pic><p:blipFill>'
                    '<a:blip r:embed="rId9"/></p:blipFill></p:pic>'
                    '</p:spTree></p:cSld></p:sld>')
        zf.writestr("_rels/slide1.xml.rels",
                    '<Relationships><Relationship Id="rId9" '
                    'Target="media/logo.png"/></Relationships>')
    rows = parse_pptx(buf.getvalue())
    assert rows == [{"slide": 1, "kind": "image", "text": "",
                     "media_ref": "media/logo.png"}]
