"""DOCX (ISO 29500 WordprocessingML) ingestion — office documents as
a crawl-corpus source, parsed from raw bytes with the stdlib only.

A web-scale corpus is not just HTML and PDF: office formats are the
third large family a crawl yields.  The container is ZIP (stdlib
``zipfile`` over a BytesIO — no external library), the payload is
``word/document.xml``; this module parses the WordprocessingML subset
a text-extraction pipeline needs — paragraphs with runs/tabs/breaks,
heading styles, tables, inline images resolved through the
relationships part — and lands it on the same two surfaces as the
PDF/HTML/WARC families: a typed element table
(``docx_rows_from_files``) and the BASELINE.json contract span schema
(``docx_to_spans``), both as ONE map-only `filepass.file_pass`.

Reference anchor: the reference ingests PDFs only
(``/root/reference/src/pipeline.py``); this is part of the
web-document extension the north rule's interleaved text+media tier
implies — DOCX inline images become ``media`` spans in document
order, the same invariant the PDF ``Do`` placements and HTML
``<img>`` elements satisfy.

Parsing is regex-scoped over machine-generated OOXML (the same
documented tokenizer scope as operators/html.py — a full XML tree
builder is the upgrade path, not a silent requirement).  Contract
limits: nested tables truncate at the inner close; only the
``word/document.xml`` main part is read (no headers/footers/
footnotes parts); ``r:embed`` image references resolve through
``word/_rels/document.xml.rels`` and unresolvable ids keep the raw
id as the ref.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .filepass import element_spans, file_pass, id_number, zip_member

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&apos;", "'"), ("&amp;", "&")]   # amp LAST


def _unescape(s: str) -> str:
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return s


def xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;").replace('"', "&quot;"))


_BODY = re.compile(r"(?s)<w:body>(.*)</w:body>")
# order matters: at a <w:tbl> position the table branch must win so
# cell paragraphs aren't consumed as top-level ones
_ELEMENT = re.compile(
    r"(?s)<w:tbl>.*?</w:tbl>|<w:p(?: [^>]*)?>.*?</w:p>"
    r"|<w:p(?: [^>]*)?/>")
_STYLE = re.compile(r'<w:pStyle [^>]*w:val="([^"]+)"')
_RUN_BITS = re.compile(
    r'(?s)<w:t(?: [^>]*)?>(?P<t>.*?)</w:t>|<w:tab/>|<w:br/>'
    r'|<a:blip [^>]*r:embed="(?P<blip>[^"]+)"')
_TR = re.compile(r"(?s)<w:tr(?: [^>]*)?>.*?</w:tr>")
_TC = re.compile(r"(?s)<w:tc(?: [^>]*)?>(.*?)</w:tc>")
_WT = re.compile(r"(?s)<w:t(?: [^>]*)?>(.*?)</w:t>")
_REL = re.compile(r'<Relationship [^>]*Id="([^"]+)"[^>]*'
                  r'Target="([^"]+)"')


def _para_bits(p: str) -> tuple[str, str, list[str]]:
    """(style, text, image_refs) for one <w:p> block."""
    m = _STYLE.search(p)
    style = m.group(1) if m else ""
    parts: list[str] = []
    blips: list[str] = []
    for bit in _RUN_BITS.finditer(p):
        if bit.group("t") is not None:
            parts.append(_unescape(bit.group("t")))
        elif bit.group("blip") is not None:
            blips.append(bit.group("blip"))
        elif bit.group(0) == "<w:tab/>":
            parts.append("\t")
        else:
            parts.append("\n")
    return style, "".join(parts), blips


def parse_docx(data: bytes) -> list[dict[str, Any]]:
    """Raw .docx bytes -> document-order element rows:
    ``{kind: heading|para|image|table_row, style, text, media_ref,
    n_cells}``.  Damaged zip or a missing main part yields []."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except (zipfile.BadZipFile, ValueError):
        return []
    rx = zip_member(zf, "word/_rels/document.xml.rels") or b""
    rels = {rid: "word/" + target.lstrip("/")
            for rid, target in _REL.findall(rx.decode("utf-8", "replace"))}
    xml = zip_member(zf, "word/document.xml") or b""
    m = _BODY.search(xml.decode("utf-8", "replace"))
    if not m:
        return []
    rows: list[dict[str, Any]] = []
    for el in _ELEMENT.finditer(m.group(1)):
        block = el.group(0)
        if block.startswith("<w:tbl>"):
            for tr in _TR.finditer(block):
                # runs concatenate with no separator — same semantics
                # as _para_bits (a run boundary is not whitespace)
                cells = ["".join(_unescape(t)
                                 for t in _WT.findall(tc))
                         for tc in _TC.findall(tr.group(0))]
                rows.append({"kind": "table_row", "style": "",
                             "text": " | ".join(cells),
                             "media_ref": "",
                             "n_cells": len(cells)})
            continue
        style, text, blips = _para_bits(block)
        if text:
            kind = "heading" if style.lower().startswith("heading") \
                else "para"
            rows.append({"kind": kind, "style": style, "text": text,
                         "media_ref": "", "n_cells": 0})
        for rid in blips:
            rows.append({"kind": "image", "style": "", "text": "",
                         "media_ref": rels.get(rid, rid),
                         "n_cells": 0})
    return rows


ROWS_SCHEMA = ("doc_id string, el_idx int, kind string, style string, "
               "text string, media_ref string, n_cells int")


def docx_rows_from_files(files: DataFrame, bytes_col: str = "docx",
                         id_col: str = "doc_id") -> DataFrame:
    """(doc_id, docx binary) -> typed element rows in document order.
    ONE map-only ``file_pass`` — zip open + XML scan happen inside
    the scan stage; only the rows flow downstream."""
    return file_pass(
        files, id_col, [bytes_col], ROWS_SCHEMA,
        lambda _key, blob: [
            (i, r["kind"], r["style"], r["text"], r["media_ref"],
             r["n_cells"])
            for i, r in enumerate(parse_docx(blob or b""))])


def docx_to_spans(files: DataFrame, bytes_col: str = "docx",
                  id_col: str = "doc_id") -> DataFrame:
    """DOCX files -> BASELINE.json contract span arrays: every
    text-bearing element (heading/para/table_row) a ``text`` span,
    every inline image a ``media`` span with the resolved media part
    path as ``media_ref``, document order, gapless offsets — so the
    fused extraction plan runs unchanged on office documents.  Each
    file arrives whole in its row, so the bridge is the same single
    map-only pass as the parse (zero shuffle, plan-asserted)."""
    from ..corpus import SPAN_SCHEMA  # local: corpus loads pandas

    return file_pass(
        files, id_col, [bytes_col], SPAN_SCHEMA,
        lambda _key, blob: [(element_spans(parse_docx(blob or b"")),)])


# ------------------------------------------------ deterministic writer

def _zinfo(name: str) -> "zipfile.ZipInfo":
    zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
    zi.compress_type = zipfile.ZIP_DEFLATED
    return zi


_CONTENT_TYPES = (
    '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats'
    '.org/package/2006/content-types"><Default Extension="xml" '
    'ContentType="application/xml"/><Default Extension="png" '
    'ContentType="image/png"/><Override PartName="/word/document.xml"'
    ' ContentType="application/vnd.openxmlformats-officedocument.'
    'wordprocessingml.document.main+xml"/></Types>')

_ROOT_RELS = (
    '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
    'openxmlformats.org/package/2006/relationships"><Relationship '
    'Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/></Relationships>')


def build_one_docx(doc: int, text: str) -> bytes:
    """Deterministic per-document .docx behind the ``docx_text`` /
    ``docx_spans`` gates — every branch doc_id arithmetic:

    - a Heading1 title paragraph;
    - a body paragraph: the doc text in an ``xml:space='preserve'``
      run plus a bold run (entities planted: & < > round-trip);
    - doc%3==0: an inline image (a:blip r:embed resolved through the
      rels part to word/media/image1.png — a real 45-byte PNG whose
      header the image_meta sniffer can read);
    - doc%4==0: a 2x2 table (one cell empty, one two-run);
    - a tail paragraph with a tab and a line break."""
    uri_text = xml_escape(text)
    body = [
        '<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
        f'<w:r><w:t>Doc {doc} title</w:t></w:r></w:p>',
        f'<w:p><w:r><w:t xml:space="preserve">{uri_text}</w:t></w:r>'
        f'<w:r><w:rPr><w:b/></w:rPr><w:t xml:space="preserve"> '
        f'bold{doc} &amp; x &lt;y&gt;</w:t></w:r></w:p>',
    ]
    if doc % 3 == 0:
        body.append(
            '<w:p><w:r><w:drawing><wp:inline><a:graphic><a:blip '
            'r:embed="rId9"/></a:graphic></wp:inline></w:drawing>'
            '</w:r></w:p>')
    if doc % 4 == 0:
        body.append(
            f'<w:tbl><w:tr><w:tc><w:p><w:r><w:t>c{doc}a</w:t></w:r>'
            f'</w:p></w:tc><w:tc><w:p><w:r><w:t>c{doc}</w:t></w:r>'
            f'<w:r><w:t xml:space="preserve">b</w:t></w:r></w:p>'
            f'</w:tc></w:tr><w:tr><w:tc><w:p><w:r><w:t>c{doc}c</w:t>'
            f'</w:r></w:p></w:tc><w:tc><w:p/></w:tc></w:tr></w:tbl>')
    body.append(
        f'<w:p><w:r><w:t>tail {doc}</w:t></w:r><w:r><w:tab/></w:r>'
        f'<w:r><w:t>col</w:t></w:r><w:r><w:br/></w:r>'
        f'<w:r><w:t>next line</w:t></w:r></w:p>')
    document = ('<?xml version="1.0"?><w:document><w:body>'
                + "".join(body) + "</w:body></w:document>")
    doc_rels = (
        '<?xml version="1.0"?><Relationships><Relationship '
        'Id="rId9" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/image" '
        'Target="media/image1.png"/></Relationships>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(_zinfo("[Content_Types].xml"), _CONTENT_TYPES)
        zf.writestr(_zinfo("_rels/.rels"), _ROOT_RELS)
        zf.writestr(_zinfo("word/document.xml"), document)
        zf.writestr(_zinfo("word/_rels/document.xml.rels"), doc_rels)
        if doc % 3 == 0:
            from .warc import synth_png
            zf.writestr(_zinfo("word/media/image1.png"),
                        synth_png(32 + doc % 16, 24 + doc % 8))
    return buf.getvalue()


def build_docx_files(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id, text) -> (doc_id, docx binary) via the deterministic
    writer; one map-only Arrow pass (gate/scaling-corpus
    synthesizer)."""
    return file_pass(
        docs, id_col, [F.coalesce(F.col(text_col), F.lit(""))],
        "doc_id string, docx binary",
        lambda key, text: [(build_one_docx(id_number(key), text),)])
