"""XLSX (ISO 29500 SpreadsheetML) ingestion — spreadsheets as a
crawl-corpus source, parsed from raw bytes with the stdlib only.

Third member of the office family (`operators/docx.py`,
`operators/pptx.py`): the container is ZIP, cell text is INDIRECT —
string cells hold an index into the shared-strings table
(``xl/sharedStrings.xml``), and the sheet sequence comes from
``xl/workbook.xml``'s ``<sheet>`` list resolved through the workbook
rels (same load-bearing order resolution as pptx's sldIdLst: a
workbook whose sheet list reorders the parts comes out in workbook
order, not zip-entry or numeric-name order — the gate plants exactly
that).  Cell kinds handled: shared strings (``t="s"``, rich-text
``<si>`` runs concatenated), inline strings (``t="inlineStr"``),
formula/plain strings (``t="str"``), and raw numeric ``<v>`` values
kept verbatim as text; a value-less cell renders as the empty string.

Surfaces match the family: typed element rows
(``xlsx_rows_from_files``: one row per sheet name + one per
spreadsheet row, cells joined with ``' | '`` — the same TABLE-ROW
text convention the reference's table extractor and this repo's
S5/C6/T6 chain consume) and the BASELINE.json contract span schema
(``xlsx_to_spans``), both ONE map-only `filepass.file_pass`.

Reference anchor: the reference ingests PDFs only
(``/root/reference/src/pipeline.py``) and mines cost tables out of
them (``src/table_extractor.py``); a crawl yields the same tabular
payloads as standalone spreadsheets, so this lands them on the same
row-text convention `tables.extract_tables` classifies.

Regex-scoped over machine-generated OOXML (the documented tokenizer
scope shared with docx/pptx).  Contract limits: cells surface in
document order with no A1-grid gap reconstruction (absent cells are
absent, not empty columns); only worksheet parts reachable from the
workbook list are read; no number formatting is applied (raw ``<v>``
text).
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .docx import _REL, _unescape, _zinfo, xml_escape
from .filepass import element_spans, file_pass, id_number, zip_member

_SHEET = re.compile(r'<sheet [^>]*name="([^"]+)"[^>]*r:id="([^"]+)"')
_SI = re.compile(r"(?s)<si>(.*?)</si>")
_T = re.compile(r"(?s)<t(?: [^>]*)?>(.*?)</t>")
_ROW = re.compile(r"(?s)<row(?: [^>]*)?>(.*?)</row>")
# attrs lazily matched so a self-closing cell's '/' stays out of the
# group (greedy [^>]* would eat it and mis-take '>' as an open tag,
# swallowing the NEXT cell as body)
_CELL = re.compile(r"(?s)<c(?P<attrs>(?: [^>]*?)?)\s*"
                   r"(?:/>|>(?P<body>.*?)</c>)")
_TYPE = re.compile(r'(?:^|\s)t="([^"]+)"')
_V = re.compile(r"(?s)<v>(.*?)</v>")
_IS = re.compile(r"(?s)<is>(.*?)</is>")


def _shared_strings(zf: "zipfile.ZipFile") -> list[str]:
    xml = (zip_member(zf, "xl/sharedStrings.xml") or b"").decode(
        "utf-8", "replace")
    # rich-text <si> entries hold multiple <r><t> runs: concatenate
    return ["".join(_unescape(t) for t in _T.findall(si))
            for si in _SI.findall(xml)]


def _sheet_order(zf: "zipfile.ZipFile") -> list[tuple[str, str]]:
    """[(sheet_name, part_path)] in WORKBOOK order (sheet list
    resolved through the workbook rels); numeric-name fallback."""
    wb = zip_member(zf, "xl/workbook.xml")
    rx = zip_member(zf, "xl/_rels/workbook.xml.rels")
    if wb is not None and rx is not None:
        rels = {rid: "xl/" + target.lstrip("/")
                for rid, target in _REL.findall(rx.decode("utf-8",
                                                          "replace"))}
        order = [(_unescape(name), rels[rid])
                 for name, rid in _SHEET.findall(wb.decode("utf-8",
                                                           "replace"))
                 if rid in rels]
        if order:
            return order
    names = [n for n in zf.namelist()
             if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)]
    return [(f"Sheet{i + 1}", n) for i, n in enumerate(
        sorted(names, key=lambda n: int(re.search(r"\d+", n)
                                        .group())))]


def _cell_text(attrs: str, body: str, shared: list[str]) -> str:
    m = _TYPE.search(attrs or "")
    ctype = m.group(1) if m else ""
    if ctype == "inlineStr":
        m2 = _IS.search(body or "")
        return "".join(_unescape(t)
                       for t in _T.findall(m2.group(1))) if m2 else ""
    m2 = _V.search(body or "")
    if not m2:
        return ""
    v = _unescape(m2.group(1))
    if ctype == "s":
        try:
            return shared[int(v)]
        except (ValueError, IndexError):
            return ""
    return v                       # 'str', 'b', or numeric: verbatim


def parse_xlsx(data: bytes) -> list[dict[str, Any]]:
    """Raw .xlsx bytes -> workbook-order element rows:
    ``{sheet, kind: sheet|row, text, n_cells}`` — one ``sheet`` row
    per worksheet (its name), one ``row`` per spreadsheet row with
    cells joined ``' | '``.  Damaged zip yields []."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
        order = _sheet_order(zf)
    except (zipfile.BadZipFile, ValueError):
        return []
    shared = _shared_strings(zf)
    rows: list[dict[str, Any]] = []
    for sheet_no, (name, part) in enumerate(order, start=1):
        xml = zip_member(zf, part)
        if xml is None:
            continue
        xml = xml.decode("utf-8", "replace")
        rows.append({"sheet": sheet_no, "kind": "sheet",
                     "text": name, "n_cells": 0})
        for row in _ROW.finditer(xml):
            cells = [_cell_text(c.group("attrs"), c.group("body"),
                                shared)
                     for c in _CELL.finditer(row.group(1))]
            rows.append({"sheet": sheet_no, "kind": "row",
                         "text": " | ".join(cells),
                         "n_cells": len(cells)})
    return rows


ROWS_SCHEMA = ("doc_id string, sheet int, el_idx int, kind string, "
               "text string, n_cells int")

def xlsx_rows_from_files(files: DataFrame) -> DataFrame:
    """(doc_id, xlsx binary) -> typed element rows in workbook order.
    ONE map-only ``file_pass`` (zero shuffle, zero joins)."""
    return file_pass(
        files, "doc_id", ["xlsx"], ROWS_SCHEMA,
        lambda _key, blob: [
            (r["sheet"], i, r["kind"], r["text"], r["n_cells"])
            for i, r in enumerate(parse_xlsx(blob or b""))])


def xlsx_to_spans(files: DataFrame) -> DataFrame:
    """XLSX files -> BASELINE.json contract span arrays: sheet names
    and row texts as ``text`` spans in workbook order, gapless
    offsets — so the fused extraction plan (whose table machinery
    keys on the ``' | '`` row convention) runs unchanged on
    spreadsheets.  Same single map-only pass as the parse."""
    from ..corpus import SPAN_SCHEMA  # local: corpus loads pandas

    return file_pass(
        files, "doc_id", ["xlsx"], SPAN_SCHEMA,
        lambda _key, blob: [(element_spans(parse_xlsx(blob or b"")),)])


# ------------------------------------------------ deterministic writer

def build_one_xlsx(doc: int, text: str) -> bytes:
    """Deterministic per-document .xlsx behind the ``xlsx_text`` /
    ``xlsx_spans`` gates — every branch doc_id arithmetic:

    - shared strings: a rich-text (two-run) header, a text slice with
      planted entities, and a second-sheet marker;
    - Sheet A row 1: shared-string header + inline string; row 2:
      raw numeric value, a VALUE-LESS cell (renders ''), the
      entity-planted shared slice;
    - doc%2==0: a second sheet with the marker + a t="str" formula
      result;
    - doc%4==2: workbook.xml lists the second sheet FIRST with
      non-sequential rIds, so output order must follow the
      workbook-rels resolution, not part numbering."""
    shared = [
        f"<si><r><t>Doc {doc}</t></r><r><t xml:space=\"preserve\">"
        f" head</t></r></si>",
        f"<si><t>{xml_escape(text[:40])} &amp; x &lt;y&gt;</t></si>",
        f"<si><t>mark{doc}</t></si>",
    ]
    sst = ('<?xml version="1.0"?><sst count="3" uniqueCount="3">'
           + "".join(shared) + "</sst>")
    sheet1 = (
        '<?xml version="1.0"?><worksheet><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c>'
        f'<c r="B1" t="inlineStr"><is><t>inl {doc}</t></is></c></row>'
        f'<row r="2"><c r="A2"><v>{10 + doc % 90}</v></c>'
        '<c r="B2"/>'
        '<c r="C2" t="s"><v>1</v></c></row>'
        "</sheetData></worksheet>")
    sheet2 = (
        '<?xml version="1.0"?><worksheet><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>2</v></c>'
        f'<c r="B1" t="str"><f>CONCAT(1,2)</f><v>f{doc}</v></c>'
        "</row></sheetData></worksheet>")
    two = doc % 2 == 0
    sheets = [f'<sheet name="Alpha {doc}" sheetId="1" r:id="rId8"/>']
    if two:
        sheets.append('<sheet name="Beta" sheetId="2" r:id="rId3"/>')
    if doc % 4 == 2:
        sheets.reverse()
    workbook = ('<?xml version="1.0"?><workbook><sheets>'
                + "".join(sheets) + "</sheets></workbook>")
    wb_rels = (
        '<?xml version="1.0"?><Relationships><Relationship '
        'Id="rId8" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/>'
        + ('<Relationship Id="rId3" Type="http://schemas.'
           'openxmlformats.org/officeDocument/2006/relationships/'
           'worksheet" Target="worksheets/sheet2.xml"/>'
           if two else "")
        + '<Relationship Id="rId2" Type="http://schemas.'
          'openxmlformats.org/officeDocument/2006/relationships/'
          'sharedStrings" Target="sharedStrings.xml"/>'
          '</Relationships>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(_zinfo("xl/workbook.xml"), workbook)
        zf.writestr(_zinfo("xl/_rels/workbook.xml.rels"), wb_rels)
        zf.writestr(_zinfo("xl/sharedStrings.xml"), sst)
        zf.writestr(_zinfo("xl/worksheets/sheet1.xml"), sheet1)
        if two:
            zf.writestr(_zinfo("xl/worksheets/sheet2.xml"), sheet2)
    return buf.getvalue()


def build_xlsx_files(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, xlsx binary) via the deterministic
    writer; one map-only Arrow pass."""
    return file_pass(
        docs, "doc_id", [F.coalesce(F.col("text"), F.lit(""))],
        "doc_id string, xlsx binary",
        lambda key, text: [(build_one_xlsx(id_number(key), text),)])
