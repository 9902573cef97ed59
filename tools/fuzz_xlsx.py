"""By-construction fuzz for the XLSX layer (committed so the
campaign is reproducible — usage: python tools/fuzz.py xlsx LO HI).

Each seed builds one .xlsx with randomized structure and compares
``operators/xlsx.parse_xlsx`` output against ground truth known at
construction — no second parser implementation:

- 1-4 worksheets of 0-5 rows x 0-5 cells mixing every cell kind:
  shared strings (some as multi-run rich text <si>), inline strings,
  t="str" formula results, raw numerics, VALUE-LESS self-closing and
  empty-body cells, and out-of-range shared indices (must render '');
- a workbook sheet list in RANDOM order through shuffled
  non-sequential rIds (the order resolution is the point), randomly
  dropped entirely on some seeds so the numeric-name fallback path
  is fuzzed too (then sheet names fall back to SheetN);
- randomly withheld sharedStrings part (every t="s" cell must render
  ''), random XML-escapable characters in all strings, random STORED
  vs DEFLATED compression, random extra members (styles, theme) the
  parser must ignore.
"""
from __future__ import annotations

import io
import random
import zipfile

from pdf_extraction_spark.operators.docx import xml_escape
from tools.fuzz_docx import TEXT_POOL, rand_text


def gen_case(seed: int) -> tuple[bytes, list[dict]]:
    rng = random.Random(313000 + seed)
    # shared-strings table: mix plain and rich-text entries
    shared: list[str] = []
    shared_xml: list[str] = []
    for _ in range(rng.randrange(0, 6)):
        if rng.random() < 0.4:
            runs = [rand_text(rng, TEXT_POOL, rng.randrange(0, 6))
                    for _ in range(rng.randrange(1, 4))]
            shared.append("".join(runs))
            shared_xml.append("<si>" + "".join(
                f'<r><t xml:space="preserve">{xml_escape(t)}</t></r>'
                for t in runs) + "</si>")
        else:
            t = rand_text(rng, TEXT_POOL, rng.randrange(0, 10))
            shared.append(t)
            shared_xml.append(f"<si><t>{xml_escape(t)}</t></si>")
    have_sst = bool(shared) and rng.random() < 0.8

    n_sheets = rng.randrange(1, 5)
    sheets: list[tuple[str, list[dict]]] = []   # (xml, expected rows)
    names = [rand_text(rng, TEXT_POOL, rng.randrange(1, 8)) or "S"
             for _ in range(n_sheets)]
    for s in range(n_sheets):
        rows_xml: list[str] = []
        exp: list[dict] = []
        for r in range(rng.randrange(0, 6)):
            cells_xml: list[str] = []
            texts: list[str] = []
            for c in range(rng.randrange(0, 6)):
                kind = rng.random()
                if kind < 0.25 and shared:
                    idx = rng.randrange(0, len(shared) + 2)  # may OOR
                    cells_xml.append(f'<c r="X{r}" t="s">'
                                     f"<v>{idx}</v></c>")
                    texts.append(shared[idx]
                                 if have_sst and idx < len(shared)
                                 else "")
                elif kind < 0.45:
                    t = rand_text(rng, TEXT_POOL, rng.randrange(0, 8))
                    cells_xml.append(
                        f'<c t="inlineStr"><is><t xml:space='
                        f'"preserve">{xml_escape(t)}</t></is></c>')
                    texts.append(t)
                elif kind < 0.6:
                    t = rand_text(rng, TEXT_POOL, rng.randrange(0, 8))
                    cells_xml.append(f'<c t="str"><f>F()</f>'
                                     f"<v>{xml_escape(t)}</v></c>")
                    texts.append(t)
                elif kind < 0.8:
                    v = rng.randrange(-999, 10000)
                    cells_xml.append(f"<c><v>{v}</v></c>")
                    texts.append(str(v))
                elif kind < 0.9:
                    cells_xml.append("<c/>")        # self-closing
                    texts.append("")
                else:
                    cells_xml.append('<c t="s"></c>')  # empty body
                    texts.append("")
            rows_xml.append(f'<row r="{r + 1}">'
                            + "".join(cells_xml) + "</row>")
            exp.append({"kind": "row", "text": " | ".join(texts),
                        "n_cells": len(texts)})
        xml = ("<worksheet><sheetData>" + "".join(rows_xml)
               + "</sheetData></worksheet>")
        sheets.append((xml, exp))

    order = list(range(n_sheets))
    use_workbook = rng.random() < 0.8
    if use_workbook:
        rng.shuffle(order)
    rids = rng.sample(range(100, 999), n_sheets)
    workbook = ("<workbook><sheets>" + "".join(
        f'<sheet name="{xml_escape(names[j])}" sheetId="{i + 1}" '
        f'r:id="rId{rids[j]}"/>' for i, j in enumerate(order))
        + "</sheets></workbook>")
    wb_rels = ("<Relationships>" + "".join(
        f'<Relationship Id="rId{rids[j]}" Type="worksheet" '
        f'Target="worksheets/sheet{j + 1}.xml"/>'
        for j in range(n_sheets)) + "</Relationships>")

    expected: list[dict] = []
    deck = order if use_workbook else list(range(n_sheets))
    for pos, j in enumerate(deck, start=1):
        name = names[j] if use_workbook else f"Sheet{j + 1}"
        expected.append({"sheet": pos, "kind": "sheet", "text": name,
                         "n_cells": 0})
        for r in sheets[j][1]:
            expected.append(dict(r, sheet=pos))

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        def put(name: str, data: str) -> None:
            zi = zipfile.ZipInfo(name,
                                 date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = rng.choice(
                [zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED])
            zf.writestr(zi, data)
        if use_workbook:
            put("xl/workbook.xml", workbook)
            put("xl/_rels/workbook.xml.rels", wb_rels)
        if have_sst:
            put("xl/sharedStrings.xml",
                "<sst>" + "".join(shared_xml) + "</sst>")
        for j, (xml, _) in enumerate(sheets, start=1):
            put(f"xl/worksheets/sheet{j}.xml", xml)
        if rng.random() < 0.4:
            put("xl/styles.xml", "<styleSheet/>")
        if rng.random() < 0.4:
            put("xl/theme/theme1.xml", "<a:theme/>")
    return buf.getvalue(), expected
