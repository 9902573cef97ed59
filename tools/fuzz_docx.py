"""By-construction fuzz for the DOCX layer (committed so the
campaign is reproducible — usage: python tools/fuzz.py docx LO HI).

Each seed builds one .docx with randomized structure and compares
``operators/docx.parse_docx`` output against ground truth known at
construction — no second parser implementation:

- 1-10 top-level elements: paragraphs (1-6 runs mixing text with
  random XML-escapable characters, tabs, breaks, bold/italic run
  props, optional xml:space preserve with leading/trailing spaces,
  optional pStyle incl. Heading1-4 and non-heading styles) and
  tables (1-3 rows x 1-4 cells, cells holding 0-3 runs so empty
  cells and run concatenation are exercised);
- inline images with random rIds, a random subset resolvable through
  a randomized rels part (unresolvable ids must keep the raw id);
- random run attributes on <w:t>, random self-closing empty
  paragraphs, random STORED vs DEFLATED zip compression per part,
  random extra zip members (theme, settings) the parser must ignore.
"""
from __future__ import annotations

import io
import random
import zipfile

from pdf_extraction_spark.operators.docx import xml_escape

# the XML-escapable text the office generators draw from
TEXT_POOL = "abc XY 09&<>\"'z .,"


def rand_text(rng: random.Random, pool: str, n: int) -> str:
    return "".join(rng.choice(pool) for _ in range(n))


def gen_case(seed: int) -> tuple[bytes, list[dict]]:
    rng = random.Random(717000 + seed)
    rels: dict[str, str] = {}
    for i in range(rng.randrange(0, 4)):
        rels[f"rId{i + 4}"] = f"media/image{i + 1}.png"
    body: list[str] = []
    expected: list[dict] = []
    for _ in range(rng.randrange(1, 11)):
        if rng.random() < 0.3:
            # table
            n_rows = rng.randrange(1, 4)
            n_cols = rng.randrange(1, 5)
            trs = []
            for _r in range(n_rows):
                tcs = []
                texts = []
                for _c in range(n_cols):
                    runs = [rand_text(rng, TEXT_POOL, rng.randrange(0, 8))
                            for _ in range(rng.randrange(0, 4))]
                    texts.append("".join(runs))
                    tcs.append("<w:tc><w:p>" + "".join(
                        f'<w:r><w:t xml:space="preserve">'
                        f"{xml_escape(t)}</w:t></w:r>"
                        for t in runs) + "</w:p></w:tc>")
                trs.append("<w:tr>" + "".join(tcs) + "</w:tr>")
                expected.append({"kind": "table_row",
                                 "text": " | ".join(texts),
                                 "media_ref": "",
                                 "n_cells": n_cols})
            body.append("<w:tbl>" + "".join(trs) + "</w:tbl>")
            continue
        if rng.random() < 0.1:
            body.append("<w:p/>")            # empty paragraph: no row
            continue
        # paragraph
        style = rng.choice(["", "", "Heading1", "Heading3",
                            "BodyText", "Quote"])
        ppr = (f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>'
               if style else "")
        runs: list[str] = []
        text_parts: list[str] = []
        blips: list[str] = []
        for _ in range(rng.randrange(1, 7)):
            kind = rng.random()
            if kind < 0.6:
                t = rand_text(rng, TEXT_POOL, rng.randrange(0, 12))
                if rng.random() < 0.5:
                    t = " " + t + "  "
                rpr = ("<w:rPr><w:b/></w:rPr>"
                       if rng.random() < 0.3 else "")
                runs.append(f'<w:r>{rpr}<w:t xml:space="preserve">'
                            f"{xml_escape(t)}</w:t></w:r>")
                text_parts.append(t)
            elif kind < 0.75:
                runs.append("<w:r><w:tab/></w:r>")
                text_parts.append("\t")
            elif kind < 0.9:
                runs.append("<w:r><w:br/></w:r>")
                text_parts.append("\n")
            else:
                rid = f"rId{rng.randrange(4, 9)}"
                runs.append(f'<w:r><w:drawing><wp:inline><a:blip '
                            f'r:embed="{rid}"/></wp:inline>'
                            f"</w:drawing></w:r>")
                blips.append(rid)
        body.append(f"<w:p>{ppr}" + "".join(runs) + "</w:p>")
        text = "".join(text_parts)
        if text:
            expected.append({
                "kind": "heading"
                if style.lower().startswith("heading") else "para",
                "text": text, "media_ref": "", "n_cells": 0})
        for rid in blips:
            # targets resolve relative to the rels part's directory
            ref = "word/" + rels[rid] if rid in rels else rid
            expected.append({"kind": "image", "text": "",
                             "media_ref": ref, "n_cells": 0})
    document = ("<?xml version=\"1.0\"?><w:document><w:body>"
                + "".join(body) + "</w:body></w:document>")
    rels_xml = ("<Relationships>" + "".join(
        f'<Relationship Id="{k}" Type="image" Target="{v}"/>'
        for k, v in rels.items()) + "</Relationships>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        def put(name: str, data: str) -> None:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = rng.choice(
                [zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED])
            zf.writestr(zi, data)
        put("word/document.xml", document)
        put("word/_rels/document.xml.rels", rels_xml)
        if rng.random() < 0.4:
            put("word/theme/theme1.xml", "<a:theme/>")
        if rng.random() < 0.4:
            put("word/settings.xml", "<w:settings/>")
    return buf.getvalue(), expected
