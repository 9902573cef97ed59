"""PPTX (ISO 29500 PresentationML) ingestion — slide decks as a
crawl-corpus source, parsed from raw bytes with the stdlib only.

Completes the office family next to ``operators/docx.py``: the
container is ZIP, the payload is one ``ppt/slides/slideN.xml`` part
per slide, and — unlike DOCX — the DOCUMENT ORDER is indirect: the
deck order lives in ``ppt/presentation.xml``'s ``<p:sldIdLst>``,
whose ``r:id`` entries resolve through
``ppt/_rels/presentation.xml.rels`` to slide parts.  This module
resolves that chain for real (a deck whose sldIdLst reorders the
slides comes out in presentation order, not zip-entry or numeric
order — the gate plants exactly that case), then parses the
PresentationML subset a text pipeline needs: title placeholders,
body paragraphs with run concatenation, and ``<p:pic>`` images
resolved through each slide's own rels part.

Surfaces match the rest of the family: a typed element table
(``pptx_rows_from_files``: doc_id, slide, el_idx, kind, text,
media_ref) and the BASELINE.json contract span schema
(``pptx_to_spans``), both ONE map-only `filepass.file_pass`.

Reference anchor: the reference ingests PDFs only
(``/root/reference/src/pipeline.py``); office formats are part of
the web-document extension the north rule's interleaved text+media
tier implies — slide images become ``media`` spans in deck order,
the same invariant the PDF ``Do`` placements, HTML ``<img>`` and
DOCX inline images satisfy.

Parsing is regex-scoped over machine-generated OOXML (the same
documented tokenizer scope as operators/{html,docx}.py).  Contract
limits: ``<a:tbl>`` graphic-frame tables and speaker-notes parts are
out of scope (the upgrade path, not a silent requirement); a missing
sldIdLst falls back to numeric slide-name order; unresolvable
``r:embed`` ids keep the raw id as the ref.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .docx import _REL, _unescape, _zinfo, xml_escape
from .filepass import element_spans, file_pass, id_number, zip_member

_SLD_ID = re.compile(r'<p:sldId [^>]*r:id="([^"]+)"')
_SHAPE = re.compile(r"(?s)<p:sp>.*?</p:sp>|<p:pic>.*?</p:pic>")
_PH_TITLE = re.compile(r'<p:ph [^>]*type="(?:ctrTitle|title)"')
_APARA = re.compile(r"(?s)<a:p>(.*?)</a:p>")
_AT = re.compile(r"(?s)<a:t(?: [^>]*)?>(.*?)</a:t>")
_BLIP = re.compile(r'<a:blip [^>]*r:embed="([^"]+)"')


def _slide_order(zf: "zipfile.ZipFile") -> list[str]:
    """Deck order from presentation.xml sldIdLst resolved through the
    presentation rels; numeric slide-name fallback when absent."""
    pres = zip_member(zf, "ppt/presentation.xml")
    rx = zip_member(zf, "ppt/_rels/presentation.xml.rels")
    if pres is not None and rx is not None:
        # presentation rels targets resolve against ppt/ (the part's
        # directory); leading '/' means package root
        rels = {rid: posixpath.normpath(
                    target.lstrip("/") if target.startswith("/")
                    else "ppt/" + target)
                for rid, target in _REL.findall(rx.decode("utf-8",
                                                          "replace"))}
        order = [rels[rid]
                 for rid in _SLD_ID.findall(pres.decode("utf-8", "replace"))
                 if rid in rels]
        if order:
            return order
    names = [n for n in zf.namelist()
             if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)]
    return sorted(names,
                  key=lambda n: int(re.search(r"\d+", n).group()))


def parse_pptx(data: bytes) -> list[dict[str, Any]]:
    """Raw .pptx bytes -> deck-order element rows:
    ``{slide, kind: title|body|image, text, media_ref}``.  Damaged
    zip or no slide parts yields []."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
        order = _slide_order(zf)
    except (zipfile.BadZipFile, ValueError):
        return []
    rows: list[dict[str, Any]] = []
    for slide_no, part in enumerate(order, start=1):
        xml = zip_member(zf, part)
        if xml is None:
            continue
        xml = xml.decode("utf-8", "replace")
        rels: dict[str, str] = {}
        # rpartition tolerates a root-level part name (no '/'): the
        # rels part is then '_rels/<name>.rels' and targets resolve
        # from the package root
        base_dir, _, base_name = part.rpartition("/")
        rels_part = (f"{base_dir}/_rels/{base_name}.rels"
                     if base_dir else f"_rels/{base_name}.rels")
        rx = zip_member(zf, rels_part) or b""
        for rid, target in _REL.findall(rx.decode("utf-8", "replace")):
            # rels targets resolve against the slide part's own
            # directory (ECMA-376 part-relative); a leading '/'
            # means package root.  posixpath join+normpath handles
            # the usual '../media/x' as well as plain-relative
            # 'media/x' (-> ppt/slides/media/x) and absolute
            # '/ppt/media/x' correctly, where string stripping
            # did not.
            if target.startswith("/"):
                rels[rid] = posixpath.normpath(target.lstrip("/"))
            else:
                rels[rid] = posixpath.normpath(
                    posixpath.join(base_dir, target))
        for shape in _SHAPE.finditer(xml):
            block = shape.group(0)
            if block.startswith("<p:pic>"):
                for rid in _BLIP.findall(block):
                    rows.append({"slide": slide_no, "kind": "image",
                                 "text": "",
                                 "media_ref": rels.get(rid, rid)})
                continue
            kind = "title" if _PH_TITLE.search(block) else "body"
            for para in _APARA.finditer(block):
                # runs concatenate with no separator — a run boundary
                # is not whitespace (same semantics as docx)
                text = "".join(_unescape(t)
                               for t in _AT.findall(para.group(1)))
                if text:
                    rows.append({"slide": slide_no, "kind": kind,
                                 "text": text, "media_ref": ""})
    return rows


ROWS_SCHEMA = ("doc_id string, slide int, el_idx int, kind string, "
               "text string, media_ref string")

def pptx_rows_from_files(files: DataFrame) -> DataFrame:
    """(doc_id, pptx binary) -> typed element rows in deck order.
    ONE map-only ``file_pass`` (zero shuffle, zero joins): each deck
    arrives whole in its row and parses inside the scan stage."""
    return file_pass(
        files, "doc_id", ["pptx"], ROWS_SCHEMA,
        lambda _key, blob: [
            (r["slide"], i, r["kind"], r["text"], r["media_ref"])
            for i, r in enumerate(parse_pptx(blob or b""))])


def pptx_to_spans(files: DataFrame) -> DataFrame:
    """PPTX files -> BASELINE.json contract span arrays: every
    text-bearing element a ``text`` span, every slide image a
    ``media`` span with the resolved media part path as
    ``media_ref``, deck order, gapless offsets — so the fused
    extraction plan runs unchanged on slide decks.  Same single
    map-only pass as the parse."""
    from ..corpus import SPAN_SCHEMA  # local: corpus loads pandas

    return file_pass(
        files, "doc_id", ["pptx"], SPAN_SCHEMA,
        lambda _key, blob: [(element_spans(parse_pptx(blob or b"")),)])


# ------------------------------------------------ deterministic writer

_PPTX_CONTENT_TYPES = (
    '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats'
    '.org/package/2006/content-types"><Default Extension="xml" '
    'ContentType="application/xml"/><Default Extension="png" '
    'ContentType="image/png"/><Override '
    'PartName="/ppt/presentation.xml" ContentType="application/vnd.'
    'openxmlformats-officedocument.presentationml.presentation.main'
    '+xml"/></Types>')

_PPTX_ROOT_RELS = (
    '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
    'openxmlformats.org/package/2006/relationships"><Relationship '
    'Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="ppt/presentation.xml"/></Relationships>')


def build_one_pptx(doc: int, text: str) -> bytes:
    """Deterministic per-document .pptx behind the ``pptx_text`` /
    ``pptx_spans`` gates — every branch doc_id arithmetic:

    - slide 1: a title placeholder ('Deck {doc} title'), a body
      paragraph carrying the doc text plus planted entities, and on
      doc%3==0 a <p:pic> image rels-resolved to ppt/media/image1.png
      (a real synth PNG whose header the image_meta sniffer reads);
    - doc%2==0: slide 2 with a single-run and a two-run body
      paragraph (run concatenation gated);
    - doc%4==2: presentation.xml's sldIdLst lists slide 2 FIRST —
      output order must follow the sldIdLst/rels resolution, not the
      slide part numbering (every doc%4==2 is even, so slide 2
      exists).  The rIds are non-sequential (rId9 -> slide1, rId5 ->
      slide2) so numeric-id shortcuts also fail the gate."""
    s1_body = [
        '<p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr>'
        f'</p:nvSpPr><p:txBody><a:p><a:r><a:t>Deck {doc} title'
        '</a:t></a:r></a:p></p:txBody></p:sp>',
        f'<p:sp><p:txBody><a:p><a:r><a:t>{xml_escape(text)}'
        f'</a:t></a:r><a:r><a:t> s1p{doc} &amp; a &lt;b&gt;</a:t>'
        '</a:r></a:p></p:txBody></p:sp>',
    ]
    if doc % 3 == 0:
        s1_body.append(
            '<p:pic><p:blipFill><a:blip r:embed="rId7"/>'
            '</p:blipFill></p:pic>')
    slide1 = ('<?xml version="1.0"?><p:sld><p:cSld><p:spTree>'
              + "".join(s1_body) + '</p:spTree></p:cSld></p:sld>')
    slide2 = ('<?xml version="1.0"?><p:sld><p:cSld><p:spTree>'
              f'<p:sp><p:txBody><a:p><a:r><a:t>s2 {doc}</a:t></a:r>'
              '</a:p><a:p><a:r><a:t>second</a:t></a:r><a:r>'
              '<a:t xml:space="preserve"> half</a:t></a:r></a:p>'
              '</p:txBody></p:sp></p:spTree></p:cSld></p:sld>')
    two = doc % 2 == 0
    sld_ids = ['<p:sldId id="256" r:id="rId9"/>']
    if two:
        sld_ids.append('<p:sldId id="257" r:id="rId5"/>')
    if doc % 4 == 2:
        sld_ids.reverse()
    presentation = ('<?xml version="1.0"?><p:presentation>'
                    '<p:sldIdLst>' + "".join(sld_ids)
                    + '</p:sldIdLst></p:presentation>')
    pres_rels = (
        '<?xml version="1.0"?><Relationships><Relationship '
        'Id="rId9" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/slide" '
        'Target="slides/slide1.xml"/>'
        + ('<Relationship Id="rId5" Type="http://schemas.'
           'openxmlformats.org/officeDocument/2006/relationships/'
           'slide" Target="slides/slide2.xml"/>' if two else "")
        + '</Relationships>')
    s1_rels = (
        '<?xml version="1.0"?><Relationships><Relationship '
        'Id="rId7" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/image" '
        'Target="../media/image1.png"/></Relationships>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(_zinfo("[Content_Types].xml"),
                    _PPTX_CONTENT_TYPES)
        zf.writestr(_zinfo("_rels/.rels"), _PPTX_ROOT_RELS)
        zf.writestr(_zinfo("ppt/presentation.xml"), presentation)
        zf.writestr(_zinfo("ppt/_rels/presentation.xml.rels"),
                    pres_rels)
        zf.writestr(_zinfo("ppt/slides/slide1.xml"), slide1)
        zf.writestr(_zinfo("ppt/slides/_rels/slide1.xml.rels"),
                    s1_rels)
        if two:
            zf.writestr(_zinfo("ppt/slides/slide2.xml"), slide2)
        if doc % 3 == 0:
            from .warc import synth_png
            zf.writestr(_zinfo("ppt/media/image1.png"),
                        synth_png(40 + doc % 12, 30 + doc % 6))
    return buf.getvalue()


def build_pptx_files(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, pptx binary) via the deterministic
    writer; one map-only Arrow pass (test-corpus synthesis — at
    production scale the binary column arrives from the lake)."""
    return file_pass(
        docs, "doc_id", [F.coalesce(F.col("text"), F.lit(""))],
        "doc_id string, pptx binary",
        lambda key, text: [(build_one_pptx(id_number(key), text),)])
