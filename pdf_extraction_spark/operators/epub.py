"""EPUB ingestion — e-books as a crawl-corpus source, parsed from
raw bytes with the stdlib only.

Books are a first-class LLM-training corpus family; on the wire they
are EPUB: a ZIP container whose READING ORDER is doubly indirect —
``META-INF/container.xml`` points at the OPF package document, whose
``<manifest>`` maps ids to chapter files and whose ``<spine>`` lists
the reading order by idref.  This module resolves that chain for
real (a book whose spine reorders the chapter files comes out in
spine order, not zip-entry or filename order — the gate plants
exactly that), then hands each XHTML chapter to the ALREADY-GATED
html block classifier (``operators/html.py``): boilerplate strip,
block classification, ``<img>`` media spans — one implementation of
HTML semantics for crawl pages, WARC payloads and book chapters
alike.

Shape: ONE map-only scan stage and no exchange.  A book's file holds
all its chapters, so the task that parses the container also
classifies every chapter and numbers the book's spans; each input row
stays its own output row, ids shared or NULL included.

Reference anchor: the reference ingests PDFs only
(``/root/reference/src/pipeline.py``); the office/ebook families are
part of the web-document extension the north rule's interleaved
text+media tier implies — chapter ``<img>`` elements become
``media`` spans in reading order, the same invariant every other
source family satisfies.

Regex-scoped over machine-generated XML (the documented tokenizer
scope shared by the docx/pptx/xlsx family).  Contract limits: only
spine items whose manifest media-type is XHTML are read (images/css
in the manifest stay opaque); a missing container/OPF falls back to
zip-order ``*.xhtml``/``*.html`` members; nav/NCX tables of contents
are not parsed (the spine IS the reading order).
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .filepass import file_pass, id_number, zip_member

_ROOTFILE = re.compile(r'<rootfile [^>]*full-path="([^"]+)"')
_ITEM = re.compile(r'<item (?=[^>]*id="([^"]+)")(?=[^>]*href="'
                   r'([^"]+)")(?=[^>]*media-type="([^"]+)")[^>]*/?>')
_ITEMREF = re.compile(r'<itemref [^>]*idref="([^"]+)"')
_XHTML_TYPES = ("application/xhtml+xml", "text/html")


def chapter_paths(zf: "zipfile.ZipFile") -> list[str]:
    """Chapter part names in SPINE order (container.xml -> OPF ->
    manifest/spine resolution); zip-order xhtml fallback."""
    cx = zip_member(zf, "META-INF/container.xml") or b""
    m = _ROOTFILE.search(cx.decode("utf-8", "replace"))
    opf = zip_member(zf, m.group(1)) if m else None
    if opf is not None:
        opf_path = m.group(1)
        opf = opf.decode("utf-8", "replace")
        base = opf_path.rsplit("/", 1)[0] + "/" \
            if "/" in opf_path else ""

        def resolve(href: str) -> str:
            # manifest hrefs are OPF-relative (a '../text/ch1'
            # href is routine when the OPF lives in a subdir);
            # a leading '/' means container root.  normpath
            # collapses '../' segments, which plain prefixing
            # did not.
            if href.startswith("/"):
                return posixpath.normpath(href.lstrip("/"))
            return posixpath.normpath(base + href)

        items = {i: (resolve(href), mt)
                 for i, href, mt in _ITEM.findall(opf)}
        order = [items[idref][0]
                 for idref in _ITEMREF.findall(opf)
                 if idref in items
                 and items[idref][1].split(";")[0].strip()
                 in _XHTML_TYPES]
        if order:
            return order
    return [n for n in zf.namelist()
            if n.lower().endswith((".xhtml", ".html"))]


def parse_epub(data: bytes) -> list[dict[str, Any]]:
    """Raw .epub bytes -> spine-order chapter rows:
    ``{chapter, path, html}``.  Damaged zip yields []."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
        order = chapter_paths(zf)
    except (zipfile.BadZipFile, ValueError):
        return []
    rows: list[dict[str, Any]] = []
    for no, path in enumerate(order, start=1):
        html = zip_member(zf, path)
        if html is None:
            continue
        rows.append({"chapter": no, "path": path,
                     "html": html.decode("utf-8", "replace")})
    return rows


def epub_to_spans(files: DataFrame) -> DataFrame:
    """EPUB files -> BASELINE.json contract span arrays: every
    chapter through the gated html block classifier
    (``html.html_blocks_col`` -> ``html.block_spans`` — content blocks
    as text spans, ``<img src>`` as media spans), chapters
    concatenated in spine order with globally gapless offsets.

    Plan: ONE map-only ``file_pass`` reads each book's chapter html in
    spine order, and the classification runs over the flattened
    per-book block array in the same scan stage — zero exchanges, one
    output row per input row.  A damaged book has no chapters and
    surfaces as an empty spans array, like the docx/pptx/xlsx
    bridges."""
    from .html import block_spans, html_blocks_col

    books = file_pass(
        files, "doc_id", ["epub"], "doc_id string, chapters array<string>",
        lambda _key, blob: [([r["html"] for r in parse_epub(blob or b"")],)])
    blocks = F.flatten(F.transform("chapters", html_blocks_col))
    return books.select("doc_id", block_spans(blocks).alias("spans"))


# ------------------------------------------------ deterministic writer

_CONTAINER = (
    '<?xml version="1.0"?><container version="1.0" xmlns="urn:oasis:'
    'names:tc:opendocument:xmlns:container"><rootfiles><rootfile '
    'full-path="OEBPS/content.opf" media-type="application/'
    'oebps-package+xml"/></rootfiles></container>')


def _chapter_html(doc: int, k: int, text: str) -> str:
    """Deterministic chapter: a heading, a corpus-text paragraph with
    a length-guaranteeing suffix, an inline image, a closing
    paragraph — every block comfortably over the classifier's
    MIN_TEXT_LEN so the expected spans are closed-form without
    replaying the length ladder."""
    slice_ = text[40 * (k - 1):40 * (k - 1) + 80]
    return (f"<html><body><h2>Heading {k} of {doc} spanning enough "
            "characters</h2>"
            f"<p>{slice_} chapter {k} body of doc {doc} with padding "
            "past the minimum</p>"
            f'<img src="img://{doc}/{k}"/>'
            f"<p>Closing paragraph {k} of document {doc} with "
            "sufficient length for the gate</p></body></html>")


def build_one_epub(doc: int, text: str) -> bytes:
    """Deterministic per-document .epub behind the ``epub_spans``
    gate — every branch doc_id arithmetic:

    - chapter 1 always; chapter 2 on doc%2==0; chapter 3 on doc%3==0;
    - the SPINE lists chapters ROTATED by one position on doc%4==2
      (last chapter first), with non-sequential manifest ids and an
      out-of-spine css item — output order must follow the
      container->OPF->spine resolution, not filename order;
    - chapter files live under OEBPS/ so manifest hrefs exercise the
      OPF-relative path resolution."""
    ks = [1] + ([2] if doc % 2 == 0 else []) \
        + ([3] if doc % 3 == 0 else [])
    spine_ks = ks[-1:] + ks[:-1] if doc % 4 == 2 and len(ks) > 1 \
        else ks
    ids = {1: "idA7", 2: "idB3", 3: "idC9"}
    manifest = "".join(
        f'<item id="{ids[k]}" href="ch{k}.xhtml" '
        'media-type="application/xhtml+xml"/>' for k in ks) \
        + '<item id="css1" href="style.css" media-type="text/css"/>'
    spine = "".join(f'<itemref idref="{ids[k]}"/>' for k in spine_ks)
    opf = ('<?xml version="1.0"?><package version="3.0"><manifest>'
           + manifest + "</manifest><spine>" + spine
           + "</spine></package>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        def put(name: str, data: str) -> None:
            zi = zipfile.ZipInfo(name,
                                 date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)
        put("mimetype", "application/epub+zip")
        put("META-INF/container.xml", _CONTAINER)
        put("OEBPS/content.opf", opf)
        for k in ks:
            put(f"OEBPS/ch{k}.xhtml", _chapter_html(doc, k, text))
        put("OEBPS/style.css", "body{}")
    return buf.getvalue()


def build_epub_files(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, epub binary) via the deterministic
    writer; one map-only Arrow pass."""
    return file_pass(
        docs, "doc_id", [F.coalesce(F.col("text"), F.lit(""))],
        "doc_id string, epub binary",
        lambda key, text: [(build_one_epub(id_number(key), text),)])
