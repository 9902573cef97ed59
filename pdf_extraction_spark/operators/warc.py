"""WARC container ingestion (ISO 28500 / WARC 1.0-1.1) — the entry
point for a crawl corpus shipped as Common-Crawl-style ``.warc`` /
``.warc.gz`` files.

From-scratch record layer, HTTP payload layer, and charset resolution,
exposed as ONE map-only `filepass.file_pass` (``records_from_warc``) —
the same scale shape as the whole-PDF-file layer (operators/pdffile.py
``pages_from_files``): zero shuffle, zero joins, each file parsed once
inside the scan stage, so 100 TB of crawl data costs exactly one pass
before any downstream exchange.  ``warc_dispatch_spans`` bridges HTTP
200 response records of every payload type (``text/html`` via the
already-gated ``html_to_spans``) onto the BASELINE.json input_hint
contract schema, one row per captured URI — the fused extraction plan
(plans/fused.py) runs unchanged on crawl pages.

Reference anchor: the reference ingests one local PDF at a time
(``/root/reference/src/pipeline.py:74-171`` walks files sequentially);
a web-scale twin needs the crawl container format itself.  Parity
surface here is the ISO 28500 spec plus RFC 9112 message framing —
public formats, no reference code involved.

What the record layer handles (all exercised by the ``warc_records``
gate and ``tools/fuzz_warc.py``):

- plain concatenated records AND per-record gzip members (the Common
  Crawl convention — each record its own gzip stream, so a split at
  any member boundary yields valid WARC; a whole-file single-member
  gzip decompresses identically through the same loop);
- header blocks terminated by CRLF CRLF, header line folding
  (continuation lines starting with SP/HT, RFC 9110 obs-fold),
  case-insensitive names, ``Content-Length``-framed blocks, the
  mandatory CRLF CRLF record separator (tolerant of LF-only writers);
- damage salvage: a record that fails to frame is skipped by scanning
  for the next ``\\r\\nWARC/`` magic — one bad record never sinks the
  remaining terabyte of a file (mirrors pdffile's xref rebuild
  philosophy).

HTTP layer (``response``/``request`` records carrying
``application/http``): status line, case-insensitive headers with
folding, ``Transfer-Encoding: chunked`` de-framing (hex sizes, chunk
extensions, trailer section), ``Content-Encoding`` gzip / x-gzip /
deflate (zlib-wrapped and raw).  Decode order is de-chunk first, then
content-decode — the wire applies them in the reverse order.

Charset resolution for textual payloads, in precedence order:
BOM (UTF-8 / UTF-16LE / UTF-16BE) > HTTP ``charset=`` parameter >
``<meta charset>`` / ``<meta http-equiv>`` sniff in the first 1024
decoded-as-latin1 bytes (the WHATWG prescan, trimmed to the aliases a
crawl actually carries) > UTF-8 default; all decodes use
``errors='replace'`` so a mislabeled page yields U+FFFD, never a task
failure.  The resolved charset AND its provenance (``bom`` / ``http``
/ ``meta`` / ``default``) are output columns — corpus-audit
observability, same philosophy as the PII count columns.
"""

from __future__ import annotations

import re
import struct
import zlib
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .filepass import element_spans, file_pass, id_number

# ------------------------------------------------------------ gzip

_GZIP_MAGIC = b"\x1f\x8b"


def gunzip_members(data: bytes) -> bytes:
    """Decompress a concatenation of gzip members (the .warc.gz
    convention: one member per record).  Trailing garbage after the
    last member is ignored; a truncated final member yields whatever
    decompressed cleanly."""
    out = []
    while data[:2] == _GZIP_MAGIC:
        d = zlib.decompressobj(31)
        try:
            out.append(d.decompress(data))
            out.append(d.flush())
        except zlib.error:
            break
        if not d.eof:                      # truncated member
            break
        data = d.unused_data
    return b"".join(out)


def gzip_bytes(data: bytes) -> bytes:
    """Deterministic gzip (no filename, zlib writes MTIME=0)."""
    c = zlib.compressobj(6, zlib.DEFLATED, 31)
    return c.compress(data) + c.flush()


# ------------------------------------------------- header utilities

def parse_header_block(block: bytes) -> tuple[str, dict[str, str]]:
    """(first_line, {lower_name: value}) from a CRLF header block.
    Folded continuation lines (leading SP/HT) append to the previous
    value with a single space; duplicate names: last wins (matching
    the framing fields a crawler actually emits)."""
    lines = block.split(b"\n")
    first = lines[0].rstrip(b"\r").decode("latin-1", "replace")
    headers: dict[str, str] = {}
    last = None
    for raw in lines[1:]:
        line = raw.rstrip(b"\r")
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + \
                line.strip().decode("latin-1", "replace")
            continue
        if b":" not in line:
            continue
        name, _, val = line.partition(b":")
        last = name.strip().decode("latin-1", "replace").lower()
        headers[last] = val.strip().decode("latin-1", "replace")
    return first, headers


def _find_blank(data: bytes, start: int) -> tuple[int, int]:
    """Index of the first blank line from ``start``: returns
    (header_end, body_start) honoring CRLFCRLF or LFLF."""
    crlf = data.find(b"\r\n\r\n", start)
    lf = data.find(b"\n\n", start)
    if crlf == -1 and lf == -1:
        return -1, -1
    if crlf != -1 and (lf == -1 or crlf <= lf):
        return crlf, crlf + 4
    return lf, lf + 2


# ------------------------------------------------------ WARC records

def parse_warc(data: bytes) -> list[dict[str, Any]]:
    """Raw (possibly gzipped) WARC file bytes -> list of records:
    ``{version, headers, block}``.  Frames by ``Content-Length``; on a
    framing failure, salvages at the next ``WARC/`` magic."""
    if data[:2] == _GZIP_MAGIC:
        data = gunzip_members(data)
    records: list[dict[str, Any]] = []
    i = 0
    n = len(data)
    while i < n:
        # skip inter-record newlines / padding
        while i < n and data[i] in (0x0D, 0x0A):
            i += 1
        if i >= n:
            break
        if data[i:i + 5] != b"WARC/":
            nxt = data.find(b"\nWARC/", i)
            if nxt == -1:
                break
            i = nxt + 1
            continue
        hdr_end, body_start = _find_blank(data, i)
        if hdr_end == -1:
            break
        first, headers = parse_header_block(data[i:hdr_end])
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            nxt = data.find(b"\nWARC/", i + 5)
            i = nxt + 1 if nxt != -1 else n
            continue
        block = data[body_start:body_start + clen]
        records.append({"version": first, "headers": headers,
                        "block": block})
        i = body_start + clen
    return records


# ------------------------------------------------------- HTTP layer

def dechunk(body: bytes) -> bytes:
    """RFC 9112 §7.1 chunked transfer decoding (chunk extensions and
    the trailer section tolerated and dropped)."""
    out = []
    i = 0
    n = len(body)
    while i < n:
        eol = body.find(b"\n", i)
        if eol == -1:
            break
        size_tok = body[i:eol].strip().split(b";", 1)[0]
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size == 0:
            break
        start = eol + 1
        out.append(body[start:start + size])
        i = start + size
        # consume the CRLF after the chunk data
        while i < n and body[i] in (0x0D, 0x0A):
            i += 1
            if body[i - 1] == 0x0A:
                break
    return b"".join(out)


def content_decode(body: bytes, encoding: str) -> bytes:
    """Content-Encoding: gzip / x-gzip / deflate (zlib or raw) /
    identity.  Unknown codings pass through unchanged."""
    enc = encoding.strip().lower()
    try:
        if enc in ("gzip", "x-gzip"):
            return gunzip_members(body)
        if enc == "deflate":
            try:
                return zlib.decompress(body)
            except zlib.error:
                return zlib.decompress(body, -15)
    except zlib.error:
        return body
    return body


def parse_http(block: bytes) -> tuple[int | None, dict[str, str],
                                      bytes]:
    """HTTP message block -> (status, headers, decoded body).
    ``status`` is None for request messages."""
    hdr_end, body_start = _find_blank(block, 0)
    if hdr_end == -1:
        return None, {}, b""
    first, headers = parse_header_block(block[:hdr_end])
    status: int | None = None
    m = re.match(r"HTTP/\d(?:\.\d)?\s+(\d{3})", first)
    if m:
        status = int(m.group(1))
    body = block[body_start:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = dechunk(body)
    ce = headers.get("content-encoding", "")
    if ce:
        body = content_decode(body, ce)
    return status, headers, body


# -------------------------------------------------- charset handling

_CHARSET_PARAM = re.compile(r"charset\s*=\s*\"?([\w.:-]+)", re.I)
_META_CHARSET = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?([\w.:-]+)", re.I)

_ALIASES = {
    "latin-1": "iso-8859-1", "latin1": "iso-8859-1",
    "iso8859-1": "iso-8859-1", "l1": "iso-8859-1",
    "utf8": "utf-8", "us-ascii": "ascii",
    "win-1252": "windows-1252", "cp1252": "windows-1252",
}


def _norm_charset(name: str) -> str:
    n = name.strip().lower()
    return _ALIASES.get(n, n)


def resolve_charset(content_type: str,
                    body: bytes) -> tuple[str, str]:
    """(charset, source) per the documented precedence: BOM > HTTP
    parameter > meta prescan (first 1024 bytes) > utf-8 default."""
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8", "bom"
    if body[:2] == b"\xff\xfe":
        return "utf-16-le", "bom"
    if body[:2] == b"\xfe\xff":
        return "utf-16-be", "bom"
    m = _CHARSET_PARAM.search(content_type or "")
    if m:
        return _norm_charset(m.group(1)), "http"
    m = _META_CHARSET.search(body[:1024])
    if m:
        return _norm_charset(m.group(1).decode("latin-1")), "meta"
    return "utf-8", "default"


def decode_text(body: bytes, charset: str) -> str:
    if body[:3] == b"\xef\xbb\xbf" and charset == "utf-8":
        body = body[3:]
    try:
        return body.decode(charset, "replace")
    except LookupError:
        return body.decode("utf-8", "replace")


_TEXTUAL = re.compile(r"^(text/|application/(x?html|xml|json|"
                      r"javascript|warc-fields))", re.I)


def _mime(content_type: str) -> str:
    return (content_type or "").split(";", 1)[0].strip().lower()


# ------------------------------------------------- record flattening

def flatten_records(warc_id: str, data: bytes) -> list[tuple]:
    """One WARC file -> output rows (see RECORDS_SCHEMA).  For
    ``application/http`` records the HTTP message is parsed and the
    payload is the decoded entity body; for other records the payload
    is the raw block.  ``text`` is the charset-decoded payload for
    textual media types, None otherwise (images/audio/video stay
    opaque binary per the multimodal contract)."""
    rows = []
    for idx, rec in enumerate(parse_warc(data)):
        h = rec["headers"]
        wtype = h.get("warc-type", "")
        uri = h.get("warc-target-uri") or None
        date = h.get("warc-date") or None
        rec_ct = h.get("content-type", "")
        status: int | None = None
        payload = rec["block"]
        eff_ct = rec_ct
        if _mime(rec_ct).startswith("application/http"):
            status, http_headers, payload = parse_http(rec["block"])
            eff_ct = http_headers.get("content-type", "")
        mime = _mime(eff_ct)
        charset = charset_src = None
        text = None
        if _TEXTUAL.match(mime or ""):
            charset, charset_src = resolve_charset(eff_ct, payload)
            text = decode_text(payload, charset)
            payload_out = None       # decoded text carries the value
        else:
            payload_out = payload
        rows.append((warc_id, idx, wtype, uri, date, mime or None,
                     status, charset, charset_src,
                     len(payload), text, payload_out))
    return rows


RECORDS_SCHEMA = ("warc_id string, rec_idx int, warc_type string, "
                  "target_uri string, warc_date string, "
                  "content_type string, http_status int, "
                  "charset string, charset_src string, "
                  "payload_len long, text string, payload binary")


def records_from_warc(files: DataFrame) -> DataFrame:
    """(warc_id, warc binary) -> one row per WARC record.  ONE
    map-only ``file_pass``: zero shuffle, zero joins
    (plan-asserted in tests/test_plan_shapes.py) — at crawl scale each
    ~1 GiB .warc.gz segment is one input split parsed once inside the
    scan stage, and only the rows (not the container bytes) flow
    downstream."""
    return file_pass(
        files, "warc_id", ["warc"], RECORDS_SCHEMA,
        lambda key, blob: [r[1:] for r in
                           flatten_records(key, blob or b"")])


def warc_to_pages(files: DataFrame) -> DataFrame:
    """HTTP-200 response records carrying HTML -> (doc_id, html) pages,
    doc_id = WARC-Target-URI (the crawl-native document identity).
    Every eligible capture comes out: there is no ``dedupe_captures``
    here, so a URI captured twice gives two rows (``dispatch_spans`` is
    the path that keeps one per URI).  Still map-only: the filter fuses
    into the same scan stage."""
    recs = records_from_warc(files)
    cond = (F.col("warc_type") == "response") & \
        F.col("content_type").isin(
            "text/html", "application/xhtml",
            "application/xhtml+xml") & (F.col("http_status") == 200)
    return recs.where(cond).select(
        F.col("target_uri").alias("doc_id"),
        F.col("text").alias("html"))


# ------------------------------------------------ deterministic writer

def synth_png(width: int, height: int) -> bytes:
    """Minimal valid PNG (signature + IHDR + IEND, 45 bytes, no
    IDAT): deterministic media payload for the resource records; the
    multimodal image-header parser reads its dimensions back."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body +
                struct.pack(">I", zlib.crc32(tag + body)))

    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) +
            chunk(b"IEND", b""))


def warc_record(wtype: str, headers: list[tuple[str, str]],
                block: bytes) -> bytes:
    head = ["WARC/1.1", f"WARC-Type: {wtype}",
            *(f"{k}: {v}" for k, v in headers),
            f"Content-Length: {len(block)}"]
    return ("\r\n".join(head) + "\r\n\r\n").encode("ascii") + \
        block + b"\r\n\r\n"


def chunkify(body: bytes, size: int) -> bytes:
    out = []
    for i in range(0, len(body), size):
        piece = body[i:i + size]
        out.append(f"{len(piece):x}\r\n".encode("ascii"))
        out.append(piece + b"\r\n")
    out.append(b"0\r\n\r\n")
    return b"".join(out)


def build_one_warc(doc: int, text: str) -> bytes:
    """The deterministic per-document WARC file behind the
    ``warc_records`` gate.  Every branch is doc_id arithmetic so the
    DuckDB oracle predicts the parsed output in closed form:

    - doc%2==1: per-record gzip members (.warc.gz convention);
    - doc%3 selects the charset channel: 0 = HTTP ``charset=utf-8``,
      1 = HTTP ``charset=iso-8859-1``, 2 = no HTTP param, ``<meta
      charset="utf-8">`` prescan;
    - doc%4==0: ``Content-Encoding: gzip`` entity body;
    - doc%5==0: ``Transfer-Encoding: chunked`` (both may combine —
      gzip then chunk on the wire, so decode de-chunks first);
    - doc%7==0: HTTP 404 (otherwise 200);
    - doc%6==0: a fourth record — ``resource`` carrying a 45-byte
      synthetic PNG (16+doc%8 x 9+doc%5) that stays opaque binary.

    The HTML body plants one non-ASCII char ('é') so the charset path
    is value-gated: iso-8859-1 encodes it as one byte, utf-8 as two —
    only a correct decode yields the same 'café' from both."""
    uri = f"https://host{doc % 10}.example/doc/{doc}"
    date = f"2026-08-{1 + doc % 28:02d}T12:00:00Z"
    rid = f"<urn:uuid:{doc:032d}>"
    base = [("WARC-Date", date), ("WARC-Record-ID", rid)]

    info = warc_record(
        "warcinfo",
        base + [("Content-Type", "application/warc-fields")],
        b"software: pdf-extraction-spark/0.4\r\n"
        b"format: WARC File Format 1.1\r\n")

    req_msg = (f"GET /doc/{doc} HTTP/1.1\r\nHost: "
               f"host{doc % 10}.example\r\n"
               "User-Agent: sparkbot/1.0\r\n"
               "  (+https://example/bot)\r\n\r\n").encode("ascii")
    req = warc_record(
        "request",
        base + [("WARC-Target-URI", uri),
                ("Content-Type",
                 "application/http;msgtype=request")],
        req_msg)

    mod3 = doc % 3
    meta = '<meta charset="utf-8">' if mod3 == 2 else ""
    html = (f"<html><head><title>W{doc}</title>{meta}</head>"
            f"<body><p>{text}</p>"
            f"<p>café {doc}</p></body></html>")
    enc = "iso-8859-1" if mod3 == 1 else "utf-8"
    body = html.encode(enc, "replace")
    ctype = "text/html" + (f"; charset={enc}" if mod3 != 2 else "")
    status, reason = (404, "Not Found") if doc % 7 == 0 \
        else (200, "OK")
    http_head = [f"HTTP/1.1 {status} {reason}",
                 f"Content-Type: {ctype}", "Server: synth/1.0"]
    if doc % 4 == 0:
        body = gzip_bytes(body)
        http_head.append("Content-Encoding: gzip")
    if doc % 5 == 0:
        body = chunkify(body, 37)
        http_head.append("Transfer-Encoding: chunked")
    else:
        http_head.append(f"Content-Length: {len(body)}")
    resp_msg = ("\r\n".join(http_head) + "\r\n\r\n") \
        .encode("ascii") + body
    resp = warc_record(
        "response",
        base + [("WARC-Target-URI", uri),
                ("Content-Type",
                 "application/http;msgtype=response")],
        resp_msg)

    records = [info, req, resp]
    if doc % 6 == 0:
        records.append(warc_record(
            "resource",
            base + [("WARC-Target-URI", uri + "/logo.png"),
                    ("Content-Type", "image/png")],
            synth_png(16 + doc % 8, 9 + doc % 5)))
    if doc % 2 == 1:
        return b"".join(gzip_bytes(r) for r in records)
    return b"".join(records)


def build_warc_files(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (warc_id, warc binary) via the deterministic
    writer above; one map-only Arrow pass (the gate/scaling-corpus
    synthesizer, same role as pdffile.build_pdf_files)."""
    return file_pass(
        docs, "doc_id", [F.coalesce(F.col("text"), F.lit(""))],
        "warc_id string, warc binary",
        lambda key, text: [(build_one_warc(id_number(key), text),)])


# ------------------------------------------- mime-routed dispatch

# the real XHTML media type is application/xhtml+xml (RFC 3236); the
# bare application/xhtml alias appears in older crawls, so both route
HTML_MIMES = ("text/html", "application/xhtml",
              "application/xhtml+xml")
PDF_MIME = "application/pdf"
DOCX_MIME = ("application/vnd.openxmlformats-officedocument."
             "wordprocessingml.document")
PPTX_MIME = ("application/vnd.openxmlformats-officedocument."
             "presentationml.presentation")
XLSX_MIME = ("application/vnd.openxmlformats-officedocument."
             "spreadsheetml.sheet")
EPUB_MIME = "application/epub+zip"
# the response types `_binary_spans` parses in-process
_BINARY_MIMES = (PDF_MIME, DOCX_MIME, PPTX_MIME, XLSX_MIME)


def dedupe_captures(recs: DataFrame) -> DataFrame:
    """Latest capture per (target_uri, warc_type) wins.  Revisits and
    re-crawls are routine in crawl segments — a segment can carry two
    response records for one URI — and since dispatch keys documents by
    target URI, distinct captures of one URI would otherwise collide:
    every family would emit one row per capture under the same doc_id.
    Winner = max
    (WARC-Date as an instant, raw WARC-Date, warc_id, rec_idx), so the
    newest capture is kept with a total deterministic tie-break: dates
    of mixed precision ('...:00Z' vs '...:00.500Z') compare as the
    instants they name, an unparseable date (the header is
    attacker-controlled bytes) is NULL and loses to any parseable one
    instead of failing the task, and exact physical duplicates (the
    same segment fed twice) collapse to one row.

    warc_type is part of the key because request records carry the
    same WARC-Target-URI as their response — deduping on URI alone
    could keep the request and drop the payload.  Records with no
    WARC-Target-URI at all (warcinfo, some metadata records) have no
    capture identity: they pass through untouched.

    Shape: one shuffle on (target_uri, warc_type) with map-side
    partial ``max_by`` combine — duplicate captures collapse inside
    each map task before the exchange, but every surviving row's
    payload still crosses the wire once."""
    ordk = F.struct(
        F.try_to_timestamp(F.col("warc_date")).alias("t"),
        F.coalesce(F.col("warc_date"), F.lit("")).alias("d"),
        F.col("warc_id").alias("w"), F.col("rec_idx").alias("i"))
    # NULL-URI rows get a per-record surrogate group key so each
    # passes through as its own group in the SAME aggregation — one
    # scan, one exchange (a where/union split would reference the
    # subtree twice, and when the input is the un-landed container
    # parse that re-runs the parse once per branch — measured 2x on
    # the dispatch bench).  The isNull flag is part of the grouping
    # key so a crafted real URI (headers are attacker-controlled
    # bytes) can never collide with a surrogate, whatever its content
    gkey = F.coalesce(
        F.col("target_uri"),
        F.concat_ws("\x00", F.lit(""), F.col("warc_id"),
                    F.col("rec_idx"))).alias("_gkey")
    gnull = F.col("target_uri").isNull().alias("_gnull")
    cols = [c for c in recs.columns if c != "warc_type"]
    return (recs.groupBy(gkey, gnull, "warc_type")
            .agg(F.max_by(F.struct(*cols), ordk).alias("_w"))
            .select("warc_type", "_w.*")
            .select(*recs.columns))


def _status_ok() -> Column:
    """Rows dispatch keeps: every non-response record, and responses
    with HTTP status 200 (a missing status is not 200).  Applied BEFORE
    the capture dedupe, so a non-200 capture never competes: a newer
    404 of a URI cannot evict its older 200."""
    return ((F.col("warc_type") != "response")
            | (F.col("http_status") == 200))


def dispatch_spans(recs: DataFrame, dedupe: bool = True) -> DataFrame:
    """Typed WARC record rows -> ONE unified contract span table
    ``(doc_id, spans array<struct<kind,text,media_ref,offset>>)``,
    routed by effective media type: ``text/html`` responses through
    the ``html_to_spans`` bridge, EPUB responses through
    ``epub.epub_to_spans``, and the binary families through one routed
    pass (``_binary_spans``): ``application/pdf`` through the
    whole-file parser chain, WordprocessingML / PresentationML /
    SpreadsheetML through the office parsers, and standalone image
    ``resource`` records as single-media-span documents.  doc_id =
    WARC-Target-URI throughout (the crawl-native identity).

    This is the 'one segment, any payload' move a crawl-shaped corpus
    needs: a mixed container lands on the BASELINE.json input_hint
    schema in one job, and every downstream plan (plans/fused.py
    extraction, dedup, curation, sampling) runs unchanged on the
    union.  The reference pipeline reads *.pdf paths only
    (reference src/pipeline.py:56-78, glob over a directory); the
    mime column generalizes that file-extension dispatch to typed
    crawl records.

    Shape: with ``dedupe`` (default) the record rows pay ONE shuffle —
    the latest-capture-per-URI ``dedupe_captures`` aggregation, which
    crawl semantics require (see its docstring).  After it the plan is
    a union of three map-only branches (html, epub, the binary pass)
    with no exchange and no join (plan-asserted in
    tests/test_plan_shapes.py and tests/test_warc.py): every family
    kernel takes milliseconds per file, so the cost to save is the
    planning and the per-branch Python round trip, not the kernels.

    The input must be a landed, deduped records table passed with
    ``dedupe=False``, or use ``warc_dispatch_spans``: over an
    un-landed ``records_from_warc`` plan every branch re-runs the
    container parse, and an in-plan dedupe re-runs its exchange once
    per branch."""
    from ..corpus import SPAN_SCHEMA  # local: corpus loads pandas
    from .epub import epub_to_spans
    from .html import html_to_spans

    recs = recs.where(_status_ok())
    if dedupe:
        recs = dedupe_captures(recs)
    resp = recs.where(F.col("warc_type") == "response")
    html = html_to_spans(
        resp.where(F.col("content_type").isin(*HTML_MIMES))
            .select(F.col("target_uri").alias("doc_id"),
                    F.col("text").alias("html")))
    epub = epub_to_spans(
        resp.where(F.col("content_type") == EPUB_MIME)
            .select(F.col("target_uri").alias("doc_id"),
                    F.col("payload").alias("epub")))
    binary = file_pass(
        recs.where(((F.col("warc_type") == "response")
                    & F.col("content_type").isin(*_BINARY_MIMES))
                   | ((F.col("warc_type") == "resource")
                      & F.col("content_type").startswith("image/"))),
        "target_uri", ["content_type", "payload"], SPAN_SCHEMA,
        _binary_spans)
    return html.unionByName(binary).unionByName(epub)


def _binary_spans(uri: str | None, ctype: str, blob: bytes | None
                  ) -> list[tuple]:
    """One binary payload -> its ``(spans,)`` dispatch row, by media
    type, through the same in-process kernels as the family bridges:

    - a PDF takes ``pdffile.file_pages`` -> ``pdfstream.doc_spans``
      (`pdffile.files_to_spans`); a file whose parse raises or that
      yields no spans emits no row;
    - a docx, pptx or xlsx file is ``filepass.element_spans`` over its
      parser and always emits a row, empty for a damaged container;
    - an image ``resource`` is one media span whose ``media_ref`` is
      the URI and whose ``text`` is the header metadata
      ``multimodal.sniff_image`` reads from the container bytes (no
      codec, no decode): '<mime> <width>x<height>' (e.g. 'image/png
      16x9'), the mime alone when the header gives no size, '' for an
      unknown signature."""
    from .docx import parse_docx
    from .multimodal import sniff_image
    from .pdffile import file_pages
    from .pdfstream import doc_spans
    from .pptx import parse_pptx
    from .xlsx import parse_xlsx

    blob = blob or b""
    if ctype == PDF_MIME:
        pages = file_pages(blob)
        spans = doc_spans(pages) if pages else None
        return [(spans,)] if spans else []
    office = {DOCX_MIME: parse_docx, PPTX_MIME: parse_pptx,
              XLSX_MIME: parse_xlsx}.get(ctype)
    if office is not None:
        return [(element_spans(office(blob)),)]
    mime, width, height, _depth = sniff_image(blob)
    text = "" if mime is None else mime if width is None else \
        mime + " " + "x".join(str(v) for v in (width, height)
                              if v is not None)
    return [([{"kind": "media", "text": text, "media_ref": uri,
               "offset": 0}],)]


def warc_dispatch_spans(files: DataFrame,
                        stage_dir: str | None = None) -> DataFrame:
    """WARC container files -> unified contract spans across ALL
    payload types.  The container bytes are parsed and the revisit
    captures deduped ONCE, and the DEDUPED records are what lands: with ``stage_dir`` as parquet (each family branch then
    reads only its rows/columns from the landed table, min/max +
    dictionary pruning on ``content_type``), otherwise via an eager
    ``localCheckpoint``, so the three dispatch branches (html, epub,
    the routed binary pass) are pure map stages over storage.

    Landing AFTER the dedupe matters: the branches filter on
    ``warc_type``, which is a dedupe GROUPING key, so Catalyst legally
    pushes each branch's filter through the aggregate — the branches'
    dedupe subplans stop being identical, exchange reuse never fires,
    and an un-landed composition re-runs the dedupe shuffle once per
    branch.  With the deduped table landed there is exactly ONE parse
    and ONE dedupe exchange in the whole job.

    For production runs prefer ``stage_dir`` (durable parquet,
    survives executor loss; localCheckpoint storage does not)."""
    recs = dedupe_captures(records_from_warc(files).where(_status_ok()))
    if stage_dir is not None:
        recs.write.mode("overwrite").parquet(stage_dir)
        recs = files.sparkSession.read.parquet(stage_dir)
    else:
        recs = recs.localCheckpoint(eager=True)
    return dispatch_spans(recs, dedupe=False)


def build_one_mixed_warc(doc: int, text: str, html: str) -> bytes:
    """Mixed-payload WARC file: one 200 response whose body is
    doc%4-selected — 0: the caller-supplied HTML page (utf-8),
    1: a complete PDF file (``pdffile.build_pdf``), 2: a DOCX
    container (``docx.build_one_docx``), 3: a PPTX deck
    (``pptx.build_one_pptx``) — plus a PNG ``resource`` record on
    doc%5==0 and per-record gzip members on odd docs.  Plain
    Content-Length framing throughout: the transfer-coding / charset
    / entity-gzip axes are ``build_one_warc``'s gates; this builder
    gates the ROUTING."""
    from .docx import build_one_docx
    from .pdffile import build_pdf
    from .pptx import build_one_pptx

    uri = f"https://host{doc % 10}.example/doc/{doc}"
    date = f"2026-08-{1 + doc % 28:02d}T12:00:00Z"
    rid = f"<urn:uuid:{doc:032d}>"
    base = [("WARC-Date", date), ("WARC-Record-ID", rid)]
    fam = doc % 4
    if fam == 0:
        body = html.encode("utf-8")
        ctype = "text/html; charset=utf-8"
    elif fam == 1:
        body, ctype = build_pdf(doc, text), PDF_MIME
    elif fam == 2:
        body, ctype = build_one_docx(doc, text), DOCX_MIME
    else:
        body, ctype = build_one_pptx(doc, text), PPTX_MIME
    head = ["HTTP/1.1 200 OK", f"Content-Type: {ctype}",
            f"Content-Length: {len(body)}"]
    resp_msg = ("\r\n".join(head) + "\r\n\r\n").encode("ascii") + body
    records = [warc_record(
        "response",
        base + [("WARC-Target-URI", uri),
                ("Content-Type",
                 "application/http;msgtype=response")],
        resp_msg)]
    if doc % 5 == 0:
        records.append(warc_record(
            "resource",
            base + [("WARC-Target-URI", uri + "/logo.png"),
                    ("Content-Type", "image/png")],
            synth_png(16 + doc % 8, 9 + doc % 5)))
    if doc % 2 == 1:
        return b"".join(gzip_bytes(r) for r in records)
    return b"".join(records)


def build_mixed_warc_files(docs: DataFrame) -> DataFrame:
    """(doc_id, text, html) -> (warc_id, warc binary) via the mixed
    writer; the html page column is caller-supplied so the gate keeps
    ONE source of truth for the synthetic page (the same expression
    DuckDB evaluates).  One map-only Arrow pass."""
    return file_pass(
        docs, "doc_id", [F.coalesce(F.col(c), F.lit(""))
                         for c in ("text", "html")],
        "warc_id string, warc binary",
        lambda key, text, html: [
            (build_one_mixed_warc(id_number(key), text, html),)])
