"""By-construction fuzz for the WARC container layer (committed so
the campaign is reproducible — usage: python tools/fuzz.py warc LO HI).

Each seed builds one WARC file with randomized structure and compares
``operators/warc.flatten_records`` output against ground truth known
at construction — no second parser implementation:

- 1-8 records per file: resource records with random BINARY blocks
  that deliberately embed ``\\r\\nWARC/`` bait (Content-Length framing
  must never scan inside a well-framed block), and HTTP response
  records with a random charset channel (HTTP param / meta prescan /
  UTF-8 BOM / default), random charset (utf-8, iso-8859-1,
  windows-1252), random ``Transfer-Encoding: chunked`` at a random
  chunk size, random ``Content-Encoding`` (gzip / deflate / none),
  random status code, and bodies built from characters encodable in
  the chosen charset;
- container variants: plain concatenation, per-record gzip members
  (the .warc.gz convention), whole-file single-member gzip;
- random CRLF/LF line-ending mix per record, random header-name case,
  random folded header, random ASCII padding between records (no
  'WARC/' substring, exercising the inter-record skip).

The pure-Python layer is fuzzed directly (no Spark session), so the
campaign runs ~10k seeds/min.
"""
from __future__ import annotations

import random

from pdf_extraction_spark.operators.warc import chunkify, gzip_bytes
from tools.fuzz_docx import rand_text

_CS_CHARS = {
    "utf-8": "abc XYZ 09 .,;-é漢字→",
    "iso-8859-1": "abc XYZ 09 .,;-éñ¿÷",
    "windows-1252": "abc XYZ 09 .,;-é€™œ",
}
_PAD_CHARS = "abcdefgh .,!?-=#"


def _mk_record(rng: random.Random, head_lines: list[str],
               block: bytes) -> bytes:
    eol = rng.choice(["\r\n", "\r\n", "\n"])
    lines = []
    for ln in head_lines:
        if ":" in ln and rng.random() < 0.3:
            name, _, val = ln.partition(":")
            name = name.upper() if rng.random() < 0.5 else name.lower()
            ln = name + ":" + val
        lines.append(ln)
    if rng.random() < 0.3:
        lines.insert(rng.randrange(1, len(lines) + 1),
                     "X-Folded: a" + eol + " b")
    head = eol.join(lines) + eol + f"Content-Length: {len(block)}" \
        + eol + eol
    return head.encode("latin-1") + block + b"\r\n\r\n"


def gen_case(seed: int) -> tuple[bytes, list[dict]]:
    """(file bytes, expected records) — expected dicts hold the
    fields flatten_records must reproduce."""
    rng = random.Random(515000 + seed)
    recs: list[bytes] = []
    expected: list[dict] = []
    for ri in range(rng.randrange(1, 9)):
        uri = f"https://h{rng.randrange(100)}.example/p/{ri}"
        if rng.random() < 0.35:
            # binary resource with framing bait
            body = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(0, 400)))
            if rng.random() < 0.5:
                cut = rng.randrange(0, len(body) + 1)
                body = body[:cut] + b"\r\nWARC/1.0\r\n" + body[cut:]
            recs.append(_mk_record(
                rng,
                ["WARC/1.0", "WARC-Type: resource",
                 f"WARC-Target-URI: {uri}",
                 "Content-Type: application/octet-stream"],
                body))
            expected.append({"warc_type": "resource",
                             "target_uri": uri, "http_status": None,
                             "payload_len": len(body),
                             "text": None})
            continue
        # HTTP response record
        charset = rng.choice(list(_CS_CHARS))
        channel = rng.choice(["http", "meta", "bom", "default"])
        if channel == "bom":
            charset = "utf-8"
        if channel in ("meta", "default") and charset != "utf-8":
            # meta prescan needs the label in the body; default
            # channel implies utf-8 content
            channel = "meta"
        text = rand_text(rng, _CS_CHARS[charset], rng.randrange(5, 200))
        meta = (f'<meta charset="{charset}">'
                if channel == "meta" else "")
        html = f"<html><head>{meta}</head><body>{text}</body></html>"
        body = html.encode(charset)
        if channel == "bom":
            body = b"\xef\xbb\xbf" + body
        ctype = "text/html" + (f"; charset={charset}"
                               if channel == "http" else "")
        status = rng.choice([200, 200, 200, 301, 404, 500])
        head = [f"HTTP/1.1 {status} X", f"Content-Type: {ctype}"]
        exp_len = len(body)
        ce = rng.choice([None, None, "gzip", "deflate"])
        if ce == "gzip":
            body = gzip_bytes(body)
            head.append("Content-Encoding: gzip")
        elif ce == "deflate":
            import zlib
            body = zlib.compress(body)
            head.append("Content-Encoding: deflate")
        if rng.random() < 0.4:
            body = chunkify(body, rng.randrange(7, 99))
            head.append("Transfer-Encoding: chunked")
        else:
            head.append(f"Content-Length: {len(body)}")
        msg = ("\r\n".join(head) + "\r\n\r\n").encode("latin-1") + body
        recs.append(_mk_record(
            rng,
            ["WARC/1.1", "WARC-Type: response",
             f"WARC-Target-URI: {uri}",
             "Content-Type: application/http;msgtype=response"],
            msg))
        expected.append({"warc_type": "response", "target_uri": uri,
                         "http_status": status,
                         "payload_len": exp_len, "text": html})
    pads = [("".join(rng.choice(_PAD_CHARS)
                     for _ in range(rng.randrange(0, 30))) + "\r\n")
            .encode("ascii") if rng.random() < 0.2 else b""
            for _ in recs]
    container = rng.choice(["plain", "members", "whole"])
    if container == "members":
        blob = b"".join(gzip_bytes(p + r)
                        for p, r in zip(pads, recs))
    elif container == "whole":
        blob = gzip_bytes(b"".join(p + r
                                   for p, r in zip(pads, recs)))
    else:
        blob = b"".join(p + r for p, r in zip(pads, recs))
    return blob, expected
