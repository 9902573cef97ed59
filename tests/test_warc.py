"""WARC container layer (operators/warc.py): record framing, HTTP
decoding, charset resolution, the spans bridge, and the map-only plan
shape.  The exact-value gate is ``warc_records``/``warc_pages``
(queries_warc.py, DuckDB closed-form oracle); these units pin the
spec edges the arithmetic writer doesn't reach."""

import zlib

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.warc import (
    build_one_warc, build_warc_files, chunkify, content_decode,
    dechunk, decode_text, flatten_records, gunzip_members,
    gzip_bytes, parse_http, parse_warc, records_from_warc,
    resolve_charset, synth_png, warc_record, warc_to_pages,
    warc_to_spans)

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------ record layer

def test_roundtrip_plain_and_gzipped_members():
    recs = [warc_record("warcinfo", [("X-A", "1")], b"k: v\r\n"),
            warc_record("resource",
                        [("WARC-Target-URI", "https://e/x")],
                        b"payload bytes")]
    plain = b"".join(recs)
    gz = b"".join(gzip_bytes(r) for r in recs)
    whole = gzip_bytes(plain)          # single-member whole-file gzip
    for blob in (plain, gz, whole):
        out = parse_warc(blob)
        assert [r["headers"]["warc-type"] for r in out] == \
            ["warcinfo", "resource"]
        assert out[1]["block"] == b"payload bytes"


def test_header_folding_and_case():
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"X-Long: part one\r\n    part two\r\n"
           b"CONTENT-LENGTH: 2\r\n\r\nab\r\n\r\n")
    out = parse_warc(rec)
    assert out[0]["headers"]["x-long"] == "part one part two"
    assert out[0]["block"] == b"ab"


def test_lf_only_writer_tolerated():
    rec = (b"WARC/1.0\nWARC-Type: metadata\nContent-Length: 3\n\n"
           b"xyz\n\n")
    out = parse_warc(rec)
    assert out[0]["block"] == b"xyz"


def test_salvage_skips_damaged_record():
    good = warc_record("resource", [], b"ok")
    bad = b"WARC/1.0\r\nWARC-Type: junk\r\nContent-Length: NaN\r\n\r\n"
    out = parse_warc(bad + good)
    assert len(out) == 1 and out[0]["block"] == b"ok"


def test_truncated_final_record_dropped():
    good = warc_record("resource", [], b"ok")
    trunc = warc_record("resource", [], b"0123456789")[:-14]
    out = parse_warc(good + trunc)
    # the truncated record frames short; only the intact one must
    # survive with correct content
    assert out[0]["block"] == b"ok"


# -------------------------------------------------------- HTTP layer

def test_dechunk_with_extensions_and_trailer():
    body = (b"4;ext=1\r\nWiki\r\n5\r\npedia\r\n0\r\n"
            b"Trailer: x\r\n\r\n")
    assert dechunk(body) == b"Wikipedia"


def test_content_decode_deflate_both_flavors():
    raw = b"deflate me" * 5
    assert content_decode(zlib.compress(raw), "deflate") == raw
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    assert content_decode(co.compress(raw) + co.flush(),
                          "deflate") == raw
    assert content_decode(b"not compressed", "br") == \
        b"not compressed"    # unknown coding passes through


def test_parse_http_request_vs_response():
    st, hd, body = parse_http(
        b"GET / HTTP/1.1\r\nHost: e\r\n\r\n")
    assert st is None and hd["host"] == "e" and body == b""
    st, hd, body = parse_http(
        b"HTTP/1.1 301 Moved\r\nLocation: /b\r\n\r\nx")
    assert st == 301 and hd["location"] == "/b" and body == b"x"


# ----------------------------------------------------------- charset

@pytest.mark.parametrize("ct,body,exp", [
    ("text/html; charset=UTF-8", b"x", ("utf-8", "http")),
    ("text/html; charset=latin1", b"x", ("iso-8859-1", "http")),
    ("text/html", b'<meta charset="windows-1252">x',
     ("windows-1252", "meta")),
    ("text/html",
     b'<meta http-equiv="Content-Type" content="text/html; '
     b'charset=iso8859-1">', ("iso-8859-1", "meta")),
    ("text/html", b"\xef\xbb\xbfhello", ("utf-8", "bom")),
    ("text/html", b"\xff\xfeh\x00", ("utf-16-le", "bom")),
    ("text/html", b"plain", ("utf-8", "default")),
])
def test_resolve_charset(ct, body, exp):
    assert resolve_charset(ct, body) == exp


def test_decode_strips_utf8_bom_and_replaces_garbage():
    assert decode_text(b"\xef\xbb\xbfhi", "utf-8") == "hi"
    assert "�" in decode_text(b"\xff\xff", "utf-8")
    # unknown charset label falls back to utf-8
    assert decode_text(b"ok", "x-bogus") == "ok"


# --------------------------------------------------- writer coverage

def test_writer_variants_flatten_closed_form():
    for doc in range(0, 84):        # covers lcm(2,3,4,5,6,7) span
        rows = flatten_records(str(doc),
                               build_one_warc(doc, f"t{doc} body"))
        assert len(rows) == (4 if doc % 6 == 0 else 3)
        resp = rows[2]
        assert resp[6] == (404 if doc % 7 == 0 else 200)
        assert "café" in resp[10]
        if doc % 6 == 0:
            assert rows[3][11][:8] == b"\x89PNG\r\n\x1a\n"
            assert rows[3][9] == 45


def test_gzip_chunked_combination_decodes():
    # doc 20: %4==0 (gzip) and %5==0 (chunked) — wire order gzip
    # first then chunk; decode must de-chunk first then gunzip
    rows = flatten_records("20", build_one_warc(20, "combined"))
    assert rows[2][10].startswith("<html><head><title>W20")


def test_chunkify_dechunk_roundtrip():
    payload = bytes(range(256)) * 7
    assert dechunk(chunkify(payload, 37)) == payload
    assert dechunk(chunkify(b"", 8)) == b""


def test_synth_png_fixed_length():
    assert len(synth_png(16, 9)) == 45
    assert len(synth_png(4000, 3000)) == 45


# ------------------------------------------------------- Spark layer

@pytest.fixture(scope="module")
def docs(spark):
    # filter, not limit: GlobalLimit inserts a SinglePartition
    # Exchange that would pollute the map-only plan assertions below
    return spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 60).select("doc_id", "text")


def test_records_from_warc_spark(spark, docs):
    recs = records_from_warc(build_warc_files(docs))
    got = {r["rec_idx"]: r for r in
           recs.where(F.col("warc_id") == "12").collect()}
    assert got[2]["http_status"] == 200
    assert got[2]["charset"] == "utf-8"      # 12%3==0 -> http param
    assert got[3]["content_type"] == "image/png"
    assert bytes(got[3]["payload"])[:8] == b"\x89PNG\r\n\x1a\n"


def test_warc_to_pages_filters_errors(spark, docs):
    pages = warc_to_pages(build_warc_files(docs))
    ids = [int(u.rsplit("/", 1)[1])
           for u in [r["doc_id"] for r in pages.collect()]]
    assert ids and all(i % 7 != 0 for i in ids)


def test_warc_to_spans_contract_schema(spark, docs):
    spans = warc_to_spans(build_warc_files(docs))
    assert [f.name for f in spans.schema.fields] == \
        ["doc_id", "spans"]
    row = spans.where(
        F.col("doc_id").endswith("/doc/1")).collect()[0]
    kinds = [s["kind"] for s in row["spans"]]
    offs = [s["offset"] for s in row["spans"]]
    assert set(kinds) <= {"text", "media"}
    assert offs == list(range(len(offs)))    # gapless, ordered
    # the long content paragraph survives verbatim (whitespace
    # collapsed); the short 'café N' p is policy-dropped by the gated
    # html block classifier (MIN_TEXT_LEN)
    import re
    exp = docs.where(F.col("doc_id") == 1).collect()[0]["text"]
    assert re.sub(r"\s+", " ", exp).strip() in \
        " ".join(s["text"] for s in row["spans"])


def test_records_plan_is_map_only(spark, docs):
    plan = records_from_warc(build_warc_files(docs)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 2    # writer + parser passes


def test_spans_bridge_plan_is_map_only(spark, docs):
    plan = warc_to_spans(build_warc_files(docs)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------ fuzz sample

def test_fuzz_warc_sample():
    """50-seed sample of the by-construction campaign
    (tools/fuzz_warc.py — 0 mismatches across the committed ranges)."""
    import sys as _sys
    _sys.path.insert(0, "tools")
    from fuzz_warc import check_seed
    for seed in range(50):
        assert check_seed(seed) == []


# ------------------------------------------------- mime dispatch

def _mixed(spark, docs):
    from pdf_extraction_spark.operators.warc import \
        build_mixed_warc_files
    from pdf_extraction_spark.queries_html import _media_page_expr
    pages = docs.select(
        "doc_id", F.expr("COALESCE(text, '')").alias("t")) \
        .select("doc_id", F.col("t").alias("text"),
                F.expr(_media_page_expr("CAST(doc_id AS STRING)"))
                 .alias("html"))
    return build_mixed_warc_files(pages)


def test_dispatch_routes_every_family(spark, docs):
    from pdf_extraction_spark.operators.warc import warc_dispatch_spans
    spans = warc_dispatch_spans(_mixed(spark, docs))
    rows = {r["doc_id"]: r["spans"] for r in spans.collect()}
    html = rows["https://host4.example/doc/4"]       # 4%4==0
    pdf = rows["https://host1.example/doc/1"]        # 1%4==1
    docx = rows["https://host2.example/doc/2"]       # 2%4==2
    pptx = rows["https://host3.example/doc/3"]       # 3%4==3
    logo = rows["https://host5.example/doc/5/logo.png"]  # 5%5==0
    assert any(s["kind"] == "media" and
               s["media_ref"].startswith("img://4/") for s in html)
    assert [s["media_ref"] for s in pdf if s["kind"] == "media"] == \
        ["Im0"]
    assert docx[0]["text"] == "Doc 2 title"
    assert pptx[0]["text"] == "Deck 3 title"
    assert pptx[2]["media_ref"] == "ppt/media/image1.png"  # 3%3==0
    assert len(logo) == 1 and logo[0]["kind"] == "media" and \
        logo[0]["media_ref"].endswith("/doc/5/logo.png")
    for sp in rows.values():                  # contract invariants
        assert [s["offset"] for s in sp] == list(range(len(sp)))


def test_dispatch_matches_direct_family_parsers(spark, docs):
    """Routing through the container must yield byte-identical spans
    to running each family's parser on the payload directly."""
    from pdf_extraction_spark.operators.docx import (build_docx_files,
                                                     docx_to_spans)
    from pdf_extraction_spark.operators.pdffile import (
        build_pdf_files, files_to_spans)
    from pdf_extraction_spark.operators.warc import warc_dispatch_spans

    got = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in
           warc_dispatch_spans(_mixed(spark, docs)).collect()}

    pdf_docs = docs.where(F.col("doc_id") % 4 == 1)
    for r in files_to_spans(build_pdf_files(pdf_docs)).collect():
        n = int(r["doc_id"])
        uri = f"https://host{n % 10}.example/doc/{n}"
        assert got[uri] == [tuple(s) for s in r["spans"]], uri

    docx_docs = docs.where(F.col("doc_id") % 4 == 2)
    for r in docx_to_spans(build_docx_files(docx_docs)).collect():
        n = int(r["doc_id"])
        uri = f"https://host{n % 10}.example/doc/{n}"
        assert got[uri] == [tuple(s) for s in r["spans"]], uri

    from pdf_extraction_spark.operators.pptx import (build_pptx_files,
                                                     pptx_to_spans)
    pptx_docs = docs.where(F.col("doc_id") % 4 == 3)
    for r in pptx_to_spans(build_pptx_files(pptx_docs)).collect():
        n = int(r["doc_id"])
        uri = f"https://host{n % 10}.example/doc/{n}"
        assert got[uri] == [tuple(s) for s in r["spans"]], uri


def test_dispatch_staged_equals_direct(spark, docs, tmp_path):
    from pdf_extraction_spark.operators.warc import warc_dispatch_spans
    key = lambda r: r["doc_id"]  # noqa: E731
    direct = sorted(warc_dispatch_spans(_mixed(spark, docs)).collect(),
                    key=key)
    staged = sorted(warc_dispatch_spans(
        _mixed(spark, docs),
        stage_dir=str(tmp_path / "recs")).collect(), key=key)
    assert direct == staged


def test_dispatch_plan_no_joins(spark, docs):
    from pdf_extraction_spark.operators.warc import warc_dispatch_spans
    plan = warc_dispatch_spans(_mixed(spark, docs)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan


def test_xhtml_xml_mime_routes_to_pages(spark):
    """RFC 3236 application/xhtml+xml responses must reach the page
    bridge (it is textual-decoded either way; dropping it at the
    routing filter silently loses every XHTML page in a crawl)."""
    body = ("<html><body><p>" + "x" * 60 + "</p></body></html>") \
        .encode()
    msg = (b"HTTP/1.1 200 OK\r\n"
           b"Content-Type: application/xhtml+xml; charset=utf-8\r\n"
           b"Content-Length: %d\r\n\r\n" % len(body)) + body
    blob = warc_record(
        "response",
        [("WARC-Target-URI", "https://h.example/x"),
         ("Content-Type", "application/http;msgtype=response")], msg)
    files = spark.createDataFrame([("w1", bytearray(blob))],
                                  "warc_id string, warc binary")
    pages = warc_to_pages(files).collect()
    assert len(pages) == 1 and "x" * 60 in pages[0]["html"]


def test_dispatch_dedupes_revisit_captures(spark):
    """Two response captures of one URI (revisits are routine in
    crawl segments) must not collide into one corrupted document:
    the latest capture by (WARC-Date, warc_id, rec_idx) wins."""
    from pdf_extraction_spark.operators.warc import (dispatch_spans,
                                                     records_from_warc,
                                                     warc_record)

    def resp(date: str, text: str) -> bytes:
        body = f"<html><body><p>{text} {'x' * 60}</p></body>" \
            "</html>".encode()
        msg = (b"HTTP/1.1 200 OK\r\n"
               b"Content-Type: text/html; charset=utf-8\r\n"
               b"Content-Length: %d\r\n\r\n" % len(body)) + body
        return warc_record(
            "response",
            [("WARC-Target-URI", "https://h.example/page"),
             ("WARC-Date", date),
             ("Content-Type", "application/http;msgtype=response")],
            msg)

    blob = resp("2026-01-01T00:00:00Z", "OLD") + \
        resp("2026-06-01T00:00:00Z", "NEW")
    files = spark.createDataFrame([("w1", bytearray(blob))],
                                  "warc_id string, warc binary")
    rows = dispatch_spans(records_from_warc(files)).collect()
    assert len(rows) == 1
    texts = " ".join(s["text"] for s in rows[0]["spans"])
    assert "NEW" in texts and "OLD" not in texts
    # and with dedupe off the collision is visible (two rows)
    rows2 = dispatch_spans(records_from_warc(files),
                           dedupe=False).collect()
    assert len(rows2) == 2


def test_dispatch_dedupe_keeps_request_response_distinct(spark):
    """Request records share WARC-Target-URI with their response;
    deduping on URI alone could keep the request and drop the
    payload — warc_type is part of the dedupe key."""
    from pdf_extraction_spark.operators.warc import (dispatch_spans,
                                                     records_from_warc,
                                                     warc_record)
    body = b"<html><body><p>" + b"y" * 60 + b"</p></body></html>"
    msg = (b"HTTP/1.1 200 OK\r\n"
           b"Content-Type: text/html; charset=utf-8\r\n"
           b"Content-Length: %d\r\n\r\n" % len(body)) + body
    req = warc_record(
        "request",
        [("WARC-Target-URI", "https://h.example/p"),
         ("WARC-Date", "2026-06-01T00:00:00Z"),
         ("Content-Type", "application/http;msgtype=request")],
        b"GET /p HTTP/1.1\r\nHost: h.example\r\n\r\n")
    rsp = warc_record(
        "response",
        [("WARC-Target-URI", "https://h.example/p"),
         ("WARC-Date", "2026-01-01T00:00:00Z"),
         ("Content-Type", "application/http;msgtype=response")],
        msg)
    files = spark.createDataFrame([("w1", bytearray(rsp + req))],
                                  "warc_id string, warc binary")
    rows = dispatch_spans(records_from_warc(files)).collect()
    assert len(rows) == 1 and \
        "y" * 60 in rows[0]["spans"][0]["text"]


def test_dispatch_media_spans_carry_sniffed_meta(spark, docs):
    """Standalone image resources surface header-sniffed
    '<mime> <w>x<h>' metadata in the media span's text (doc 5's
    logo is synth_png(16+5%8, 9+5%5) = 21x9)."""
    from pdf_extraction_spark.operators.warc import warc_dispatch_spans
    rows = {r["doc_id"]: r["spans"] for r in
            warc_dispatch_spans(_mixed(spark, docs)).collect()}
    logo = rows["https://host5.example/doc/5/logo.png"]
    assert logo[0]["kind"] == "media"
    assert logo[0]["text"] == "image/png 21x9"


def test_dispatch_lands_records_once_by_default(spark, docs):
    """By default the container parse is materialized once
    (localCheckpoint) before the family branches fan out — the
    original files scan must not appear once per family in the
    executed plan."""
    from pdf_extraction_spark.operators.warc import warc_dispatch_spans
    landed = warc_dispatch_spans(_mixed(spark, docs))
    plan = landed._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan


def test_dedupe_latest_capture_wins_out_of_order(spark):
    """Captures of one URI arriving out of date order: the latest
    (by WARC-Date) wins wherever it sits in the segment, and a URI
    with a single capture is kept as is."""
    from pdf_extraction_spark.operators.warc import (dedupe_captures,
                                                     records_from_warc,
                                                     warc_record)

    def resp(uri: str, date: str, text: str) -> bytes:
        body = f"<html><body><p>{text}</p></body></html>".encode()
        msg = (b"HTTP/1.1 200 OK\r\n"
               b"Content-Type: text/html; charset=utf-8\r\n"
               b"Content-Length: %d\r\n\r\n" % len(body)) + body
        return warc_record(
            "response",
            [("WARC-Target-URI", uri), ("WARC-Date", date),
             ("Content-Type", "application/http;msgtype=response")],
            msg)

    blob = b"".join([
        resp("https://h.example/a", "2026-01-01T00:00:00Z", "a-old"),
        resp("https://h.example/a", "2026-05-01T00:00:00Z", "a-new"),
        resp("https://h.example/b", "2026-02-01T00:00:00Z", "b-only"),
        resp("https://h.example/a", "2026-03-01T00:00:00Z", "a-mid"),
    ])
    files = spark.createDataFrame([("w1", bytearray(blob))],
                                  "warc_id string, warc binary")
    out = dedupe_captures(records_from_warc(files)).collect()
    assert len(out) == 2
    texts = {r["target_uri"]: r["text"] for r in out}
    assert "a-new" in texts["https://h.example/a"]
    assert "b-only" in texts["https://h.example/b"]


def test_dedupe_passes_through_null_uri_records(spark):
    """warcinfo/metadata records carry no WARC-Target-URI — they have
    no capture identity, so dedupe must pass them through untouched,
    not drop them or collapse them into one NULL-key group."""
    from pdf_extraction_spark.operators.warc import (dedupe_captures,
                                                     records_from_warc,
                                                     warc_record)
    info1 = warc_record("warcinfo", [("WARC-Date", "2026-01-01T00:00:00Z")],
                        b"software: testwriter 1\r\n")
    info2 = warc_record("warcinfo", [("WARC-Date", "2026-01-02T00:00:00Z")],
                        b"software: testwriter 2\r\n")
    body = b"<html><body><p>" + b"z" * 60 + b"</p></body></html>"
    msg = (b"HTTP/1.1 200 OK\r\n"
           b"Content-Type: text/html; charset=utf-8\r\n"
           b"Content-Length: %d\r\n\r\n" % len(body)) + body
    rsp = warc_record(
        "response",
        [("WARC-Target-URI", "https://h.example/z"),
         ("Content-Type", "application/http;msgtype=response")], msg)
    files = spark.createDataFrame(
        [("w1", bytearray(info1 + info2 + rsp))],
        "warc_id string, warc binary")
    out = dedupe_captures(records_from_warc(files)).collect()
    types = sorted(r["warc_type"] for r in out)
    assert types == ["response", "warcinfo", "warcinfo"]


def test_dedupe_collapses_exact_duplicate_segments(spark):
    """The same segment fed twice (duplicate warc_id rows) gives two
    record copies with IDENTICAL capture identity: they collapse to
    one row, and the document is kept."""
    from pdf_extraction_spark.operators.warc import (dedupe_captures,
                                                     records_from_warc,
                                                     warc_record)
    body = b"<html><body><p>" + b"q" * 60 + b"</p></body></html>"
    msg = (b"HTTP/1.1 200 OK\r\n"
           b"Content-Type: text/html; charset=utf-8\r\n"
           b"Content-Length: %d\r\n\r\n" % len(body)) + body
    blob = warc_record(
        "response",
        [("WARC-Target-URI", "https://h.example/dup"),
         ("WARC-Date", "2026-01-01T00:00:00Z"),
         ("Content-Type", "application/http;msgtype=response")], msg)
    files = spark.createDataFrame(
        [("w1", bytearray(blob)), ("w1", bytearray(blob))],
        "warc_id string, warc binary")
    out = dedupe_captures(records_from_warc(files)).collect()
    assert len(out) == 1
    assert out[0]["target_uri"] == "https://h.example/dup"


def test_dedupe_surrogate_key_immune_to_crafted_nul_uri(spark):
    """Header bytes are attacker-controlled: a real WARC-Target-URI
    crafted to equal a NULL-URI record's surrogate group key (NUL +
    warc_id + NUL + rec_idx) must not merge with the warcinfo
    record's passthrough group — the isNull flag in the grouping key
    keeps the two spaces disjoint."""
    from pdf_extraction_spark.operators.warc import (dedupe_captures,
                                                     records_from_warc,
                                                     warc_record)
    info = warc_record("warcinfo",
                       [("WARC-Date", "2026-01-01T00:00:00Z")],
                       b"software: w\r\n")
    # rec_idx of the crafted record is 1 (second record); the
    # warcinfo's surrogate is "\x00w1\x000" (rec_idx 0) — craft the
    # URI to match exactly that
    crafted = warc_record(
        "warcinfo",
        [("WARC-Target-URI", "\x00w1\x000"),
         ("WARC-Date", "2026-06-01T00:00:00Z")],
        b"software: evil\r\n")
    files = spark.createDataFrame([("w1", bytearray(info + crafted))],
                                  "warc_id string, warc binary")
    out = dedupe_captures(records_from_warc(files)).collect()
    # both records survive: the crafted URI dedupes in the URI space,
    # the true warcinfo passes through in the surrogate space
    assert len(out) == 2


def _html_capture(uri: str, date: str, text: str,
                  status: bytes = b"200 OK") -> bytes:
    from pdf_extraction_spark.operators.warc import warc_record
    body = f"<html><body><p>{text} {'x' * 60}</p></body></html>".encode()
    msg = (b"HTTP/1.1 " + status + b"\r\n"
           b"Content-Type: text/html; charset=utf-8\r\n"
           b"Content-Length: %d\r\n\r\n" % len(body)) + body
    return warc_record(
        "response",
        [("WARC-Target-URI", uri), ("WARC-Date", date),
         ("Content-Type", "application/http;msgtype=response")], msg)


def test_dispatch_newer_404_does_not_evict_older_200(spark):
    """With ok_only (the default) a non-200 capture takes no part in
    the dedupe: a URI whose newest capture is a 404 still dispatches
    its older 200, through both dispatch entry points."""
    from pdf_extraction_spark.operators.warc import (dispatch_spans,
                                                     records_from_warc,
                                                     warc_dispatch_spans)
    uri = "https://h.example/gone"
    blob = (_html_capture(uri, "2026-01-01T00:00:00Z", "ALIVE")
            + _html_capture(uri, "2026-06-01T00:00:00Z", "MISSING",
                            b"404 Not Found"))
    files = spark.createDataFrame([("w1", bytearray(blob))],
                                  "warc_id string, warc binary")
    for rows in (warc_dispatch_spans(files).collect(),
                 dispatch_spans(records_from_warc(files)).collect()):
        assert [r["doc_id"] for r in rows] == [uri]
        texts = " ".join(s["text"] for s in rows[0]["spans"])
        assert "ALIVE" in texts and "MISSING" not in texts


def test_dedupe_compares_dates_as_instants(spark):
    """'...:00.500Z' is later than '...:00Z' although it sorts lower as
    a string; a garbage WARC-Date parses to NULL instead of failing
    the task, and loses to a parseable date of the same URI."""
    from pdf_extraction_spark.operators.warc import (dedupe_captures,
                                                     records_from_warc)
    a, b = "https://h.example/a", "https://h.example/b"
    blob = (_html_capture(a, "2026-01-01T00:00:00Z", "OLD")
            + _html_capture(a, "2026-01-01T00:00:00.500Z", "NEW")
            + _html_capture(b, "2026-01-01T00:00:00Z", "DATED")
            + _html_capture(b, "not a date \x7f 99:99", "GARBAGE"))
    files = spark.createDataFrame([("w1", bytearray(blob))],
                                  "warc_id string, warc binary")
    texts = {r["target_uri"]: r["text"]
             for r in dedupe_captures(records_from_warc(files)).collect()}
    assert "NEW" in texts[a] and "OLD" not in texts[a]
    assert "DATED" in texts[b]
