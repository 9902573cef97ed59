"""Whole-PDF-file layer (`operators/pdffile.py`): object parser,
filters (+ predictors, chains), classic/stream xref with /Prev and
ObjStm, page-tree walk with inheritance, the damage-rebuild fallback,
the deterministic writer round trip, and the Spark kernels' plan
shapes.  The DuckDB oracle gates (queries_pdffile) prove the exact
values; these tests pin the spec branches unit-by-unit."""

from __future__ import annotations

import re
import zlib

import pytest

from pdf_extraction_spark.operators.pdffile import (
    PAD, PAGE1_TMPL, PAGE2_TMPL, SLICES, PdfFile, Ref, StreamObj,
    ascii85_decode, ascii_hex_decode, build_pdf, decode_stream,
    escape_literal, extract_pages, flate_decode, parse_indirect,
    parse_object, run_length_decode, _ascii85_encode,
    _run_length_encode, _png_up_encode)


# ----------------------------------------------------- object parser

def _parse(src: bytes):
    return parse_object(src, 0)[0]


def test_parse_primitives():
    assert _parse(b" 42 ") == 42
    assert _parse(b"-3.5") == -3.5
    assert _parse(b".25") == 0.25
    assert _parse(b"true") is True
    assert _parse(b"false") is False
    assert _parse(b"null") is None
    assert _parse(b"/Name") == "Name"
    assert _parse(b"/A#20B") == "A B"          # §7.3.5 #xx escape
    assert _parse(b"(lit (nested) \\(esc\\) \\\\ \\101)") \
        == "lit (nested) (esc) \\ A"
    assert _parse(b"<48455821>") == b"HEX!"
    assert _parse(b"<484 5582>") == b"HEX\x20"  # ws ignored, odd pads


def test_parse_ref_vs_int():
    assert _parse(b"1 0 R") == Ref(1, 0)
    assert _parse(b"[1 0 R 2 3 4 0 R]") == [Ref(1, 0), 2, 3, Ref(4, 0)]
    # trailing ints that are NOT a ref stay ints
    assert _parse(b"[1 2]") == [1, 2]
    assert _parse(b"[1 2 3]") == [1, 2, 3]
    # 'R' must be a standalone token: /R is a NAME, not a ref marker
    assert _parse(b"[1 0 /R]") == [1, 0, "R"]
    # a signed generation is still a ref; a signed int before a non-R
    # token stays an int
    assert _parse(b"[5 -3 R]") == [Ref(5, -3)]
    assert _parse(b"[5 +3 R]") == [Ref(5, 3)]
    assert _parse(b"[5 -3 7]") == [5, -3, 7]


def test_parse_dict_nested_and_comments():
    d = _parse(b"<< /A 1 % comment\n /B << /C (x) >> /D [/E] >>")
    assert d == {"A": 1, "B": {"C": "x"}, "D": ["E"]}


def test_parse_indirect_stream_direct_and_damaged_length():
    src = b"7 0 obj\n<< /Length 5 >>\nstream\nhello\nendstream\nendobj"
    obj = parse_indirect(src, 0, lambda x: x)
    assert isinstance(obj, StreamObj) and obj.raw == b"hello"
    # wrong /Length -> falls back to the endstream scan
    bad = src.replace(b"/Length 5", b"/Length 99")
    assert parse_indirect(bad, 0, lambda x: x).raw == b"hello"


def test_parse_indirect_stream_indirect_length():
    src = b"7 0 obj << /Length 9 0 R >> stream\nhello\nendstream endobj"
    obj = parse_indirect(src, 0,
                         lambda x: 5 if isinstance(x, Ref) else x)
    assert obj.raw == b"hello"


# ------------------------------------------------------------ filters

def test_filter_round_trips():
    data = bytes(range(256)) * 3 + b"runrunrunrun" + b"\x00" * 40
    assert flate_decode(zlib.compress(data)) == data
    assert ascii_hex_decode(data.hex().encode() + b">") == data
    assert ascii85_decode(_ascii85_encode(data)) == data
    assert run_length_decode(_run_length_encode(data)) == data


def test_ascii85_z_and_partial_group():
    assert ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    # 'sure' encodes to F*2M7 -> partial groups round-trip
    for n in range(1, 9):
        data = b"abcdefgh"[:n]
        assert ascii85_decode(_ascii85_encode(data)) == data


def test_run_length_long_runs_and_literals():
    data = b"x" * 300 + bytes(range(200)) + b"y" * 2
    assert run_length_decode(_run_length_encode(data)) == data


def test_png_predictors():
    # Up predictor: encode rows then decode through flate_decode
    table = bytes(range(25))
    enc = zlib.compress(_png_up_encode(table, 5))
    parms = {"Predictor": 12, "Columns": 5}
    assert flate_decode(enc, parms) == table
    # Sub/Average/Paeth decode paths via hand-built rows
    import pdf_extraction_spark.operators.pdffile as pf
    raw = b"\x01\x05\x03\x02" + b"\x03\x02\x02\x02" + b"\x04\x01\x01\x01"
    out = pf._png_predictor(raw, 1, 8, 3)
    assert len(out) == 9  # 3 rows x 3 cols, all filters accepted


def test_tiff_predictor_and_chain():
    import pdf_extraction_spark.operators.pdffile as pf
    # TIFF horizontal differencing: [10, +5, +5] -> [10, 15, 20]
    enc = zlib.compress(bytes([10, 5, 5]))
    assert flate_decode(enc, {"Predictor": 2, "Columns": 3}) \
        == bytes([10, 15, 20])
    # chained filters decode in /Filter order
    data = b"chained payload"
    raw = zlib.compress(data).hex().encode() + b">"
    stm = StreamObj({"Filter": ["ASCIIHexDecode", "FlateDecode"],
                     "Length": len(raw)}, raw)
    assert decode_stream(stm, lambda x: x) == data


def test_lzw_round_trip_and_width_growth():
    from pdf_extraction_spark.operators.pdffile import (
        lzw_decode, lzw_encode)

    # enough distinct material to push past the 9->10->11 bit widths
    data = bytes((i * 7 + j) & 0xFF for i in range(60)
                 for j in range(60))
    assert lzw_decode(lzw_encode(data)) == data
    # repetitive data hits the KwKwK case immediately
    assert lzw_decode(lzw_encode(b"aaaaaaaaaaab" * 50)) \
        == b"aaaaaaaaaaab" * 50
    # EarlyChange=0 variant stays synchronized too
    assert lzw_decode(lzw_encode(data, early=0),
                      {"EarlyChange": 0}) == data
    # table-full clear/restart path (>4k entries forces a mid-stream
    # clear in the encoder; the decoder must follow)
    big = bytes((i * 131 + (i >> 3)) & 0xFF for i in range(60000))
    assert lzw_decode(lzw_encode(big)) == big
    assert lzw_decode(b"") == b""


def test_lzw_with_predictor():
    import zlib
    from pdf_extraction_spark.operators.pdffile import (
        _png_up_encode, lzw_decode, lzw_encode)

    table = bytes(range(40))
    enc = lzw_encode(_png_up_encode(table, 8))
    assert lzw_decode(enc, {"Predictor": 12, "Columns": 8}) == table


def test_unknown_filter_raises():
    stm = StreamObj({"Filter": "DCTDecode"}, b"\xff\xd8")
    with pytest.raises(NotImplementedError):
        decode_stream(stm, lambda x: x)


# ----------------------------------------------- whole-file structure

def _expected_pages(doc_id: int, text: str) -> list[str]:
    p = (text or "") + PAD
    sl = {k: escape_literal(p[a - 1:a - 1 + n])
          for k, (a, n) in SLICES.items()}
    return [PAGE1_TMPL.format(t=sl["t"], a=sl["a"], b=sl["b"]),
            PAGE2_TMPL.format(c=sl["c"], d=sl["d"])]


TEXT = "parens (x) back\\slash and a run aaaaaa " * 5


@pytest.mark.parametrize("doc_id", range(8))
def test_writer_parser_round_trip(doc_id):
    pdf = build_pdf(doc_id, TEXT)
    pf = PdfFile(pdf)
    assert pf.page_texts() == _expected_pages(doc_id, TEXT)
    assert pf.xref_kind == ("table" if doc_id % 2 == 0 else "stream")
    assert pf.n_revisions == 2
    # the /Prev-chained update wins: title is the revised one
    assert pf.info()["Title"] == f"Doc {doc_id} rev2"
    assert pf.get(pf.trailer["Size"]) == (12 if doc_id % 2 == 0 else 15)


def test_page_tree_inheritance_and_contents_array():
    pf = PdfFile(build_pdf(0, TEXT))
    pages = pf.pages()
    assert len(pages) == 2
    # page 2 sits under a NESTED /Pages node and inherits both
    # /MediaBox and /Resources from the root Pages node
    for page in pages:
        assert pf.get(page["MediaBox"]) == [0, 0, 612, 792]
        res = pf.get(page["Resources"])
        assert set(pf.get(res["Font"])) == {"F1", "F2"}


def test_objstm_objects_resolve():
    pf = PdfFile(build_pdf(1, TEXT))  # odd: fonts+info in an ObjStm
    assert pf.xref[8][0] == "c" and pf.xref[9][0] == "c"
    font = pf.get(Ref(8, 0))
    assert font["BaseFont"] == "Helvetica-Bold"


def test_rebuild_fallback_on_damaged_startxref():
    for doc_id in (0, 1):
        pdf = build_pdf(doc_id, TEXT)
        dmg = re.sub(rb"startxref\n\d+", b"startxref\n999999999", pdf)
        pf = PdfFile(dmg)
        assert pf.xref_kind == "rebuilt"
        assert pf.page_texts() == _expected_pages(doc_id, TEXT)
        # last-occurrence-wins gives the updated title for plain objs
        assert pf.info().get("Title", "").startswith(f"Doc {doc_id}")


def test_truncated_tail_salvages_base_revision():
    # chopping the UPDATE's startxref leaves the base one in the tail
    # window: the parser salvages revision 1 (pre-update title)
    pdf = build_pdf(2, TEXT)
    pf = PdfFile(pdf[:pdf.rindex(b"startxref")])
    assert pf.xref_kind == "table" and pf.n_revisions == 1
    assert pf.info()["Title"] == "Doc 2"
    assert pf.page_texts() == _expected_pages(2, TEXT)


def test_rebuild_fallback_on_no_startxref_at_all():
    pdf = build_pdf(2, TEXT)
    pf = PdfFile(pdf[:pdf.index(b"startxref")])
    assert pf.xref_kind == "rebuilt"
    assert pf.page_texts() == _expected_pages(2, TEXT)


def test_empty_and_garbage_inputs_dont_crash():
    assert extract_pages(b"") == []
    assert extract_pages(b"not a pdf at all") == []


def test_page_tree_cycle_terminates():
    # a /Kids loop (node lists itself) must terminate, not recurse
    pdf = (b"%PDF-1.7\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Kids [3 0 R 2 0 R] /Count 1 >> "
           b"endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> "
           b"endobj\n"
           b"4 0 obj << /Length 8 >> stream\n(x) Tj \nendstream "
           b"endobj\n")
    pf = PdfFile(pdf)  # no xref at all: rebuild path
    assert pf.xref_kind == "rebuilt"
    assert pf.page_texts() == ["(x) Tj \n"]


@pytest.mark.parametrize("reader", [
    "pages_from_files", "file_meta", "outline_table", "pdf_link_table",
    "annot_table", "acroform_table", "files_to_spans"])
def test_poisoned_file_skipped(spark, reader):
    """Every file reader parses through the one guard: a file whose
    parse raises contributes no rows, the good file's rows stay."""
    from pdf_extraction_spark.operators import pdffile as P

    page = P.wrap_content_stream(1, b"BT (ok) Tj ET")
    good = {"outline_table": P.build_pdf_nav(3, TEXT),
            "pdf_link_table": P.build_pdf_nav(3, TEXT),
            "annot_table": P.build_pdf_annots(3, TEXT),
            "acroform_table": P.build_pdf_acroform(3, TEXT),
            }.get(reader, page)
    # same-length filter-name swap keeps every xref offset valid but
    # makes the content stream undecodable (unsupported media filter)
    poisoned = page.replace(b"/FlateDecode", b"/DCTDecodeAB")
    # a non-standard security handler refuses at open, so this file
    # raises in every reader, not only in the ones that decode pages
    locked = re.sub(rb"/Root (\d+) 0 R",
                    rb"/Root \1 0 R /Encrypt << /Filter /Bogus >>", good)
    read = getattr(P, reader)
    schema = "doc_id string, pdf binary"
    want = sorted(read(spark.createDataFrame(
        [("g", bytearray(good))], schema)).collect())
    got = sorted(read(spark.createDataFrame(
        [("g", bytearray(good)), ("b", bytearray(poisoned)),
         ("x", bytearray(locked))], schema)).collect())
    assert want and {r.doc_id for r in want} == {"g"}
    assert got == want


def test_hybrid_xrefstm():
    """Hybrid-reference file (§7.5.8.4): a classic table that omits
    two objects plus a /XRefStm stream that supplies them via an
    ObjStm — the parser must read both and report kind 'table'."""
    import zlib as z

    info = b"<< /Title (hybrid) >>"
    font = b"<< /Type /Font /BaseFont /Helvetica >>"
    payload = b"5 0 6 22\n" + info + b"\n" + font + b"\n"
    out = bytearray(b"%PDF-1.7\n")
    offs = {}

    def emit(num, body):
        offs[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode() + body + b"\nendobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    emit(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    emit(4, b"<< /Length 7 >>\nstream\n(h) Tj\nendstream")
    enc = z.compress(payload)
    emit(7, f"<< /Length {len(enc)} /Type /ObjStm /N 2 /First 9 "
            f"/Filter /FlateDecode >>\nstream\n".encode()
         + enc + b"\nendstream")
    xstm = len(out)
    rows = (bytes([2]) + (7).to_bytes(3, "big") + b"\x00"
            + bytes([2]) + (7).to_bytes(3, "big") + b"\x01"
            + bytes([1]) + offs[7].to_bytes(3, "big") + b"\x00"
            + bytes([1]) + xstm.to_bytes(3, "big") + b"\x00")
    enc2 = z.compress(rows)
    emit(8, f"<< /Length {len(enc2)} /Type /XRef /Size 9 /W [1 3 1] "
            f"/Index [5 1 6 1 7 1 8 1] /Root 1 0 R "
            f"/Filter /FlateDecode >>\nstream\n".encode()
         + enc2 + b"\nendstream")
    xref = len(out)
    out.extend(b"xref\n0 1\n0000000000 65535 f \n1 4\n")
    for num in (1, 2, 3, 4):
        out.extend(f"{offs[num]:010d} 00000 n \n".encode())
    out.extend(f"trailer\n<< /Size 9 /Root 1 0 R /Info 5 0 R "
               f"/XRefStm {xstm} >>\nstartxref\n{xref}\n%%EOF\n"
               .encode())

    pf = PdfFile(bytes(out))
    assert pf.xref_kind == "table"
    assert pf.info()["Title"] == "hybrid"
    assert pf.get(Ref(6, 0))["BaseFont"] == "Helvetica"
    assert pf.page_texts() == ["(h) Tj\n"]


def test_wrap_content_stream_round_trip():
    """Scaling-corpus wrapper: any content bytes survive the minimal
    single-page file round trip under all four variants (both xref
    flavors, all page-1 filters)."""
    content = b"BT /F1 11 Tf (scal(ing) \\\\ corpus) Tj ET % tail"
    from pdf_extraction_spark.operators.pdffile import (
        wrap_content_stream)
    for variant in range(8):
        pf = PdfFile(wrap_content_stream(variant, content))
        assert pf.page_streams()[0][1] == content, variant
        assert pf.xref_kind == \
            ("table" if variant % 2 == 0 else "stream")


def test_structural_fuzz_smoke():
    """200 seeds of the randomized-writer fuzz (tools/fuzz_pdffile.py):
    shuffled object numbers, multi-subsection xrefs, nested trees,
    random filters/chains, indirect lengths, keyword bait in stream
    data, ObjStm membership, content-revising /Prev updates.  The
    committed campaign runs 100k seeds; this pins a fast sample."""
    import tools.fuzz_pdffile as fz

    for seed in range(200):
        fz.one_case(seed)


def test_rc4_known_vector():
    from pdf_extraction_spark.operators.pdffile import rc4

    # the classic public test vector
    assert rc4(b"Key", b"Plaintext").hex().upper() \
        == "BBF316E8D940AF0AD3"
    assert rc4(b"Key", rc4(b"Key", b"round trip")) == b"round trip"


# R2/RC4-40, R3/RC4-128, R4/AES-128 (AESV2), R6/AES-256 (AESV3)
@pytest.mark.parametrize("doc_id", [0, 1, 2, 3])
def test_encrypted_round_trip_and_lockout(doc_id):
    from pdf_extraction_spark.operators.pdffile import (
        CMAP_SLICES, build_pdf_encrypted)
    from pdf_extraction_spark.operators.pdfstream import extract_runs

    pdf = build_pdf_encrypted(doc_id, TEXT)
    pf = PdfFile(pdf)
    p = TEXT + PAD
    sl = {k: p[a - 1:a - 1 + n] for k, (a, n) in CMAP_SLICES.items()}
    # the encrypted /Info title decrypts; names in it stay intact
    assert pf.info()["Title"] == f"Doc {doc_id} enc"
    texts = [r[1] for r in extract_runs(pf.page_texts()[0])
             if r[0] == "text"]
    assert texts == [sl["p"], sl["a"], sl["b"]]
    # a non-empty user password must refuse, not mis-decrypt
    with pytest.raises(NotImplementedError):
        PdfFile(pdf.replace(b"/U (", b"/U (X", 1))


def test_unsupported_encryption_raises():
    from pdf_extraction_spark.operators.pdffile import (
        build_pdf_encrypted)

    pdf = build_pdf_encrypted(1, TEXT)
    # custom schemes must refuse loudly
    v9 = pdf.replace(b"/V 2 /R 3", b"/V 9 /R 9", 1)
    with pytest.raises(NotImplementedError):
        PdfFile(v9)
    # V4 with an unknown crypt filter refuses too
    pdf2 = build_pdf_encrypted(2, TEXT)
    unk = pdf2.replace(b"/CFM /AESV2", b"/CFM /AESV9", 1)
    with pytest.raises(NotImplementedError):
        PdfFile(unk)
    # an R6 file whose /U record doesn't validate against the empty
    # password must refuse: flip one safe in-literal byte (same
    # length, [89A-Za-z] so no octal escape or PDF syntax is touched)
    pdf3 = build_pdf_encrypted(3, TEXT)
    start = pdf3.index(b" /U (") + 5
    for i in range(start, start + 120):
        c = pdf3[i:i + 1]
        if c.isalnum() and c not in b"01234567":
            locked = pdf3[:i] + (b"8" if c != b"8" else b"9") \
                + pdf3[i + 1:]
            break
    else:
        pytest.skip("no safe byte to flip")
    with pytest.raises(NotImplementedError):
        PdfFile(locked)


def test_aes_cbc_matches_fips_vectors():
    from pdf_extraction_spark.functions.aes import (
        cbc_decrypt, cbc_encrypt, ecb_encrypt_block)

    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    assert ecb_encrypt_block(key, pt).hex() \
        == "69c4e0d86a7b0430d8cdb78070b4c55a"  # FIPS-197 C.1
    key256 = bytes(range(32))
    assert ecb_encrypt_block(
        key256, pt).hex() == "8ea2b7ca516745bfeafc49904b496089"
    iv = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes((i * 7) & 0xFF for i in range(n))
        assert cbc_decrypt(key, cbc_encrypt(key, iv, data)) == data
    assert cbc_decrypt(key, b"short") == b""  # malformed: no crash


def test_rotated_page_reads_in_display_order():
    """A /Rotate 90 page (scanner output) must cluster in DISPLAY
    space: two runs side-by-side in content coordinates become
    vertically stacked lines after rotation."""
    from pdf_extraction_spark.operators.layout import spans_from_runs
    from pdf_extraction_spark.operators.pdffile import (
        wrap_content_stream)
    from pdf_extraction_spark.operators.pdfstream import extract_runs

    content = (b"BT /F1 10 Tf 100 500 Td (alpha) Tj "
               b"1 0 0 1 300 0 Td (beta) Tj ET")
    base = wrap_content_stream(0, content)
    rotated = base.replace(
        b"/Contents 4 0 R", b"/Contents 4 0 R /Rotate 90")
    # same byte length not required: wrap files carry a valid xref,
    # and the splice grows the dict -> stale xref -> rebuild path
    pf = PdfFile(rotated)
    runs = extract_runs(pf.page_texts()[0])
    # display coords: both runs share x' (=500), stacked in y'
    assert runs[0][5] == runs[1][5] == 500.0
    assert runs[0][6] > runs[1][6]  # alpha above beta after y-flip
    plain = PdfFile(base)
    runs0 = extract_runs(plain.page_texts()[0])
    assert runs0[0][6] == runs0[1][6]  # unrotated: one shared line


def test_outlines_and_link_annotations():
    from pdf_extraction_spark.operators.pdffile import build_pdf_nav

    pf = PdfFile(build_pdf_nav(5, TEXT))
    p = TEXT + PAD
    assert pf.outlines() == [(0, p[:20], 0), (1, p[24:44], 1),
                             (0, p[54:74], 1)]
    assert pf.link_annotations() == [
        (0, "https://example.com/doc5"), (0, "mailto:a@b5.org"),
        (1, "http://h0.test/p5")]


def test_embedded_files_name_tree():
    from pdf_extraction_spark.operators.pdffile import build_pdf_nav

    for doc_id in (0, 5):
        pf = PdfFile(build_pdf_nav(doc_id, TEXT))
        p = TEXT + PAD
        want = (f"att {doc_id}: " + p[80:120]).encode()
        assert pf.embedded_files() == [(f"a{doc_id % 3}.txt", want)]
    # a file without /Names yields no attachments, not a crash
    assert PdfFile(build_pdf(0, TEXT)).embedded_files() == []


def test_outline_cycle_terminates():
    # /Next pointing back at an earlier item must not loop (the
    # length-changing splice also stales the xref: rebuild + walk)
    from pdf_extraction_spark.operators.pdffile import build_pdf_nav
    raw = build_pdf_nav(0, TEXT)
    cyc = raw.replace(b"/Parent 7 0 R /Prev 8 0 R ",
                      b"/Parent 7 0 R /Next 08 0 R ", 1)
    pf = PdfFile(cyc)
    rows = pf.outlines()
    assert 1 <= len(rows) <= 6  # finite, no hang


# ------------------------------------------------------ Spark kernels

@pytest.fixture(scope="module")
def file_docs(spark):
    rows = [(i, TEXT + f" doc {i}") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pages_kernel_and_plan(spark, file_docs):
    from pdf_extraction_spark.operators.pdffile import (
        build_pdf_files, pages_from_files)

    pages = pages_from_files(build_pdf_files(file_docs))
    plan = pages._sc._jvm.PythonSQLUtils.explainString(
        pages._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan  # file parse is map-only
    got = {(r.doc_id, r.page): r.stream for r in pages.collect()}
    assert len(got) == 12
    for i in range(6):
        exp = _expected_pages(i, TEXT + f" doc {i}")
        assert got[(str(i), 0)] == exp[0]
        assert got[(str(i), 1)] == exp[1]


def test_files_to_spans_contract(spark, file_docs):
    from pdf_extraction_spark.operators.pdffile import (
        build_pdf_files, files_to_spans)

    out = {r.doc_id: r.spans
           for r in files_to_spans(build_pdf_files(file_docs)).collect()}
    assert len(out) == 6
    for i in range(6):
        spans = out[str(i)]
        p = (TEXT + f" doc {i}") + PAD
        sl = {k: p[a - 1:a - 1 + n] for k, (a, n) in SLICES.items()}
        assert [s.offset for s in spans] == [0, 1, 2, 3]
        assert [s.kind for s in spans] == \
            ["text", "text", "media", "text"]
        assert spans[0].text == sl["t"]
        assert spans[1].text == sl["a"] + "\n" + sl["b"]
        assert spans[2].media_ref == "Im0"
        assert spans[3].text == sl["c"] + "\n" + sl["d"]


def test_files_to_spans_forwards_fonts(spark, file_docs):
    """with_fonts=True rides through the file layer: block font/size
    from the real Tf operators in the generated files (C2 formatting
    attributes end-to-end from raw file bytes)."""
    from pdf_extraction_spark.operators.pdffile import (
        build_pdf_files, files_to_spans)

    spans = files_to_spans(build_pdf_files(file_docs.limit(2)),
                           with_fonts=True).collect()
    for r in spans:
        head = r.spans[0]
        assert head.font == "F1" and head.size == 16.0
        body = r.spans[1]
        assert body.font == "F2" and body.size == 10.0


def test_cmap_file_to_spans_end_to_end(spark):
    """Embedded-font files (2-byte glyph codes + /ToUnicode CMap):
    page_font_maps extracts the CMap, the fontmaps JSON rides the
    pages kernel, and tokenize decodes the codes back to the original
    text inside the same Arrow pass — the full path the
    pdf_file_cmap oracle gate proves exactly at sf0.01."""
    from pdf_extraction_spark.operators.pdffile import (
        CMAP_SLICES, PAD, PdfFile, build_pdf_cmap, files_to_spans)

    text = "Comments: attic (vent) blocked\\badly " * 4
    pf = PdfFile(build_pdf_cmap(3, text))
    maps = pf.page_font_maps()[0]
    assert set(maps) == {"TU"} and maps["TU"][1] == 2

    rows = [(str(i), bytearray(build_pdf_cmap(i, text + f" d{i}")))
            for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = {r.doc_id: r.spans for r in files_to_spans(df).collect()}
    for i in range(3):
        p = (text + f" d{i}") + PAD
        sl = {k: p[a - 1:a - 1 + n]
              for k, (a, n) in CMAP_SLICES.items()}
        spans = out[str(i)]
        assert [s.text for s in spans] == \
            [sl["p"], sl["a"] + "\n" + sl["b"]]


def test_encoding_map_semantics():
    from pdf_extraction_spark.functions.glyphlist import (
        STANDARD_ENCODING, encoding_map, glyph_to_unicode)

    assert glyph_to_unicode("Euro") == "€"
    assert glyph_to_unicode("uni20AC") == "€"
    assert glyph_to_unicode("u20AC") == "€"
    assert glyph_to_unicode("g123") is None
    assert encoding_map("WinAnsiEncoding")[0x93] == "“"
    assert encoding_map("MacRomanEncoding")[0xC7] == "«"
    # Annex D.2: typographic quotes at 0x27/0x60
    assert STANDARD_ENCODING[0x27] == "’"
    assert STANDARD_ENCODING[0x60] == "‘"
    # /Differences: an int sets the next code, names assign
    # consecutive codes, unknown names unmap their code
    m = encoding_map("WinAnsiEncoding",
                     [36, "Euro", "bullet", 216, "emdash", "gXY"])
    assert m[36] == "€" and m[37] == "•" and m[216] == "—"
    assert 217 not in m
    # missing/unknown base -> StandardEncoding (nonsymbolic default)
    assert encoding_map(None)[0x60] == "‘"
    assert encoding_map("PDFDocEncoding")[0x60] == "‘"


def test_encoding_file_to_spans_end_to_end(spark):
    """Simple-font /Encoding files (§9.6.5: a WinAnsi base name; a
    dict with /BaseEncoding + /Differences): page_font_maps falls
    back to the glyphlist tables when no /ToUnicode is present, and
    the width-1 maps decode inside the tokenize pass — the path the
    pdf_file_encoding oracle gate proves exactly at sf0.01."""
    from pdf_extraction_spark.operators.pdffile import (
        CMAP_SLICES, ENC_DIFF_PREFIX, ENC_WIN_PREFIX, ENC_WIN_SUFFIX,
        PAD, PdfFile, build_pdf_encoding, files_to_spans)

    text = "Comments: attic (vent) blocked\\badly " * 4
    maps = PdfFile(build_pdf_encoding(0, text)).page_font_maps()[0]
    assert set(maps) == {"FW", "FD"}
    assert maps["FW"][1] == 1 and maps["FD"][0][216] == "—"

    rows = [(str(i), bytearray(build_pdf_encoding(i, text + f" d{i}")))
            for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = {r.doc_id: r.spans for r in files_to_spans(df).collect()}
    for i in range(3):
        p = (text + f" d{i}") + PAD
        sl = {k: p[a - 1:a - 1 + n]
              for k, (a, n) in CMAP_SLICES.items()}
        assert [s.text for s in out[str(i)]] == \
            [sl["p"],
             ENC_WIN_PREFIX + sl["a"] + ENC_WIN_SUFFIX + "\n"
             + ENC_DIFF_PREFIX + sl["b"]]


def test_widths_metrics_drive_advances_and_joins(spark):
    """§9.6.2.1 simple-font metrics: /FirstChar+/Widths re-key per
    code, FontDescriptor /MissingWidth fills the gaps, a widths-only
    font still decodes (empty cmap = identity text), and the
    resulting advances decide the gap-aware word joins — the path the
    pdf_file_widths oracle gate proves exactly at sf0.01."""
    from pdf_extraction_spark.operators.pdffile import (
        PAD, PdfFile, WIDTH_SLICES, build_pdf_widths, files_to_spans)
    from pdf_extraction_spark.operators.pdfstream import extract_runs

    text = "Comments: attic (vent) blocked\\badly " * 4
    pf = PdfFile(build_pdf_widths(0, text))
    maps = pf.page_font_maps()[0]
    assert maps["FV"][2] == {105: 250.0, 106: 0.0, 107: 0.0,
                             108: 0.0, 109: 1000.0}
    assert maps["FV"][3] == 500.0          # /MissingWidth
    assert maps["FV"][0] == {}             # widths-only: identity
    runs = extract_runs(pf.page_texts()[0], font_maps=maps)
    by_text = {r[1]: r for r in runs}
    assert by_text["iii"][7] == 7.5        # 3 x 250/1000 x 10pt
    assert by_text["mm"][7] == 20.0        # 2 x 1000/1000 x 10pt
    assert by_text["zz"][7] == 10.0        # MissingWidth 500 x2

    rows = [(str(i),
             bytearray(build_pdf_widths(i, text + f" d{i}")))
            for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = {r.doc_id: r.spans for r in files_to_spans(df).collect()}
    for i in range(2):
        p = (text + f" d{i}") + PAD
        sl = {k: p[a - 1:a - 1 + n]
              for k, (a, n) in WIDTH_SLICES.items()}
        assert [s.text for s in out[str(i)]] == \
            [sl["p"], "iii mmzz", sl["a"] + sl["b"], "iii mmzz"]


def test_cid_w_array_both_forms_and_dw_default():
    """§9.7.4.3 /W parsing: the ``c [w...]`` form assigns consecutive
    CIDs, the ``c1 c2 w`` form assigns a range (expansion capped
    against hostile spans), /DW defaults to 1000, and a Type0 font
    with only spec-default metrics yields NO width entry (the
    documented uniform contract for metric-less fonts holds)."""
    from pdf_extraction_spark.operators.pdffile import (
        PAD, PdfFile, build_pdf_widths)

    pf = PdfFile(build_pdf_widths(0, "x" * 40))
    fc = pf.page_font_maps()[0]["FC"]
    assert fc[2] == {105: 250.0, 109: 1000.0} and fc[3] == 500.0

    # range form + default DW via a surgical body swap
    blob = bytearray(build_pdf_widths(0, "x" * 40))
    old = b"/W [105 [250] 109 109 1000] /DW 500"
    new = b"/W [105 107 300]                   "
    assert old in blob and len(old) == len(new)
    pf2 = PdfFile(bytes(blob).replace(old, new))
    fc2 = pf2.page_font_maps()[0]["FC"]
    assert fc2[2] == {105: 300.0, 106: 300.0, 107: 300.0}
    assert fc2[3] == 1000.0                   # /DW spec default
    # metric-less Type0 (no /W, default /DW): no width entry at all
    pf3 = PdfFile(bytes(blob).replace(old, b" " * len(old)))
    fc3 = pf3.page_font_maps()[0]["FC"]
    assert len(fc3) == 2


def test_form_xobject_semantics():
    """Form XObjects execute in place with §8.10 semantics: /Matrix
    composed onto the CTM, resource-scope shadowing (form-local /FE),
    invoking-scope fallback (/Fm2 has no resources, its /F1 resolves
    at page level), images inside forms stay media runs, and a
    self-referential form degrades to a media run instead of
    recursing forever."""
    from pdf_extraction_spark.operators.pdffile import (
        CMAP_SLICES, PAD, PdfFile, build_pdf_xobject)
    from pdf_extraction_spark.operators.pdfstream import extract_runs

    text = "Comments: attic (vent) blocked\\badly " * 4
    pf = PdfFile(build_pdf_xobject(0, text))
    forms = pf.page_forms()[0]
    assert set(forms) == {"Fm1"}
    assert forms["Fm1"]["mtx"] == [1.0, 0.0, 0.0, 1.0, 0.0, -6.0]
    assert set(forms["Fm1"]["fonts"]) == {"FE"}
    assert set(forms["Fm1"]["forms"]) == {"Fm2"}
    assert "fonts" not in forms["Fm1"]["forms"]["Fm2"]

    runs = extract_runs(pf.page_texts()[0],
                        font_maps=pf.page_font_maps()[0], forms=forms)
    p = text + PAD
    sl = {k: p[a - 1:a - 1 + n] for k, (a, n) in CMAP_SLICES.items()}
    texts = [r[1] for r in runs if r[0] == "text"]
    assert texts == [sl["p"],
                     "“" + sl["a"] + "”", sl["b"],
                     "“" + sl["a"] + "”", sl["b"]]
    # both invocations: the /Matrix (0,-6) composes under the cm
    # translations (0,-60) and (0,-130)
    ys = [r[6] for r in runs if r[0] == "text"]
    assert ys == [714.0, 574.0, 534.0, 504.0, 464.0]
    media = [(r[2], r[6]) for r in runs if r[0] == "media"]
    assert media == [("Im1", 234.0), ("Im1", 164.0)]

    # recursion bound: a form whose content invokes itself must
    # terminate (the guarded call degrades to a media run)
    cyclic = {"Loop": {"text": "/Loop Do"}}
    out = extract_runs("q /Loop Do Q", forms=cyclic)
    assert len(out) == 1 and out[0][0] == "media"


def test_form_xobject_files_to_spans(spark):
    """The forms scope rides the pages kernel JSON (__forms__ key)
    and replays inside the tokenize pass — the path the
    pdf_file_xobject oracle gate proves exactly at sf0.01."""
    from pdf_extraction_spark.operators.pdffile import (
        CMAP_SLICES, ENC_WIN_PREFIX, ENC_WIN_SUFFIX, PAD,
        build_pdf_xobject, files_to_spans)

    text = "Comments: attic (vent) blocked\\badly " * 4
    rows = [(str(i), bytearray(build_pdf_xobject(i, text + f" d{i}")))
            for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = {r.doc_id: r.spans for r in files_to_spans(df).collect()}
    for i in range(3):
        p = (text + f" d{i}") + PAD
        sl = {k: p[a - 1:a - 1 + n]
              for k, (a, n) in CMAP_SLICES.items()}
        enc_a = ENC_WIN_PREFIX + sl["a"] + ENC_WIN_SUFFIX
        spans = out[str(i)]
        assert [(s.kind, s.text or s.media_ref) for s in spans] == [
            ("text", sl["p"]), ("text", enc_a), ("text", sl["b"]),
            ("text", enc_a), ("text", sl["b"]),
            ("media", "Im1"), ("media", "Im1")]
        assert [s.offset for s in spans] == list(range(7))


def test_acroform_fields(spark):
    """§12.7 interactive forms: terminal-field rows with /FT and /V
    inheritance, dotted qualified names, /T-less widget kids
    collapsing to one row, and a field-tree cycle terminating."""
    from pdf_extraction_spark.operators.pdffile import (
        CMAP_SLICES, PAD, PdfFile, acroform_table,
        build_pdf_acroform)

    text = "Comments: attic (vent) blocked\\badly " * 4
    p = text + PAD
    sl = {k: p[a - 1:a - 1 + n] for k, (a, n) in CMAP_SLICES.items()}
    rows = PdfFile(build_pdf_acroform(0, text)).form_fields()
    assert rows == [
        ("owner", "Tx", sl["a"]),
        ("insp.date", "Tx", sl["b"]),       # own V, inherited FT
        ("insp.note", "Tx", sl["p"]),       # V inherited from parent
        ("insp.grade", "Ch", "A"),          # own FT overrides
        ("approved", "Btn", "Yes")]         # widget kids collapse

    # a /Kids cycle must terminate, not recurse forever: point the
    # button's Kids at ITSELF (a named kid already on the walk path
    # is skipped, so the cyclic field yields no row and the walk ends)
    from pdf_extraction_spark.operators.pdffile import Ref
    pf = PdfFile(build_pdf_acroform(1, text))
    pf.get(Ref(15, 0))["Kids"] = [Ref(15, 0)]
    assert [r[0] for r in pf.form_fields()] == \
        ["owner", "insp.date", "insp.note", "insp.grade"]

    df = spark.createDataFrame(
        [(str(i), bytearray(build_pdf_acroform(i, text)))
         for i in range(4)], "doc_id string, pdf binary")
    got = {(r.doc_id, r.ord): (r.name, r.ftype, r.value)
           for r in acroform_table(df).collect()}
    assert got[("2", 3)] == ("insp.grade", "Ch", "A")
    assert got[("3", 4)] == ("approved", "Btn", "Yes")
    assert got[("1", 4)] == ("approved", "Btn", "Off")


def test_type3_font_decodes_via_differences():
    """§9.6.4 Type3 fonts (TeX/scanned output: glyphs are content
    streams under /CharProcs) carry their code->glyph mapping in the
    REQUIRED /Encoding /Differences — exactly the §9.6.5 path, so
    their shown strings decode with no Type3-specific code.  The
    /CharProcs drawings themselves are rendering-only and ignored."""
    from pdf_extraction_spark.operators.pdffile import (
        PdfFile, build_pdf_encoding)
    from pdf_extraction_spark.operators.pdfstream import extract_runs

    blob = build_pdf_encoding(0, "x")
    # rewrite the dict-encoded font object into a Type3 shell around
    # the same /Differences (CharProcs/FontMatrix/BBox present, as a
    # real Type3 dict would be)
    blob = blob.replace(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
        b"/Encoding 8 0 R >>",
        b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 10 10] "
        b"/FontMatrix [0.001 0 0 0.001 0 0] /CharProcs << >> "
        b"/Encoding 8 0 R >>")
    pf = PdfFile(_reindex(blob))
    maps = pf.page_font_maps()[0]
    assert maps["FD"][0][36] == "€"  # Differences still compose
    runs = extract_runs(pf.page_texts()[0], font_maps=maps)
    assert runs[2][1].startswith("€•—« ")


def _reindex(blob: bytes) -> bytes:
    """Rebuild the classic xref of a hand-edited single-revision
    fixture (object offsets move when a body changes length)."""
    import re as _re

    out = bytearray()
    offsets = {}
    body_end = blob.rindex(b"xref\n")
    i = 0
    for m in _re.finditer(rb"(\d+) 0 obj\n", blob[:body_end]):
        num = int(m.group(1))
        offsets[num] = m.start()
    out += blob[:body_end]
    xref_off = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    for num in sorted(offsets):
        out += f"{num} 1\n{offsets[num]:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size "
            + str(max(offsets) + 1).encode() + b" /Root 1 0 R >>\n")
    out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    return bytes(out)


def test_text_string_decode():
    """§7.9.2.2: metadata strings with a UTF-16BE (or PDF 2.0 UTF-8)
    BOM decode to unicode; everything else passes through as
    PDFDocEncoding/latin-1 — end-to-end through an outline title and
    an AcroForm value."""
    from pdf_extraction_spark.operators.pdffile import (
        PdfFile, build_pdf_acroform, build_pdf_nav, text_string)

    assert text_string("\xfe\xff\x00A\x00B") == "AB"
    assert text_string("\xfe\xff\x04\x14\x04\x3e\x04\x3a") == "Док"
    assert text_string("\xef\xbb\xbf\xc3\xa9t\xc3\xa9") == "été"
    assert text_string("plain (x)") == "plain (x)"
    assert text_string(None) == ""

    def u16(s: str) -> bytes:
        from pdf_extraction_spark.operators.pdffile import _lit_bytes
        return _lit_bytes(b"\xfe\xff" + s.encode("utf-16-be"))

    text = "Comments: attic vent blocked " * 4
    blob = build_pdf_nav(0, text)
    # swap the first outline title for a UTF-16BE payload of the
    # same on-disk length story (offsets rebuilt below)
    old = blob[blob.index(b"/Title (") + 7:]
    old = old[:old.index(b" /Parent")]
    blob = blob.replace(b"/Title " + old,
                        b"/Title " + u16("Раздел 1"), 1)
    pf = PdfFile(_reindex(blob))
    assert pf.outlines()[0][1] == "Раздел 1"

    blob = build_pdf_acroform(0, text)
    i = blob.index(b"/T (owner) /FT /Tx /V (")
    end = blob.index(b") >>", i)
    blob = blob[:i] + b"/T (owner) /FT /Tx /V " + u16("café 9") \
        + blob[end + 1:]
    pf = PdfFile(_reindex(blob))
    assert pf.form_fields()[0] == ("owner", "Tx", "café 9")


def test_annotation_texts(spark):
    """§12.5 markup annotations: /FreeText//Text//Highlight//Square
    rows; /Link (no reviewer text) and /Popup (display twin of its
    parent note) excluded."""
    from pdf_extraction_spark.operators.pdffile import (
        SLICES, PAD, PdfFile, annot_table, build_pdf_annots)

    text = "Comments: attic (vent) blocked\\badly " * 4
    p = text + PAD
    sl = {k: p[a - 1:a - 1 + n] for k, (a, n) in SLICES.items()}
    assert PdfFile(build_pdf_annots(0, text)).annotation_texts() == [
        (0, "FreeText", sl["a"]), (0, "Text", sl["b"]),
        (1, "Highlight", sl["c"])]
    assert PdfFile(build_pdf_annots(1, text)).annotation_texts() == [
        (0, "FreeText", sl["a"]), (0, "Text", sl["b"]),
        (1, "Highlight", sl["c"]), (1, "Square", sl["d"])]

    df = spark.createDataFrame(
        [(str(i), bytearray(build_pdf_annots(i, text)))
         for i in range(4)], "doc_id string, pdf binary")
    rows = annot_table(df).collect()
    assert len(rows) == 3 * 4 + 2
    assert {r.subtype for r in rows} == \
        {"FreeText", "Text", "Highlight", "Square"}


def test_meta_kernel(spark, file_docs):
    from pdf_extraction_spark.operators.pdffile import (
        build_pdf_files, file_meta)

    rows = {int(r.doc_id): r for r in
            file_meta(build_pdf_files(file_docs)).collect()}
    for i in range(6):
        r = rows[i]
        assert r.n_pages == 2 and r.n_revisions == 2
        assert r.xref_kind == ("table" if i % 2 == 0 else "stream")
        assert r.title == f"Doc {i} rev2"


def test_artifact_strip_through_whole_file_layer(spark):
    """drop_artifacts flows through files_to_spans' kwargs: a tagged
    header inside a real wrapped PDF drops, the body survives."""
    from pdf_extraction_spark.operators.pdffile import (
        files_to_spans, wrap_content_stream)
    content = (b"/Artifact << /Type /Pagination >> BDC "
               b"BT /F1 8 Tf 72 770 Td (Page 1) Tj ET EMC "
               b"BT /F1 11 Tf 72 700 Td (Body line) Tj ET")
    pdf = wrap_content_stream(0, content)
    df = spark.createDataFrame([("d1", bytearray(pdf))],
                               "doc_id string, pdf binary")
    kept = files_to_spans(df, drop_artifacts=True).collect()[0]
    texts = [s["text"] for s in kept.spans]
    assert texts == ["Body line"]
    full = files_to_spans(df).collect()[0]
    assert [s["text"] for s in full.spans] == ["Page 1", "Body line"]


def test_parse_object_bare_sign_keeps_valueerror_contract():
    """'+', '-' or '.' not followed by digits must raise the
    documented ValueError (callers catch it for damage tolerance),
    not an AttributeError from the regex fast path."""
    import pytest
    from pdf_extraction_spark.operators.pdffile import parse_object
    for bad in (b"<< /Foo - >>", b"[ . ]", b"+"):
        with pytest.raises(ValueError):
            parse_object(bad, 0)


@pytest.mark.parametrize("opts", [
    {}, {"with_fonts": True, "detect_tables": True, "space_frac": None}])
def test_damaged_files_spans_match_sql_chain(spark, opts):
    """A byte-flipped / truncated corpus from every PDF writer: the
    one-pass bridge keeps exactly the documents and spans of the
    page-table SQL chain (pages_from_files -> tokenize_streams ->
    spans_from_runs per page -> page-ordered offsets) — parses that
    raise drop the file in both, empty documents emit no row."""
    import tools.fuzz_layout as fz
    from pdf_extraction_spark.operators.pdffile import (files_to_spans,
                                                        pages_from_files)

    files = spark.createDataFrame(
        [(k, bytearray(b)) for k, b in fz.damaged_pdf_files(3, 45)],
        "doc_id string, pdf binary")

    def spans(df):
        return {r.doc_id: [tuple(s) for s in r.spans]
                for r in df.collect()}
    got = spans(files_to_spans(files, **opts))
    want = spans(fz.sql_chain_spans(pages_from_files(files),
                                    page_col="page", maps_col="fontmaps",
                                    **opts))
    assert got == want and 10 < len(got) < 45
