"""PDF content-stream tokenizer: lexer/state-machine goldens, a
differential fuzz harness against an independent renderer twin, and
the Spark kernel + layout + contract-span bridge end-to-end."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.pdfstream import (
    DEFAULT_CHAR_WIDTH, extract_runs, lex_content, pdf_to_spans,
    tokenize_streams)

# ------------------------------------------------------------- lexer


def test_lexer_token_kinds():
    toks = list(lex_content("/F1 10.5 -3 .5 Tf (a) <4142> [ ] BT % c\nET"))
    assert toks == [("name", "F1"), ("num", 10.5), ("num", -3.0),
                    ("num", 0.5), ("op", "Tf"), ("str", "a"),
                    ("str", "AB"), ("[", None), ("]", None),
                    ("op", "BT"), ("op", "ET")]


def test_string_escapes_and_nesting():
    assert next(lex_content(r"(a\(b\)c)"))[1] == "a(b)c"
    assert next(lex_content("(a(nested)c)"))[1] == "a(nested)c"
    assert next(lex_content(r"(tab\there)"))[1] == "tab\there"
    assert next(lex_content(r"(\101\102\103)"))[1] == "ABC"
    assert next(lex_content(r"(\61)"))[1] == "1"          # short octal
    assert next(lex_content("(li\\\nne)"))[1] == "line"   # continuation
    assert next(lex_content(r"(\q)"))[1] == "q"           # stray escape


def test_hex_string_odd_length_pads():
    assert next(lex_content("<48494>"))[1] == "HI@"


def test_lexer_skips_comments_and_junk():
    assert list(lex_content("% only a comment")) == []
    # an unlexable raw byte is skipped, the rest survives
    assert ("op", "Tj") in list(lex_content("\x80 (x) Tj"))


# ----------------------------------------------------- state machine


def test_positions_td_tm_tstar():
    runs = extract_runs(
        "BT /F1 10 Tf 1 0 0 1 72 700 Tm (a) Tj "
        "0 -12 Td (b) Tj 14 TL T* (c) Tj ET")
    assert [(r[1], r[5], r[6]) for r in runs] == [
        ("a", 72.0, 700.0), ("b", 72.0, 688.0), ("c", 72.0, 674.0)]


def test_tj_kerning_and_advance():
    # advance = 0.5 * size per char; kern 200 -> -200/1000*10 = -2
    runs = extract_runs(
        "BT /F1 10 Tf 1 0 0 1 0 0 Tm [(abc) 200 (d)] TJ ET")
    assert runs[0][5] == 0.0 and runs[0][7] == 15.0
    assert runs[1][5] == 15.0 - 2.0


def test_char_and_word_spacing_and_tz():
    # Tc adds per char, Tw per space, Tz scales horizontally
    runs = extract_runs(
        "BT /F1 10 Tf 2 Tc 3 Tw 50 Tz 1 0 0 1 0 0 Tm (a b) Tj (x) Tj ET")
    # adv = ((0.5*10 + 2)*3 + 3*1) * 0.5 = 12
    assert runs[1][5] == 12.0


def test_quote_operators_set_spacing_then_newline():
    runs = extract_runs(
        'BT /F1 10 Tf 12 TL 1 0 0 1 0 100 Tm (a) Tj 4 6 (b) " (c) \' ET')
    assert [(r[1], r[6]) for r in runs] == [
        ("a", 100.0), ("b", 88.0), ("c", 76.0)]
    # " set Tw=4 Tc=6: c's predecessor advance = (5+6)*1 + 0 = 11
    assert runs[2][5] == runs[1][5]


def test_td_vs_TD_leading():
    # TD sets leading = -ty, so a later T* repeats the hop
    runs = extract_runs(
        "BT /F1 10 Tf 0 -15 TD (a) Tj T* (b) Tj ET")
    assert [(r[1], r[6]) for r in runs] == [("a", -15.0), ("b", -30.0)]


def test_ctm_q_Q_and_media_do():
    runs = extract_runs(
        "q 2 0 0 3 10 20 cm BT /F1 10 Tf 0 0 Td (s) Tj ET /I1 Do Q /I2 Do")
    s, i1, i2 = runs
    assert (s[5], s[6], s[8]) == (10.0, 20.0, 30.0)   # scaled size
    assert (i1[0], i1[2], i1[5], i1[6], i1[7], i1[8]) == \
        ("media", "I1", 10.0, 20.0, 2.0, 3.0)
    assert (i2[5], i2[6], i2[7], i2[8]) == (0.0, 0.0, 1.0, 1.0)


def test_tm_scale_scales_advance_and_size():
    runs = extract_runs("BT /F1 10 Tf 2 0 0 2 0 0 Tm (ab) Tj (c) Tj ET")
    assert runs[0][4] == 20.0          # effective size
    assert runs[1][5] == 20.0          # advance 10 in text space, x2


def test_unknown_ops_and_malformed_operands_are_skipped():
    runs = extract_runs(
        "BT /F1 10 Tf 0 0 1 RG (x) weird 0 0 Td (kept) Tj Tj TJ cm ET")
    assert [r[1] for r in runs] == ["kept"]
    assert extract_runs("(((") == []
    assert extract_runs("") == []


def test_inline_dict_is_ignored():
    runs = extract_runs(
        "BT /F1 10 Tf << /K (not text) >> 0 0 Td (real) Tj ET")
    assert [r[1] for r in runs] == ["real"]


def test_parse_cmap_sections():
    from pdf_extraction_spark.operators.pdfstream import parse_cmap

    cmap, width = parse_cmap(
        "1 begincodespacerange <0000> <FFFF> endcodespacerange "
        "2 beginbfchar <0041> <0048> <0042> <0065 006C> endbfchar "
        "1 beginbfrange <0100> <0102> <006C> endbfrange "
        "1 beginbfrange <0200> <0201> [<0041> <0042 0043>] endbfrange")
    assert width == 2
    assert cmap[0x41] == "H" and cmap[0x42] == "el"  # multi-unit dst
    assert [cmap[c] for c in (0x100, 0x101, 0x102)] == ["l", "m", "n"]
    assert cmap[0x200] == "A" and cmap[0x201] == "BC"
    # 1-byte codespace
    _, w1 = parse_cmap(
        "1 begincodespacerange <00> <FF> endcodespacerange")
    assert w1 == 1


def test_show_through_tounicode_cmap():
    """Glyph-coded strings decode through font_maps; the advance
    counts GLYPHS (2-byte groups), and Tw only applies to code 32 in
    1-byte encodings (§9.3.3)."""
    from pdf_extraction_spark.operators.pdfstream import parse_cmap

    cmap, _ = parse_cmap(
        "1 begincodespacerange <0000> <FFFF> endcodespacerange "
        "1 beginbfrange <0100> <017E> <0000> endbfrange")
    maps = {"TU": (cmap, 2)}
    runs = extract_runs(
        "BT /TU 10 Tf 4 Tw 0 0 Td <0148 0169 0120 0168> Tj "
        "/F1 10 Tf (Hi u) Tj ET", font_maps=maps)
    assert runs[0][1] == "Hi h"
    assert runs[0][7] == 4 * 5.0        # 4 glyphs, NO Tw (2-byte)
    assert runs[1][1] == "Hi u"          # unmapped font passes through
    assert runs[1][7] == 4 * 5.0 + 4.0   # 1-byte: Tw applies
    # unmapped code -> replacement char, not a crash
    runs = extract_runs("BT /TU 10 Tf <9999> Tj ET", font_maps=maps)
    assert runs[0][1] == "�"


def test_name_hex_escapes_decode():
    """§7.3.5 #xx escapes in content-stream names: /T1#5F0 must look
    up the font-map entry registered as 'T1_0' (the file-layer
    resource parser decodes escapes, so the lexer must match or the
    lookup silently misses); malformed #s pass through."""
    from pdf_extraction_spark.operators.pdfstream import lex_content

    maps = {"T1_0": ({0x41: "Z"}, 1)}
    runs = extract_runs("BT /T1#5F0 10 Tf (A) Tj ET", font_maps=maps)
    assert runs[0][1] == "Z"
    # media refs decode too; malformed escapes pass through
    runs = extract_runs("q /Im#231 Do Q /Bad#G Do")
    assert runs[0][2] == "Im#1" and runs[1][2] == "Bad#G"
    assert list(lex_content("/A#20B")) == [("name", "A B")]


def test_inline_image_raw_scans_to_delimited_EI():
    """§8.9.7: the ID..EI payload is raw binary, not stream syntax —
    lexer poison inside it (unbalanced parens, backslashes, operator
    names, unguarded 'xEIy') must not corrupt the token stream, and
    the image lands as a CTM-placed media run ref '[inline]'."""
    runs = extract_runs(
        "q 3 0 0 3 40 50 cm BI /W 2 /H 2 /BPC 8 /F /AHx "
        "ID ((\\ Tj BT xEIy <zz\x00EI\nBT /F1 12 Tf 7 8 Td (after) Tj")
    assert runs[0] == ("media", None, "[inline]", "", 0.0,
                       40.0, 50.0, 3.0, 3.0)
    assert runs[1][0] == "text" and runs[1][1] == "after"
    # unterminated payload consumes the rest, cleanly
    assert extract_runs("BI ID ((((( no terminator") == \
        [("media", None, "[inline]", "", 0.0, 0.0, 0.0, 1.0, 1.0)]
    # 'EI' without whitespace around it does not terminate
    runs = extract_runs("BI ID xEIyEIx EI (t) Tj")
    assert runs[0][2] == "[inline]" and len(runs) == 2


# ------------------------------------------ differential fuzz (twin)


def _render(spec: list[dict], rng: random.Random) -> str:
    """Independent renderer: emits each line spec with a randomly
    chosen positioning idiom (absolute Tm / relative Td / T*) and a
    randomly chosen show idiom (Tj / split TJ with zero kerns)."""
    out = ["BT /F1 10 Tf"]
    prev = None
    for s in spec:
        x, y = s["x"], s["y"]
        mode = rng.choice(["Tm", "Td", "T*"]) if prev else "Tm"
        if mode == "Tm" or prev is None:
            out.append(f"1 0 0 1 {x} {y} Tm")
        elif mode == "Td":
            out.append(f"{x - prev[0]} {y - prev[1]} Td")
        else:  # T* only reaches same-x next line; force via TL
            out.append(f"{x - prev[0]} {y - prev[1]} TD (z) Tj")
            # TD already moved us; rewind the probe run below
        text = s["text"]
        if mode == "T*" and prev is not None:
            # the probe run consumed the position; replace spec text
            spec_text = text
            out[-1] = out[-1].replace("(z) Tj", f"({spec_text}) Tj")
        elif rng.random() < 0.5:
            out.append(f"({text}) Tj")
        else:
            cut = rng.randrange(1, max(2, len(text)))
            out.append(f"[({text[:cut]}) 0 ({text[cut:]})] TJ")
        prev = (x, y)
    out.append("ET")
    return " ".join(out)


def test_fuzz_roundtrip_against_twin():
    rng = random.Random(20260819)
    for _ in range(200):
        n = rng.randrange(1, 12)
        spec, y = [], 700
        for i in range(n):
            y -= rng.choice([12, 14, 40])
            spec.append({"x": float(rng.randrange(0, 200)),
                         "y": float(y),
                         "text": "".join(rng.choice("abcdef gh")
                                         for _ in range(rng.randrange(1, 12)))
                         .strip() or "w"})
        stream = _render(spec, rng)
        runs = extract_runs(stream)
        texts = []
        for s in spec:
            texts.append(s["text"])
        got_texts = []
        i = 0
        # TJ splits produce 2 runs per line; rejoin by line origin y
        by_y: dict[float, str] = {}
        order: list[float] = []
        for r in runs:
            if r[6] not in by_y:
                by_y[r[6]] = ""
                order.append(r[6])
            by_y[r[6]] += r[1]
        got_texts = [by_y[y] for y in order]
        assert got_texts == texts
        # first run of each line sits exactly at the spec origin
        firsts = {}
        for r in runs:
            firsts.setdefault(r[6], r[5])
        assert [(firsts[s["y"]], s["y"]) for s in spec] == \
            [(s["x"], s["y"]) for s in spec]


# ------------------------------------------------------ Spark kernel


STREAM_A = ("BT /F1 10 Tf 1 0 0 1 20 700 Tm (roof leak found) Tj "
            "0 -40 Td (attic vent blocked) Tj ET "
            "q 1 0 0 1 20 600 cm /ImgA Do Q "
            "BT /F1 10 Tf 1 0 0 1 20 560 Tm (sump pump ok) Tj ET")


@pytest.fixture(scope="module")
def stream_docs(spark):
    return spark.createDataFrame(
        [("d1", STREAM_A),
         ("d2", "BT /F1 14 Tf 1 0 0 1 10 700 Tm (HEADING) Tj "
                "/F1 10 Tf 0 -12 Td (body one) Tj 0 -12 Td (body two) Tj "
                "ET"),
         ("d3", None)],
        "doc_id string, stream string")


def test_tokenize_streams_kernel(stream_docs):
    rows = tokenize_streams(stream_docs).orderBy("doc_id", "run_idx") \
        .collect()
    d1 = [r for r in rows if r.doc_id == "d1"]
    assert [r.kind for r in d1] == ["text", "text", "media", "text"]
    assert d1[2].media_ref == "ImgA" and d1[2].y == 600.0
    assert not [r for r in rows if r.doc_id == "d3"]


def test_tokenize_plan_is_map_only(stream_docs):
    plan = tokenize_streams(stream_docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_runs_feed_layout_blocks(spark, stream_docs):
    from pdf_extraction_spark.operators.layout import reconstruct_blocks
    from tools.fuzz_layout import layout_runs

    runs = layout_runs(tokenize_streams(stream_docs)) \
        .where(F.col("media_ref").isNull()).drop("media_ref")
    blocks = reconstruct_blocks(runs).orderBy("doc_id", "block_id") \
        .collect()
    d1 = [b for b in blocks if b.doc_id == "d1"]
    # 40pt hops -> every line its own block, reading order preserved
    assert [b.text for b in d1] == [
        "roof leak found", "attic vent blocked", "sump pump ok"]
    assert [b.block_id for b in d1] == [0, 1, 2]
    d2 = [b for b in blocks if b.doc_id == "d2"]
    # 12pt leading with 10pt glyphs -> 2pt gaps: one block, and the
    # 14pt first line is the heading over the 10pt modal body
    assert [b.block_id for b in d2] == [0, 0, 0]
    assert [b.is_heading for b in d2] == [True, False, False]


def test_with_fonts_drives_formatting_priority_end_to_end(spark):
    """Raw content stream -> pdf_to_spans(with_fonts=True) -> the C2
    font attributes reach explode_spans (bold via name/size>12, italic
    via oblique name) and the bold block's issue gets priority high
    through the full exploded extraction plan (verdict r3 item 4's
    end-to-end wiring)."""
    from pdf_extraction_spark.plans.extraction import (assemble,
                                                       explode_spans)

    stream = ("BT /Helvetica-Bold 14 Tf 1 0 0 1 72 700 Tm "
              "(Comments: roof deck sagging) Tj "
              "/Times-Oblique 9 Tf 0 -40 Td "
              "(Comments: attic vent blocked) Tj "
              "/Times-Roman 9 Tf 0 -40 Td (Comments: sump pump ok) Tj "
              "ET")
    docs = spark.createDataFrame([("d1", stream)],
                                 "doc_id string, stream string")
    spans = pdf_to_spans(docs, with_fonts=True)
    row = spans.collect()[0]
    assert [(s.font, s.size) for s in row.spans] == [
        ("Helvetica-Bold", 14.0), ("Times-Oblique", 9.0),
        ("Times-Roman", 9.0)]
    assert len(row.spans) == 3

    e = explode_spans(spans).orderBy("offset").collect()
    assert [x.bold for x in e] == [True, False, False]
    assert [x.italic for x in e] == [False, True, False]

    issues = assemble(spans).collect()[0].issues
    assert issues[0].priority == "high"        # bold heading block
    assert all(i.priority != "high" for i in issues[1:])

    # default stays the fontless contract: no font/size span fields
    plain = pdf_to_spans(docs).select("spans").schema[0].dataType \
        .elementType.fieldNames()
    assert sorted(plain) == ["kind", "media_ref", "offset", "text"]


def test_multipage_pages_cluster_independently(spark):
    """page_col: each page's layout runs in its own coordinate space —
    page 2 text at the TOP of its page must come after page 1 text at
    the BOTTOM of its page, never interleaved by raw y; offsets stay
    gapless per document; media keeps its page-local position."""
    rows = [
        ("d1", 1, "BT /F1 10 Tf 1 0 0 1 72 100 Tm (page one bottom) Tj "
                  "ET"),                       # low on page 1 (y=100)
        ("d1", 2, "BT /F1 10 Tf 1 0 0 1 72 700 Tm (page two top) Tj ET "
                  "q 1 0 0 1 50 300 cm /P2img Do Q"),
        ("d2", 1, "BT /F1 10 Tf 1 0 0 1 72 400 Tm (only page) Tj ET"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id string, page int, stream string")
    out = {r.doc_id: r.spans
           for r in pdf_to_spans(docs, page_col="page").collect()}
    d1 = out["d1"]
    assert [s.offset for s in d1] == [0, 1, 2]
    assert [(s.kind, s.text or s.media_ref) for s in d1] == [
        ("text", "page one bottom"),           # page 1 first...
        ("text", "page two top"),              # ...even though its y
        ("media", "P2img")]                    # is lower on the page
    assert [s.text for s in out["d2"]] == ["only page"]

    # naive single-space merge WOULD interleave (guards the premise)
    merged = pdf_to_spans(docs.groupBy("doc_id").agg(
        F.concat_ws(" ", F.collect_list("stream")).alias("stream")))
    d1m = {r.doc_id: [s.text or s.media_ref for s in r.spans]
           for r in merged.collect()}["d1"]
    assert d1m[0] != "page one bottom"


def test_gate_queries_smoke(spark):
    """queries_pdf invariants at sf0.001 (the DuckDB oracle proves
    exact values; this guards the synthetic-stream builder in pytest):
    10 runs + 1 conditional media per doc, gapless span offsets, the
    escape/octal/hex trailer decoded, positions on the designed grid."""
    from pdf_extraction_spark.queries_pdf import q_pdf_runs, q_pdf_spans

    sf = "/root/testdata/sf0.001"
    runs = q_pdf_runs(spark, sf).collect()
    by_doc: dict[int, list] = {}
    for r in runs:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, rs in by_doc.items():
        assert len(rs) == 10 + (1 if doc_id % 3 == 0 else 0)
        assert [r.run_idx for r in rs] == list(range(len(rs)))
        assert rs[0].size == 18.0 and (rs[0].x, rs[0].y) == (72.0, 700.0)
        assert rs[-1].text == "HEX!" and rs[-1].x == 154.5
        assert rs[-2].text.startswith("Esc ( ok ) \\ A fin")
        media = [r for r in rs if r.kind == "media"]
        assert [m.media_ref for m in media][:1] == ["Fig0"]

    spans = q_pdf_spans(spark, sf).collect()
    sp_doc: dict[int, list] = {}
    for s in spans:
        sp_doc.setdefault(s.doc_id, []).append(s)
    assert set(sp_doc) == set(by_doc)
    for doc_id, ss in sp_doc.items():
        assert [s.offset for s in ss] == list(range(len(ss)))
        assert len(ss) == 6 + (1 if doc_id % 3 == 0 else 0)
        assert ss[1].text.count("\n") == 2          # 3-line body block
        # same-line join: the HEX run starts exactly where the "
        # advance left off (gap 0), so the gap-aware rule reads the
        # pair as ONE word — no synthesized space
        assert ss[-1].text.endswith("finHEX!")
        assert [s.media_ref for s in ss if s.kind == "media"][-1] == "Fig0"


def test_pdf_to_spans_contract_shape(stream_docs):
    out = pdf_to_spans(stream_docs).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == ["d1", "d2"]
    spans = out[0].spans
    assert [s.offset for s in spans] == list(range(len(spans)))
    kinds = [(s.kind, s.text or s.media_ref) for s in spans]
    assert ("media", "ImgA") in kinds
    # media span interleaves BETWEEN the text spans by position
    assert kinds[0][0] == "text" and kinds[-1][0] == "text"
    texts = [s.text for s in spans if s.kind == "text"]
    assert texts == ["roof leak found", "attic vent blocked",
                     "sump pump ok"]


# ------------------------------------------------- §8.5 path -> rulings


def test_rules_off_by_default_and_byte_identical():
    s = ("72 628 420 72 re S 212 628 m 212 700 l S "
         "BT /F1 10 Tf 76 684 Td (Item) Tj ET")
    assert extract_runs(s) == [
        ("text", "Item", None, "F1", 10.0, 76.0, 684.0, 20.0, 10.0)]


def test_rect_stroke_emits_four_edges():
    runs = extract_runs("72 628 420 72 re S", with_rules=True)
    assert sorted(runs) == sorted([
        ("rule", "h", None, "", 0.0, 72.0, 628.0, 420.0, 0.0),
        ("rule", "h", None, "", 0.0, 72.0, 700.0, 420.0, 0.0),
        ("rule", "v", None, "", 0.0, 72.0, 628.0, 0.0, 72.0),
        ("rule", "v", None, "", 0.0, 492.0, 628.0, 0.0, 72.0)])


def test_line_fill_close_and_clip_semantics():
    # f paints, n discards (clip-only), h closes back to subpath start
    runs = extract_runs(
        "10 10 m 110 10 l 110 60 l 10 60 l h f "     # closed box, fill
        "500 550 50 20 re W n "                      # clip: no edges
        "300 550 m 350 600 l S",                     # diagonal: skipped
        with_rules=True)
    assert sorted(runs) == sorted([
        ("rule", "h", None, "", 0.0, 10.0, 10.0, 100.0, 0.0),
        ("rule", "v", None, "", 0.0, 110.0, 10.0, 0.0, 50.0),
        ("rule", "h", None, "", 0.0, 10.0, 60.0, 100.0, 0.0),
        ("rule", "v", None, "", 0.0, 10.0, 10.0, 0.0, 50.0)])


def test_s_operator_implicit_close_and_ctm_transform():
    # 's' closes then strokes; the CTM translate applies per point
    runs = extract_runs(
        "q 1 0 0 1 22 -148 cm 50 600 m 150 600 l 150 648 l s Q",
        with_rules=True)
    assert sorted(runs) == sorted([
        ("rule", "h", None, "", 0.0, 72.0, 452.0, 100.0, 0.0),
        ("rule", "v", None, "", 0.0, 172.0, 452.0, 0.0, 48.0),
        # implicit close: (172,500)->(72,452) is diagonal, skipped
    ])


def test_curve_moves_point_without_edges():
    runs = extract_runs(
        "10 10 m 20 40 30 40 40 10 c 140 10 l S", with_rules=True)
    # the curve itself is no ruling; the following l starts at (40,10)
    assert runs == [
        ("rule", "h", None, "", 0.0, 40.0, 10.0, 100.0, 0.0)]


def test_rules_inside_form_xobject_emit_at_invocation():
    forms = {"Hdr": {"text": "0 0 m 100 0 l S",
                     "mtx": (1.0, 0.0, 0.0, 1.0, 72.0, 700.0)}}
    runs = extract_runs("q /Hdr Do Q", forms=forms, with_rules=True)
    assert runs == [
        ("rule", "h", None, "", 0.0, 72.0, 700.0, 100.0, 0.0)]


# -------------------------------------------- §14.8 artifact marks


_ART = ("/Artifact << /Type /Pagination >> BDC "
        "BT /F1 8 Tf 72 770 Td (Page 3 of 9) Tj ET "
        "72 760 m 540 760 l S EMC "
        "BT /F2 11 Tf 72 700 Td (Body) Tj ET "
        "/P << /MCID 0 >> BDC "
        "BT /F2 11 Tf 72 640 Td (Tagged body) Tj ET EMC "
        "/Artifact BMC q 1 0 0 1 50 50 cm /Wm0 Do Q EMC "
        "q 1 0 0 1 60 400 cm /Fig0 Do Q")


def test_artifacts_drop_only_when_asked():
    on = extract_runs(_ART, with_rules=True, drop_artifacts=True)
    assert [(r[0], r[1] or r[2]) for r in on] == [
        ("text", "Body"), ("text", "Tagged body"),
        ("media", "Fig0")]
    off = extract_runs(_ART, with_rules=True)
    assert [(r[0], r[1] or r[2]) for r in off] == [
        ("text", "Page 3 of 9"), ("rule", "h"), ("text", "Body"),
        ("text", "Tagged body"), ("media", "Wm0"),
        ("media", "Fig0")]


def test_artifact_suppressed_text_still_advances_tm():
    # two shows on one line, the first artifact-marked: the second
    # must land where it would with the first visible
    s = ("BT /F1 10 Tf 72 700 Td "
         "/Artifact BMC (gone) Tj EMC ( kept) Tj ET")
    runs = extract_runs(s, drop_artifacts=True)
    assert runs == [("text", " kept", None, "F1", 10.0,
                     92.0, 700.0, 25.0, 10.0)]


def test_artifact_nesting_and_property_dict_tag():
    # nested non-artifact scope inside an artifact scope still drops;
    # the tag name BEFORE a property dict must survive the dict
    s = ("/Artifact << /Subtype /Footer >> BDC "
         "/Span << /MCID 4 >> BDC BT /F1 9 Tf (x) Tj ET EMC EMC "
         "BT /F1 9 Tf (y) Tj ET")
    runs = extract_runs(s, drop_artifacts=True)
    assert [r[1] for r in runs] == ["y"]


def test_artifact_form_invocation_suppressed_whole():
    forms = {"Hdr": {"text": "BT /F1 9 Tf (letterhead) Tj ET"}}
    s = "/Artifact BMC /Hdr Do EMC BT /F1 9 Tf (body) Tj ET"
    runs = extract_runs(s, forms=forms, drop_artifacts=True)
    assert [r[1] for r in runs] == ["body"]
