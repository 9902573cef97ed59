"""Golden span-sequence equality: Spark pipeline vs pure-python oracle.

FIXTURES.md §5: spans compare exactly on (kind, text, media_ref, order);
issues/tables/metadata compare structurally; floats with 1e-9 tolerance.
"""

import math

import pytest

from pdf_extraction_spark import corpus, oracle
from pdf_extraction_spark.plans.extraction import assemble
from pdf_extraction_spark.plans.fused import assemble_fused
from pdf_extraction_spark.plans.salted import assemble_salted

N_DOCS = 40

PLANS = {
    "exploded": assemble,
    "fused": assemble_fused,
    "salted": lambda docs: assemble_salted(docs, chunk_spans=64),
}


@pytest.fixture(scope="module", params=list(PLANS))
def results(request, spark):
    docs_pd = corpus.docs_pandas(N_DOCS)
    docs = corpus.generate_docs(spark, N_DOCS, partitions=4)
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in PLANS[request.param](docs).collect()}
    want = {row.doc_id: oracle.extract_doc(row.doc_id, row.spans)
            for _, row in docs_pd.iterrows()}
    assert set(got) == set(want)
    return got, want


def test_salted_matches_fused_on_giants(spark):
    """Giant-doc skew path: chunked+salted output must equal the fused
    plan span-for-span, including chunk-seam section carry."""
    docs = corpus.generate_docs(spark, 9, giant_every=3, partitions=2).persist()
    a = {r["doc_id"]: r.asDict(recursive=True)
         for r in assemble_fused(docs).collect()}
    b = {r["doc_id"]: r.asDict(recursive=True)
         for r in assemble_salted(docs, chunk_spans=512).collect()}
    assert set(a) == set(b)
    for doc_id in a:
        for key in ("spans", "issues", "tables", "raw_sections",
                    "metadata", "summary"):
            assert a[doc_id][key] == b[doc_id][key], f"{doc_id}.{key}"
    docs.unpersist()


def test_span_sequence_equality(results):
    got, want = results
    for doc_id, w in want.items():
        g = got[doc_id]
        g_spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                   for s in g["spans"]]
        w_spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                   for s in w["spans"]]
        assert g_spans == w_spans, f"span mismatch in {doc_id}"


def test_issues_equality(results):
    got, want = results
    for doc_id, w in want.items():
        g = got[doc_id]
        assert len(g["issues"]) == len(w["issues"]), doc_id
        for gi, wi in zip(g["issues"], w["issues"]):
            for k in ("id", "section", "subsection", "status", "priority",
                      "title", "description"):
                assert gi[k] == wi[k], f"{doc_id}: issue field {k}"
            assert gi["page_numbers"] == wi["page_numbers"], doc_id
            gc, wc = gi["estimated_cost"], wi["estimated_cost"]
            assert (gc is None) == (wc is None), f"{doc_id}: {gi['id']} cost presence"
            if gc is not None:
                for k in ("min", "max", "average"):
                    assert math.isclose(gc[k], wc[k], abs_tol=1e-9), doc_id


def test_tables_equality(results):
    got, want = results
    for doc_id, w in want.items():
        g = got[doc_id]
        g_t = [(t["page_num"], t["section"], t["table_type"], t["headers"],
                t["table_data"]) for t in g["tables"]]
        w_t = [(t["page_num"], t["section"], t["table_type"], t["headers"],
                [list(r) for r in t["table_data"]]) for t in w["tables"]]
        assert g_t == w_t, f"table mismatch in {doc_id}"


def test_metadata_equality(results):
    got, want = results
    for doc_id, w in want.items():
        g = got[doc_id]["metadata"]
        for k, wv in w["metadata"].items():
            gv = g[k]
            if isinstance(wv, float):
                assert gv is not None and math.isclose(gv, wv, abs_tol=1e-9), \
                    f"{doc_id}: metadata {k}: {gv} != {wv}"
            else:
                assert gv == wv, f"{doc_id}: metadata {k}: {gv!r} != {wv!r}"


def test_raw_sections_equality(results):
    got, want = results
    for doc_id, w in want.items():
        g = got[doc_id]["raw_sections"] or {}
        assert g == w["raw_sections"], f"raw_sections mismatch in {doc_id}"


def test_summary_equality(results):
    got, want = results
    for doc_id, w in want.items():
        g = got[doc_id]["summary"]
        for k, wv in w["summary"].items():
            assert g[k] == wv, f"{doc_id}: summary {k}: {g[k]} != {wv}"


def test_int_metadata_outside_int32_is_null(spark):
    """A metadata number past int32 ("50583683820 bedrooms" on a
    hostile page) is NULL in every plan and in the oracle, instead of
    failing the task; the other fields still extract."""
    texts = ["Report Number: R-17", "50583683820 bedrooms",
             "Living area: 2,150 sq ft", "Year built: 1985"]
    spans = [{"kind": "text", "text": t, "media_ref": "", "offset": k}
             for k, t in enumerate(texts)]
    want = oracle.extract_doc("d1", spans)["metadata"]
    assert want["bedrooms"] is None
    assert (want["square_footage"], want["year_built"]) == (2150, 1985)
    docs = spark.createDataFrame([("d1", spans)], corpus.SPAN_SCHEMA)
    for name, plan in PLANS.items():
        got = plan(docs).collect()[0]["metadata"].asDict()
        assert {k: got[k] for k in want} == want, name


def test_salted_handles_unsorted_spans(spark):
    """Span arrays stored out of offset order, with page-1 spans that
    share an offset, must still produce output identical to the fused
    plan (which sorts in _sort_flat): the salted merge sorts the
    concatenated chunk arrays by offset and keeps every tied span."""
    import pyspark.sql.functions as F

    docs = corpus.generate_docs(spark, 6, partitions=2)
    tied = F.array(*[F.struct(F.lit("text").alias("kind"),
                              F.lit(t).alias("text"),
                              F.lit(None).cast("string").alias("media_ref"),
                              F.lit(0).alias("offset"))
                     for t in ("Year built: 1985", "3 bedrooms")])
    shuffled = docs.select(  # deterministic disorder
        "doc_id", F.reverse(F.concat("spans", tied)).alias("spans"))
    a = {r["doc_id"]: r.asDict(recursive=True)
         for r in assemble_fused(shuffled).collect()}
    b = {r["doc_id"]: r.asDict(recursive=True)
         for r in assemble_salted(shuffled, chunk_spans=32).collect()}
    assert set(a) == set(b)
    for doc_id in a:
        for key in ("spans", "issues", "tables", "raw_sections",
                    "metadata", "summary"):
            assert a[doc_id][key] == b[doc_id][key], f"{doc_id}.{key}"


def test_salted_keeps_rows_that_share_a_doc_id(spark):
    """Two input rows with the same doc_id, or both with a NULL one,
    are two documents: the salted plan returns one row per input row,
    the same multiset of rows as the fused plan."""
    import json
    from collections import Counter

    base = corpus.generate_docs(spark, 4, partitions=1)
    rows = base.orderBy("doc_id").collect()
    docs = spark.createDataFrame(
        [(d, r["spans"]) for d, r in zip(("dup", "dup", None, None), rows)],
        base.schema)

    def rows_of(df):
        return Counter(json.dumps(r.asDict(recursive=True), sort_keys=True)
                       for r in df.collect())

    want = rows_of(assemble_fused(docs))
    assert sum(want.values()) == 4
    assert rows_of(assemble_salted(docs, chunk_spans=32)) == want


def test_font_attributes_drive_priority(spark):
    """C2 (text_extractor.pyc:178-227, data_structurer.py:110-144): when
    the span/block schema carries the optional bold/underlined attrs,
    bold wins 'high' and underlined wins 'medium' ahead of the keyword
    tiers; without the attrs the same content falls back to the fontless
    S4 constant-False path."""
    from pdf_extraction_spark.operators.segmentation import segment_issues

    rows = [
        ("d1", 0, 1, "Electrical", "Panel", "D",
         "panel cover loose at garage area", True, False),
        ("d1", 1, 1, "Electrical", "Panel", "D",
         "switch plate dusty at hall wall", False, True),
        ("d1", 2, 1, "Electrical", "Panel", "D",
         "cover plate scuffed near door", False, False),
        ("d1", 3, 1, "Electrical", "Panel", "D",
         "immediate safety hazard at panel", False, False),
    ]
    schema = ("doc_id string, offset int, page_num int, section string, "
              "subsection string, status string, content string")
    font_blocks = spark.createDataFrame(
        rows, schema + ", bold boolean, underlined boolean")
    got = {r["description"]: r["priority"]
           for r in segment_issues(font_blocks).collect()}
    assert got["panel cover loose at garage area"] == "high"      # bold
    assert got["switch plate dusty at hall wall"] == "medium"      # underlined
    assert got["cover plate scuffed near door"] == "info"
    assert got["immediate safety hazard at panel"] == "high"      # keyword

    plain_blocks = spark.createDataFrame(
        [r[:7] for r in rows], schema)
    got = {r["description"]: r["priority"]
           for r in segment_issues(plain_blocks).collect()}
    assert got["panel cover loose at garage area"] == "info"      # no font
    assert got["switch plate dusty at hall wall"] == "info"
    assert got["immediate safety hazard at panel"] == "high"


def test_font_attrs_flow_through_exploded_plan(spark):
    """explode_spans is schema-tolerant: extra bold/underlined span
    fields surface as block columns and reach the issues; the standard
    fontless corpus is unchanged."""
    from pyspark.sql import functions as F

    docs = corpus.generate_docs(spark, 6, partitions=2)
    with_font = docs.withColumn(
        "spans", F.transform(
            "spans", lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
                (s["offset"] % 7 == F.lit(3)).alias("bold"))))
    base = {r["doc_id"]: r for r in assemble(docs).collect()}
    font = {r["doc_id"]: r for r in assemble(with_font).collect()}
    upgraded = downgraded = 0
    for doc_id, fr in font.items():
        br = base[doc_id]
        assert len(fr["issues"]) == len(br["issues"])
        for fi, bi in zip(fr["issues"], br["issues"]):
            assert fi["description"] == bi["description"]
            if fi["priority"] != bi["priority"]:
                # bold can only raise to high
                assert fi["priority"] == "high"
                upgraded += 1
            if bi["priority"] == "high":
                assert fi["priority"] == "high"
                downgraded += 1  # high stays high (never downgraded)
    assert upgraded > 0  # the synthetic bold flag hit at least one issue


def test_bbox_attrs_aggregate_per_section(spark):
    """C3 (text_extractor.pyc:211-227): optional x0/y0/x1/y1 span attrs
    flow through explode_spans -> build_blocks, null attrs take the
    reference's (0,0,0,0) empty default, and section_bboxes computes the
    (min x0, min top, max x1, max bottom) spatial extent per raw-section
    group."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pdf_extraction_spark.plans.extraction import (
        build_blocks, classify_spans, explode_spans, section_bboxes)
    from pdf_extraction_spark.operators.sections import track_sections

    def sp(offset, text, bbox=None):
        x0, y0, x1, y1 = bbox or (None, None, None, None)
        return Row(kind="text", text=text, media_ref=None, offset=offset,
                   x0=x0, y0=y0, x1=x1, y1=y1)

    docs = spark.createDataFrame([
        ("d1", [
            sp(0, "I. STRUCTURAL SYSTEMS"),
            sp(1, "crack at slab edge", (10.0, 20.0, 110.0, 30.5)),
            sp(2, "gap at beam seat", (5.5, 40.0, 90.0, 52.0)),
            sp(3, "II. ELECTRICAL SYSTEMS"),
            sp(4, "panel cover loose"),          # null bbox -> zeros
        ]),
    ], "doc_id string, spans array<struct<kind string, text string, "
       "media_ref string, offset int, x0 double, y0 double, x1 double, "
       "y1 double>>")
    blocks = build_blocks(track_sections(classify_spans(explode_spans(docs))))
    got = {r["section"]: (r["x0"], r["y0"], r["x1"], r["y1"])
           for r in section_bboxes(blocks).collect()}
    assert got["I. STRUCTURAL SYSTEMS"] == (5.5, 20.0, 110.0, 52.0)
    assert got["II. ELECTRICAL SYSTEMS"] == (0.0, 0.0, 0.0, 0.0)

    # bbox-less schema: the S4 fallback zeros everywhere, plan unchanged
    plain = docs.select("doc_id", F.transform(
        "spans", lambda s: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"))).alias("spans"))
    blocks = build_blocks(track_sections(classify_spans(explode_spans(plain))))
    for r in section_bboxes(blocks).collect():
        assert (r["x0"], r["y0"], r["x1"], r["y1"]) == (0.0, 0.0, 0.0, 0.0)


def test_font_size_and_italic_branches(spark):
    """C2 sub-branches (detect_formatting, text_extractor.pyc:178-207):
    bold derives from a bold/black FONT NAME or a SIZE above 12pt even
    with no explicit bold attr; italic derives from italic/oblique font
    names; a plain font at <=12pt stays unformatted."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.sections import track_sections
    from pdf_extraction_spark.plans.extraction import (build_blocks,
                                                       classify_spans,
                                                       explode_spans)

    def sp(offset, text, font=None, size=None):
        return Row(kind="text", text=text, media_ref=None, offset=offset,
                   font=font, size=size)

    docs = spark.createDataFrame([
        ("d1", [
            sp(0, "water heater relief valve leaking", "Helvetica", 10.0),
            sp(1, "minor drywall crack", "Arial-BoldMT", 10.0),
            sp(2, "caulk gap at window", "Arial-Black", 9.0),
            sp(3, "hairline slab crack", "Times-Italic", 11.0),
            sp(4, "door rubs at frame", "Courier-Oblique", 10.5),
            sp(5, "handrail loose at stairs", "Georgia", 14.0),  # >12pt
            sp(6, "paint scuff at hallway", None, None),
        ]),
    ], "doc_id string, spans array<struct<kind string, text string, "
       "media_ref string, offset int, font string, size double>>")
    blocks = build_blocks(track_sections(classify_spans(explode_spans(docs))))
    got = {r["offset"]: (r["bold"], r["italic"]) for r in blocks.collect()}
    assert got[0] == (False, False)   # plain font, small size
    assert got[1] == (True, False)    # 'bold' in font name
    assert got[2] == (True, False)    # 'black' in font name
    assert got[3] == (False, True)    # italic font
    assert got[4] == (False, True)    # oblique font
    assert got[5] == (True, False)    # size > 12 -> bold
    assert got[6] == (False, False)   # null attrs -> fontless default


def test_auto_plan_matches_fused_on_mixed_corpus(spark):
    """assemble_auto is the ONE skew-adaptive entry point: normal docs
    take the zero-shuffle fused branch, docs over the giant threshold
    take the chunked+salted branch (built only when the plan-time probe
    finds one), and the unioned output is row-identical to running
    everything fused."""
    from pdf_extraction_spark.plans.fused import assemble_auto

    docs = corpus.generate_docs(spark, 9, giant_every=3, partitions=2).persist()
    # low threshold so the synthetic giants really route to the salted
    # branch (production default is 500k spans)
    a = {r["doc_id"]: r.asDict(recursive=True)
         for r in assemble_auto(docs, giant_spans=1000,
                                chunk_spans=256).collect()}
    b = {r["doc_id"]: r.asDict(recursive=True)
         for r in assemble_fused(docs).collect()}
    assert set(a) == set(b) and len(a) == 9
    for doc_id in a:
        for key in ("spans", "issues", "tables", "raw_sections",
                    "metadata", "summary"):
            assert a[doc_id][key] == b[doc_id][key], f"{doc_id}.{key}"
    # a corpus under the default bar takes the fused branch alone
    small = assemble_auto(docs.limit(2))
    assert small.count() == 2
    docs.unpersist()


def test_auto_plan_keeps_null_spans_docs(spark):
    """A doc with a NULL spans column must not vanish from the auto
    dispatch: size(NULL) is NULL under ANSI mode, which fails both
    branch predicates unless coalesced — assemble_fused emits a row for
    it, so assemble_auto must too."""
    from pdf_extraction_spark.plans.fused import assemble_auto

    base = corpus.generate_docs(spark, 3, partitions=1)
    schema = base.schema
    nulled = spark.createDataFrame(
        [("doc_null", None)], schema).unionByName(base)
    got = assemble_auto(nulled, giant_spans=1000).collect()
    assert len(got) == 4
    fused_ids = {r["doc_id"] for r in assemble_fused(nulled).collect()}
    assert {r["doc_id"] for r in got} == fused_ids
    assert "doc_null" in fused_ids
