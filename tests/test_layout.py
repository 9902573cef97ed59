"""Geometric layout reconstruction (operators/layout.py): hand-built
run sets with known line/block/heading structure."""

from pyspark.sql import functions as F

from pdf_extraction_spark.operators.layout import (block_text,
                                                   reconstruct_blocks)

SCHEMA = ("doc_id long, text string, x0 double, y0 double, "
          "x1 double, y1 double, size double")


def _runs(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def test_lines_cluster_within_y_tolerance_and_join_left_to_right(spark):
    out = reconstruct_blocks(_runs(spark, [
        (1, "world", 60.0, 2.0, 100.0, 10.0, 10.0),   # +2pt jitter
        (1, "hello", 0.0, 0.0, 40.0, 8.0, 10.0),
        (1, "again", 0.0, 20.0, 40.0, 28.0, 10.0),    # 12pt below: new line
    ])).collect()
    lines = {r.line_id: r for r in out}
    assert lines[0].text == "hello world"
    assert lines[1].text == "again"
    assert (lines[0].x0, lines[0].y0, lines[0].x1, lines[0].y1) \
        == (0.0, 0.0, 100.0, 10.0)


def test_single_linkage_chains_past_total_tolerance(spark):
    # 0 -> 2 -> 4: each step <= 3, total spread 4 — one line (pdfplumber
    # cluster semantics), not two
    out = reconstruct_blocks(_runs(spark, [
        (1, "a", 0.0, 0.0, 5.0, 8.0, 10.0),
        (1, "b", 10.0, 2.0, 15.0, 10.0, 10.0),
        (1, "c", 20.0, 4.0, 25.0, 12.0, 10.0),
    ])).collect()
    assert len(out) == 1 and out[0].text == "a b c"


def test_whitespace_gap_splits_blocks(spark):
    out = reconstruct_blocks(_runs(spark, [
        (1, "l1", 0.0, 0.0, 10.0, 8.0, 10.0),
        (1, "l2", 0.0, 12.0, 10.0, 20.0, 10.0),   # gap 4 <= 10: same block
        (1, "l3", 0.0, 40.0, 10.0, 48.0, 10.0),   # gap 20 > 10: new block
    ])).collect()
    by_line = {r.text: r.block_id for r in out}
    assert by_line["l1"] == by_line["l2"] == 0
    assert by_line["l3"] == 1


def test_font_histogram_heading_detection(spark):
    out = reconstruct_blocks(_runs(spark, [
        (1, "TITLE", 0.0, 0.0, 30.0, 12.0, 14.0),
        (1, "body", 0.0, 20.0, 20.0, 28.0, 10.0),
        (1, "more", 0.0, 32.0, 20.0, 40.0, 10.0),
        (1, "body2", 30.0, 32.0, 50.0, 40.0, 10.0),
    ])).collect()
    heads = {r.text: r.is_heading for r in out}
    assert heads["TITLE"] is True
    assert heads["body"] is False and heads["more body2"] is False


def test_fontless_corpus_gets_false_headings(spark):
    runs = _runs(spark, [(1, "a", 0.0, 0.0, 5.0, 8.0)],
                 schema=("doc_id long, text string, x0 double, "
                         "y0 double, x1 double, y1 double"))
    out = reconstruct_blocks(runs).collect()
    assert out[0].is_heading is False and out[0].max_size is None


def test_block_text_joins_lines_in_reading_order(spark):
    blocks = reconstruct_blocks(_runs(spark, [
        (1, "first", 0.0, 0.0, 10.0, 8.0, 10.0),
        (1, "second", 0.0, 12.0, 10.0, 20.0, 10.0),
        (1, "third", 0.0, 60.0, 10.0, 68.0, 14.0),
    ]))
    out = {r.block_id: r for r in block_text(blocks).collect()}
    assert out[0].text == "first\nsecond"
    assert (out[0].n_lines, out[0].has_heading) == (2, False)
    assert (out[1].text, out[1].has_heading) == ("third", True)


def test_spans_from_runs_interleaves_media_in_reading_order(spark):
    from pdf_extraction_spark.operators.layout import spans_from_runs
    runs = spark.createDataFrame(
        [(1, "Top line", 0.0, 0.0, 40.0, 8.0, 10.0, None),
         (1, None, 0.0, 20.0, 200.0, 120.0, None, "img:7"),
         (1, "Bottom line", 0.0, 140.0, 50.0, 148.0, 10.0, None)],
        SCHEMA + ", media_ref string")
    out = [(r.offset, r.kind, r.text, r.media_ref)
           for r in spans_from_runs(runs)
           .orderBy("offset").collect()]
    assert out == [(0, "text", "Top line", None),
                   (1, "media", None, "img:7"),
                   (2, "text", "Bottom line", None)]


def test_spans_from_runs_feeds_the_extraction_pipeline(spark):
    """End-to-end: positioned runs -> layout spans -> spans array in the
    input-hint shape -> fused extraction plan."""
    from pdf_extraction_spark.operators.layout import spans_from_runs
    from pdf_extraction_spark.plans.fused import assemble_fused

    runs = spark.createDataFrame(
        [(7, "2. ROOF", 0.0, 0.0, 40.0, 8.0, 14.0, None),
         (7, "Deficient: shingles cracked", 0.0, 20.0, 120.0, 28.0,
          10.0, None),
         (7, None, 0.0, 40.0, 200.0, 140.0, None, "img:roof"),
         (7, "Repair recommended", 0.0, 160.0, 90.0, 168.0, 10.0,
          None)],
        SCHEMA + ", media_ref string")
    span_rows = spans_from_runs(runs)
    docs = span_rows.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(
                "offset", "kind", "text", "media_ref"))),
            lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"))).alias("spans")) \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "spans")
    row = assemble_fused(docs).collect()[0]
    media = [s for s in row.spans if s.kind == "media_ref"]
    assert [m.media_ref for m in media] == ["img:roof"]
    assert media[0].order == 2  # interleaved position preserved
    texts = [s.text for s in row.spans if s.kind == "text"]
    assert "Deficient: shingles cracked" in texts


def test_tied_sort_key_runs_stay_in_one_line(spark):
    # two runs identical in (y0, x0, text) but differing in y1 sit at a
    # line start: without a TOTAL window order Spark's two window sorts
    # could disagree on the tie and split the pair across lines
    # (found by differential fuzz, seed 1004)
    out = reconstruct_blocks(_runs(spark, [
        (1, "above", 0.0, 40.0, 20.0, 48.0, 10.0),
        (1, "leak", 50.0, 69.5, 90.0, 77.5, 10.0),
        (1, "leak", 50.0, 69.5, 90.0, 79.5, 10.0),
    ])).collect()
    pair = [r for r in out if "leak" in r.text]
    assert len(pair) == 1 and pair[0].text == "leak leak"
    assert pair[0].n_runs == 2 and pair[0].y1 == 79.5


def test_layout_plan_has_no_cartesian_product(spark):
    runs = _runs(spark, [(1, "a", 0.0, 0.0, 5.0, 8.0, 10.0)])
    plan = reconstruct_blocks(runs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gap_aware_join_kerned_fragments_stay_one_word(spark):
    # space_frac=0.3 at size 10 -> threshold 3pt: B/C abut or sit
    # inside A's extent (the running MAX right edge, not the previous
    # run's x1, is the reference), D sits 4pt past it -> one space
    rows = [
        (1, "A", 0.0, 0.0, 100.0, 10.0, 10.0),
        (1, "B", 40.0, 0.0, 60.0, 10.0, 10.0),   # contained in A
        (1, "C", 61.0, 0.0, 70.0, 10.0, 10.0),   # 1pt past B, inside A
        (1, "D", 104.0, 0.0, 110.0, 10.0, 10.0),  # 4pt past A's edge
    ]
    gap = reconstruct_blocks(_runs(spark, rows),
                             space_frac=0.3).collect()
    assert [r.text for r in gap] == ["ABC D"]
    # default (positioned-word contract): every boundary is a word gap
    legacy = reconstruct_blocks(_runs(spark, rows)).collect()
    assert [r.text for r in legacy] == ["A B C D"]


def test_gap_aware_threshold_uses_larger_neighbor_size(spark):
    # 8pt run then 16pt run with a 4pt gap: threshold is
    # 0.3 x max(8, 16) = 4.8 -> joined; with equal 8pt sizes the same
    # gap (> 2.4) separates
    mixed = reconstruct_blocks(_runs(spark, [
        (1, "big", 0.0, 0.0, 50.0, 16.0, 16.0),
        (1, "small", 54.0, 1.0, 70.0, 9.0, 8.0),
    ]), space_frac=0.3).collect()
    assert [r.text for r in mixed] == ["bigsmall"]
    flat = reconstruct_blocks(_runs(spark, [
        (1, "one", 0.0, 0.0, 50.0, 8.0, 8.0),
        (1, "two", 54.0, 0.0, 70.0, 8.0, 8.0),
    ]), space_frac=0.3).collect()
    assert [r.text for r in flat] == ["one two"]


_TABLE_RUNS = [
    (1, "Heading", 0.0, 0.0, 60.0, 8.0, 10.0),
    (1, "Item", 0.0, 20.0, 30.0, 28.0, 10.0),      # table row 1
    (1, "Cost", 200.0, 20.0, 230.0, 28.0, 10.0),
    (1, "Roof", 0.0, 34.0, 28.0, 42.0, 10.0),       # table row 2
    (1, "$150", 200.0, 34.0, 228.0, 42.0, 10.0),
    (1, "wide", 0.0, 60.0, 30.0, 68.0, 10.0),       # 2 cells but its
    (1, "alone", 300.0, 60.0, 330.0, 68.0, 10.0),   # columns match no
    (1, "tail", 0.0, 90.0, 30.0, 98.0, 10.0),       # neighbour: run of 1
]


def test_detect_table_lines_needs_two_aligned_multicol_lines(spark):
    from pdf_extraction_spark.operators.layout import (
        assemble_lines, cluster_lines, detect_table_lines)
    lines = assemble_lines(cluster_lines(_runs(spark, _TABLE_RUNS)),
                           col_gap=18.0)
    out = {r.text: r for r in detect_table_lines(lines).collect()}
    assert out["Item Cost"].is_table is True
    assert out["Item Cost"].table_text == "Item | Cost"
    assert out["Roof $150"].table_text == "Roof | $150"
    # one cell -> never a candidate; misaligned 2-cell run of 1 -> no
    assert out["Heading"].is_table is False
    assert out["wide alone"].is_table is False
    assert out["wide alone"].table_text is None
    assert out["tail"].is_table is False


def test_spans_from_runs_emits_table_rows_as_pipe_spans(spark):
    from pdf_extraction_spark.operators.layout import spans_from_runs
    out = spans_from_runs(_runs(spark, _TABLE_RUNS),
                          detect_tables=True).orderBy("offset").collect()
    assert [r.text for r in out] == \
        ["Heading", "Item | Cost", "Roof | $150", "wide alone", "tail"]
    # opt-out keeps the plain block contract (no pipes invented)
    plain = spans_from_runs(_runs(spark, _TABLE_RUNS)) \
        .orderBy("offset").collect()
    assert not any("|" in r.text for r in plain)


# ------------------------------------------------- ruled-line tables


def _ruled_fixture(spark, stream, doc="d1"):
    from pdf_extraction_spark.operators.pdfstream import \
        tokenize_streams
    df = spark.createDataFrame([(doc, stream)],
                               "doc_id string, stream string")
    return tokenize_streams(df, with_rules=True)


_GRID_3X3 = ("72 628 420 72 re S "
             "212 628 m 212 700 l S 352 628 m 352 700 l S "
             "72 652 m 492 652 l S 72 676 m 492 676 l S ")


def test_ruled_grid_rows_cells_and_empty_cell(spark):
    from pdf_extraction_spark.operators.layout import \
        detect_ruled_tables
    txt = ("BT /F1 10 Tf "
           "76 688 Td (Item) Tj 140 0 Td (Qty) Tj 140 0 Td (Cost) Tj "
           "1 0 0 1 76 664 Tm (pipe) Tj 140 0 Td (2) Tj "
           "140 0 Td (50) Tj "
           "1 0 0 1 76 640 Tm (beam) Tj 280 0 Td (75) Tj "
           "140 0 Td (usd) Tj ET")  # last run lands OUTSIDE the grid
    out = detect_ruled_tables(
        _ruled_fixture(spark, _GRID_3X3 + txt))
    rows = [r.table_text for r in
            out.orderBy("tbl_idx", "row_idx").collect()]
    assert rows == ["Item | Qty | Cost", "pipe | 2 | 50",
                    "beam |  | 75"]


def test_ruled_multiword_cell_joins_left_to_right(spark):
    from pdf_extraction_spark.operators.layout import \
        detect_ruled_tables
    txt = ("BT /F1 10 Tf 100 688 Td (two) Tj "
           "1 0 0 1 76 688 Tm (one) Tj ET")
    out = detect_ruled_tables(_ruled_fixture(spark, _GRID_3X3 + txt))
    top = out.where("row_idx = 0").collect()[0].table_text
    assert top == "one two |  | "


def test_ruled_decoys_filtered_and_stacked_tables_split(spark):
    from pdf_extraction_spark.operators.layout import \
        detect_ruled_tables
    tbl2 = ("50 452 200 48 re S 50 476 m 250 476 l S "
            "150 452 m 150 500 l S ")
    decoy = "72 580 m 200 580 l S 300 550 m 350 600 l S "
    clip = "500 550 50 20 re W n "
    txt = ("BT /F1 10 Tf 76 688 Td (a) Tj "
           "1 0 0 1 76 484 Tm (b) Tj "
           "1 0 0 1 90 578 Tm (underlined heading) Tj ET")
    out = detect_ruled_tables(
        _ruled_fixture(spark, _GRID_3X3 + tbl2 + decoy + clip + txt))
    got = {(r.tbl_idx, r.row_idx): r.table_text
           for r in out.collect()}
    # table 0 = the 3x3 grid (top), table 1 = the 2x2 grid below;
    # the underline/diagonal/clip contribute no table, and the
    # underlined heading text joins NO table
    assert got[(0, 0)] == "a |  | "
    assert got[(1, 0)] == "b | "
    assert len([k for k in got if k[0] == 0]) == 3
    assert len([k for k in got if k[0] == 1]) == 2
    assert not any("heading" in v for v in got.values())


def test_ruled_isolated_crossing_pair_below_min_rows(spark):
    from pdf_extraction_spark.operators.layout import \
        detect_ruled_tables
    # one h + one v crossing: passes the cross filter but yields a
    # 1-boundary group per axis -> no table (needs min_rows+1 = 3 hs)
    s = "72 580 m 200 580 l S 100 560 m 100 600 l S "
    assert detect_ruled_tables(_ruled_fixture(spark, s)).count() == 0


def test_ruled_table_rows_end_to_end_marker_shape(spark):
    from pdf_extraction_spark.operators.pdfstream import \
        ruled_table_rows
    txt = "BT /F1 10 Tf 76 688 Td (Cost) Tj 140 0 Td (100) Tj ET"
    df = spark.createDataFrame([("d9", _GRID_3X3 + txt)],
                               "doc_id string, stream string")
    out = ruled_table_rows(df)
    rows = out.orderBy("row_idx").collect()
    assert [r.table_text for r in rows] == \
        ["Cost | 100 | ", " |  | ", " |  | "]
    assert all(r.n_rows == 3 and r.n_cols == 3 for r in rows)
    assert all(" | " in r.table_text for r in rows)


def test_ruled_rows_feed_the_s5_table_chain(spark):
    from pdf_extraction_spark.operators.pdfstream import \
        ruled_table_rows
    from pdf_extraction_spark.operators.tables import (
        extract_tables, ruled_rows_as_spans)
    txt = ("BT /F1 10 Tf "
           "76 688 Td (Item) Tj 140 0 Td (Qty) Tj "
           "140 0 Td (Total Cost) Tj "
           "1 0 0 1 76 664 Tm (pipe repair) Tj 140 0 Td (2) Tj "
           "140 0 Td ($150.00) Tj "
           "1 0 0 1 76 640 Tm (beam) Tj 280 0 Td ($1,200.50) Tj ET")
    df = spark.createDataFrame([("d1", _GRID_3X3 + txt)],
                               "doc_id string, stream string")
    tables = extract_tables(
        ruled_rows_as_spans(ruled_table_rows(df))).collect()
    assert len(tables) == 1
    t = tables[0]
    assert t.headers == ["Item", "Qty", "Total Cost"]
    assert t.table_data == [["pipe repair", "2", "$150.00"],
                            ["beam", "", "$1,200.50"]]
    assert t.table_type == "cost_estimate"
    assert t.section == "PAGE_1"
    assert t.cost.min == 150.0 and t.cost.max == 150.0
