"""Geometric layout reconstruction: positioned text runs -> lines ->
blocks, with font-size-histogram heading detection.

The reference gets this for free from pdfplumber
(`text_extractor.pyc:67-137` calls ``page.extract_text(layout=True)``
and ``extract_words(extra_attrs=['fontname','size'])``, whose public
semantics cluster words into lines by a y tolerance on the word's top
coordinate and join them left-to-right); the north star requires the
same reconstruction as DataFrame transforms over a run table, for
corpora that arrive as raw positioned runs instead of pre-assembled
span text.

Input: ``runs(doc_id, text, x0, y0, x1, y1[, size])`` — one row per
word/text run, y increasing downward (PDF user space, pdfplumber
``top``/``bottom``), ``size`` the font size when the extractor provides
it.

Algorithm (all single-linkage 1-D clustering = sort + gap threshold,
which windows express exactly):

  1. lines: runs sorted by (y0, x0); a run starts a new line when its
     top is more than ``y_tol`` below the previous run's top
     (pdfplumber's ``y_tolerance``, default 3.0).
  2. line assembly: member runs sorted by x0, texts joined with single
     spaces; line bbox = enclosing box.
  3. blocks: lines sorted by top; a line starts a new block when the
     whitespace gap from the previous line's bottom exceeds ``gap_tol``
     (the whitespace-gap rule; PyMuPDF-style block segmentation).
  4. headings: per-doc modal font size (the font-size histogram's mode,
     ties broken toward the larger size); a line is heading-like when
     its maximum run size exceeds ``mode + size_slack``.

Scale shape: every step keys on ``doc_id`` — one hash shuffle of the
run table into per-doc partitions (zero if the table is already
bucketed by doc_id), then window functions and
one groupBy per level; no self-joins, no collect. Runs of one document
never cross partitions, so a 10^12-doc corpus parallelizes per-doc with
bounded task state (a doc's runs).  Giant-document skew (a single doc
with 10^5+ runs makes one window partition = one sort task — the same
tail the salted extraction plan defuses): real run corpora carry a page
number, and clustering never crosses a page boundary, so pre-compose
the key (``doc_id || ':' || page``) and the skew unit drops from
document to page, which is bounded by construction.

Determinism contract for the oracle gate: the window order is a TOTAL
order over every input column (see ``_run_order`` — a partial key is
not enough under Spark's two-pass window evaluation); geometry
comparisons are exact rational comparisons on the input coordinates.

Two shapes, one semantics: these DataFrame operators serve positioned-
run TABLES, where one document's runs may sit in many partitions and
the doc_id shuffle gathers them.  The PDF span bridges
(`pdfstream.pdf_to_spans`, `pdffile.files_to_spans`) already hold each
page whole in one task and call :func:`layout_page` instead — the
in-process twin at the end of this module, checked against
:func:`spans_from_runs` by ``python tools/fuzz.py layout_kernel LO HI``.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Any, Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _run_order(runs: DataFrame) -> list[str]:
    """TOTAL ordering of runs: (y0, x0, text) alone is not one, and the
    nested lag -> cumulative-sum computation sorts twice — Spark may
    order rows tied on a partial key differently between the two window
    passes, attaching the new-line flag to one physical row in the first
    sort and accumulating it from the other in the second, splitting a
    tied pair across two lines (found by differential fuzz, seed 1004).
    With every input column in the key, only FULL duplicates tie, and
    those are order-indifferent by construction.  EVERY column (not a
    whitelist): a passthrough column (fontname, page, a run id) left out
    of the key would silently reintroduce the split."""
    extra = [c for c in runs.columns
             if c not in ("doc_id", "y0", "x0", "text")]
    return ["y0", "x0", "text", *extra]


def cluster_lines(runs: DataFrame, y_tol: float = 3.0) -> DataFrame:
    """Assign ``line_id`` (0-based per doc, reading order) to each run."""
    w = Window.partitionBy("doc_id").orderBy(*_run_order(runs))
    prev_top = F.lag("y0").over(w)
    new_line = F.when(prev_top.isNull(), F.lit(1)) \
        .when(F.col("y0") - prev_top > y_tol, F.lit(1)).otherwise(F.lit(0))
    # derived from w, never rebuilt: the determinism contract hinges on
    # the lag and cumsum windows sharing one identical total order
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return runs.withColumn("line_id",
                           (F.sum(new_line).over(cum) - 1).cast("long"))


def assemble_lines(runs_with_lines: DataFrame,
                   space_frac: float | None = None,
                   col_gap: float | None = None) -> DataFrame:
    """Lines from line-assigned runs: text joined left-to-right,
    enclosing bbox, max run font size (null when runs carry none) and —
    when the corpus carries a ``font`` name column — the line's
    dominant font (the name on the largest run, size ties broken by
    name: a deterministic max over (size, font)).

    ``space_frac=None`` (default) joins member texts with single spaces
    — the contract for positioned-WORD corpora (pdfplumber
    ``extract_words`` output), where every run boundary IS a word
    boundary.  A float enables gap-aware joining for positioned-RUN
    corpora (PDF show-string fragments): a space is inserted between
    consecutive runs only when the horizontal gap (next ``x0`` minus
    the running max right edge) exceeds ``space_frac`` × the larger of
    the two runs' ``size`` — the pdfplumber ``x_tolerance`` semantic,
    em-relative so one threshold serves 9pt footnotes and 18pt
    headings.  A kerned TJ split mid-word ((W) -120 (orld)) stays one
    word; an inter-word kern or Td hop still reads as a space.  Runs
    without a ``size`` column fall back to threshold 0 (any positive
    gap separates words).

    ``col_gap`` (a float) additionally emits a ``cells`` column —
    array<struct<x0, text>> splitting the line wherever the gap from
    the running max right edge exceeds ``col_gap`` points (runs
    within a cell join with single spaces): the raw material for
    geometric table detection (detect_table_lines)."""
    has_size = "size" in runs_with_lines.columns
    size_agg = (F.max("size") if has_size
                else F.lit(None).cast("double")).alias("max_size")
    extra = []
    if "font" in runs_with_lines.columns:
        sz = (F.coalesce(F.col("size"), F.lit(0.0)) if has_size
              else F.lit(0.0))
        extra.append(F.max(F.struct(
            sz.alias("s"),
            F.coalesce(F.col("font"), F.lit("")).alias("f")))["f"]
            .alias("font"))
    if space_frac is None:
        parts = F.array_sort(F.collect_list(F.struct("x0", "text")))
        text = F.array_join(
            F.transform(parts, lambda s: s["text"]), " ")
    else:
        rsz = (F.coalesce(F.col("size"), F.lit(0.0)) if has_size
               else F.lit(0.0))
        parts = F.array_sort(F.collect_list(F.struct(
            F.col("x0"), F.col("x1"), rsz.alias("sz"), F.col("text"))))
        head = F.element_at(parts, 1)
        rest = F.slice(parts, 2,
                       F.greatest(F.size(parts) - 1, F.lit(0)))
        acc0 = F.struct(head["text"].alias("t"),
                        head["x1"].alias("px"), head["sz"].alias("ps"))
        # fold left-to-right carrying (text, running max right edge,
        # previous size); per-group arrays are line-sized, so the
        # lambda runs over a handful of elements per row
        text = F.aggregate(
            rest, acc0,
            lambda a, s: F.struct(
                F.concat(
                    a["t"],
                    F.when(s["x0"] - a["px"]
                           > F.lit(float(space_frac))
                           * F.greatest(a["ps"], s["sz"]),
                           F.lit(" ")).otherwise(F.lit("")),
                    s["text"]).alias("t"),
                F.greatest(a["px"], s["x1"]).alias("px"),
                s["sz"].alias("ps")))["t"]
    cell_aggs = []
    if col_gap is not None:
        csz = (F.coalesce(F.col("size"), F.lit(0.0)) if has_size
               else F.lit(0.0))
        cparts = F.array_sort(F.collect_list(F.struct(
            F.col("x0"), F.col("x1"), csz.alias("sz"),
            F.col("text"))))
        chead = F.element_at(cparts, 1)
        crest = F.slice(cparts, 2,
                        F.greatest(F.size(cparts) - 1, F.lit(0)))
        cacc0 = F.struct(
            F.array(F.struct(chead["x0"].alias("x0"),
                             chead["text"].alias("text")))
            .alias("cells"),
            chead["x1"].alias("px"), chead["sz"].alias("ps"))
        # within a cell, members join under the SAME word-gap rule
        # as the line text (space_frac; None = always-space), so a
        # line's table_text and text never disagree on word breaks
        wsep = (
            (lambda a, s: F.lit(" ")) if space_frac is None
            else (lambda a, s: F.when(
                s["x0"] - a["px"] > F.lit(float(space_frac))
                * F.greatest(a["ps"], s["sz"]),
                F.lit(" ")).otherwise(F.lit(""))))

        def cstep(a, s):
            opened = F.concat(
                a["cells"],
                F.array(F.struct(s["x0"].alias("x0"),
                                 s["text"].alias("text"))))
            appended = F.transform(
                a["cells"],
                lambda c, i: F.when(
                    i == F.size(a["cells"]) - 1,
                    F.struct(c["x0"].alias("x0"),
                             F.concat(c["text"], wsep(a, s),
                                      s["text"]).alias("text")))
                .otherwise(c))
            return F.struct(
                F.when(s["x0"] - a["px"] > F.lit(float(col_gap)),
                       opened).otherwise(appended).alias("cells"),
                F.greatest(a["px"], s["x1"]).alias("px"),
                s["sz"].alias("ps"))

        cell_aggs.append(
            F.aggregate(crest, cacc0, cstep)["cells"].alias("cells"))
    return (runs_with_lines
            .groupBy("doc_id", "line_id")
            .agg(text.alias("text"),
                 F.min("x0").alias("x0"), F.min("y0").alias("y0"),
                 F.max("x1").alias("x1"), F.max("y1").alias("y1"),
                 size_agg,
                 F.count(F.lit(1)).cast("long").alias("n_runs"),
                 *extra, *cell_aggs))


def detect_table_lines(lines: DataFrame,
                       col_tol: float = 6.0) -> DataFrame:
    """Geometric table detection over cell-split lines (the pdfplumber
    'text' table-strategy idea re-expressed as windows): a maximal run
    of VERTICALLY ADJACENT lines (consecutive line_ids) whose cell
    start positions agree — same column count, every cell x0 in the
    same ``col_tol``-quantized bucket — and that have ≥2 columns is a
    table; runs of length 1 are just a line with a wide gap.

    Input: assemble_lines(..., col_gap=...) output (needs ``cells``).
    Output: the same lines plus ``is_table`` boolean and
    ``table_text`` (cells joined with ' | ', the TABLE_ROW_MARKER
    shape plans/extraction.classify_spans routes to the S5 table
    operators) — NULL on non-table lines.

    Column agreement is exact bucket equality (floor(x0/col_tol)):
    deterministic and oracle-expressible; a ragged real-world scan
    whose columns drift across the bucket boundary splits into two
    tables rather than silently misaligning cells.  Scale shape: one
    lag + one cumulative sum + one count window, all on the existing
    per-doc line order — no joins, no extra shuffle beyond the line
    aggregation's."""
    sig = F.transform(
        F.col("cells"),
        lambda c: F.floor(c["x0"] / F.lit(float(col_tol))))
    lines = lines.withColumn("_sig", sig) \
        .withColumn("_cand", F.size("cells") >= 2)
    w = Window.partitionBy("doc_id").orderBy("line_id")
    prev_sig = F.lag("_sig").over(w)
    prev_cand = F.lag("_cand").over(w)
    new_tbl = F.col("_cand") & ~(
        F.coalesce(prev_cand, F.lit(False))
        & (prev_sig == F.col("_sig")))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines = lines.withColumn(
        "_tbl",
        F.when(F.col("_cand"),
               F.sum(new_tbl.cast("long")).over(cum)))
    wt = Window.partitionBy("doc_id", "_tbl")
    run_len = F.when(F.col("_tbl").isNotNull(),
                     F.count(F.lit(1)).over(wt)).otherwise(F.lit(0))
    is_table = run_len >= 2
    table_text = F.when(
        is_table,
        F.array_join(F.transform("cells", lambda c: c["text"]),
                     " | "))
    return lines.withColumn("is_table", is_table) \
        .withColumn("table_text", table_text) \
        .drop("_sig", "_cand", "_tbl")


def cluster_blocks(lines: DataFrame, gap_tol: float = 10.0) -> DataFrame:
    """Assign ``block_id`` (0-based per doc) to lines: a new block starts
    where the whitespace gap (this line's top minus the RUNNING MAX of
    all previous lines' bottoms) exceeds ``gap_tol``.

    Running max, not lag(y1): a tall line (dropped cap, inline image
    glyph) followed by short lines must not split a block that still
    geometrically overlaps the tall line — interval-merge semantics
    (round-3 ADVICE)."""
    w = Window.partitionBy("doc_id").orderBy("y0", "x0", "line_id")
    prev_bottom = F.max("y1").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    new_block = F.when(prev_bottom.isNull(), F.lit(1)) \
        .when(F.col("y0") - prev_bottom > gap_tol, F.lit(1)) \
        .otherwise(F.lit(0))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return lines.withColumn("block_id",
                            (F.sum(new_block).over(cum) - 1).cast("long"))


def modal_font_size(runs: DataFrame) -> DataFrame:
    """(doc_id, modal_size): the font-size histogram's mode per doc,
    ties broken toward the LARGER size (deterministic)."""
    counts = runs.where(F.col("size").isNotNull()) \
        .groupBy("doc_id", "size").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.desc("size"))
    return counts.withColumn("rk", F.row_number().over(w)) \
        .where(F.col("rk") == 1) \
        .select("doc_id", F.col("size").alias("modal_size"))


def reconstruct_blocks(runs: DataFrame, y_tol: float = 3.0,
                       gap_tol: float = 10.0, with_headings: bool = True,
                       space_frac: float | None = None) -> DataFrame:
    """Full layout parse: runs -> (doc_id, block_id, line_id, text, bbox,
    n_runs, is_heading).  One row per LINE, block-assigned, in reading
    order; heading-ness is per line (a block's first line may head a
    body block, as in real documents).

    A line is a heading when its largest run is more than half a
    point above the document's modal size.  ``is_heading`` is False
    everywhere when the corpus carries no
    ``size`` attribute (the same schema-tolerant fallback contract as
    C2/C3: fontless corpora get fontless semantics).
    """
    lines = assemble_lines(cluster_lines(runs, y_tol), space_frac)
    blocks = cluster_blocks(lines, gap_tol)
    if with_headings and "size" in runs.columns:
        mode = modal_font_size(runs)
        blocks = blocks.join(mode, "doc_id", "left").withColumn(
            "is_heading",
            F.coalesce(
                F.col("max_size") > F.col("modal_size") + 0.5,
                F.lit(False))).drop("modal_size")
    else:
        blocks = blocks.withColumn("is_heading", F.lit(False))
    font = (["font"] if "font" in blocks.columns else [])
    return blocks.select("doc_id", "block_id", "line_id", "text",
                         "x0", "y0", "x1", "y1", "max_size", "n_runs",
                         "is_heading", *font)


def spans_from_runs(runs: DataFrame, y_tol: float = 3.0,
                    gap_tol: float = 10.0,
                    with_fonts: bool = False,
                    space_frac: float | None = None,
                    detect_tables: bool = False,
                    col_gap: float = 18.0,
                    col_tol: float = 6.0) -> DataFrame:
    """The bridge from a raw positioned-run corpus to the contract span
    rows the extraction plans consume: text runs are layout-parsed into
    blocks (one span of kind 'text' per block), rows with a non-null
    ``media_ref`` column pass through untouched as kind 'media' spans
    positioned by their own bbox — so images/figures stay interleaved in
    reading order exactly where the layout put them.

    Output: (doc_id, offset, kind, text, media_ref), offset = 0-based
    reading-order position per doc (order: top, then left, with a
    deterministic kind/content tie-break).  ``groupBy(doc_id) +
    sort_array(collect_list(...))`` turns this into the
    ``spans array<struct<kind,text,media_ref,offset>>`` input-hint shape.

    ``with_fonts=True`` adds per-span ``font`` (the block's dominant
    font name, when the runs carry one) and ``size`` (the block's max
    run size) — the optional C2 attributes ``plans/extraction.py
    explode_spans`` reads, so font-driven formatting priority runs
    end-to-end from positioned runs (reference detect_formatting,
    text_extractor.pyc:178-207).

    ``detect_tables=True`` runs geometric table detection first
    (assemble_lines ``col_gap`` cells -> detect_table_lines): each
    detected table LINE becomes its own span whose text is the cells
    joined with ' | ' — the TABLE_ROW_MARKER shape classify_spans
    routes into the S5/C6/T6 table operators — while the remaining
    lines cluster into blocks as usual (a table whose vertical extent
    is under ``gap_tol`` can bridge the surrounding blocks; real
    tables are taller).  Opt-in: pipe-marked table rows change the
    span stream's shape, which text-span corpora already encode
    explicitly."""
    has_media = "media_ref" in runs.columns
    text_runs = runs.where(F.col("media_ref").isNull()) if has_media \
        else runs
    troot = text_runs.drop(*(["media_ref"] if has_media else []))
    table_units = None
    nul0 = F.lit(None).cast("string")
    if detect_tables:
        lines = assemble_lines(cluster_lines(troot, y_tol),
                               space_frac, col_gap)
        tl = detect_table_lines(lines, col_tol)
        tattrs = []
        if with_fonts:
            tattrs = [(F.col("font") if "font" in tl.columns
                       else nul0).alias("font"),
                      F.col("max_size").alias("size")]
        table_units = tl.where(F.col("is_table")).select(
            "doc_id", "y0", "x0", F.lit("text").alias("kind"),
            F.col("table_text").alias("text"),
            nul0.alias("media_ref"), *tattrs)
        body = tl.where(~F.col("is_table")) \
            .drop("cells", "is_table", "table_text")
        blocks = block_text(
            cluster_blocks(body, gap_tol)
            .withColumn("is_heading", F.lit(False)),
            with_size=with_fonts)
    else:
        # with_headings=False: the heading columns don't survive the
        # span select below, so skip the modal-font groupBy + join
        blocks = block_text(reconstruct_blocks(
            troot, y_tol, gap_tol, with_headings=False,
            space_frac=space_frac), with_size=with_fonts)
    nul = F.lit(None).cast("string")
    if with_fonts:
        attrs = [F.col("font") if "font" in blocks.columns else
                 nul.alias("font"),
                 F.col("size") if "size" in blocks.columns else
                 F.lit(None).cast("double").alias("size")]
        mattrs = [nul.alias("font"),
                  F.lit(None).cast("double").alias("size")]
    else:
        attrs = mattrs = []
    units = blocks.select(
        "doc_id", "y0", "x0", F.lit("text").alias("kind"),
        F.col("text"), nul.alias("media_ref"), *attrs)
    if table_units is not None:
        units = units.unionByName(table_units)
    if has_media:
        media = runs.where(F.col("media_ref").isNotNull()).select(
            "doc_id", "y0", "x0", F.lit("media").alias("kind"),
            nul.alias("text"), "media_ref", *mattrs)
        units = units.unionByName(media)
    w = Window.partitionBy("doc_id").orderBy(
        "y0", "x0", "kind", F.coalesce("text", F.lit("")),
        F.coalesce("media_ref", F.lit("")))
    keep = ["doc_id", "offset", "kind", "text", "media_ref"] \
        + (["font", "size"] if with_fonts else [])
    return units.withColumn(
        "offset", (F.row_number().over(w) - 1).cast("int")) \
        .select(*keep)


def block_text(blocks: DataFrame, with_size: bool = False) -> DataFrame:
    """Collapse line rows to one row per block: lines joined with
    newlines in reading order, block bbox, line count — the unit the
    span-classification pipeline consumes.

    ``with_size=True`` additionally carries the block's max run font
    ``size`` and (when the line rows have one) its dominant ``font``
    name — opt-in so the default output schema (and the layout_text
    oracle gate) stays fixed."""
    parts = F.array_sort(F.collect_list(F.struct("y0", "x0", "text")))
    extra = []
    if with_size:
        extra.append(F.max("max_size").alias("size"))
        if "font" in blocks.columns:
            extra.append(F.max(F.struct(
                F.coalesce(F.col("max_size"), F.lit(0.0)).alias("s"),
                F.coalesce(F.col("font"), F.lit("")).alias("f")))["f"]
                .alias("font"))
    return (blocks.groupBy("doc_id", "block_id")
            .agg(F.array_join(
                     F.transform(parts, lambda s: s["text"]), "\n")
                 .alias("text"),
                 F.min("x0").alias("x0"), F.min("y0").alias("y0"),
                 F.max("x1").alias("x1"), F.max("y1").alias("y1"),
                 F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.max(F.col("is_heading").cast("int")).cast("boolean")
                 .alias("has_heading"),
                 *extra))


def detect_ruled_tables(runs: DataFrame, *, snap_tol: float = 3.0,
                        join_tol: float = 3.0, row_gap: float = 50.0,
                        min_rows: int = 2,
                        min_cols: int = 2) -> DataFrame:
    """Ruled-line table detection — the pdfplumber DEFAULT table
    strategy ('lines': cells come from drawn rulings, not text
    alignment), which is what the reference's ``page.extract_tables()``
    (`src/table_extractor.py:9-56`) actually runs on bordered report
    tables.  :func:`detect_table_lines` remains the companion 'text'
    strategy for borderless tables.

    Input: ``tokenize_streams(..., with_rules=True)`` output — DEVICE
    space, y UP: text runs (kind='text', origin x/y, extent w/h) plus
    rulings (kind='rule', text 'h'|'v', min-corner x/y, extents w/h).

    Algorithm (all array/higher-order expressions over per-doc ruling
    arrays — rulings per page are tens, so the arrays are tiny even
    when the run table is petabytes):

      1. keep rulings that CROSS >= 2 perpendicular rulings (within
         ``join_tol``) — isolated underlines / box decorations drop;
      2. row boundaries: kept-horizontal y positions, sorted and
         merged within ``snap_tol`` (a border drawn twice snaps to
         one boundary);
      3. tables: maximal boundary groups where consecutive rows are
         <= ``row_gap`` apart — two stacked grids on one page split;
      4. column boundaries per table: kept-vertical x positions whose
         y-span overlaps the table, snapped like rows;
      5. every text run lands in the cell containing its CENTER;
         cell text joins member runs left-to-right with spaces, rows
         join cells with ' | ' (the TABLE_ROW_MARKER shape the
         S5/C6/T6 chain consumes), missing cells render as '' so
         column positions stay aligned, fully-empty rows emit too
         (pdfplumber emits them as all-empty lists).

    Known scope limits (documented, not silent): side-by-side grids
    whose rulings share y positions merge into one column space (the
    'text' strategy or page segmentation separates them), and a table
    inside a Form XObject is detected only because the machine emits
    its rulings at the invocation site — as pdfplumber does.

    Scale shape: ONE pass, ONE exchange, ZERO joins.  A single
    groupBy(doc_id) collects the doc's rulings AND words into arrays
    (map-side partial aggregation applies; per-doc state is bounded
    by page size exactly like the line-clustering windows — compose
    the key as doc||page for real multi-page corpora), then the whole
    grid recovery and cell assembly run as higher-order array
    expressions, and two posexplodes unpack (table, row) rows.  An
    earlier two-branch join formulation re-ran the upstream tokenize
    map once per branch (3 corpus decodes, measured) because each
    branch pruned different columns below its exchange and defeated
    ReusedExchange — the single linear tree makes one scan structural
    rather than optimizer-dependent.  Cell assembly visits the
    in-table word array once per cell (O(rows x cols x words) per
    table); real report grids are tens of cells over hundreds of
    words, and the F10 gates (1000 rows / 50 cols) bound the
    downstream consumer, so the quadratic corner needs a pathological
    hand-built page AND survives it linearly in corpus size.

    Returns (doc_id, tbl_idx, row_idx, n_rows, n_cols, table_text):
    one row per table row, ``tbl_idx`` numbering tables top-down per
    doc, ``row_idx`` 0-based from the top row.
    """
    J, S, G = float(join_tol), float(snap_tol), float(row_gap)
    # at least one row and one column: below that a "table" has a
    # single boundary per axis and sequence(0, n-2) would infer a
    # NEGATIVE step (Spark's sequence picks the step sign from the
    # bounds) and fabricate rows
    min_rows, min_cols = max(1, int(min_rows)), max(1, int(min_cols))

    is_rule = F.col("kind") == "rule"
    is_word = ((F.col("kind") == "text") & F.col("text").isNotNull()
               & (F.trim("text") != ""))
    base = runs.select(
        "doc_id",
        F.when(is_rule & (F.col("text") == "h"),
               F.struct("x", "y", "w")).alias("hrec"),
        F.when(is_rule & (F.col("text") == "v"),
               F.struct("x", "y", "h")).alias("vrec"),
        F.when(is_word, F.struct(
            "x", "run_idx", "text",
            (F.col("x") + F.col("w") / 2).alias("cx"),
            (F.col("y") + F.col("h") / 2).alias("cy"))).alias("wrec"))
    # collect_list skips the NULLs the when()s leave on other kinds
    grid = base.groupBy("doc_id").agg(
        F.collect_list("hrec").alias("hs"),
        F.collect_list("vrec").alias("vs"),
        F.collect_list("wrec").alias("ws"))

    cross_h = (f"filter(hs, r -> size(filter(vs, q -> "
               f"q.x >= r.x - {J} AND q.x <= r.x + r.w + {J} AND "
               f"r.y >= q.y - {J} AND r.y <= q.y + q.h + {J})) >= 2)")
    cross_v = (f"filter(vs, q -> size(filter(hs, r -> "
               f"q.x >= r.x - {J} AND q.x <= r.x + r.w + {J} AND "
               f"r.y >= q.y - {J} AND r.y <= q.y + q.h + {J})) >= 2)")
    # sorted positions merged within tol: single-linkage 1-D snap
    snap = ("aggregate(array_sort({pos}), cast(array() as "
            "array<double>), (acc, p) -> case when size(acc) > 0 "
            "and p - element_at(acc, -1) <= {tol} then acc "
            "else array_append(acc, p) end)")
    ys_expr = snap.format(pos="transform(hk, r -> r.y)", tol=S)
    groups = (f"aggregate({ys_expr}, cast(array() as "
              f"array<array<double>>), (acc, p) -> case "
              f"when size(acc) = 0 then array(array(p)) "
              f"when p - element_at(element_at(acc, -1), -1) > {G} "
              f"then array_append(acc, array(p)) "
              f"else array_append(slice(acc, 1, size(acc) - 1), "
              f"array_append(element_at(acc, -1), p)) end)")
    # per-group column boundaries; a candidate survives with at least
    # min_rows+1 row and min_cols+1 column boundaries.  groups are
    # y-ascending and disjoint, so reverse() numbers tables top-down.
    xs_of = snap.format(
        pos=(f"transform(filter(vk, q -> "
             f"q.y <= element_at(g, -1) + {J} AND "
             f"q.y + q.h >= element_at(g, 1) - {J}), q -> q.x)"),
        tol=S)
    tarr = (f"reverse(filter(transform({groups}, "
            f"g -> struct(g AS ys, {xs_of} AS xs)), "
            f"t -> size(t.ys) >= {int(min_rows) + 1} "
            f"AND size(t.xs) >= {int(min_cols) + 1}))")

    tables = grid.select(
        "doc_id",
        F.expr(cross_h).alias("hk"), F.expr(cross_v).alias("vk"),
        "ws") \
        .select("doc_id", "ws",
                F.posexplode(F.expr(tarr)).alias("tbl_idx", "t")) \
        .select("doc_id", F.col("tbl_idx").cast("int").alias("tbl_idx"),
                "t", "ws")

    # row r (0-based from the top) lies between the (size-r)th and
    # (size-r-1)th 1-based boundaries; a word belongs to the cell
    # containing its center, centers exactly on a boundary going to
    # the cell above/left (strict > on the lower bound).  Cells sort
    # member words by (x, run_idx) and join with spaces; rows join
    # cells with ' | '; a row with no words renders as empty cells.
    row_texts = ("transform(sequence(0, size(t.ys) - 2), r -> "
                 "array_join(transform(sequence(0, size(t.xs) - 2), "
                 "c -> array_join(transform(array_sort(filter(ws, "
                 "w -> w.cy > element_at(t.ys, "
                 "cast(size(t.ys) - r - 1 as int)) "
                 "AND w.cy <= element_at(t.ys, "
                 "cast(size(t.ys) - r as int)) "
                 "AND w.cx > element_at(t.xs, cast(c + 1 as int)) "
                 "AND w.cx <= element_at(t.xs, "
                 "cast(c + 2 as int)))), w -> w.text), ' ')), ' | '))")
    return tables.select(
        "doc_id", "tbl_idx",
        (F.size("t.ys") - 1).cast("int").alias("n_rows"),
        (F.size("t.xs") - 1).cast("int").alias("n_cols"),
        F.posexplode(F.expr(row_texts)).alias("row_idx", "table_text")) \
        .select("doc_id", "tbl_idx",
                F.col("row_idx").cast("int").alias("row_idx"),
                "n_rows", "n_cols", "table_text")


# --------------------------------------------- in-process page kernel
#
# ``spans_from_runs`` for ONE page's runs held in a Python list: each
# comparison, sort and aggregate reproduces the Spark expression it
# replaces, so the DataFrame chain above is the kernel's oracle.

def _k(v: Any) -> tuple:
    """Spark's ascending order for a double or string: NULLS FIRST,
    NaN greatest, -0.0 == 0.0."""
    return (0, 0) if v is None else (2, 0) if v != v else (1, v)


def _exceeds(a: Any, b: Any, tol: float) -> bool:
    """Spark ``a - b > tol`` as a WHEN condition: NULL is false, NaN
    is the greatest double."""
    if a is None or b is None:
        return False
    d = a - b
    return tol == tol and (d != d or d > tol)


def _greatest(a: Any, b: Any) -> Any:
    """``greatest``: NULLs skipped, NaN greatest."""
    return b if a is None else a if b is None or _k(a) >= _k(b) else b


def _agg(vals: Iterable, pick) -> Any:
    """``min``/``max`` aggregate: NULLs skipped, NaN greatest."""
    vs = [v for v in vals if v is not None]
    return pick(vs, key=_k) if vs else None


def _bucket(x0: Any, col_tol: float) -> Any:
    """``floor(x0 / col_tol)`` as Java casts it to bigint: NaN -> 0,
    saturating at the long range."""
    if x0 is None:
        return None
    v = x0 / col_tol
    if v != v:
        return 0
    lim = 2 ** 63
    return -lim if v == -math.inf else lim - 1 if v == math.inf \
        else max(-lim, min(lim - 1, math.floor(v)))


def _fold_cells(parts: list[tuple], space_frac: float | None,
                col_gap: float | None) -> list[list]:
    """Fold (x0, x1, sz, text) parts left to right carrying the running
    max right edge: a gap over ``col_gap`` opens a new [x0, text]
    cell, otherwise the run joins the last cell with a space (always
    when ``space_frac`` is None, else when the gap exceeds
    ``space_frac`` x the larger size); a NULL text NULLs its cell."""
    x0, px, ps, t = parts[0]
    cells = [[x0, t]]
    for x0, x1, sz, text in parts[1:]:
        if col_gap is not None and _exceeds(x0, px, col_gap):
            cells.append([x0, text])
        else:
            sep = " " if space_frac is None or _exceeds(
                x0, px, space_frac * _greatest(ps, sz)) else ""
            c = cells[-1]
            c[1] = None if c[1] is None or text is None \
                else c[1] + sep + text
        px, ps = _greatest(px, x1), sz
    return cells


def _dominant(pairs: Iterable[tuple]) -> str:
    """``max(struct(coalesce(size, 0), coalesce(font, ''))).font``"""
    return max(((0.0 if s is None else s, f or "") for s, f in pairs),
               key=lambda p: (_k(p[0]), p[1]))[1]


def layout_page(runs: list[tuple], *, y_tol: float = 3.0,
                gap_tol: float = 10.0,
                space_frac: float | None = None,
                with_fonts: bool = False,
                detect_tables: bool = False,
                col_gap: float = 18.0,
                col_tol: float = 6.0) -> list[tuple]:
    """One page's runs -> its spans in reading order: the in-process
    twin of :func:`spans_from_runs` over one ``doc_id``, same options.

    ``runs`` are y-down ``(text, x0, y0, x1, y1, size, font,
    media_ref)`` tuples; a run with a ``media_ref`` is a media span,
    the rest cluster into lines, optional table lines and blocks.
    Returns ``(kind, text, media_ref, font, size)`` per span; ``font``
    and ``size`` are None unless ``with_fonts``."""
    T, X0, Y0, X1, Y1, SZ, FN, MR = range(8)
    groups: list[list[tuple]] = []
    prev = None
    for r in sorted((r for r in runs if r[MR] is None),
                    key=lambda r: tuple(_k(v) for v in (
                        r[Y0], r[X0], r[T], r[X1], r[Y1], r[SZ],
                        r[FN]))):
        if prev is None or _exceeds(r[Y0], prev, y_tol):
            groups.append([])
        groups[-1].append(r)
        prev = r[Y0]

    # line: [line_id, text, x0, y0, x1, y1, max_size, font, cells]
    lines = []
    for lid, g in enumerate(groups):
        parts = sorted(((r[X0], r[X1], 0.0 if r[SZ] is None else r[SZ],
                         r[T]) for r in g),
                       key=lambda p: tuple(map(_k, p)))
        if space_frac is None:
            text = " ".join(t for _, t in sorted(
                ((r[X0], r[T]) for r in g),
                key=lambda p: tuple(map(_k, p))) if t is not None)
        else:
            text = _fold_cells(parts, float(space_frac), None)[0][1]
        lines.append([
            lid, text, _agg((r[X0] for r in g), min),
            _agg((r[Y0] for r in g), min), _agg((r[X1] for r in g), max),
            _agg((r[Y1] for r in g), max), _agg((r[SZ] for r in g), max),
            _dominant((r[SZ], r[FN]) for r in g) if with_fonts else None,
            _fold_cells(parts, space_frac, float(col_gap))
            if detect_tables else None])

    units = [(r[Y0], r[X0], "media", None, r[MR], None, None)
             for r in runs if r[MR] is not None]
    body = lines
    if detect_tables:
        # a table: >= 2 consecutive lines of >= 2 cells whose x0
        # buckets agree
        tbl, prev_sig, n = [], None, 0
        for ln in lines:
            sig = [_bucket(c[0], float(col_tol)) for c in ln[8]]
            if len(sig) >= 2 and sig != prev_sig:
                n += 1
            tbl.append(n if len(sig) >= 2 else None)
            prev_sig = sig if len(sig) >= 2 else None
        run_len = Counter(tbl)
        body = []
        for ln, t in zip(lines, tbl):
            if t is not None and run_len[t] >= 2:
                units.append((ln[3], ln[2], "text", " | ".join(
                    c[1] for c in ln[8] if c[1] is not None), None,
                    ln[7], ln[6] if with_fonts else None))
            else:
                body.append(ln)

    blocks: list[list] = []
    bottom = None
    for ln in sorted(body, key=lambda ln: (_k(ln[3]), _k(ln[2]), ln[0])):
        if bottom is None or _exceeds(ln[3], bottom, gap_tol):
            blocks.append([])
        blocks[-1].append(ln)
        bottom = _greatest(bottom, ln[5])
    for b in blocks:
        text = "\n".join(ln[1] for ln in sorted(
            b, key=lambda ln: (_k(ln[3]), _k(ln[2]), _k(ln[1])))
            if ln[1] is not None)
        units.append((
            _agg((ln[3] for ln in b), min), _agg((ln[2] for ln in b), min),
            "text", text, None,
            _dominant((ln[6], ln[7]) for ln in b) if with_fonts else None,
            _agg((ln[6] for ln in b), max) if with_fonts else None))
    units.sort(key=lambda u: (_k(u[0]), _k(u[1]), u[2], u[3] or "",
                              u[4] or ""))
    return [u[2:] for u in units]
