"""One driver for the differential fuzz campaigns.

usage: python tools/fuzz.py FAMILY LO HI

Runs the FAMILY campaign over seeds [LO, HI), prints each divergence
line and a count, and exits 1 if any seed diverged, else 0.  A check
that raises counts as a divergence of its seed (of its batch, for a
family that runs a batch of seeds as one Spark job), and the run goes
on.

Each ``tools/fuzz_<family>.py`` module builds its family's cases: by
construction with their expected output, or as inputs for two
implementations.  :data:`CAMPAIGNS` maps each family to the check that
runs and compares them, and to the seed count that tier-1 runs
(tests/test_fuzz.py).
"""
from __future__ import annotations

import argparse
import os
import re
import sys
import traceback
from typing import Callable, Iterator, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from pdf_extraction_spark import oracle
from pdf_extraction_spark.operators.docx import parse_docx
from pdf_extraction_spark.operators.epub import parse_epub
from pdf_extraction_spark.operators.html import (extract_main_content,
                                                 html_block_table)
from pdf_extraction_spark.operators.layout import (reconstruct_blocks,
                                                   spans_from_runs)
from pdf_extraction_spark.operators.links import (head_meta, link_table,
                                                  url_parts)
from pdf_extraction_spark.operators.pdffile import PdfFile
from pdf_extraction_spark.operators.pdfstream import (extract_runs,
                                                      ruled_table_rows)
from pdf_extraction_spark.operators.pii import scrub_pii
from pdf_extraction_spark.operators.pptx import parse_pptx
from pdf_extraction_spark.operators.repetition import repetition_stats
from pdf_extraction_spark.operators.warc import flatten_records
from pdf_extraction_spark.operators.xlsx import parse_xlsx
from pdf_extraction_spark.queries_html import (sql_html_blocks,
                                               sql_html_main)
from pdf_extraction_spark.queries_links import (_URL_COLS, sql_html_head,
                                                sql_html_links,
                                                sql_url_parts)
from pdf_extraction_spark.session import get_spark
from tools import (fuzz_docx, fuzz_epub, fuzz_extraction, fuzz_html,
                   fuzz_layout, fuzz_links, fuzz_pdffile, fuzz_pdfstream,
                   fuzz_pptx, fuzz_quality, fuzz_ruled, fuzz_warc,
                   fuzz_xlsx)


class Campaign(NamedTuple):
    # check(seeds, spark) -> error lines, each prefixed with its seed
    check: Callable[[range, SparkSession | None], list[str]]
    slice: int            # tier-1 runs seeds [0, slice)
    spark: bool = False   # the check runs Spark jobs
    batch: int = 1        # seeds per check call


# ------------------------------------------------------ comparators

def rows_diff(label: str, rows: list, expected: list) -> list[str]:
    """Up to four lines naming where ``rows`` differ from ``expected``:
    the row count, else each differing row, field by field where the
    expected row is a dict (it names the fields it pins)."""
    if len(rows) != len(expected):
        return [f"{label}: {len(rows)} rows, expected {len(expected)}"]
    errs = []
    for i, (row, exp) in enumerate(zip(rows, expected)):
        if isinstance(exp, dict):
            errs += [f"{label} row {i} {k}: {row[k]!r} != {v!r}"
                     for k, v in exp.items() if row[k] != v]
        elif row != exp:
            errs.append(f"{label} row {i}: {row!r} != {exp!r}")
    return errs[:4]


def frame_diff(spark_df, duckdb_df, keys: list[str]) -> list[str]:
    """Lines naming where a Spark frame differs from a DuckDB relation
    over the Spark frame's columns, both sorted on ``keys``: the row
    counts, else the first differing row of each column."""
    s = spark_df.toPandas().sort_values(keys).reset_index(drop=True)
    o = duckdb_df.df()[s.columns].sort_values(keys) \
        .reset_index(drop=True)
    if s.equals(o):
        return []
    if len(s) != len(o):
        return [f"spark {len(s)} rows, oracle {len(o)} rows"]
    errs = []
    for c in s.columns:
        m = (s[c] != o[c]) & ~(s[c].isna() & o[c].isna())
        if m.any():
            i = m.idxmax()
            errs.append(f"col {c} at {s.loc[i, keys].to_dict()}: "
                        f"spark {s[c][i]!r:.160} oracle {o[c][i]!r:.160}")
    return errs or [f"dtypes differ: spark {dict(s.dtypes)} "
                    f"oracle {dict(o.dtypes)}"]


def _frame(spark, con, name: str, rows: list, col: str):
    """(doc_id, ``col``) rows as DuckDB table ``name`` on ``con``, and
    as the Spark frame returned."""
    pdf = pd.DataFrame(rows, columns=["doc_id", col])
    con.register(name, pdf)
    return spark.createDataFrame(pdf.assign(
        doc_id=pdf.doc_id.astype("int64")))


def _versus(seed: int, con, pairs: list[tuple]) -> list[str]:
    """:func:`frame_diff` per (label, Spark frame, DuckDB SQL on
    ``con``, sort keys)."""
    return [f"seed {seed} {label}: {e}"
            for label, sdf, sql, keys in pairs
            for e in frame_diff(sdf, con.sql(sql), keys)]


# ----------------------------------------- in-process (no Spark) checks

def _per_seed(diff: Callable[[int], list[str]]):
    """The campaign check that runs ``diff(seed)`` per seed."""
    return lambda seeds, spark: [e for s in seeds for e in diff(s)]


def _parsed(gen_case, parse):
    """Check of a family whose ``gen_case(seed)`` builds (file bytes,
    expected rows) and whose parser reads the rows back."""
    def diff(seed: int) -> list[str]:
        blob, expected = gen_case(seed)
        return rows_diff(f"seed {seed}", parse(blob), expected)
    return _per_seed(diff)


def _epub_paths(blob: bytes) -> list[str]:
    return [r["path"] for r in parse_epub(blob)]


def _warc(seed: int) -> list[str]:
    blob, expected = fuzz_warc.gen_case(seed)
    rows = [{"warc_type": r[2], "target_uri": r[3], "http_status": r[6],
             "payload_len": r[9], "text": r[10]}
            for r in flatten_records(str(seed), blob)]
    return rows_diff(f"seed {seed}", rows, expected)


def _pdffile(seed: int) -> list[str]:
    blob, expected = fuzz_pdffile.gen_case(seed)
    pf = PdfFile(blob)
    got = {"encrypted": pf._file_key is not None,
           "pages": [t.encode("latin-1") for t in pf.page_texts()],
           "title": pf.info().get("Title"), "outlines": pf.outlines(),
           "attachments": pf.embedded_files(),
           "fields": pf.form_fields(), "font_maps": pf.page_font_maps(),
           "forms": pf.page_forms(), "n_revisions": pf.n_revisions,
           "xref_kind": pf.xref_kind}
    return rows_diff(f"seed {seed}", [got], [expected])


def _pdfstream(seed: int) -> list[str]:
    stream, maps = fuzz_pdfstream.gen_case(seed)
    return [e for drop in (False, True) for e in rows_diff(
        f"seed {seed} drop_artifacts={drop}",
        extract_runs(stream, font_maps=maps, with_rules=True,
                     drop_artifacts=drop),
        fuzz_pdfstream.twin_runs(stream, font_maps=maps,
                                 drop_artifacts=drop))]


# ---------------------------------------------------- Spark checks

def _ruled(seeds: range, spark) -> list[str]:
    cases = {s: fuzz_ruled.gen_case(s) for s in seeds}
    df = spark.createDataFrame(
        [(str(s), stream) for s, (stream, _) in cases.items()],
        "doc_id string, stream string")
    got: dict[int, list] = {s: [] for s in seeds}
    for row in ruled_table_rows(df).collect():
        got[int(row.doc_id)].append(
            (row.tbl_idx, row.row_idx, row.n_rows, row.n_cols,
             row.table_text))
    return [e for s, (_, expected) in cases.items()
            for e in rows_diff(f"seed {s}", sorted(got[s]),
                               sorted(expected))]


def _layout(seeds: range, spark) -> list[str]:
    errs = []
    for s in seeds:
        pdf = pd.DataFrame(fuzz_layout.gen_case(s),
                           columns=fuzz_layout.RUN_COLS)
        sdf = spark.createDataFrame(
            pdf, "doc_id long, text string, x0 double, y0 double, "
                 "x1 double, y1 double, size double, media_ref string")
        con = duckdb.connect()
        con.register("runs", pdf)
        blocks = reconstruct_blocks(sdf.where("media_ref IS NULL")
                                    .drop("media_ref"))
        spans = spans_from_runs(sdf)
        errs += _versus(s, con, [
            ("blocks", blocks, fuzz_layout.SQL_BLOCKS,
             sorted(blocks.columns)),
            ("spans", spans, fuzz_layout.SQL_SPANS, sorted(spans.columns))])
    return errs


def _layout_kernel(seeds: range, spark) -> list[str]:
    errs = []
    for s in seeds:
        runs, streams, opts, page_col = fuzz_layout.gen_kernel_case(s)
        errs += [f"seed {s} runs {opts}: {e}" for e in
                 fuzz_layout.check_runs(spark, runs, opts)[:3]]
        errs += [f"seed {s} streams {opts} page_col={page_col}: {e}"
                 for e in fuzz_layout.check_streams(
                     spark, streams, opts, page_col)[:3]]
    return errs


def _extraction(seeds: range, spark) -> list[str]:
    errs = []
    for s in seeds:
        docs = fuzz_extraction.gen_case(s)
        sdf = fuzz_extraction.docs_frame(spark, docs)
        want = {d: oracle.extract_doc(d, spans) for d, spans in docs}
        for plan, assemble in fuzz_extraction.PLANS.items():
            got = {r["doc_id"]: r.asDict(recursive=True)
                   for r in assemble(sdf).collect()}
            errs += [f"seed {s} plan {plan} {e}"
                     for e in fuzz_extraction.doc_diff(got, want)]
    return errs


def _html(seeds: range, spark) -> list[str]:
    h = fuzz_html
    errs = []
    for s in seeds:
        con = duckdb.connect()
        sdf = _frame(spark, con, "corpus", h.gen_case(s), "html")
        errs += _versus(s, con, [
            ("main", extract_main_content(sdf).select(*h.MAIN_COLS),
             sql_html_main(h.PAGES), ["doc_id"]),
            ("blocks", html_block_table(sdf).select(*h.BLOCK_COLS),
             sql_html_blocks(h.PAGES), ["doc_id", "block_idx"])])
    return errs


def _links(seeds: range, spark) -> list[str]:
    lk = fuzz_links
    parts, sql_parts = url_parts(F.col("u")), sql_url_parts("u")
    errs = []
    for s in seeds:
        pages, urls, heads = lk.gen_case(s)
        con = duckdb.connect()
        page_df = _frame(spark, con, "corpus", pages, "html")
        url_df = _frame(spark, con, "urls", urls, "u")
        head_df = _frame(spark, con, "corpus_head", heads, "html")
        errs += _versus(s, con, [
            ("links", link_table(page_df).select(*lk.LINK_COLS),
             sql_html_links(lk.PAGES), ["doc_id", "link_idx"]),
            ("urls", url_df.select(
                "doc_id", *[parts[n].alias(n) for n in _URL_COLS]),
             "SELECT doc_id, " + ", ".join(
                 f"{sql_parts[n]} AS {n}" for n in _URL_COLS)
             + " FROM urls", ["doc_id"]),
            ("head", head_meta(head_df).select(*lk.HEAD_COLS),
             sql_html_head(lk.HEAD_PAGES), ["doc_id"])])
    return errs


def _quality(seeds: range, spark) -> list[str]:
    errs = []
    for s in seeds:
        con = duckdb.connect()
        sdf = _frame(spark, con, "corpus", fuzz_quality.gen_case(s),
                     "text")
        errs += _versus(s, con, [
            ("pii", scrub_pii(sdf).select(
                "doc_id", "n_email", "n_phone", "n_ipv4", "text"),
             fuzz_quality.sql_pii(), ["doc_id"]),
            ("repetition", repetition_stats(sdf), fuzz_quality.SQL_REP,
             ["doc_id"])])
    return errs


CAMPAIGNS: dict[str, Campaign] = {
    "docx": Campaign(_parsed(fuzz_docx.gen_case, parse_docx), 50),
    "pptx": Campaign(_parsed(fuzz_pptx.gen_case, parse_pptx), 50),
    "xlsx": Campaign(_parsed(fuzz_xlsx.gen_case, parse_xlsx), 50),
    "epub": Campaign(_parsed(fuzz_epub.gen_case, _epub_paths), 50),
    "warc": Campaign(_per_seed(_warc), 50),
    "pdffile": Campaign(_per_seed(_pdffile), 200),
    "pdfstream": Campaign(_per_seed(_pdfstream), 300),
    "ruled": Campaign(_ruled, 50, spark=True, batch=200),
    "layout": Campaign(_layout, 5, spark=True),
    "layout_kernel": Campaign(_layout_kernel,
                              len(fuzz_layout.OPTION_SETS), spark=True),
    "extraction": Campaign(_extraction, 2, spark=True),
    "html": Campaign(_html, 10, spark=True),
    "links": Campaign(_links, 10, spark=True),
    "quality": Campaign(_quality, 10, spark=True),
}


# ------------------------------------------------------------ driver

def divergences(family: str, lo: int, hi: int,
                spark: SparkSession | None = None) -> Iterator[str]:
    """The error lines of ``family``'s campaign over seeds [lo, hi)."""
    c = CAMPAIGNS[family]
    for b0 in range(lo, hi, c.batch):
        seeds = range(b0, min(b0 + c.batch, hi))
        try:
            yield from c.check(seeds, spark)
        except Exception as e:  # a raising check diverged; go on
            label = f"seed {b0}" if len(seeds) == 1 \
                else f"seeds {b0}-{seeds[-1]}"
            where = traceback.extract_tb(e.__traceback__)[-1]
            yield (f"{label}: raised {e!r} at {where.filename}:"
                   f"{where.lineno}")


_SEED = re.compile(r"seeds? [\d-]+")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Run one differential fuzz campaign over seeds "
                    "[LO, HI); exit 1 if any seed diverges.")
    ap.add_argument("family", choices=CAMPAIGNS)
    ap.add_argument("lo", type=int)
    ap.add_argument("hi", type=int)
    args = ap.parse_args(argv)
    spark = None
    if CAMPAIGNS[args.family].spark:
        spark = get_spark(app_name="fuzz", cores=4)
        spark.sparkContext.setLogLevel("ERROR")
    bad = set()
    for line in divergences(args.family, args.lo, args.hi, spark):
        print(line, flush=True)
        m = _SEED.match(line)
        bad.add(m.group() if m else line)
    print(f"{args.family}: {args.hi - args.lo} seeds, "
          f"{len(bad)} divergent")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
