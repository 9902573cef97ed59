"""Differential fuzz harness (committed so the campaign is
reproducible).

``python tools/fuzz_layout.py LO HI``: operators/layout.py (Spark
windows) vs a DuckDB SQL twin of the same clustering, on random run
corpora that hit the tolerance boundaries (y diffs of exactly 3.0,
gaps of exactly 10.0, duplicate (y,x,text) rows, single-run docs,
media interleaves).

``python tools/fuzz_layout.py LO HI --kernel``: the in-process page
kernel (``layout.layout_page``, as the span bridges run it) vs the
Spark SQL layout chain, on random positioned runs (``spans_from_runs``)
and on random multi-page content streams with font maps
(``pdfstream.pdf_to_spans`` vs :func:`sql_chain_spans`), under every
layout option: y diffs of exactly ``y_tol``, gaps of exactly
``gap_tol``, word gaps of exactly ``space_frac`` x size, cell x0 on
``col_tol`` bucket edges, full and partial duplicates, NULL
size/font/text, NaN and +-0.0 coordinates, media interleaves,
``with_fonts`` and ``detect_tables``."""
import math
import random
import sys

import duckdb
import pandas as pd
from pyspark.sql import Window, functions as F

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))

from pdf_extraction_spark.operators.layout import (layout_page,
                                                   reconstruct_blocks,
                                                   spans_from_runs)
from pdf_extraction_spark.operators.pdfstream import (fontmaps_json,
                                                      pdf_to_spans,
                                                      tokenize_streams)
from pdf_extraction_spark.session import get_spark

WORDS = ["roof", "leak", "a", "b", "x", "attic", "vent", "crack"]
SIZES = [8.0, 10.0, 10.0, 10.0, 12.0, 14.0]

SQL_CTE = """
tr AS (SELECT * FROM runs WHERE media_ref IS NULL),
lc AS (
  SELECT *, CASE WHEN lag(y0) OVER w IS NULL
                   OR y0 - lag(y0) OVER w > 3.0
            THEN 1 ELSE 0 END AS nl
  FROM tr WINDOW w AS (PARTITION BY doc_id ORDER BY y0, x0, text, x1, y1, size)),
lid AS (
  SELECT *, SUM(nl) OVER (PARTITION BY doc_id ORDER BY y0, x0, text, x1, y1, size
                          ROWS UNBOUNDED PRECEDING) - 1 AS line_id
  FROM lc),
lines AS (
  SELECT doc_id, line_id,
    string_agg(text, ' ' ORDER BY x0, text) AS text,
    min(x0) AS x0, min(y0) AS y0, max(x1) AS x1, max(y1) AS y1,
    max(size) AS max_size, count(*) AS n_runs
  FROM lid GROUP BY doc_id, line_id),
bc AS (
  -- running max of previous bottoms (interval-merge), not lag(y1)
  SELECT *, CASE WHEN max(y1) OVER w2 IS NULL
                   OR y0 - max(y1) OVER w2 > 10.0
            THEN 1 ELSE 0 END AS nb
  FROM lines
  WINDOW w2 AS (PARTITION BY doc_id ORDER BY y0, x0, line_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
bid AS (
  SELECT *, SUM(nb) OVER (PARTITION BY doc_id ORDER BY y0, x0, line_id
                          ROWS UNBOUNDED PRECEDING) - 1 AS block_id
  FROM bc),
mode AS (
  SELECT doc_id, size AS modal_size
  FROM tr WHERE size IS NOT NULL GROUP BY doc_id, size
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY count(*) DESC, size DESC) = 1),
blocks AS (
  SELECT b.doc_id, CAST(b.block_id AS BIGINT) AS block_id,
    CAST(b.line_id AS BIGINT) AS line_id, b.text,
    b.x0, b.y0, b.x1, b.y1, b.max_size,
    CAST(b.n_runs AS BIGINT) AS n_runs,
    coalesce(b.max_size > m.modal_size + 0.5, FALSE) AS is_heading
  FROM bid b LEFT JOIN mode m ON b.doc_id = m.doc_id)
"""

SQL_BLOCKS = f"WITH {SQL_CTE} SELECT * FROM blocks"
SQL_SPANS = f"""
WITH {SQL_CTE},
bt AS (
  SELECT doc_id, string_agg(text, chr(10) ORDER BY y0, x0) AS text,
    min(x0) AS x0, min(y0) AS y0
  FROM blocks GROUP BY doc_id, block_id),
units AS (
  SELECT doc_id, y0, x0, 'text' AS kind, text,
    CAST(NULL AS VARCHAR) AS media_ref FROM bt
  UNION ALL
  SELECT doc_id, y0, x0, 'media', CAST(NULL AS VARCHAR), media_ref
  FROM runs WHERE media_ref IS NOT NULL)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       ORDER BY y0, x0, kind, coalesce(text, ''),
                coalesce(media_ref, '')) - 1 AS INT) AS "offset",
  kind, text, media_ref
FROM units
"""


def gen_runs(rng, n_docs=8):
    rows = []
    for d in range(n_docs):
        y = 0.0
        for _ in range(rng.randint(1, 40)):
            # y step: exact-boundary values included
            y += rng.choice([0.0, 0.5, 1.0, 3.0, 3.5, 8.0, 10.0,
                             12.0, 18.0, 30.0])
            x = rng.choice([0.0, 10.0, 50.0, 50.0, 100.0, 7.5])
            w = rng.choice(WORDS)
            media = rng.random() < 0.1
            rows.append((
                d,
                None if media else w,
                x, y, x + rng.choice([5.0, 40.0]),
                y + rng.choice([8.0, 10.0]),
                None if media else rng.choice(SIZES),
                f"img:{len(rows)}" if media else None))
    return rows


# ------------------------------------------ kernel vs SQL chain mode

RUNS_DDL = ("doc_id string, text string, x0 double, y0 double, "
            "x1 double, y1 double, size double, font string, "
            "media_ref string")

# (y_tol, gap_tol, space_frac, with_fonts, detect_tables, col_gap,
# col_tol): every flag combination, each at the tolerances the
# generators put their exact-boundary values on
OPTION_SETS = [
    dict(y_tol=3.0, gap_tol=10.0, space_frac=sf, with_fonts=wf,
         detect_tables=dt, col_gap=18.0, col_tol=6.0)
    for sf in (None, 0.3) for wf in (False, True) for dt in (False, True)]


def layout_runs(runs, page_height: float = 792.0):
    """Device-space tokenizer runs (y up) -> the y-down positioned-run
    schema of operators/layout.py: top = (H - y) - h, bottom = H - y;
    only media runs keep their media_ref."""
    H = F.lit(page_height)
    return runs.select(
        "doc_id", "text", F.col("x").alias("x0"),
        (H - F.col("y") - F.col("h")).alias("y0"),
        (F.col("x") + F.col("w")).alias("x1"),
        (H - F.col("y")).alias("y1"), "size", "font",
        F.when(F.col("kind") == "media", F.col("media_ref"))
        .alias("media_ref"))


def sql_chain_spans(docs, stream_col="stream", id_col="doc_id",
                    page_col=None, maps_col=None, page_height=792.0,
                    drop_artifacts=False, space_frac=0.3, **layout):
    """Content streams -> contract span arrays through the SQL layout
    chain (the same options and output as ``pdf_to_spans``):
    tokenize_streams -> :func:`layout_runs` -> spans_from_runs keyed
    per doc (or per doc||page with ``page_col``) -> page-ordered
    gapless offsets -> groupBy."""
    sep = "\x1f"
    key = F.col(id_col).cast("string")
    if page_col is not None:
        key = F.concat_ws(sep, key,
                          F.col(page_col).cast("long").cast("string"))
    cols = [key.alias("doc_id"), F.col(stream_col).alias("stream")]
    if maps_col is not None:
        cols.append(F.col(maps_col).alias("maps"))
    runs = layout_runs(tokenize_streams(
        docs.select(*cols), maps_col="maps" if maps_col else None,
        drop_artifacts=drop_artifacts), page_height)
    rows = spans_from_runs(runs, space_frac=space_frac, **layout)
    if page_col is not None:
        w = F.row_number().over(
            Window.partitionBy("real_doc").orderBy("page", "offset"))
        rows = rows.select(
            F.substring_index("doc_id", sep, 1).alias("real_doc"),
            F.substring_index("doc_id", sep, -1).cast("long")
            .alias("page"),
            *[c for c in rows.columns if c != "doc_id"]) \
            .withColumn("offset", (w - 1).cast("int")) \
            .withColumnRenamed("real_doc", "doc_id").drop("page")
    with_fonts = layout.get("with_fonts", False)
    fields = ["offset", "kind", "text", "media_ref"] \
        + (["font", "size"] if with_fonts else [])

    def span_struct(s):
        parts = [s["kind"].alias("kind"),
                 F.coalesce(s["text"], F.lit("")).alias("text"),
                 F.coalesce(s["media_ref"], F.lit("")).alias("media_ref"),
                 s["offset"].cast("int").alias("offset")]
        if with_fonts:
            parts += [F.coalesce(s["font"], F.lit("")).alias("font"),
                      s["size"].alias("size")]
        return F.struct(*parts)

    spans = F.array_sort(F.collect_list(F.struct(*fields)))
    return rows.groupBy("doc_id").agg(
        F.transform(spans, span_struct).alias("spans"))


def _canon(v):
    """NaN-equal, sign-of-zero-blind value for comparison."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v + 0.0
    return v


def gen_kernel_runs(rng, doc0: int, n_docs: int = 6) -> list[tuple]:
    """Positioned runs built on the option sets' exact boundaries."""
    rows = []
    for d in range(doc0, doc0 + n_docs):
        did = f"d{d}"
        y = rng.choice([0.0, -0.0, 100.0])
        cols = [rng.choice([0.0, 6.0, 12.0, 5.999, 6.001]),
                rng.choice([36.0, 42.0, 41.999, 48.0]),
                rng.choice([90.0, 96.0, 95.5])]
        doc = []
        for _ in range(rng.randint(1, 14)):
            # y step to the next line: 3.0 = y_tol, 18.0 - 8.0 height
            # = gap_tol, 0.0 = same top
            y += rng.choice([0.0, 0.5, 3.0, 3.5, 8.0, 10.0, 18.0, 30.0])
            h = rng.choice([8.0, 10.0])
            size = rng.choice([10.0, 10.0, 5.0, 20.0, None])
            font = rng.choice(["F1", "F2", "F1-Bold", None])
            if rng.random() < 0.35:  # a table-ish row: cells on cols
                for x in cols:
                    x += rng.choice([0.0, 0.0, 0.5])
                    doc.append([rng.choice(WORDS), x, y, x + 12.0,
                                y + h, size, font, None])
                continue
            x = rng.choice([0.0, -0.0, 10.0, 50.0])
            for _ in range(rng.randint(1, 4)):
                w = rng.choice([5.0, 10.0, 12.0])
                doc.append([rng.choice(WORDS + [""]), x, y, x + w,
                            y + h, size, font, None])
                # word gap: 1.5/3.0/6.0 = space_frac x 5/10/20
                x += w + rng.choice([0.0, 1.5, 3.0, 6.0, 2.0, 18.0,
                                     18.5, 25.0])
            if rng.random() < 0.15:
                doc.append([None, x, y, x + 20.0, y + 20.0, None, None,
                            f"img{rng.randrange(3)}"])
        for r in list(doc):
            u = rng.random()
            if u < 0.06:
                doc.append(list(r))  # full duplicate
            elif u < 0.12:
                r2 = list(r)  # partial duplicate: one field differs
                k = rng.choice([0, 3, 5, 6])
                r2[k] = {0: "dup", 3: (r[3] or 0.0) + 1.0,
                         5: None, 6: "F9"}[k]
                doc.append(r2)
            elif u < 0.14:
                r[rng.choice([0, 5, 6, 1, 2, 4])] = None
            elif u < 0.15:
                r[rng.choice([1, 2, 3, 4])] = float("nan")
        rows += [(did, *r) for r in doc]
    return rows


def kernel_spans(rows, **opts) -> dict:
    """{doc_id: [(offset, kind, text, media_ref[, font, size])]} from
    layout_page over each document's runs."""
    by_doc: dict = {}
    for did, *r in rows:
        by_doc.setdefault(did, []).append(tuple(r))
    wf = opts.get("with_fonts", False)
    return {did: [(i, *(u if wf else u[:3]))
                  for i, u in enumerate(layout_page(runs, **opts))]
            for did, runs in by_doc.items()}


def check_runs(spark, rows, opts) -> list[str]:
    sdf = spark.createDataFrame(rows, RUNS_DDL)
    want: dict = {}
    cols = ["offset", "kind", "text", "media_ref"] + (
        ["font", "size"] if opts["with_fonts"] else [])
    for r in spans_from_runs(sdf, **opts).collect():
        want.setdefault(r.doc_id, []).append(tuple(r[c] for c in cols))
    got = kernel_spans(rows, **opts)
    return _diff({k: sorted(v, key=lambda t: t[0])
                  for k, v in want.items()}, got)


def _diff(want: dict, got: dict) -> list[str]:
    def canon(d):
        return {k: [tuple(_canon(v) for v in t) for t in rows]
                for k, rows in d.items()}
    want, got = canon(want), canon(got)
    bad = []
    for did in sorted(set(want) | set(got)):
        if want.get(did) != got.get(did):
            bad.append(f"{did}: sql={want.get(did)} kernel={got.get(did)}")
    return bad


def gen_stream_docs(rng, doc0: int, n_docs: int = 4) -> list[tuple]:
    """(doc_id, page, stream, fontmaps) rows: 1-3 pages per doc, a
    repeated page number now and then (two streams, one page)."""
    import tools.fuzz_pdfstream as fz

    rows = []
    for d in range(doc0, doc0 + n_docs):
        for pg in range(rng.randint(1, 3)):
            page = pg if rng.random() < 0.85 else 0
            stream = fz.gen_stream(rng)
            maps = fz.gen_maps(rng)
            rows.append((f"s{d}", page, stream,
                         fontmaps_json(maps or {}, {})))
    return rows


def damaged_pdf_files(seed: int, n: int = 60) -> list[tuple]:
    """(doc_id, pdf bytes) from every deterministic PDF writer (plain,
    cmap, encoding, widths, xobject, encrypted, acroform, annots, nav),
    each left intact, byte-flipped (1-8 random bytes), truncated, or
    both — the damage a crawl hands the whole-file bridge."""
    from pdf_extraction_spark.operators import pdffile as pf

    writers = [pf.build_pdf, pf.build_pdf_cmap, pf.build_pdf_encoding,
               pf.build_pdf_widths, pf.build_pdf_xobject,
               pf.build_pdf_encrypted, pf.build_pdf_acroform,
               pf.build_pdf_annots, pf.build_pdf_nav]
    rng = random.Random(seed)
    out = []
    for i in range(n):
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(
            0, 60)))
        blob = bytearray(writers[i % len(writers)](i, text))
        mode = rng.random()
        if 0.25 <= mode < 0.75:
            for _ in range(rng.randint(1, 8)):
                blob[rng.randrange(len(blob))] = rng.randrange(256)
        if mode >= 0.6:
            blob = blob[:rng.randrange(len(blob))]
        out.append((f"f{i}", bytes(blob)))
    return out


def check_streams(spark, rows, opts, page_col) -> list[str]:
    sdf = spark.createDataFrame(
        rows, "doc_id string, page int, stream string, fontmaps string")
    kw = dict(opts, page_col=page_col, maps_col="fontmaps",
              drop_artifacts=page_col is None)

    def collect(df):
        return {r.doc_id: [tuple(s) for s in r.spans]
                for r in df.collect()}
    return _diff(collect(sql_chain_spans(sdf, **kw)),
                 collect(pdf_to_spans(sdf, **kw)))


def kernel_campaign(spark, lo: int, hi: int) -> int:
    bad = 0
    for seed in range(lo, hi):
        rng = random.Random(7000 + seed)
        runs = [r for k in range(4) for r in gen_kernel_runs(rng, 10 * k)]
        streams = gen_stream_docs(rng, 0)
        opts = OPTION_SETS[seed % len(OPTION_SETS)]
        for name, diffs in [
                ("runs", check_runs(spark, runs, opts)),
                ("streams", check_streams(
                    spark, streams, opts,
                    "page" if seed % 2 == 0 else None))]:
            if diffs:
                bad += 1
                print(f"seed {seed} {name} {opts}: DIVERGENCE")
                print("\n".join(diffs[:3]))
    return bad


def main():
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    spark = get_spark(cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    if "--kernel" in sys.argv:
        print("DONE divergences:", kernel_campaign(spark, lo, hi))
        return
    bad = 0
    for seed in range(lo, hi):
        rng = random.Random(1000 + seed)
        rows = gen_runs(rng)
        pdf = pd.DataFrame(rows, columns=[
            "doc_id", "text", "x0", "y0", "x1", "y1", "size",
            "media_ref"])
        sdf = spark.createDataFrame(
            pdf, "doc_id long, text string, x0 double, y0 double, "
                 "x1 double, y1 double, size double, media_ref string")
        con = duckdb.connect()
        con.register("runs", pdf)

        for name, sq, oq in [
            ("blocks",
             reconstruct_blocks(sdf.where("media_ref IS NULL")
                                .drop("media_ref")), SQL_BLOCKS),
            ("spans", spans_from_runs(sdf), SQL_SPANS),
        ]:
            s = sq.toPandas()
            o = con.sql(oq).df()
            key = sorted(s.columns)
            s = s[key].sort_values(key).reset_index(drop=True)
            o = o[key].sort_values(key).reset_index(drop=True)
            if not s.equals(o):
                bad += 1
                print(f"seed {seed} {name}: DIVERGENCE")
                cmp = (s != o) & ~(s.isna() & o.isna())
                idx = cmp.any(axis=1)
                print(s[idx].head(3))
                print(o[idx].head(3))
        if seed % 10 == 0:
            print("seed", seed, "ok" if bad == 0 else f"bad={bad}")
    print("DONE divergences:", bad)


if __name__ == "__main__":
    main()
