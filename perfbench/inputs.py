"""Deterministic benchmark inputs.

Every generator here is a pure function of ``seed``: the same seed yields
byte-identical Arrow tables (checked by ``digest``).  The report docs and
the crawl pages are made with pyarrow alone, so they can be tested without
a Spark session; the crawl's WARC files are written from the pages by the
package's own Spark writer.  Inputs land as a fixed number of parquet
files that every pass scans.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extraction_spark import corpus
from pdf_extraction_spark.operators.warc import build_mixed_warc_files

SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                    ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()),
                         ("spans", pa.list_(SPAN_T))])
FILES_SCHEMA = pa.schema([("warc_id", pa.string()), ("warc", pa.binary())])

# The text column of the sf0.1 ``documents`` table (5,000 rows), shipped
# with the benchmark so a run reads nothing outside its checkout.
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "documents.parquet")
PAGES_SCHEMA = pa.schema([("crawl", pa.int32()), ("doc_id", pa.int64()),
                          ("text", pa.string()), ("html", pa.string())])


def report_docs(n: int, seed: int, giant_every: int = 997) -> pa.Table:
    """``corpus.docs_pandas`` (the inspection-report span corpus) as Arrow."""
    pdf = corpus.docs_pandas(n, seed=seed, giant_every=giant_every)
    return pa.Table.from_pydict(
        {"doc_id": list(pdf["doc_id"]), "spans": list(pdf["spans"])},
        schema=DOCS_SCHEMA)


def crawl_uri(doc: int) -> str:
    """``WARC-Target-URI`` that ``build_one_mixed_warc`` gives document ``doc``."""
    return f"https://host{doc % 10}.example/doc/{doc}"


def _giant_html(texts: list[str]) -> str:
    """One html page of ``len(texts)`` blocks: paragraphs, with a section
    heading every 37 blocks and a subsection heading between them, so
    the extraction's section state runs across the salted plan's chunk
    seams."""
    blocks = []
    for i, t in enumerate(texts):
        if i % 37 == 0:
            blocks.append(f"<h2>{'IVX'[i // 37 % 3]}. {t[:60]}</h2>")
        elif i % 37 == 18:
            blocks.append(f"<h3>{'ABC'[i // 37 % 3]}. {t[:60]}</h3>")
        else:
            blocks.append(f"<p>{t}</p>")
    return f"<html><body>{''.join(blocks)}</body></html>"


def crawl_pages(n: int, seed: int, recapture_share: float,
                giant_blocks: int) -> tuple[pa.Table, list[int]]:
    """The pages of a two-crawl segment, as ``(crawl, doc_id, text, html)``.

    Crawl 1 has documents ``0..n``: document ``d < n`` takes the text of
    a seed-chosen row of the ``documents`` table, and document ``n`` is a
    giant html page of ``giant_blocks`` blocks of seed-chosen rows.
    Crawl 2 re-captures a seed-chosen ``recapture_share`` of the first
    ``n`` documents, each with the text of a row crawl 1 did not use, and
    the giant page with new blocks.  ``html`` is set for the giant page
    only (``crawl_files`` renders the others).  Returns the pages and the
    re-captured documents."""
    if n % 4:
        raise ValueError("the giant page (document n) must be an html doc")
    texts = pq.read_table(DOCUMENTS).column("text").to_pylist()
    rng = np.random.default_rng((seed, 0xC4A))
    first = rng.choice(len(texts), size=n, replace=False)
    again = sorted(int(d) for d in rng.choice(
        n, size=round(recapture_share * n), replace=False))
    fresh = rng.choice(np.setdiff1d(np.arange(len(texts)), first),
                       size=len(again), replace=False)
    rows = []
    for crawl, docs, picks in ((1, range(n), first), (2, again, fresh)):
        rows += [(crawl, d, texts[i], None) for d, i in zip(docs, picks)]
        giant = [texts[i] for i in rng.integers(0, len(texts), giant_blocks)]
        rows.append((crawl, n, "", _giant_html(giant)))
    cols = list(zip(*rows))
    return pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in
                                 zip(cols, PAGES_SCHEMA)],
                                schema=PAGES_SCHEMA), again + [n]


def crawl_files(spark, pages: pa.Table) -> pa.Table:
    """A mixed WARC segment of ``pages``, one file per page, written by
    ``build_mixed_warc_files`` (html / pdf / docx / pptx responses by
    ``doc % 4``, plus a png resource on ``doc % 5 == 0``) with the page
    html of the ``documents`` queries (``_media_page_expr``), sorted by
    ``warc_id`` = ``crawl<c>-<doc:06d>``.

    A re-capture carries the same WARC-Date as the first capture, so
    ``dedupe_captures`` must keep it through the ``warc_id`` tie-break
    (``crawl2-`` sorts after ``crawl1-``)."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.queries_html import _media_page_expr

    page = F.expr(_media_page_expr("CAST(doc_id AS STRING)"))  # reads `t`
    df = spark.createDataFrame(pages).withColumnRenamed("text", "t").select(
        "crawl", "doc_id", F.col("t").alias("text"),
        F.coalesce("html", page).alias("html"))
    files = None
    for crawl in (1, 2):
        built = build_mixed_warc_files(df.where(F.col("crawl") == crawl))
        built = built.select(F.concat(F.lit(f"crawl{crawl}-"),
                                      F.lpad("warc_id", 6, "0")).alias("warc_id"),
                             "warc")
        files = built if files is None else files.unionByName(built)
    return files.toArrow().sort_by("warc_id").cast(FILES_SCHEMA)


def land(table: pa.Table, path: str, files: int, prefix: str = "part") -> None:
    """Write ``table`` as exactly ``files`` parquet files of contiguous rows."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for k in range(files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(path, f"{prefix}-{k:05d}.parquet"))


def digest(*tables: pa.Table) -> str:
    """SHA-256 (first 16 hex digits) of the tables' Arrow IPC bytes."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t.combine_chunks())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]
