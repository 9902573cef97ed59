"""The extraction job's stages, each named once.

A stage is an input schema plus a bridge: the DataFrame -> DataFrame
step that turns rows of that schema into the contract span table
(``doc_id, spans``), after which fused extraction runs unchanged —
and, for ``pipeline``, enrichment after it.  ``ruled`` is the one
stage whose bridge output is final: ruled-table rows, no extraction.

The batch job (``tools/extract_job.py``) and the scaling harness
(``tools/run_scaling.py``) both read :data:`STAGES`, so one stage
definition serves both.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame

from .corpus import SPAN_SCHEMA as DOCS_SCHEMA
from .operators.docx import docx_to_spans
from .operators.html import html_to_spans
from .operators.pdffile import files_to_spans
from .operators.pdfstream import pdf_to_spans, ruled_table_rows
from .operators.warc import warc_dispatch_spans, warc_to_spans
from .plans.enrichment import enrich_extracted
from .plans.fused import assemble_fused

HTML_SCHEMA = "doc_id string, html string"
PDF_SCHEMA = "doc_id string, stream string"
PDF_FILE_SCHEMA = "doc_id string, pdf binary"
WARC_SCHEMA = "warc_id string, warc binary"
DOCX_SCHEMA = "doc_id string, docx binary"


class Stage(NamedTuple):
    schema: str  # DDL of the rows the stage reads
    bridge: Callable[[DataFrame], DataFrame]
    about: str
    extracts: bool = True  # fused extraction runs on the bridge output
    enriches: bool = False  # enrichment runs on the extraction output

    def plan(self, docs: DataFrame,
             extract: Callable[[DataFrame], DataFrame] = assemble_fused
             ) -> DataFrame:
        out = self.bridge(docs)
        if self.extracts:
            out = extract(out)
        return enrich_extracted(out) if self.enriches else out

    def columns(self) -> list[str]:
        """Top-level column names of :attr:`schema`."""
        return [f.split()[0] for f in re.split(r",(?![^<]*>)", self.schema)]


def _spans(docs: DataFrame) -> DataFrame:
    return docs


STAGES: dict[str, Stage] = {
    "extract": Stage(DOCS_SCHEMA, _spans,
                     "span table -> fused/salted extraction only"),
    "pipeline": Stage(DOCS_SCHEMA, _spans,
                      "extraction + full 6-phase enrichment (both "
                      "map-only, the production chain)", enriches=True),
    "web": Stage(HTML_SCHEMA, html_to_spans,
                 "crawl HTML (doc_id, html) -> html_to_spans -> "
                 "extraction (the whole web-ingest path, map-only)"),
    "pdf": Stage(PDF_SCHEMA, pdf_to_spans,
                 "raw content streams (doc_id, stream) -> pdf_to_spans "
                 "(tokenize + layout) -> extraction"),
    "pdffile": Stage(PDF_FILE_SCHEMA, files_to_spans,
                     "whole PDF files (doc_id, pdf binary) -> "
                     "files_to_spans (xref/filter/page-tree parse + "
                     "tokenize + layout) -> extraction"),
    "warc": Stage(WARC_SCHEMA, warc_to_spans,
                  "WARC files -> warc_to_spans (record framing + HTTP "
                  "decode + html bridge) -> extraction"),
    "docx": Stage(DOCX_SCHEMA, docx_to_spans,
                  "DOCX files (doc_id, docx binary) -> docx_to_spans "
                  "-> extraction"),
    "dispatch": Stage(WARC_SCHEMA, warc_dispatch_spans,
                      "mixed WARC files -> warc_dispatch_spans "
                      "(mime-routed html/pdf/docx/pptx/xlsx/epub/image "
                      "payloads) -> extraction"),
    "ruled": Stage(PDF_SCHEMA, ruled_table_rows,
                   "content streams -> ruled_table_rows (path "
                   "interpretation + grid recovery + cell assembly, "
                   "the standalone S5 table job)", extracts=False),
}
