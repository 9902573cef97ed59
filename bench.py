"""Per-round benchmark: production-path kernels at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Round-3 redesign (VERDICT r2 items 2-3): time the PRODUCTION paths, not
the oracle-comparability verification queries.  The round-2 bench spent
112s of its 176s wall rebuilding a derived corpus via
groupBy+collect_list+explode for q_sections/q_segmentation — those
queries exist so DuckDB can check values, not to measure the engine, and
their walls were dominated by hypervisor steal (4.8s -> 71.5s on
unchanged code).  The fused extraction kernel already executes W1
sections + W2 segmentation + tables per document, so the exploded twins
add no coverage.

Every timing is best-of-N (extraction N=3, enrichment N=2, operator
kernels N=3) with per-run walls recorded in "spread", so a steal-hit run
is visible instead of silently polluting the headline.

Headline workload:
  - extract_corpus: fused zero-shuffle extraction (mapInArrow: T1
    normalize -> classify -> W1 sections -> W2 segmentation -> tables/J1
    -> per-doc reassembly) over the canonical synthetic span corpus.
  - enrich_corpus: full 6-phase enrichment (mapInArrow) of the
    extracted output.
  - dedup/similarity/textstats kernels straight on the SF-dir
    documents/embeddings parquet (the operators as a user calls them).

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default all), BENCH_N_DOCS overrides corpus size.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from pyspark.sql import functions as F

    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.operators import dedup as dd
    from pdf_extraction_spark.operators import similarity as sim
    from pdf_extraction_spark.operators import textstats as ts
    from pdf_extraction_spark.plans.enrichment import enrich_extracted
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = int(os.environ.get("BENCH_N_DOCS", 0)) or max(int(100000 * sf), 500)

    spark = get_spark(app_name="pdf-extraction-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed(name: str, fn, n: int = 3) -> None:
        walls = []
        for _ in range(n):
            t0 = time.monotonic()
            fn()
            walls.append(round(time.monotonic() - t0, 3))
        timings[name] = min(walls)
        spread[name] = walls

    # ------------------------------------------------------------------
    # extraction + enrichment over the canonical synthetic span corpus
    # ------------------------------------------------------------------
    docs = corpus.generate_docs(spark, n_docs, giant_every=997).persist()
    docs.count()  # materialize outside the timed region

    noop(assemble_fused(docs))  # warm-up: python worker startup
    timed("extract_corpus", lambda: noop(assemble_fused(docs)), n=3)

    extracted = assemble_fused(docs).persist()
    extracted.count()
    timed("enrich_corpus", lambda: noop(enrich_extracted(extracted)), n=2)
    extracted.unpersist()
    docs.unpersist()

    # ------------------------------------------------------------------
    # operator kernels straight on the SF-dir tables
    # ------------------------------------------------------------------
    # The sf-dir parquet files are single-row-group (one scan
    # partition), which would time every map-side kernel on ONE core —
    # an artifact of the tiny test files, not of the operators: at
    # production scale the input arrives as thousands of splits.
    # Repartition the persisted kernel corpora to the session's
    # parallelism OUTSIDE the timed regions so the kernels measure the
    # operator, not the test-file layout.
    cpus = spark.sparkContext.defaultParallelism
    dtab = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text") \
        .repartition(cpus).persist()
    n_dtab = dtab.count()
    # embeddings stay at the scan's own partitioning: the similarity
    # kernels are shuffle/join-bound (not map-side Python-bound), and
    # at 5k rows a 32-way split costs more in task overhead than it
    # buys (measured: embedding_dedup 1.7s -> 4.7s when forced to 32)
    etab = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    etab.count()
    dim = len(etab.select("embedding").head()[0])
    qvec = [float(x) for x in etab.select("embedding").head()[0]]

    timed("k_dedup_exact", lambda: noop(dd.exact_dedup(dtab)))
    timed("k_minhash_dedup", lambda: noop(dd.minhash_dedup(dtab)))
    # incremental ingest: odd-id batch against even-id corpus signatures
    # (signature table prebuilt outside the timed region, as in
    # production where it is the persisted store)
    inc_sigs = dd.minhash_signatures_arrow(
        dtab.where(F.col("doc_id").cast("long") % 2 == 0)).persist()
    inc_sigs.count()
    inc_batch = dtab.where(F.col("doc_id").cast("long") % 2 == 1)
    timed("k_minhash_incremental",
          lambda: noop(dd.minhash_dedup_incremental(inc_batch, inc_sigs)))
    inc_sigs.unpersist()

    # growth-ratio evidence (VERDICT r3 item 6): the SAME batch ingested
    # against a corpus:batch = 100:1 store and a 4x larger one — per-
    # ingest wall must track the batch, not the corpus (the store is
    # scanned map-side twice and shuffled never; plan-asserted in
    # tests/test_plan_shapes.py::test_incremental_dedup_never_shuffles_corpus)
    def synth_sigs(n: int, tag: str):
        toks = [F.md5(F.concat(F.lit(f"{tag}:{k}:"),
                               F.col("id").cast("string")))
                for k in range(24)]
        sdocs = spark.range(n).select(
            F.concat(F.lit(tag), F.col("id").cast("string"))
            .alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"))
        s = dd.minhash_signatures_arrow(sdocs).persist()
        s.count()
        return s

    growth_batch = dtab.limit(200).persist()
    growth_batch.count()
    sigs_c = synth_sigs(20_000, "gc_")
    timed("k_incremental_corpus100x",
          lambda: noop(dd.minhash_dedup_incremental(growth_batch, sigs_c)))
    sigs_c.unpersist()
    sigs_4c = synth_sigs(80_000, "g4_")
    timed("k_incremental_corpus400x",
          lambda: noop(dd.minhash_dedup_incremental(growth_batch, sigs_4c)))
    sigs_4c.unpersist()
    growth_batch.unpersist()
    timed("k_jaccard_pairs", lambda: noop(dd.jaccard_pairs(dtab)))
    sigs = dd.simhash(dtab)
    timed("k_simhash_pairs", lambda: noop(dd.simhash_pairs(sigs)))
    timed("k_textstats", lambda: noop(
        dtab.select("doc_id",
                    *ts.quality_columns(F.col("text")),
                    *ts.lang_id_columns(F.col("text")),
                    ts.fingerprint_col(F.col("text")).alias("fp"))))
    timed("k_cosine_topk", lambda: noop(sim.cosine_topk(etab, qvec)))
    timed("k_ann_topk", lambda: noop(sim.ann_topk(etab, qvec, dim)))
    timed("k_ivf_topk", lambda: noop(sim.ivf_topk(etab, qvec, dim)))
    timed("k_all_pairs_topk", lambda: noop(sim.all_pairs_topk(etab, dim)))
    timed("k_embedding_dedup",
          lambda: noop(dd.embedding_near_dup(etab, dim)
                       .select("vec_id", "keeper_id", "is_near_duplicate")))
    from pdf_extraction_spark.operators.curation import curate_corpus
    timed("k_curation", lambda: noop(curate_corpus(dtab)))
    timed("k_substr_dedup",
          lambda: noop(dd.substring_dup_stats(dtab, window=20,
                                              stride=20)))
    from pdf_extraction_spark.operators.sampling import pack_shards
    timed("k_pack_shards", lambda: noop(pack_shards(dtab, 2000)))
    from pdf_extraction_spark.operators.layout import spans_from_runs
    from pdf_extraction_spark.queries_layout import _runs_media_corpus
    runs = _runs_media_corpus(spark, sf_dir).repartition(cpus).persist()
    n_runs = runs.count()
    timed("k_layout_spans", lambda: noop(spans_from_runs(runs)))
    from pdf_extraction_spark.operators.html import extract_main_content
    from pdf_extraction_spark.queries_html import _spark_pages
    pages = _spark_pages(spark, sf_dir).repartition(cpus).persist()
    pages.count()
    timed("k_html_main", lambda: noop(extract_main_content(pages)))
    from pdf_extraction_spark.operators.links import (host_stats,
                                                      link_table)
    from pdf_extraction_spark.queries_links import _pages_spark
    lpages = _pages_spark(spark, sf_dir).repartition(cpus).persist()
    lpages.count()
    timed("k_html_links", lambda: noop(
        host_stats(link_table(lpages, carry=("page_host",)))))
    from pdf_extraction_spark.operators.pdfstream import pdf_to_spans
    from pdf_extraction_spark.queries_pdf import _pdf_streams
    streams = _pdf_streams(spark, sf_dir).repartition(cpus).persist()
    streams.count()
    timed("k_pdf_spans", lambda: noop(pdf_to_spans(streams)))
    streams.unpersist()
    # ruled-line table recovery (pdfplumber 'lines' strategy): path
    # interpretation + grid detection + the cell join
    from pdf_extraction_spark.operators.pdfstream import \
        ruled_table_rows
    from pdf_extraction_spark.queries_pdf import (_PAD,
                                                  _ruled_stream_expr)
    rstreams = dtab.select(
        "doc_id",
        F.expr("COALESCE(text, '') || '" + _PAD + "'")
        .alias("p")).select(
        "doc_id", F.expr(_ruled_stream_expr()).alias("stream")) \
        .persist()
    rstreams.count()
    timed("k_pdf_ruled", lambda: noop(ruled_table_rows(rstreams)))
    rstreams.unpersist()
    from pdf_extraction_spark.operators.pdffile import (build_pdf_files,
                                                        files_to_spans)
    # build from the repartitioned dtab (not the 1-split parquet) so
    # the parse kernel runs at session parallelism
    pdfs = build_pdf_files(dtab).persist()
    pdfs.count()
    timed("k_pdf_files", lambda: noop(files_to_spans(pdfs)))
    pdfs.unpersist()
    # the form-XObject path: per-file form-graph resolution + machine
    # re-entry on every Do (two invocations + a nested form per doc)
    from pdf_extraction_spark.operators.filepass import file_pass
    from pdf_extraction_spark.operators.pdffile import (FILES_SCHEMA,
                                                        build_pdf_xobject)
    xpdfs = file_pass(
        dtab, "doc_id", ["text"], FILES_SCHEMA,
        lambda key, text: [(build_pdf_xobject(int(key), text or ""),)]
    ).persist()
    xpdfs.count()
    timed("k_pdf_forms", lambda: noop(files_to_spans(xpdfs)))
    xpdfs.unpersist()
    # WARC container ingestion: record framing + HTTP decode +
    # charset resolution (gzip members on odd ids, chunked/gzip
    # bodies in the mix), one map-only pass
    from pdf_extraction_spark.operators.warc import (build_warc_files,
                                                     records_from_warc)
    warcs = build_warc_files(dtab).persist()
    warcs.count()
    timed("k_warc", lambda: noop(records_from_warc(warcs)))
    warcs.unpersist()
    # image-header metadata sniff over all five container formats
    from pdf_extraction_spark.operators.multimodal import (
        build_image_blobs, image_header_meta)
    blobs = build_image_blobs(dtab).persist()
    blobs.count()
    timed("k_image_meta", lambda: noop(image_header_meta(blobs)))
    blobs.unpersist()
    # DOCX container ingestion: zip + WordprocessingML parse to
    # contract spans, one map-only pass
    from pdf_extraction_spark.operators.docx import (build_docx_files,
                                                     docx_to_spans)
    docxs = build_docx_files(dtab).persist()
    docxs.count()
    timed("k_docx", lambda: noop(docx_to_spans(docxs)))
    docxs.unpersist()
    # PPTX deck ingestion: zip + PresentationML parse (sldIdLst/rels
    # deck-order resolution) to contract spans, one map-only pass
    from pdf_extraction_spark.operators.pptx import (build_pptx_files,
                                                     pptx_to_spans)
    pptxs = build_pptx_files(dtab).persist()
    pptxs.count()
    timed("k_pptx", lambda: noop(pptx_to_spans(pptxs)))
    pptxs.unpersist()
    # XLSX ingestion: zip + SpreadsheetML parse (shared-string
    # indirection, workbook-order resolution) to contract spans
    from pdf_extraction_spark.operators.xlsx import (build_xlsx_files,
                                                     xlsx_to_spans)
    xlsxs = build_xlsx_files(dtab).persist()
    xlsxs.count()
    timed("k_xlsx", lambda: noop(xlsx_to_spans(xlsxs)))
    xlsxs.unpersist()
    # EPUB ingestion: zip + container/OPF/spine resolution + the gated
    # html block classifier over each book's chapters, map-only
    from pdf_extraction_spark.operators.epub import (build_epub_files,
                                                     epub_to_spans)
    epubs = build_epub_files(dtab).persist()
    epubs.count()
    timed("k_epub", lambda: noop(epub_to_spans(epubs)))
    epubs.unpersist()
    # mime-routed dispatch: one mixed container (html/pdf/docx
    # responses + png resources) -> unified contract spans; times the
    # whole route incl. every family parser
    from pdf_extraction_spark.operators.warc import (
        build_mixed_warc_files, warc_dispatch_spans)
    from pdf_extraction_spark.queries_html import _media_page_expr
    mixed = build_mixed_warc_files(
        dtab.select(
            "doc_id", F.expr("COALESCE(text, '')").alias("t"))
        .select("doc_id", F.col("t").alias("text"),
                F.expr(_media_page_expr("CAST(doc_id AS STRING)"))
                 .alias("html"))).persist()
    mixed.count()
    timed("k_warc_dispatch", lambda: noop(warc_dispatch_spans(mixed)))
    mixed.unpersist()
    lpages.unpersist()
    pages.unpersist()
    runs.unpersist()
    dtab.unpersist()
    etab.unpersist()

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "end-to-end extraction + operator kernel wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        # host-contention context: this box shows documented bimodal
        # hypervisor steal (BENCH/BASELINE.md §9); a high loadavg relative
        # to cpus marks a contended window so a slow wall is attributable
        "loadavg": [round(x, 1) for x in os.getloadavg()],
        "cpus": os.cpu_count(),
        "sf": sf,
        "extract_docs": n_docs,
        "kernel_docs": n_dtab,
        "layout_runs": n_runs,
        "extract_docs_per_sec": round(n_docs / timings["extract_corpus"], 2),
        "enrich_docs_per_sec": round(n_docs / timings["enrich_corpus"], 2),
        # 4x the stored corpus, same batch: ratio << 4.0 means the only
        # corpus-sized term left is the shuffle-free map-side store scan
        # (embarrassingly parallel at cluster width); all shuffle and
        # verification volume scales with the batch
        "incremental_corpus_growth_wall_ratio": round(
            timings["k_incremental_corpus400x"]
            / timings["k_incremental_corpus100x"], 2),
    }))


if __name__ == "__main__":
    main()
