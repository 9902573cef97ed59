"""Structured Streaming: the windowed event aggregation must agree with
its batch twin, and late data beyond the watermark must be handled."""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.streaming.events import (windowed_counts,
                                                   windowed_counts_stream)

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events_src")
    batch = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
             .limit(2000))
    batch.write.parquet(src)

    expected = {(r["window_start"], r["event_type"]):
                (r["n_events"], round(r["value_sum"], 6))
                for r in windowed_counts(
                    spark.read.schema(EVENTS_SCHEMA).parquet(src)).collect()}

    q = (windowed_counts_stream(spark, src, EVENTS_SCHEMA)
         .writeStream.format("memory").queryName("win_agg")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        got = {(r["window_start"], r["event_type"]):
               (r["n_events"], round(r["value_sum"], 6))
               for r in spark.sql("select * from win_agg").collect()}
    finally:
        q.stop()

    assert got == expected
    assert len(got) > 0


def test_streaming_extraction_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.streaming.extract import extract_stream

    src = str(tmp_path / "docs")
    corpus.generate_docs(spark, 20, partitions=2).write.parquet(src)

    batch = {r["doc_id"]: (len(r["spans"]), r["summary"]["total_issues"])
             for r in assemble_fused(spark.read.parquet(src)).collect()}

    q = (extract_stream(spark, src)
         .select("doc_id", F.size("spans").alias("n_spans"),
                 F.col("summary.total_issues").alias("n_issues"))
         .writeStream.format("memory").queryName("ext_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: (r["n_spans"], r["n_issues"])
               for r in spark.sql("select * from ext_stream").collect()}
    finally:
        q.stop()

    assert got == batch


def test_stateful_dedup_stream(spark, tmp_path):
    """applyInPandasWithState content-hash gate: first sight -> 'new',
    content change -> 'changed', exact repeat -> suppressed — across
    micro-batches with per-doc state."""
    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.streaming.stateful import (
        dedup_decisions_stream)

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt")
    docs = corpus.generate_docs(spark, 10, partitions=1).persist()
    docs.write.parquet(src)

    q = (dedup_decisions_stream(spark, src)
         .writeStream.format("memory").queryName("dedup_stream")
         .option("checkpointLocation", ckpt)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        first = spark.sql("select * from dedup_stream").collect()
        assert len(first) == 10
        assert all(r["decision"] == "new" for r in first)

        # batch 2: 5 docs unchanged (exact repeat), 5 docs with an extra
        # span appended (content change)
        changed = docs.where(F.pmod(F.col("doc_id").substr(-1, 1)
                                    .cast("int"), F.lit(2)) == 0)
        unchanged = docs.where(F.pmod(F.col("doc_id").substr(-1, 1)
                                      .cast("int"), F.lit(2)) == 1)
        bumped = changed.withColumn(
            "spans", F.concat("spans", F.array(F.struct(
                F.lit("text").alias("kind"),
                F.lit("appended line").alias("text"),
                F.lit("").alias("media_ref"),
                (F.size("spans")).alias("offset")))))
        bumped.unionByName(unchanged).write.mode("append").parquet(src)

        q.processAllAvailable()
        rows = spark.sql("select * from dedup_stream").collect()
        decisions = {}
        for r in rows:
            decisions.setdefault(r["doc_id"], []).append(r["decision"])
        n_changed = sum(1 for v in decisions.values() if "changed" in v)
        assert n_changed == 5, decisions
        # unchanged repeats emitted nothing beyond their initial 'new'
        assert sum(len(v) for v in decisions.values()) == 15
    finally:
        q.stop()
    docs.unpersist()


def test_streaming_enrichment_matches_batch(spark, tmp_path):
    """The full extract->enrich pipeline runs unchanged as a stream
    (document-local, no state store) and agrees with its batch twin on
    every per-doc enrichment outcome."""
    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.plans.enrichment import enrich_extracted
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.streaming.enrich import enrich_stream

    src = str(tmp_path / "docs")
    corpus.generate_docs(spark, 20, partitions=2).write.parquet(src)

    def key(r):
        return (len(r["issues"]), r["n_excluded"],
                r["summary"]["total_issues"],
                r["estimate_summary"]["total_estimated_low"],
                r["estimate_summary"]["total_estimated_high"])

    batch = {r["doc_id"]: key(r) for r in enrich_extracted(
        assemble_fused(spark.read.parquet(src))).collect()}

    q = (enrich_stream(spark, src)
         .writeStream.format("memory").queryName("enr_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: key(r)
               for r in spark.sql("select * from enr_stream").collect()}
    finally:
        q.stop()

    assert got == batch
    assert len(got) == 20


def test_stateful_dedup_survives_restart(spark, tmp_path):
    """Exactly-once resume: kill the stateful stream, append new files,
    restart from the SAME checkpointLocation — per-doc state (last seen
    content hash) must survive, so exact repeats stay suppressed and
    changed docs emit exactly one 'changed' row after the restart."""
    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.streaming.stateful import (
        dedup_decisions_stream)

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "decisions")
    docs = corpus.generate_docs(spark, 8, partitions=1).persist()
    docs.write.parquet(src)

    def start():
        # a fault-tolerant sink (memory sink cannot recover a checkpoint)
        return (dedup_decisions_stream(spark, src)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append").start())

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = spark.read.parquet(out).collect()
    assert len(first) == 8
    assert all(r["decision"] == "new" for r in first)

    # while the stream is DOWN: 4 docs repeat unchanged, 4 change
    changed = docs.where(F.pmod(F.col("doc_id").substr(-1, 1)
                                .cast("int"), F.lit(2)) == 0)
    unchanged = docs.where(F.pmod(F.col("doc_id").substr(-1, 1)
                                  .cast("int"), F.lit(2)) == 1)
    bumped = changed.withColumn(
        "spans", F.concat("spans", F.array(F.struct(
            F.lit("text").alias("kind"),
            F.lit("post-restart line").alias("text"),
            F.lit("").alias("media_ref"),
            (F.size("spans")).alias("offset")))))
    bumped.unionByName(unchanged).write.mode("append").parquet(src)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    docs.unpersist()
    rows = [r for r in spark.read.parquet(out).collect()
            if r["decision"] != "new"]

    # only the 4 changed docs emit after restart, each exactly once, as
    # 'changed' — proof the pre-restart state (last content hash per doc)
    # was recovered from the checkpoint, and the 8 'new' rows were not
    # re-emitted (exactly-once output across the restart)
    assert len(rows) == 4, [(r["doc_id"], r["decision"]) for r in rows]
    assert all(r["decision"] == "changed" for r in rows)
    assert len({r["doc_id"] for r in rows}) == 4
    assert len(spark.read.parquet(out).collect()) == 12


def test_streaming_web_extraction_matches_batch(spark, tmp_path):
    """The crawl path streams: HTML files -> html_to_spans ->
    assemble_fused as one continuous query, equal to the batch twin
    per doc (span count, media refs, issue count)."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.html import html_to_spans
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.streaming.extract import web_extract_stream

    page = ('<h1>A heading long enough to classify as content</h1>'
            '<img src="img://{i}/0">'
            '<p>Body paragraph number {i} with enough words to pass '
            'the short-block cutoff easily.</p>')
    rows = [(str(i), page.format(i=i)) for i in range(12)]
    src = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id string, html string") \
        .repartition(3).write.parquet(src)

    def key(r):
        media = [s["media_ref"] for s in r["spans"]
                 if s["kind"] == "media_ref"]
        return (len(r["spans"]), tuple(media),
                r["summary"]["total_issues"])

    batch = {r["doc_id"]: key(r) for r in assemble_fused(
        html_to_spans(spark.read.parquet(src))).collect()}

    q = (web_extract_stream(spark, src, max_files_per_trigger=1)
         .writeStream.format("memory").queryName("web_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: key(r)
               for r in spark.sql("select * from web_stream").collect()}
    finally:
        q.stop()

    assert got == batch and len(got) == 12


def test_streaming_pdf_extraction_matches_batch(spark, tmp_path):
    """The pdf path streams: content-stream files -> foreachBatch
    (tokenize -> layout -> fused extraction, the identical batch plan)
    -> parquet sink, equal to the batch twin per doc."""
    from pdf_extraction_spark.operators.pdfstream import pdf_to_spans
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.streaming.extract import stream_through

    tmpl = ("BT /F1 11 Tf 14 TL 72 720 Td "
            "(Comments: roof leak in doc {i}) Tj "
            "0 -30 Td (attic vent blocked badly) Tj ET "
            "q 1 0 0 1 50 300 cm /Img{i} Do Q")
    rows = [(str(i), tmpl.format(i=i)) for i in range(9)]
    src = str(tmp_path / "streams")
    spark.createDataFrame(rows, "doc_id string, stream string") \
        .repartition(3).write.parquet(src)

    def key(r):
        media = [s["media_ref"] for s in r["spans"]
                 if s["kind"] == "media_ref"]
        return (len(r["spans"]), tuple(media),
                r["summary"]["total_issues"])

    batch = {r["doc_id"]: key(r) for r in assemble_fused(
        pdf_to_spans(spark.read.parquet(src))).collect()}

    out = str(tmp_path / "out")
    q = stream_through(spark, "pdf", src, out, str(tmp_path / "ckpt"),
                       max_files_per_trigger=1)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {r["doc_id"]: key(r)
           for r in spark.read.parquet(out).collect()}
    assert got == batch and len(got) == 9
    assert all(k[1] == (f"Img{d}",) for d, k in got.items())


def test_streaming_pdf_file_extraction_matches_batch(spark, tmp_path):
    """The whole-FILE path streams: binary pdf column -> foreachBatch
    (xref/filter/page-tree parse -> tokenize -> layout -> fused
    extraction, the identical batch plan) -> parquet sink, equal to
    the batch twin per doc across micro-batches."""
    from pdf_extraction_spark.operators.pdffile import (
        build_pdf, files_to_spans)
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.streaming.extract import stream_through

    text = ("Comments: roof leak near the attic vent, badly blocked "
            "gutter run and a (parenthetical) aside ") * 3
    rows = [(str(i), bytearray(build_pdf(i, text + f"doc {i}")))
            for i in range(9)]
    src = str(tmp_path / "pdfs")
    spark.createDataFrame(rows, "doc_id string, pdf binary") \
        .repartition(3).write.parquet(src)

    def key(r):
        media = [s["media_ref"] for s in r["spans"]
                 if s["kind"] == "media_ref"]
        return (len(r["spans"]), tuple(media),
                r["summary"]["total_issues"])

    batch = {r["doc_id"]: key(r) for r in assemble_fused(
        files_to_spans(spark.read.parquet(src))).collect()}

    out = str(tmp_path / "out")
    q = stream_through(spark, "pdffile", src, out, str(tmp_path / "ckpt"),
                       max_files_per_trigger=1)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {r["doc_id"]: key(r)
           for r in spark.read.parquet(out).collect()}
    assert got == batch and len(got) == 9
    assert all(k[1] == ("Im0",) for k in got.values())


def test_streaming_ruled_tables_match_batch(spark, tmp_path):
    """The ruled-table path streams: content-stream files ->
    foreachBatch (the identical batch detector) -> parquet sink,
    equal to the batch twin per doc across micro-batches."""
    from pdf_extraction_spark.operators.pdfstream import \
        ruled_table_rows
    from pdf_extraction_spark.streaming.extract import stream_through

    grid = ("72 628 420 72 re S 212 628 m 212 700 l S "
            "352 628 m 352 700 l S 72 652 m 492 652 l S "
            "72 676 m 492 676 l S ")
    tmpl = (grid + "BT /F1 10 Tf 76 688 Td (Item{i}) Tj "
            "1 0 0 1 216 660 Tm (v{i}) Tj ET")
    rows = [(str(i), tmpl.format(i=i)) for i in range(6)]
    src = str(tmp_path / "streams")
    spark.createDataFrame(rows, "doc_id string, stream string") \
        .repartition(3).write.parquet(src)

    batch = sorted(
        (r.doc_id, r.tbl_idx, r.row_idx, r.table_text)
        for r in ruled_table_rows(spark.read.parquet(src)).collect())

    out = str(tmp_path / "out")
    q = stream_through(spark, "ruled", src, out, str(tmp_path / "ckpt"),
                       max_files_per_trigger=1)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted((r.doc_id, r.tbl_idx, r.row_idx, r.table_text)
                 for r in spark.read.parquet(out).collect())
    assert got == batch
    assert len({d for d, *_ in got}) == 6


def test_streaming_warc_extraction_matches_batch(spark, tmp_path):
    """Crawl-container continuous ingest: landing .warc files ->
    foreachBatch (the identical warc_to_spans -> fused extraction
    batch chain) -> parquet sink, equal to the batch twin per doc
    across micro-batches."""
    from pdf_extraction_spark.operators.warc import (build_warc_files,
                                                     warc_to_spans)
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.streaming.extract import stream_through

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .where(F.col("doc_id") < 24).select("doc_id", "text")
    src = str(tmp_path / "warcs")
    build_warc_files(docs).repartition(3).write.parquet(src)

    def key(r):
        return (r["doc_id"],
                tuple((s["kind"], s["text"], s["order"])
                      for s in r["spans"]))

    batch = sorted(
        key(r) for r in assemble_fused(
            warc_to_spans(spark.read.parquet(src))).collect())

    out = str(tmp_path / "out")
    q = stream_through(spark, "warc", src, out, str(tmp_path / "ckpt"),
                       max_files_per_trigger=1)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(key(r) for r in spark.read.parquet(out).collect())
    assert got == batch
    # 404 responses are filtered at ingest: docs 0,7,14,21 absent
    ids = {int(d.rsplit("/", 1)[1]) for d, _ in got}
    assert ids and all(i % 7 != 0 for i in ids)
