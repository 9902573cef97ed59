"""Structured Streaming: the batch plans run unchanged on a stream —
the windowed event aggregation, the fused extraction, enrichment after
it, and the crawl-HTML bridge — and agree with their batch twins."""

from pdf_extraction_spark.streaming.events import windowed_counts

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

    stream = (spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
              .withWatermark("ts", "2 hours"))
    q = (windowed_counts(stream)
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


def test_streaming_enrichment_matches_batch(spark, tmp_path):
    """The full extract->enrich pipeline runs unchanged as a stream
    (document-local, no state store) and agrees with its batch twin on
    every per-doc enrichment outcome."""
    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.plans.enrichment import enrich_extracted
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.streaming.extract import extract_stream

    src = str(tmp_path / "docs")
    corpus.generate_docs(spark, 20, partitions=2).write.parquet(src)

    def key(r):
        return (len(r["issues"]), r["n_excluded"],
                r["summary"]["total_issues"],
                r["estimate_summary"]["total_estimated_low"],
                r["estimate_summary"]["total_estimated_high"])

    batch = {r["doc_id"]: key(r) for r in enrich_extracted(
        assemble_fused(spark.read.parquet(src))).collect()}

    q = (enrich_extracted(extract_stream(spark, src))
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


def test_streaming_web_extraction_matches_batch(spark, tmp_path):
    """The crawl path streams: HTML files -> html_to_spans ->
    assemble_fused as one continuous query, equal to the batch twin
    per doc (span count, media refs, issue count)."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.html import html_to_spans
    from pdf_extraction_spark.plans.fused import assemble_fused
    from pdf_extraction_spark.stages import HTML_SCHEMA

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

    stream = (spark.readStream.schema(HTML_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (assemble_fused(html_to_spans(stream))
         .writeStream.format("memory").queryName("web_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: key(r)
               for r in spark.sql("select * from web_stream").collect()}
    finally:
        q.stop()

    assert got == batch and len(got) == 12
