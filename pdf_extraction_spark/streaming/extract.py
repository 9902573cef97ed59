"""Streaming extraction: the fused plan over a document stream.

The fused extraction (plans/fused.py) is a stateless map over document
rows, so the SAME plan runs unchanged as a Structured Streaming query —
new span-table files (or a Kafka/Iceberg CDC source) flow through
mapInArrow and append structured rows continuously. No state store is
needed: all extraction state is document-local.

At scale this is the ingestion path that replaces the reference's
one-file-at-a-time loop: micro-batches of new docs are extracted exactly
once (checkpointLocation gives the resume guarantee the batch path gets
from sources/checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.fused import assemble_fused
from ..stages import DOCS_SCHEMA, HTML_SCHEMA, STAGES


def read_stream(spark: SparkSession, source_dir: str, schema: str,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """Parquet file-source stream of ``schema`` rows over ``source_dir``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def extract_stream(spark: SparkSession, source_dir: str,
                   schema: str = DOCS_SCHEMA,
                   max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source document stream -> streaming extraction output."""
    return assemble_fused(
        read_stream(spark, source_dir, schema, max_files_per_trigger))


def web_extract_stream(spark: SparkSession, source_dir: str,
                       schema: str = HTML_SCHEMA,
                       max_files_per_trigger: int | None = None
                       ) -> DataFrame:
    """Crawl-HTML stream -> contract spans -> streaming extraction.

    html_to_spans (operators/html.py) is a stateless narrow projection,
    so the whole web-ingest path — boilerplate strip, media-span
    bridging, fused extraction — runs unchanged as ONE Structured
    Streaming query: new page files (or a Kafka/Iceberg-CDC source)
    flow through the same zero-shuffle plan the batch job uses, with
    checkpointLocation supplying exactly-once resume.  This is the
    continuous-ingest twin of the batch crawl pipeline, same operators,
    no reimplementation."""
    from ..operators.html import html_to_spans

    return assemble_fused(html_to_spans(
        read_stream(spark, source_dir, schema, max_files_per_trigger)))


def stream_through(spark: SparkSession, stage: str, source_dir: str,
                   out_path: str, checkpoint_dir: str,
                   max_files_per_trigger: int | None = None
                   ) -> StreamingQuery:
    """Continuous ingest of any job stage (``stages.STAGES``): files of
    the stage's input schema landing in ``source_dir`` run through the
    IDENTICAL batch plan per trigger via ``foreachBatch`` and append to
    the parquet ``out_path``.

    ``foreachBatch`` because several bridges are batch-complete logic a
    continuous plan cannot host — the pdf layout's per-doc window
    clustering, the ruled-table detector's per-doc grid aggregation,
    the WARC capture dedupe.  Every document (or container file)
    arrives whole in its row, so each micro-batch is exact with no
    cross-batch state; this is Spark's documented pattern for reusing
    batch logic in a stream.  ``checkpointLocation`` makes source
    offsets exactly-once; the parquet append is at-least-once under a
    mid-write crash — on a cluster, point the sink at an Iceberg table
    (sources/catalog.IcebergStore) whose atomic snapshot commit closes
    that window.  Runs with the ``availableNow`` trigger: everything
    present when it starts, then stop.  Returns the started query."""
    spec = STAGES[stage]

    def _sink(batch_df: DataFrame, _epoch: int) -> None:
        spec.plan(batch_df).write.mode("append").parquet(out_path)

    return (read_stream(spark, source_dir, spec.schema,
                        max_files_per_trigger)
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
