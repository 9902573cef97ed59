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

from ..plans.fused import assemble_fused
from ..stages import DOCS_SCHEMA


def extract_stream(spark: SparkSession, source_dir: str,
                   max_files_per_trigger: int | None = None) -> DataFrame:
    """Parquet file-source stream of span-table rows over ``source_dir``
    -> streaming extraction output."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return assemble_fused(reader.parquet(source_dir))
