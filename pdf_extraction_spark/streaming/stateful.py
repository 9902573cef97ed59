"""Custom stateful streaming: continuous content-hash dedup.

The streaming twin of sources/checkpoint.py's S8 cache: documents arrive
continuously (file/Kafka/Iceberg-CDC source); per-doc state holds the
last-seen content hash, and only NEW or CHANGED documents flow through
to extraction. Implemented with ``applyInPandasWithState`` — the state
store carries exactly one short row per doc_id, the streaming engine
shards it by key, and the checkpointLocation gives exactly-once resume.

At 10^12 docs the state is (doc_id, md5) pairs sharded across the
cluster's state stores — the same footprint as the batch checkpoint
table, kept hot instead of re-joined per run.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.checkpoint import content_hash_col
from .extract import DOCS_SCHEMA, read_stream

DEDUP_OUTPUT_SCHEMA = ("doc_id string, content_hash string, "
                       "decision string")
DEDUP_STATE_SCHEMA = "last_hash string"


def _dedup_update(key: tuple, pdfs: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterable[pd.DataFrame]:
    last = state.get[0] if state.exists else None
    rows = []
    doc_id = key[0]
    for pdf in pdfs:
        for h in pdf["content_hash"]:
            if h == last:
                continue  # unchanged duplicate -> suppressed
            rows.append({"doc_id": doc_id, "content_hash": h,
                         "decision": "new" if last is None else "changed"})
            last = h
    state.update((last,))
    if rows:
        yield pd.DataFrame(rows, columns=["doc_id", "content_hash",
                                          "decision"])


def dedup_decisions_stream(spark: SparkSession, source_dir: str,
                           schema: str = DOCS_SCHEMA) -> DataFrame:
    """Document stream -> one row per (doc, content change): 'new' on
    first sight, 'changed' on a content-hash change, nothing for exact
    repeats. Downstream extraction joins on (doc_id, content_hash) to
    process only these."""
    stream = read_stream(spark, source_dir, schema)
    keyed = stream.withColumn("content_hash", content_hash_col()) \
        .select("doc_id", "content_hash")
    return keyed.groupBy("doc_id").applyInPandasWithState(
        _dedup_update,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)
