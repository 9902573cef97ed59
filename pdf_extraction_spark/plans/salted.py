"""Salted extraction plan for giant-document skew.

The fused plan (plans/fused.py) extracts a document in one task, so a
500k-span document pins one core while the others finish. This plan
splits every document into span chunks and spreads the chunks over the
cores:

  docs --posexplode--> (row_id, doc_id, chunk_idx, spans[chunk])
       --round-robin repartition-->            (the salt shuffle)
       mapInArrow: per-chunk classification   (stage A)
       --groupBy(row_id).applyInArrow-->       (merge shuffle)
       per-doc W1 carry + sequential fold      (stage B)

``row_id`` names the input row, so two rows that share a doc_id (or
both have a NULL one) stay two documents, as they are in the fused
plan.

Stage A is chunk-local because per-span classification
(fused._classify_arrays: T1 normalization, the RE2 scans, C1 status) has
no cross-span state. Stage B puts a document's chunks back in stored
order, sorts the spans by offset, forward-fills W1 section state across
the chunk seams and runs the fused fold (W2 segmentation, tables, J1,
S1/T7 metadata): the boundary-state merge of SURVEY.md §4.1. Both stages
are the fused kernel's own code, so the output equals
fused.extract_record_batch's.

Cost: two shuffles of the classified chunks, which is why
fused.assemble_auto routes only documents above its giant threshold here.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .fused import (META_PAGES, OUTPUT_SCHEMA, _classify_arrays, _sort_flat,
                    flat_spans, output_batch, pages)

_FLAGS = ("is_media", "is_sec", "is_sub", "is_table", "is_block", "is_kw",
          "is_high", "is_med")
# stage A's per-span columns, one list per chunk; offs comes first
_COLS = {"offs": pa.int32(),
         **dict.fromkeys(("norm", "kind", "status", "texts", "refs"),
                         pa.string()),
         **dict.fromkeys(_FLAGS, pa.bool_())}
_KEYS = (("row_id", pa.int64()), ("doc_id", pa.string()),
         ("chunk_idx", pa.int32()))
_CHUNK_PA = pa.schema(list(_KEYS)
                      + [(c, pa.list_(t)) for c, t in _COLS.items()])


def split_docs(docs: DataFrame, chunk_spans: int = 4096) -> DataFrame:
    """One row per (input row, chunk): contiguous span slices of <=
    chunk_spans, keyed by a ``row_id`` unique to the input row."""
    n = F.size("spans")
    n_chunks = F.greatest(F.ceil(n / chunk_spans).cast("int"), F.lit(1))
    chunk_arrays = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("spans"), i * chunk_spans + 1,
                          F.lit(chunk_spans)))
    return docs.withColumn("row_id", F.monotonically_increasing_id()).select(
        "row_id", "doc_id",
        F.posexplode(chunk_arrays).alias("chunk_idx", "spans"))


def _classify_chunks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Stage A: classify each chunk's spans; raw text is kept only on the
    pages the metadata fold reads."""
    if pa.cpu_count() != 1:
        pa.set_cpu_count(1)
    for rb in batches:
        _, bounds, raw_kinds, texts, refs, offs = flat_spans(rb)
        cols = _classify_arrays(raw_kinds, texts)
        cols.update(norm=cols["norm"].values, offs=offs, refs=refs,
                    texts=np.where(pages(offs) <= META_PAGES, texts, None))
        lists = pa.array(bounds, type=pa.int32())
        yield pa.RecordBatch.from_arrays(
            [rb.column(k) for k, _ in _KEYS]
            + [pa.ListArray.from_arrays(lists, pa.array(cols[c], type=t))
               for c, t in _COLS.items()],
            schema=_CHUNK_PA)


def _merge_doc(table: pa.Table) -> pa.Table:
    """Stage B: a doc's chunks in stored order, sorted by offset, then the
    fused fold, which carries W1 state across the chunk seams."""
    table = table.sort_by("chunk_idx")
    flat = [pc.list_flatten(table[c]).to_numpy(zero_copy_only=False)
            for c in _COLS]
    doc_idx = np.zeros(len(flat[0]), dtype=np.int64)
    offs, rest = _sort_flat(doc_idx, flat[0], flat[1:])
    cls = dict(zip(list(_COLS)[1:], rest))
    cls["norm"] = pd.Series(cls["norm"], dtype=object)
    return pa.Table.from_batches([output_batch(
        table["doc_id"].to_numpy()[:1], np.array([0, len(offs)]), doc_idx,
        cls, cls["texts"], cls["refs"], offs)])


def assemble_salted(docs: DataFrame, chunk_spans: int = 4096) -> DataFrame:
    """docs(doc_id, spans) -> one structured row per doc. The chunks go
    round-robin over the session's default parallelism, an explicit count
    that AQE does not coalesce, so one doc's chunks classify in parallel."""
    chunks = split_docs(docs, chunk_spans).repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    return (chunks.mapInArrow(_classify_chunks,
                               schema=from_arrow_schema(_CHUNK_PA))
            .groupBy("row_id").applyInArrow(_merge_doc, schema=OUTPUT_SCHEMA))
