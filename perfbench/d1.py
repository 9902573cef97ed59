"""ROADMAP D1's single-thread baseline at its own sizes, in this process
tree, without Spark.

    python3 perfbench/d1.py

Each measurement runs in a fresh spawned process, so module imports and
the enrichment memos start cold exactly once:

- fused: ``extract_record_batch`` over 4,000 docs of the
  ``giant_every=997`` corpus (seed 42) as one Arrow batch;
- enrich: ``enrich_batch`` over the first 2,000 of those docs' extracted
  rows, first call in its process;
- memo: ``enrich_batch`` over the first 1,000 docs twice in one process,
  cold then warm.

Prints one JSON object.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

N_DOCS, SEED = 4000, 42


def _extracted(n: int):
    import inputs
    from pdf_extraction_spark.plans import fused
    batch = inputs.report_docs(n, SEED).combine_chunks().to_batches()[0]
    return fused.extract_record_batch(batch).to_pandas()[["doc_id", "issues"]]


def fused_s() -> dict:
    import inputs
    from pdf_extraction_spark.plans import fused
    from workloads import span_counts
    table = inputs.report_docs(N_DOCS, SEED)
    batch = table.combine_chunks().to_batches()[0]
    t0 = time.perf_counter()
    fused.extract_record_batch(batch)
    return {"fused_docs": N_DOCS, "fused_s": time.perf_counter() - t0,
            "fused_spans": int(span_counts(table).sum())}


def enrich_s() -> dict:
    from pdf_extraction_spark.plans import enrichment
    rows = _extracted(2000)
    t0 = time.perf_counter()
    enrichment.enrich_batch(rows)
    return {"enrich_docs": 2000, "enrich_s": time.perf_counter() - t0,
            "enrich_issues": int(rows["issues"].map(len).sum())}


def memo_s() -> dict:
    from pdf_extraction_spark.plans import enrichment
    rows = _extracted(1000)
    out = {"memo_docs": 1000}
    for k in ("memo_cold_s", "memo_warm_s"):
        t0 = time.perf_counter()
        enrichment.enrich_batch(rows)
        out[k] = time.perf_counter() - t0
    return out


def main() -> None:
    ctx = mp.get_context("spawn")
    result = {}
    for fn in (fused_s, enrich_s, memo_s):
        with ctx.Pool(1) as pool:
            result |= pool.apply(fn)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
