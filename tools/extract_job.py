"""spark-submit job: timed end-to-end extraction over a parquet span corpus.

Usage (master/cores come from spark-submit):

    spark-submit --master local[8] \
        --py-files pdf_extraction_spark.zip \
        tools/extract_job.py --input /tmp/corpus --warmup 512

Prints ONE JSON line: {"cores": ..., "docs": N, "wall_sec": ...,
"docs_per_sec": ..., "spans": M, "spans_per_sec": ...}.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pdf_extraction_spark.stages import STAGES


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet path, or an Iceberg catalog table "
                         "identifier (catalog.db.table) on a cluster "
                         "with the Iceberg runtime configured")
    ap.add_argument("--warmup", type=int, default=2048)
    ap.add_argument("--plan", default="auto",
                    choices=["auto", "fused", "salted"],
                    help="auto = fused, plus the salted plan for the "
                         "giant-doc tail when a plan-time probe finds a "
                         "doc above 500k spans (unioned back)")
    ap.add_argument("--stage", default="extract", choices=list(STAGES),
                    help="; ".join(f"{name} = {stage.about}"
                                   for name, stage in STAGES.items()))
    ap.add_argument("--walls", type=int, default=6,
                    help="timed steady-state repetitions (best is scored); "
                         "lower for long-corpus scaling runs where one "
                         "wall is already minutes")
    args = ap.parse_args()

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from pdf_extraction_spark.plans.fused import assemble_auto, assemble_fused
    from pdf_extraction_spark.plans.salted import assemble_salted

    extract = {"auto": assemble_auto, "fused": assemble_fused,
               "salted": lambda d: assemble_salted(
                   d, chunk_spans=8192)}[args.plan]

    stage = STAGES[args.stage]

    def plan(d):
        return stage.plan(d, extract)

    from pdf_extraction_spark.sources.catalog import load_docs
    docs = load_docs(spark, args.input)
    n_docs = docs.count()
    bridged = stage.bridge(docs)
    n_spans = (bridged.select(F.sum(F.size("spans"))).first()[0]
               if stage.extracts else bridged.count())  # table rows

    # warm-up: spin up python workers + JIT outside the timed region
    plan(docs.limit(args.warmup)) \
        .write.format("noop").mode("overwrite").save()

    walls = []
    for _ in range(args.walls):
        t0 = time.time()
        plan(docs).write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    wall = min(walls)  # steady-state throughput

    print(json.dumps({
        "cores": cores, "plan": args.plan, "stage": args.stage,
        "docs": n_docs,
        "spans": int(n_spans), "wall_sec": round(wall, 2),
        "walls": [round(w, 2) for w in walls],
        "docs_per_sec": round(n_docs / wall, 1),
        "spans_per_sec": round(n_spans / wall, 0),
    }))


if __name__ == "__main__":
    main()
