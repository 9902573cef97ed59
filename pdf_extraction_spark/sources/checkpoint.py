"""Checkpointed, resumable runs with per-partition lineage metrics.

The reference's MD5 content cache (src/pipeline.py:74-80,137-171) skips a
whole document when its hash was seen before. The distributed analog
(SURVEY.md §4.1-2):

- a *checkpoint table* of processed (doc_id, content_hash) under
  ``<dir>/processed``;
- ingest-time ``left_anti`` join against it — only unseen docs run;
- extraction output appended under ``<dir>/data``;
- a *metrics table* under ``<dir>/metrics`` with one row per output
  partition per run: (run_id, stage, partition_id, doc_count, span_count,
  issue_count, wall_ms) — the per-partition lineage the north-rule
  requires for auditing a resumable 10^12-doc run. ``wall_ms`` is the
  run's plan-and-count wall, repeated on every partition row of that
  run; it is not a per-partition wall.

The input is evaluated once per run: the docs with their content hash
are cached for the run and feed both the anti-join and the
processed-keys append, and every cache entry the run made is released
when it returns, including when it raises.

Storage goes through ``sources/catalog.py``'s TableStore protocol: plain
parquet directories here (``ParquetStore``, the default), Iceberg catalog
tables on a real cluster (``IcebergStore`` — atomic append snapshots +
MERGE INTO keyed upsert + time travel). The dataflow is identical.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import ParquetStore


def content_hash_col() -> F.Column:
    """Content hash over the document's span payload (order-sensitive)."""
    return F.md5(F.concat_ws(
        "\x1f",
        F.transform("spans", lambda s: F.concat_ws(
            "\x1e", s["kind"], s["text"], s["media_ref"],
            s["offset"].cast("string")))))


def run_incremental(spark: SparkSession, docs: DataFrame, out_dir: str,
                    plan=None, store=None) -> dict:
    """Run ``plan`` over the docs not yet in the checkpoint; append output
    + processed-keys + per-partition metrics. Returns run stats.

    ``store`` is a ``catalog.TableStore`` (idents ``data``/``processed``/
    ``metrics``); default is parquet dirs under ``out_dir``. Pass an
    ``IcebergStore`` on a cluster for atomic-snapshot appends and a
    duplicate-free processed-keys table.

    ``docs`` is evaluated once: the hashed docs are persisted (default
    level, so a large input spills to disk) for the run, read by every
    branch of ``plan`` and by the processed-keys join, and unpersisted
    on exit, including when ``plan``, the count or an append raises."""
    if plan is None:
        from ..plans.fused import assemble_fused
        plan = assemble_fused
    if store is None:
        store = ParquetStore(out_dir)

    data_dir = store.location("data")
    run_id = uuid.uuid4().hex[:12]

    # the anti-join under each of the plan's branches and the
    # processed-keys join all read ``keyed``: cached, its input (e.g. a
    # WARC dispatch) is evaluated once per run instead of once per reader
    keyed = docs.withColumn("content_hash", content_hash_col()).persist()
    extracted = None
    try:
        if store.exists(spark, "processed"):
            seen = store.read(spark, "processed")
            todo = keyed.join(seen.select("doc_id", "content_hash"),
                              ["doc_id", "content_hash"], "left_anti")
        else:
            todo = keyed

        t0 = time.time()
        extracted = plan(todo.drop("content_hash")).persist()
        n_done = extracted.count()
        wall_ms = int((time.time() - t0) * 1000)

        if n_done:
            store.append(extracted, "data")

            # metrics MUST be written before the processed-keys append:
            # that append invalidates the cached plan (it reads the
            # processed table via the anti-join), and a recompute would
            # see its own output. ``keyed`` does not read that table.
            metrics = (extracted
                       .groupBy(F.spark_partition_id().alias("partition_id"))
                       .agg(F.count(F.lit(1)).alias("doc_count"),
                            F.sum(F.size("spans")).alias("span_count"),
                            F.sum(F.size("issues")).alias("issue_count"))
                       .select(F.lit(run_id).alias("run_id"),
                               F.lit("extract").alias("stage"),
                               "partition_id", "doc_count", "span_count",
                               "issue_count",
                               F.lit(wall_ms).alias("wall_ms"),
                               F.current_timestamp().alias("ts")))
            store.append(metrics, "metrics")

            store.upsert_keys(
                extracted.select("doc_id")
                .join(keyed.select("doc_id", "content_hash"), "doc_id")
                .withColumn("run_id", F.lit(run_id)),
                "processed", keys=["doc_id", "content_hash"])
    finally:
        # dependents first: uncaching ``keyed`` while ``extracted`` is
        # still cached can make Spark re-plan ``extracted``
        if extracted is not None:
            extracted.unpersist()
        keyed.unpersist()

    return {"run_id": run_id, "processed": n_done, "wall_ms": wall_ms,
            "data_dir": data_dir}


def read_output(spark: SparkSession, out_dir: str,
                store=None) -> DataFrame:
    return (store or ParquetStore(out_dir)).read(spark, "data")


def read_metrics(spark: SparkSession, out_dir: str,
                 store=None) -> DataFrame:
    return (store or ParquetStore(out_dir)).read(spark, "metrics")
