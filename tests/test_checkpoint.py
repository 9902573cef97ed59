"""Checkpoint/resume semantics (S8 analog) + per-partition metrics."""

import pytest

from pdf_extraction_spark import corpus
from pdf_extraction_spark.sources import checkpoint


def test_incremental_resume(spark, tmp_path):
    out = str(tmp_path / "ckpt")

    first = corpus.generate_docs(spark, 10, partitions=2)
    r1 = checkpoint.run_incremental(spark, first, out)
    assert r1["processed"] == 10

    # second run over a superset: only the 5 new docs are processed
    superset = corpus.generate_docs(spark, 15, partitions=2)
    r2 = checkpoint.run_incremental(spark, superset, out)
    assert r2["processed"] == 5

    data = checkpoint.read_output(spark, out)
    assert data.count() == 15
    assert data.select("doc_id").distinct().count() == 15

    # third run with nothing new: no-op
    r3 = checkpoint.run_incremental(spark, superset, out)
    assert r3["processed"] == 0

    metrics = checkpoint.read_metrics(spark, out).collect()
    runs = {m["run_id"] for m in metrics}
    assert runs == {r1["run_id"], r2["run_id"]}
    total_docs = sum(m["doc_count"] for m in metrics)
    assert total_docs == 15
    for m in metrics:
        assert m["span_count"] > 0
        assert m["wall_ms"] >= 0
        assert m["stage"] == "extract"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_incremental_evaluates_input_once(spark, tmp_path):
    """Every reader of the hashed input (the anti-join under each of
    ``assemble_auto``'s branches, the processed-keys join) shares one
    evaluation of it per run."""
    from pdf_extraction_spark.plans import fused

    out = str(tmp_path / "ckpt")
    rows = spark.sparkContext.accumulator(0)

    def counted(n):
        docs = corpus.generate_docs(spark, n, partitions=2)

        def count_rows(batches):
            for b in batches:
                rows.add(b.num_rows)
                yield b
        return docs.mapInArrow(count_rows, schema=docs.schema)

    spark.catalog.clearCache()   # other tests' entries are not this run's
    r1 = checkpoint.run_incremental(spark, counted(10), out,
                                    plan=fused.assemble_auto)
    assert (r1["processed"], rows.value) == (10, 10)
    assert _cache_empty(spark)

    r2 = checkpoint.run_incremental(spark, counted(15), out,
                                    plan=fused.assemble_auto)
    assert (r2["processed"], rows.value) == (5, 25)
    assert _cache_empty(spark)


def test_incremental_releases_cache_when_plan_raises(spark, tmp_path):
    def fail(batches):
        for _ in batches:
            raise RuntimeError("plan failed")
        yield from ()

    def plan(docs):
        return docs.mapInArrow(fail, schema=docs.schema)

    spark.catalog.clearCache()
    docs = corpus.generate_docs(spark, 10, partitions=2)
    with pytest.raises(Exception, match="plan failed"):
        checkpoint.run_incremental(spark, docs, str(tmp_path / "ckpt"),
                                   plan=plan)
    assert _cache_empty(spark)
