"""Deterministic sampling / mixture weighting / shard packing
(operators/sampling.py): reproducibility contracts, rate accuracy,
packing invariants vs a sequential python twin, and plan shape."""

import hashlib

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.sampling import (
    SAMPLE_MOD, pack_shards, sample_corpus, sample_hash_col,
    stratified_sample)

SF_DIR = "/root/testdata/sf0.001"


def _py_hash(key, salt=""):
    return int(hashlib.md5((salt + str(key)).encode()).hexdigest()[:15],
               16) % SAMPLE_MOD


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_hash_col_matches_python_md5(spark):
    df = spark.range(0, 200).select(
        "id", sample_hash_col(F.col("id"), "s").alias("h"))
    for row in df.collect():
        assert row.h == _py_hash(row.id, "s")


def test_sample_is_partitioning_invariant(docs):
    """Same kept set at 1 and 16 partitions — the property df.sample()
    lacks and the reason the operator exists."""
    a = {r.doc_id for r in
         sample_corpus(docs.coalesce(1), 0.4, salt="x").collect()}
    b = {r.doc_id for r in
         sample_corpus(docs.repartition(16), 0.4, salt="x").collect()}
    assert a == b and 0 < len(a) < docs.count()


def test_sample_stable_under_corpus_growth(docs):
    """A doc's membership never flips when other docs arrive: the sample
    of a subset is the subset of the sample."""
    sub = docs.where(F.col("doc_id") < 30)
    full = {r.doc_id for r in sample_corpus(docs, 0.5, salt="g").collect()}
    part = {r.doc_id for r in sample_corpus(sub, 0.5, salt="g").collect()}
    assert part == {i for i in full if i < 30}


def test_sample_rate_accuracy(spark):
    n = 20_000
    big = spark.range(0, n).select(F.col("id").alias("doc_id"))
    kept = sample_corpus(big, 0.37, salt="acc").count()
    assert abs(kept / n - 0.37) < 0.01  # ~3 sigma for n=20k


def test_sample_rate_validation(docs):
    with pytest.raises(ValueError):
        sample_corpus(docs, 1.5)
    with pytest.raises(ValueError):
        stratified_sample(docs, {"src0": -0.1})


def test_stratified_rates_and_default(spark):
    n = 30_000
    big = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string"))
        .alias("source"))
    out = stratified_sample(
        big, {"src0": 1.0, "src1": 0.5, "src2": 0.0},
        default_rate=0.25, salt="st")
    got = {r.source: r.n for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got.get("src0") == n // 4            # rate 1.0 keeps all
    assert "src2" not in got                    # rate 0.0 keeps none
    assert abs(got["src1"] / (n / 4) - 0.5) < 0.03
    assert abs(got["src3"] / (n / 4) - 0.25) < 0.03  # default tier


def test_pack_shards_matches_sequential_twin(docs):
    """Exact equality against a python twin of the layout contract:
    per-partition doc_id order, running token sum, first-fit shard."""
    out = pack_shards(docs.select("doc_id", "text"), 1500,
                      n_partitions=4).collect()
    rows = sorted(((r.pack_partition, r.doc_id, r.doc_tokens, r.shard_id)
                   for r in out))
    cum = {}
    for p, doc_id, tok, shard in rows:
        assert p == _py_hash(doc_id, "pack") % 4
        start = cum.get(p, 0)
        cum[p] = start + tok
        assert shard == p * 1_000_000 + start // 1500, (p, doc_id)


def test_pack_shards_null_text_deterministic(spark):
    """NULL text must not enter the window order as NULL (Spark sorts
    NULLs first, DuckDB last — a cross-engine divergence on duplicate
    keys): it is coalesced to '' (1 token, md5('')) in both the
    operator and the SQL oracle."""
    rows = [("d1", "five tokens of real text"), ("d1", None),
            ("d2", None), ("d3", "x " * 30)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = pack_shards(df, 10, n_partitions=2) \
        .select("doc_id", "doc_tokens", "shard_id").collect()
    assert len(out) == 4
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.doc_tokens, r.shard_id))
    # NULL text counts as 1 token ('' -> ['']), never NULL
    assert sorted(by_doc["d1"])[0][0] == 1
    assert by_doc["d2"][0][0] == 1
    assert all(t is not None and s is not None
               for docs_ in by_doc.values() for t, s in docs_)
    # deterministic across runs (total order despite the duplicate key)
    again = pack_shards(df, 10, n_partitions=2) \
        .select("doc_id", "doc_tokens", "shard_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pack_shards_overfill_bound(docs):
    """Every shard holds < budget + max_doc_tokens tokens (first-fit
    over-fills by at most the straddling document)."""
    budget = 1000
    out = pack_shards(docs.select("doc_id", "text"), budget,
                      n_partitions=2)
    per_shard = out.groupBy("shard_id").agg(
        F.sum("doc_tokens").alias("tok")).collect()
    max_doc = out.agg(F.max("doc_tokens")).head()[0]
    assert all(r.tok < budget + max_doc for r in per_shard)
    with pytest.raises(ValueError):
        pack_shards(docs, 0)


def test_sampling_plan_shapes(docs):
    """Samplers are zero-shuffle scan-stage filters; packing pays exactly
    one Exchange (the window partition-by)."""
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Exchange" not in plan(sample_corpus(docs, 0.3))
    assert "Exchange" not in plan(
        stratified_sample(docs, {"src0": 0.5}, default_rate=0.1))
    assert plan(pack_shards(docs.select("doc_id", "text"), 1000)) \
        .count("Exchange") == 1

