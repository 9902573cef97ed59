"""Gate queries for the deterministic-sampling / shard-packing operators
(``operators/sampling.py``) — training-data pipeline ops beyond the
reference.

Same contract as queries.py: the Spark side runs the REAL operators; the
oracle is an independent ANSI-SQL transcription DuckDB runs on the same
``documents`` parquet.  Both engines compute the identical md5-derived
key hash, so even the "random" sampling decisions compare exactly.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators.sampling import (SAMPLE_MOD, _threshold, pack_shards,
                                 sample_corpus, stratified_sample)

# stratified-sample gate parameters: three explicit strata + a default
# tier, all of which fire on the 20-source documents table
STRAT_RATES = {"src0": 0.9, "src1": 0.5, "src2": 0.25}
STRAT_DEFAULT = 0.1
STRAT_SALT = "r3"
UNIF_RATE = 0.37
UNIF_SALT = "u1"
PACK_BUDGET = 2_000
PACK_PARTS = 8


def _sql_hash(salt: str) -> str:
    return ("('0x' || substr(md5('" + salt +
            "' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % "
            f"{SAMPLE_MOD}")


def q_sample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform deterministic corpus sample (rate 0.37): membership is a
    pure function of the doc key, so the same rows survive at any
    cluster size / partitioning — unlike df.sample()."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sample_corpus(d, UNIF_RATE, salt=UNIF_SALT) \
        .select("doc_id", "source", "lang")


def _sql_sample_uniform() -> str:
    thr = _threshold(UNIF_RATE)
    return f"""
SELECT doc_id, source, lang FROM documents
WHERE {_sql_hash(UNIF_SALT)} < {thr}
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture reweighting: three explicit source rates plus
    the default tier, as one zero-shuffle scan-stage filter."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(d, STRAT_RATES, default_rate=STRAT_DEFAULT,
                             salt=STRAT_SALT) \
        .select("doc_id", "source", "lang")


def _sql_sample_stratified() -> str:
    arms = "\n".join(
        f"  WHEN '{v}' THEN {_threshold(r)}"
        for v, r in STRAT_RATES.items())
    return f"""
SELECT doc_id, source, lang FROM documents
WHERE {_sql_hash(STRAT_SALT)} < CASE source
{arms}
  ELSE {_threshold(STRAT_DEFAULT)} END
"""


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: hash pack-partition, per-partition
    running token sum, first-fit shard assignment (the scalable
    window-aggregate contract; see operators/sampling.py)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    return pack_shards(d, PACK_BUDGET, n_partitions=PACK_PARTS) \
        .select("doc_id", "doc_tokens", "pack_partition", "shard_id")


def _sql_pack_shards() -> str:
    return rf"""
WITH t AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(COALESCE(text, '')), '\s+'))
      AS BIGINT) AS doc_tokens,
    {_sql_hash("pack")} % {PACK_PARTS} AS pack_partition,
    md5(COALESCE(text, '')) AS content_hash
  FROM documents),
c AS (
  SELECT *, SUM(doc_tokens) OVER (
      PARTITION BY pack_partition
      ORDER BY doc_id, doc_tokens, content_hash
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t)
SELECT doc_id, doc_tokens, pack_partition,
  pack_partition * 1000000
    + CAST(FLOOR((cum - doc_tokens) / {PACK_BUDGET}.0) AS BIGINT)
    AS shard_id
FROM c
"""


QUERIES_SAMPLING: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sample_uniform": q_sample_uniform,
    "sample_stratified": q_sample_stratified,
    "pack_shards": q_pack_shards,
}

ORACLES_SAMPLING: dict[str, str] = {
    "sample_uniform": _sql_sample_uniform(),
    "sample_stratified": _sql_sample_stratified(),
    "pack_shards": _sql_pack_shards(),
}
