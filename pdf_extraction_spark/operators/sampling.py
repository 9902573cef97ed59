"""Deterministic sampling, mixture weighting, and shard packing for
large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions (JVM, whole-stage
codegen; no UDFs) over a ``documents(doc_id, text, lang, source, ...)``
table.  Every operator here is a pure function of the row KEY, never of
partitioning, task order, or cluster size — so a sample or shard layout
is bit-reproducible across reruns, executor counts, and engines (the
hash is plain md5, so an ANSI-SQL oracle computes the identical value).

Why hash sampling and not ``df.sample()``: Spark's sampler draws from a
per-partition RNG stream, so the selected set changes with partitioning
and is not reproducible across cluster sizes — unusable for a training
corpus where the sample must be re-derivable (point-in-time audits,
incremental re-runs over a grown corpus keeping the old sample stable).

Scale shape: ``sample_corpus``/``stratified_sample`` are stateless
filters (zero shuffle, fully pushed into the scan stage);
``pack_shards`` pays exactly one shuffle (the window partition-by) and
parallelizes over ``n_partitions`` independent running sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import tokens_col

# hash values are uniform in [0, SAMPLE_MOD); rate thresholds scale by it
SAMPLE_MOD = 1_000_000


def sample_hash_col(key: Column, salt: str = "") -> Column:
    """Uniform deterministic hash in ``[0, SAMPLE_MOD)``: the first 15 md5
    hex digits (60 bits) of ``salt || key``, mod 1e6.  Engine-portable
    (DuckDB: ``('0x' || substr(md5(salt || key), 1, 15))::BIGINT %
    1000000``); changing ``salt`` draws an independent sample."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15), 16, 10)
        .cast("long") % SAMPLE_MOD)


def _threshold(rate: float) -> int:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return int(round(rate * SAMPLE_MOD))


def sample_corpus(docs: DataFrame, rate: float, salt: str = "") -> DataFrame:
    """Keep each row with probability ``rate``, deterministically by key.

    The predicate is a pure column expression, so Catalyst pushes it into
    the scan stage: sampling 1% of 100 TB reads the full text column but
    shuffles nothing and materializes only the kept 1 TB.
    """
    return docs.where(
        sample_hash_col(F.col("doc_id"), salt) < F.lit(_threshold(rate)))


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      default_rate: float = 0.0, salt: str = "") -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its ``doc_id``
    hash is under its ``source`` stratum's threshold.  ``rates`` maps
    stratum value -> keep rate; strata not listed get ``default_rate``.

    This is also the mixture-reweighting operator: to hit target source
    proportions in a training mix, set each source's rate to
    ``target_share / current_share`` (capped at 1.0) — the result is the
    reweighted corpus, reproducible under reruns and corpus growth
    (existing docs never flip in or out when new docs arrive, because
    membership depends only on the doc's own key).

    Scale shape: the stratum -> threshold map is a literal
    ``CASE``/``create_map`` lookup (no join, no broadcast table needed
    below ~thousands of strata), so the whole operator stays a
    zero-shuffle scan-stage filter.
    """
    pairs: list[Column] = []
    for value, rate in rates.items():
        pairs.append(F.lit(value))
        pairs.append(F.lit(_threshold(rate)))
    thresholds = F.create_map(*pairs)
    thr = F.coalesce(thresholds[F.col("source")],
                     F.lit(_threshold(default_rate)))
    return docs.where(sample_hash_col(F.col("doc_id"), salt) < thr)


def pack_shards(docs: DataFrame, token_budget: int,
                n_partitions: int = 32) -> DataFrame:
    """Assign each document to a training shard of ~``token_budget``
    tokens (whitespace tokens of ``text``): first-fit by cumulative
    token count within a deterministic pack partition of ``doc_id``.

    Layout contract (engine-portable, cluster-size-invariant):
      - ``pack_partition`` = key-hash mod ``n_partitions``,
      - within a partition, docs are ordered by key and land in local
        shard ``floor((cumulative_tokens - doc_tokens) / token_budget)``
        (the shard where the doc's first token falls),
      - ``shard_id`` = ``pack_partition * 1e6 + local_shard`` (globally
        unique while a partition stays under 1e6 shards ≈ 1e6 x budget
        tokens; size ``n_partitions`` so it does).

    Why first-fit-by-cumsum and not exact greedy (reset the counter when
    a doc would overflow): the greedy fold is inherently sequential over
    the whole corpus — one task at any cluster size.  This contract is a
    window aggregate: ``n_partitions``-way parallel running sums after a
    single shuffle, and a shard over-fills by at most one document (the
    straddling doc), which training-shard consumers absorb by
    construction.  At 10^12 docs, set ``n_partitions`` ~ executor count
    x a few; each partition's window sort is a local spillable sort of
    corpus/n_partitions rows.
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    # coalesce: a NULL text would make doc_tokens/md5 NULL, and the two
    # engines disagree on NULL sort position (Spark first, DuckDB last)
    # — exactly the cross-engine nondeterminism the tie-break exists to
    # prevent. '' keeps identical semantics in both (1 token, md5('')).
    txt = F.coalesce(F.col("text"), F.lit(""))
    tok = F.size(tokens_col(txt)).cast("long")
    part = sample_hash_col(F.col("doc_id"), "pack") % n_partitions
    staged = docs.withColumn("doc_tokens", tok) \
        .withColumn("pack_partition", part)
    # doc_id SHOULD be unique, but the window order must be total even
    # when it is not: duplicate keys under a partial sort make the
    # running sum — and so every later doc's shard — nondeterministic
    # across runs/engines, silently breaking the module's
    # bit-reproducibility contract. doc_tokens + content hash break ties
    # deterministically (mirrored in the SQL oracle).
    w = Window.partitionBy("pack_partition") \
        .orderBy("doc_id", "doc_tokens", F.md5(txt)) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum("doc_tokens").over(w)
    local = F.floor((cum - F.col("doc_tokens")) / F.lit(token_budget))
    return staged.withColumn(
        "shard_id",
        (F.col("pack_partition") * F.lit(1_000_000) + local).cast("long"))
