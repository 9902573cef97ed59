"""Repetition-based quality filters (the Gopher/C4 family): documents
dominated by duplicated lines or a single repeated n-gram are low-value
training data and are filtered on these signals.

Two scale shapes, chosen per signal:
  - duplicate-line fraction: per-row array expressions (split /
    array_distinct on the doc's own lines) — zero shuffle, evaluated in
    the scan stage; a document's line list is document-local by
    definition.
  - top-bigram share: the naive per-row form (count every distinct
    bigram's occurrences inside the array) is O(distinct x total) per
    document — quadratic on a 10k-token doc, a straggler factory at
    100 TB.  Instead: explode bigrams → two-level groupBy count → per-doc
    max.  Both aggregations partial-combine map-side and key on
    (doc_id[, bigram]), so the shuffles are narrow and skew-free (a doc's
    bigram multiset is bounded by its token count).

All ratios are emitted as integer ppm (floor) so exact-hash comparison
against a SQL oracle cannot diverge on float rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col


def _nonempty_lines(text: Column) -> Column:
    # NOT F.transform(..., F.trim): pyspark sees trim's optional second
    # parameter and calls it as a binary (element, index) lambda, which
    # silently skips the trim (trim charset = the array index)
    return F.filter(F.transform(F.split(text, "\n"), lambda s: F.trim(s)),
                    lambda s: s != "")


def line_stats_columns(text: Column) -> list[Column]:
    """n_lines + duplicate-line ppm (fraction of non-empty trimmed lines
    that repeat an earlier line), as pure column expressions."""
    lines = _nonempty_lines(text)
    n = F.size(lines)
    # cast to long BEFORE scaling: dup * 1e6 overflows int32 above 2147
    # duplicate lines — ANSI Spark throws ARITHMETIC_OVERFLOW (killing
    # the ingest job), non-ANSI wraps negative so the MOST repetitive
    # docs would pass a <= threshold gate (same pattern as
    # textstats.quality_columns)
    dup = (n - F.size(F.array_distinct(lines))).cast("long")
    return [
        # greatest(.., 0): size(NULL) = -1 under default sizeOfNull; a
        # NULL text has zero lines (the > 0 guard below already maps its
        # dup ppm to 0)
        F.greatest(n, F.lit(0)).cast("long").alias("n_lines"),
        F.when(n > 0, F.floor(dup * F.lit(1_000_000) / n))
        .otherwise(F.lit(0)).cast("long").alias("dup_line_ppm"),
    ]


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signals: (doc_id, n_tokens, n_lines,
    dup_line_ppm, top_bigram_count, top_bigram_ppm).

    top_bigram_ppm = tokens covered by the most frequent bigram
    (count x 2) per million tokens; 0 for docs with < 2 tokens.
    """
    text = F.col("text")
    toks = tokens_col(F.lower(text))
    # no persist: the two consumers below (per-doc stats and the bigram
    # explode) each scan the input once — stateless and spill-free at
    # any scale, vs caching the full token arrays corpus-wide
    base = docs.select(
        "doc_id",
        # NULL text -> 0 tokens, not size(NULL) = -1
        F.greatest(F.size(toks), F.lit(0)).cast("long").alias("n_tokens"),
        *line_stats_columns(text),
        toks.alias("_toks"))

    sz = F.size("_toks")
    bigrams = F.zip_with(
        F.slice("_toks", 1, sz - 1),
        F.slice(F.col("_toks"), F.lit(2), sz - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    top = (base.where(sz >= 2)
           .select("doc_id", F.explode(bigrams).alias("bg"))
           .groupBy("doc_id", "bg").count()
           .groupBy("doc_id")
           .agg(F.max("count").alias("top_bigram_count")))

    out = (base.drop("_toks")
           .join(top, "doc_id", "left")
           .select(
               "doc_id", "n_tokens", "n_lines", "dup_line_ppm",
               F.coalesce("top_bigram_count", F.lit(0)).cast("long")
               .alias("top_bigram_count"),
               F.when(F.col("n_tokens") > 0, F.floor(
                   F.coalesce("top_bigram_count", F.lit(0)) * F.lit(2)
                   * F.lit(1_000_000) / F.col("n_tokens")))
               .otherwise(F.lit(0)).cast("long").alias("top_bigram_ppm")))
    return out
