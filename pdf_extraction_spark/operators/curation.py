"""Composed training-data curation: the filter→langid→dedup chain a
corpus-curation pipeline runs before training, as ONE declarative plan.

Stages (all pure ``pyspark.sql.functions`` column expressions over a
``documents(doc_id, text)`` table — JVM whole-stage codegen, no UDFs):

  1. token / stopword-density / language-ID signals (operators.textstats)
  2. rule filters: length window, allowed languages, minimum stopword
     density (a natural-text proxy)
  3. exact near-zero-cost dedup: md5 content hash, min-id keeper window
     over the FILTER SURVIVORS only (an excluded copy never blocks a
     surviving one)

The whole chain costs exactly one shuffle (the keeper window's hash
partition); every filter is a codegen predicate evaluated in the scan
stage, so at 100 TB the plan is scan → filter → one exchange → window.
Verdict ladder (first match wins): too_short → too_long → language →
low_quality → duplicate → kept.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import lang_id_columns, quality_columns


def curate_corpus(docs: DataFrame, text_col: str = "text", *,
                  min_tokens: int = 5, max_tokens: int = 100_000,
                  allowed_langs: Sequence[str] = ("en",),
                  min_stop_ppm: int = 0) -> DataFrame:
    """Per-document curation verdicts.

    Returns (doc_id, n_tokens, stop_ratio_ppm, pred_lang, content_hash,
    keeper_id, verdict); ``keeper_id`` is the minimum surviving doc_id of
    the document's exact-content group (null when no copy survives the
    filters), ``verdict`` the first failing rule or 'kept'.
    """
    text = F.col(text_col)
    base = docs.select(
        "doc_id",
        *quality_columns(text),
        *lang_id_columns(text),
        F.md5(text).alias("content_hash"))

    n_tok = F.col("n_tokens")
    passes = (
        (n_tok >= min_tokens) & (n_tok <= max_tokens)
        & F.col("pred_lang").isin(*allowed_langs)
        & (F.col("stop_ratio_ppm") >= min_stop_ppm))
    keeper = F.min(F.when(passes, F.col("doc_id"))).over(
        Window.partitionBy("content_hash"))

    verdict = (
        F.when(n_tok < min_tokens, F.lit("too_short"))
         .when(n_tok > max_tokens, F.lit("too_long"))
         .when(~F.col("pred_lang").isin(*allowed_langs), F.lit("language"))
         .when(F.col("stop_ratio_ppm") < min_stop_ppm, F.lit("low_quality"))
         # only reached when `passes` holds, so keeper is non-null here
         .when(F.col("doc_id") != keeper, F.lit("duplicate"))
         .otherwise(F.lit("kept")))

    return base.select(
        "doc_id", "n_tokens", "stop_ratio_ppm", "pred_lang", "content_hash",
        keeper.alias("keeper_id"), verdict.alias("verdict"))


def curate_web_corpus(docs: DataFrame, *, min_tokens: int = 5,
                      max_tokens: int = 100_000,
                      min_stop_ppm: int = 0) -> DataFrame:
    """The web-ingest composition the north rule describes: HTML
    boilerplate strip (operators.html) of (doc_id, html) pages feeding
    the standard curation chain over the EXTRACTED main content, as
    one declarative plan; English is the one language kept.

    Same cost shape as :func:`curate_corpus` — the HTML strip and every
    filter are scan-stage projections, the exact-dedup keeper window is
    the chain's single shuffle.  Verdict ladder adds one web tier ahead
    of the text rules: ``no_content`` when boilerplate stripping leaves
    zero content blocks (chrome-only / parked pages).  Dedup hashes the
    extracted main text, so two pages that differ only in chrome
    (nav/footer/ads) deduplicate — the behavior a crawl corpus needs.

    Returns (doc_id, n_content, main_chars, anchor_chars, n_tokens,
    stop_ratio_ppm, pred_lang, content_hash, keeper_id, verdict).
    """
    from .html import extract_main_content

    main = extract_main_content(docs)
    text = F.col("main_text")
    base = main.select(
        "doc_id", "n_content", "main_chars", "anchor_chars",
        *quality_columns(text),
        *lang_id_columns(text),
        F.md5(text).alias("content_hash"))

    no_content = F.col("n_content") == 0
    n_tok = F.col("n_tokens")
    passes = (
        ~no_content
        & (n_tok >= min_tokens) & (n_tok <= max_tokens)
        & (F.col("pred_lang") == "en")
        & (F.col("stop_ratio_ppm") >= min_stop_ppm))
    keeper = F.min(F.when(passes, F.col("doc_id"))).over(
        Window.partitionBy("content_hash"))

    verdict = (
        F.when(no_content, F.lit("no_content"))
         .when(n_tok < min_tokens, F.lit("too_short"))
         .when(n_tok > max_tokens, F.lit("too_long"))
         .when(F.col("pred_lang") != "en", F.lit("language"))
         .when(F.col("stop_ratio_ppm") < min_stop_ppm, F.lit("low_quality"))
         .when(F.col("doc_id") != keeper, F.lit("duplicate"))
         .otherwise(F.lit("kept")))

    return base.select(
        "doc_id", "n_content", "main_chars", "anchor_chars", "n_tokens",
        "stop_ratio_ppm", "pred_lang", "content_hash",
        keeper.alias("keeper_id"), verdict.alias("verdict"))


def curated(docs: DataFrame, verdicts: DataFrame | None = None,
            **kwargs) -> DataFrame:
    """The surviving corpus: input rows whose verdict is 'kept'. Pass
    already-materialized ``verdicts`` to avoid recomputing the plan
    (tools/curate_job.py does, after aggregating the verdict counts)."""
    if verdicts is None:
        verdicts = curate_corpus(docs, **kwargs)
    return (docs.join(verdicts.where(F.col("verdict") == "kept")
                      .select("doc_id"), "doc_id"))


def filter_hosts(docs: DataFrame, denylist: DataFrame | Sequence[str],
                 url_col: str = "url") -> DataFrame:
    """Domain deny-list filter — the URL-level curation stage crawl
    pipelines (C4, RefinedWeb) run before any content work: drop every
    page whose host equals a denied entry OR sits under one
    (``example.com`` also blocks ``ads.example.com``).

    Scale shape: the corpus side is NEVER shuffled or expanded.  For
    each distinct label count L present in the (small, MB-scale) deny
    table — found with one driver-side action on the deny side only —
    the corpus does one broadcast LEFT ANTI join keyed on the last L
    labels of the parsed host.  2-4 label counts in practice, so the
    plan is scan → 2-4 stacked BroadcastHashJoin(anti) → project, all
    in the scan stage; a shuffle anti-join here would hash-partition
    10^12 pages to discard a fraction of them, and the naive
    explode-suffixes formulation either shuffles a doc-level
    aggregation or re-broadcasts a corpus-derived (unbounded) set."""
    from .links import url_parts

    spark = docs.sparkSession
    if not isinstance(denylist, DataFrame):
        denylist = spark.createDataFrame(
            [(h,) for h in denylist], "host string")
    deny = denylist.select(F.lower(F.col("host")).alias("deny_host"),
                           F.size(F.split(F.lower(F.col("host")),
                                          r"\.")).alias("n_labels"))
    # deny side only: tiny table, one action
    label_counts = sorted(
        r.n_labels for r in deny.select("n_labels").distinct().collect())
    host = url_parts(F.col(url_col))["host"]
    out = docs.withColumn("__host", host)
    labels = F.split(F.col("__host"), r"\.")
    for n in label_counts:
        if n < 1:
            continue
        key = F.when(
            F.size(labels) >= n,
            F.array_join(F.slice(labels, F.size(labels) - n + 1, n),
                         ".")).otherwise(F.lit(None))
        d_n = deny.where(F.col("n_labels") == n) \
            .select(F.col("deny_host").alias(f"__deny_{n}"))
        out = out.withColumn(f"__sfx_{n}", key).join(
            F.broadcast(d_n),
            F.col(f"__sfx_{n}") == F.col(f"__deny_{n}"),
            "left_anti").drop(f"__sfx_{n}")
    return out.drop("__host")
