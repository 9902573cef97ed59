"""Gate queries for the operators that previously had no driver row:
A3 group summary, A6 validation stats, S6/S7 JSON sink/source round-trip.

Same contract as queries.py: inputs derived from the driver's ``orders``
parquet with dyadic arithmetic rendered identically into Spark columns and
DuckDB SQL; the Spark side runs the REAL implementation (enrich_rules
grouping / quality validation, Spark's JSON serializer); the oracle is an
independent ANSI-SQL transcription of the reference semantics.

Reference citations:
  A3  src/classification/issue_grouper.py:21-120 (grouping keys + ordering)
      and :172-201 (get_group_summary)
  A6  src/validation/data_quality_validator.py:612-702 (pass/fail/excluded
      counters + failure-reason histogram)
  S6  src/models.py:79-82 StructuredReport.to_json, src/pipeline.py:122-135
  S7  src/models.py:84-101 from_json, data_enrichment_pipeline.py:323-354
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import enrich_rules as er
from .queries import _pick
from .queries_enrich import CATS, N_DOCS, TRADES, WORKS, _pick_sql, _sql_list
from .queries_enrich2 import _sql_quality_routing, q_quality_routing

# ---------------------------------------------------------------------------
# A3 — issue grouping detail + summary over a location-bearing corpus
# ---------------------------------------------------------------------------
# The q_grouping corpus carries no locations, so its gate row never
# exercises the reference's loc_{location}_{trade} grouping tier or the
# first-appearance group numbering across all three tiers.  This corpus
# gives each issue 0-2 DISTINCT locations (distinctness keeps python's
# per-key index list duplicate-free, matching the SQL count).

LOCS = ["kitchen", "garage", "attic", "bedroom", "bathroom", "exterior"]


def _derived_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")

    def p(arr: list[str], div: int, mod: int) -> Column:
        return _pick(arr, F.pmod(F.floor(k / div), F.lit(mod)))

    i1 = F.pmod(F.floor(k / 41), F.lit(6))
    i2 = F.pmod(i1 + 1 + F.pmod(F.floor(k / 43), F.lit(5)), F.lit(6))
    return o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        p(CATS, 13, 6).alias("category"),
        p(TRADES, 19, 5).alias("trade"),
        p(WORKS, 17, 5).alias("work_type"),
        F.pmod(F.floor(k / 37), F.lit(3)).cast("int").alias("n_loc"),
        _pick(LOCS, i1).alias("loc1"),
        _pick(LOCS, i2).alias("loc2"))


_SQL_GROUP_BASE = f"""
issues AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_pick_sql(CATS, 13, 6)} AS category,
    {_pick_sql(TRADES, 19, 5)} AS trade,
    {_pick_sql(WORKS, 17, 5)} AS work_type,
    CAST((o_orderkey // 37) % 3 AS INT) AS n_loc,
    {_sql_list(LOCS)}[CAST(1 + (o_orderkey // 41) % 6 AS INT)] AS loc1,
    {_sql_list(LOCS)}[CAST(1 + ((o_orderkey // 41) % 6 + 1
        + (o_orderkey // 43) % 5) % 6 AS INT)] AS loc2
  FROM orders),
keys AS (
  SELECT doc_id, k, 0 AS seq, 'loc_' || loc1 || '_' || trade AS gkey
    FROM issues WHERE n_loc >= 1
  UNION ALL
  SELECT doc_id, k, 1, 'loc_' || loc2 || '_' || trade
    FROM issues WHERE n_loc = 2
  UNION ALL
  SELECT doc_id, k, 100, 'cat_' || category || '_' || work_type FROM issues
  UNION ALL
  SELECT doc_id, k, 101, 'trade_' || trade || '_' || work_type FROM issues),
grp AS (
  SELECT doc_id, gkey,
         CAST(count(*) AS INT) AS issue_count,
         min(k * 1024 + seq) AS fpos,
         string_agg('iss_' || k, ',' ORDER BY k) AS issue_ids
  FROM keys GROUP BY doc_id, gkey
  HAVING count(*) >= 2),
detail AS (
  SELECT doc_id,
    'group_' || row_number() OVER (PARTITION BY doc_id ORDER BY fpos)
      AS group_id,
    gkey AS grouping_key,
    CASE WHEN gkey LIKE 'loc_%' THEN 'location_trade'
         WHEN gkey LIKE 'cat_%' THEN 'category_work'
         ELSE 'trade_work' END AS group_type,
    issue_count, issue_ids
  FROM grp)
"""


def _grouping_rows(pdf: pd.DataFrame) -> list[dict]:
    """Run the REAL er.group_issues on one document's k-sorted issues."""
    pdf = pdf.sort_values("k")
    issues = []
    for r in pdf.itertuples(index=False):
        locs = [r.loc1, r.loc2][: r.n_loc]
        issues.append({
            "id": f"iss_{r.k}", "standard_category": r.category,
            "classification": {"trade": r.trade, "work_type": r.work_type},
            "extracted_attributes": {"locations": locs}})
    _, groups = er.group_issues(issues)
    return groups


def q_group_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/J4 — the groups list itself (issue_grouper.py:21-120): id
    ordering by first key appearance, grouping key, type, members."""
    df = _derived_grouping(spark, sf_dir)

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        groups = _grouping_rows(pdf)
        return pd.DataFrame({
            "doc_id": [int(pdf["doc_id"].iloc[0])] * len(groups),
            "group_id": [g["group_id"] for g in groups],
            "grouping_key": [g["grouping_key"] for g in groups],
            "group_type": [g["group_type"] for g in groups],
            "issue_count": [g["issue_count"] for g in groups],
            "issue_ids": [",".join(g["issue_ids"]) for g in groups]})

    return df.groupBy("doc_id").applyInPandas(
        per_doc, "doc_id bigint, group_id string, grouping_key string, "
                 "group_type string, issue_count int, issue_ids string")


SQL_GROUP_DETAIL = f"""
WITH {_SQL_GROUP_BASE}
SELECT * FROM detail
"""


def q_group_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — get_group_summary (issue_grouper.py:172-201) per document via
    the real er.group_issues + er.group_summary.  avg_group_size is
    emitted floor-scaled x10 (integer) for hash portability; the
    reference's round(avg, 1) form is golden-tested in pytest."""
    df = _derived_grouping(spark, sf_dir)

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        groups = _grouping_rows(pdf)
        s = er.group_summary(groups)
        by = s["by_type"]
        avg10 = (s["total_issues_grouped"] * 10 // s["total_groups"]
                 if s["total_groups"] else 0)
        return pd.DataFrame([{
            "doc_id": int(pdf["doc_id"].iloc[0]),
            "total_groups": s["total_groups"],
            "n_location_trade": by.get("location_trade", 0),
            "n_category_work": by.get("category_work", 0),
            "n_trade_work": by.get("trade_work", 0),
            "total_issues_grouped": s["total_issues_grouped"],
            "avg_size_x10": avg10}])

    return df.groupBy("doc_id").applyInPandas(
        per_doc, "doc_id bigint, total_groups int, n_location_trade int, "
                 "n_category_work int, n_trade_work int, "
                 "total_issues_grouped int, avg_size_x10 int")


SQL_GROUP_SUMMARY = f"""
WITH {_SQL_GROUP_BASE}
SELECT doc_id,
  CAST(count(*) AS INT) AS total_groups,
  CAST(sum(CASE WHEN group_type = 'location_trade' THEN 1 ELSE 0 END)
       AS INT) AS n_location_trade,
  CAST(sum(CASE WHEN group_type = 'category_work' THEN 1 ELSE 0 END)
       AS INT) AS n_category_work,
  CAST(sum(CASE WHEN group_type = 'trade_work' THEN 1 ELSE 0 END)
       AS INT) AS n_trade_work,
  CAST(sum(issue_count) AS INT) AS total_issues_grouped,
  CAST(sum(issue_count) * 10 // count(*) AS INT) AS avg_size_x10
FROM detail GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# A6 — validation stats: outcome/reason histogram over the real routing
# ---------------------------------------------------------------------------

def q_validation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (data_quality_validator.py:612-702): per-document counters over
    the real F2+F9 routing output — count per (action, reason) plus the
    schema-invalid tally, the validator's failure-reason histogram."""
    routed = q_quality_routing(spark, sf_dir)
    return (routed.groupBy("doc_id", "action", "reason")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("schema_valid"), 0).otherwise(1))
                  .cast("long").alias("n_schema_invalid")))


def _sql_validation_stats() -> str:
    return f"""
SELECT doc_id, action, reason, count(*) AS n,
  CAST(sum(CASE WHEN schema_valid THEN 0 ELSE 1 END) AS BIGINT)
    AS n_schema_invalid
FROM ({_sql_quality_routing()})
GROUP BY doc_id, action, reason
"""


# ---------------------------------------------------------------------------
# S6/S7 — JSON sink/source round-trip on serialization-hostile content
# ---------------------------------------------------------------------------
# The reference persists extraction output as JSON (S6) and re-reads it
# into the enrichment stage (S7); the contract is that the round trip is
# the identity on the report structure.  This gate drives Spark's JSON
# serializer (to_json -> from_json, the engine the JSON sink/source use)
# over strings chosen to break naive serializers — quotes, backslashes,
# control characters, combining accents, CJK, an astral-plane emoji —
# plus nested structs, arrays, and an omitted-when-null field.

FRAGS = ['he said "quote"', "back\\slash path", "line\nbreak", "tab\tchar",
         "café résumé", "中文测试",
         "emoji \U0001F680 rocket", "plain ascii"]
JTAGS = ["roof", "électrique", 'pipe "main"', "floor\\tile"]
JSTATS = ["deficient", "inspected", "not inspected"]

_JSON_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("count", T.IntegerType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("nested", T.StructType([
        T.StructField("status", T.StringType()),
        T.StructField("flag", T.BooleanType())])),
    T.StructField("maybe_null", T.StringType()),
])


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")

    def p(arr: list[str], div: int, mod: int) -> Column:
        return _pick(arr, F.pmod(F.floor(k / div), F.lit(mod)))

    t1 = p(JTAGS, 1, 4)
    t2 = p(JTAGS, 5, 4)
    rec = F.struct(
        F.concat(F.lit("iss_"), k.cast("string")).alias("id"),
        p(FRAGS, 1, 8).alias("title"),
        F.concat(p(FRAGS, 3, 8), F.lit(" #"), k.cast("string"))
         .alias("description"),
        F.pmod(k, F.lit(97)).cast("int").alias("count"),
        F.when(F.pmod(k, F.lit(2)) == 0, F.array(t1, t2))
         .otherwise(F.array(t1)).alias("tags"),
        F.struct(p(JSTATS, 7, 3).alias("status"),
                 (F.pmod(k, F.lit(5)) == 0).alias("flag")).alias("nested"),
        F.when(F.pmod(k, F.lit(3)) != 0, p(FRAGS, 11, 8))
         .alias("maybe_null"))
    parsed = F.from_json(F.to_json(rec), _JSON_SCHEMA)
    return o.select(
        k.alias("k"),
        parsed["id"].alias("r_id"),
        parsed["title"].alias("r_title"),
        parsed["description"].alias("r_description"),
        parsed["count"].alias("r_count"),
        F.concat_ws("|", parsed["tags"]).alias("r_tags"),
        parsed["nested"]["status"].alias("r_status"),
        parsed["nested"]["flag"].alias("r_flag"),
        F.coalesce(parsed["maybe_null"], F.lit("<null>")).alias("r_maybe"))


def _sql_frag(s: str) -> str:
    """Render a python string as a DuckDB expression, control chars via
    chr() so the SQL text stays single-line."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if ord(ch) < 32:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return "(" + " || ".join(parts) + ")" if len(parts) > 1 else parts[0]


def _sql_fpick(arr: list[str], div: int, mod: int) -> str:
    exprs = ", ".join(_sql_frag(s) for s in arr)
    return f"[{exprs}][CAST(1 + (o_orderkey // {div}) % {mod} AS INT)]"


def _sql_json_roundtrip() -> str:
    t1 = _sql_fpick(JTAGS, 1, 4)
    t2 = _sql_fpick(JTAGS, 5, 4)
    return f"""
SELECT o_orderkey AS k,
  'iss_' || o_orderkey AS r_id,
  {_sql_fpick(FRAGS, 1, 8)} AS r_title,
  {_sql_fpick(FRAGS, 3, 8)} || ' #' || o_orderkey AS r_description,
  CAST(o_orderkey % 97 AS INT) AS r_count,
  CASE WHEN o_orderkey % 2 = 0 THEN {t1} || '|' || {t2}
       ELSE {t1} END AS r_tags,
  {_sql_fpick(JSTATS, 7, 3)} AS r_status,
  o_orderkey % 5 = 0 AS r_flag,
  CASE WHEN o_orderkey % 3 <> 0 THEN {_sql_fpick(FRAGS, 11, 8)}
       ELSE '<null>' END AS r_maybe
FROM orders
"""


# ---------------------------------------------------------------------------
# Streaming parity — the fused extraction as a Structured Streaming query
# ---------------------------------------------------------------------------

def _derived_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extract_summary derivation: derived lines folded back into
    (doc_id, spans) documents."""
    from .queries import derived_lines

    lines = derived_lines(spark, sf_dir)
    return (lines.groupBy(F.col("doc_id").cast("string").alias("doc_id"))
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "text"))),
                lambda x: F.struct(
                    F.lit("text").alias("kind"), x["text"].alias("text"),
                    F.lit("").alias("media_ref"),
                    x["offset"].alias("offset")),
            ).alias("spans")))


def _summary_cols(out: DataFrame) -> DataFrame:
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("summary.total_issues").cast("long").alias("total_issues"),
        F.col("summary.deficient").cast("long").alias("deficient"),
        F.col("summary.inspected").cast("long").alias("inspected"),
        F.col("summary.not_inspected").cast("long").alias("not_inspected"),
        F.col("summary.not_present").cast("long").alias("not_present"),
        F.col("summary.high").cast("long").alias("high"),
        F.col("summary.medium").cast("long").alias("medium"),
        F.col("summary.low").cast("long").alias("low"),
        F.col("summary.info").cast("long").alias("info"),
        F.col("summary.total_tables").cast("long").alias("total_tables"))


def q_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch parity as a hard signal: the fused extraction run
    as a Structured Streaming query (file source -> mapInArrow -> memory
    sink, availableNow, multiple micro-batches) must produce exactly the
    per-doc summary the batch EXPLODED plan produces — the oracle is the
    same SQL the extract_summary row uses, so this row pins
    stream(fused) == batch(exploded) == independent DuckDB transcription."""
    import tempfile
    import uuid

    from .streaming.extract import extract_stream

    base = tempfile.mkdtemp(prefix="gate_stream_")
    src = f"{base}/src"
    # several input files + maxFilesPerTrigger=2 => >1 micro-batch, so the
    # parity also covers batch-boundary effects, not just a single pass
    _derived_span_docs(spark, sf_dir).repartition(5) \
        .write.mode("overwrite").parquet(src)

    table = f"gate_stream_{uuid.uuid4().hex[:8]}"
    q = (extract_stream(spark, src, max_files_per_trigger=2)
         .writeStream.format("memory").queryName(table)
         .option("checkpointLocation", f"{base}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return _summary_cols(spark.table(table))


def _sql_stream_extract() -> str:
    from .queries_misc import _sql_extract_summary

    return _sql_extract_summary()


# ---------------------------------------------------------------------------
# Span-sequence invariant — the north rule's per-row contract, as a row
# ---------------------------------------------------------------------------

def q_span_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule invariant itself: over interleaved text + media
    documents, the fused kernel's output span sequence must preserve
    (kind, text, media_ref, order) — media spans pass through untouched
    in extraction order, text spans carry the classified kind
    (text_extractor.pyc:66-139 ladder) and T1-normalized text.  Every
    4th line gets a media span interleaved directly after it."""
    from .plans.fused import assemble_fused
    from .queries import derived_lines

    lines = derived_lines(spark, sf_dir)
    k = F.col("k")
    text_span = F.struct(
        (F.col("offset") * 2).cast("int").alias("o"),
        F.lit("text").alias("kind"), F.col("text").alias("text"),
        F.lit("").alias("media_ref"))
    media_span = F.struct(
        (F.col("offset") * 2 + 1).cast("int").alias("o"),
        F.lit("media").alias("kind"), F.lit("").alias("text"),
        F.concat(F.lit("img://"), k.cast("string")).alias("media_ref"))
    per_line = lines.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.pmod(k, F.lit(4)) == 0,
               F.array(text_span, media_span))
         .otherwise(F.array(text_span)).alias("sp"))
    docs = per_line.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.flatten(F.collect_list("sp"))),
            lambda x: F.struct(
                x["kind"].alias("kind"), x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                x["o"].alias("offset"))).alias("spans"))
    out = assemble_fused(docs)
    s = out.select("doc_id", F.explode("spans").alias("s"))
    return s.select(
        "doc_id", F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"))


def _sql_span_sequence() -> str:
    from . import rules
    from .queries import (SQL_LINES_CTE, _IS_SEC, _IS_SUB, _STATUS,
                          _sql_like_any)

    boiler = (f"({_sql_like_any('lower(text)', rules.METADATA_KEYWORDS)}"
              f" OR ({_sql_like_any('lower(text)', rules.DISCLAIMER_PHRASES)}"
              f" AND NOT {_sql_like_any('lower(text)', rules.DISCLAIMER_RESCUE_WORDS)}))")
    return f"""
WITH {SQL_LINES_CTE},
spansrc AS (
  SELECT doc_id, 2 * off AS ord, 'text' AS raw_kind, text,
         '' AS media_ref
  FROM ordered
  UNION ALL
  SELECT doc_id, 2 * off + 1, 'media', '', 'img://' || k
  FROM ordered WHERE k % 4 = 0)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(ord AS INT) AS ord,
  CASE WHEN raw_kind = 'media' THEN 'media_ref'
       WHEN {_IS_SEC} THEN 'section_heading'
       WHEN {_IS_SUB} THEN 'subsection_heading'
       WHEN text LIKE '% | %' THEN 'table_row'
       WHEN {boiler} THEN 'boilerplate'
       WHEN {_STATUS} IS NOT NULL THEN 'status_line'
       ELSE 'text' END AS kind,
  CASE WHEN raw_kind = 'media' THEN '' ELSE text END AS text,
  media_ref
FROM spansrc
"""


# ---------------------------------------------------------------------------
# S9/A6 — enriched sink + per-partition lineage metrics, end to end
# ---------------------------------------------------------------------------

def q_sink_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 + the north-rule's per-partition lineage: run the REAL
    run_incremental twice on the same corpus (second run must be a no-op
    via the S8 hash cache), then emit the partition-stable rollup of the
    metrics table plus the data-dir row count.  Partition-level rows
    (partition_id, wall_ms, ts) are intentionally excluded — they are
    run-environment-dependent; their SUMS are exact."""
    import tempfile

    from .sources.checkpoint import (read_metrics, read_output,
                                     run_incremental)

    out_dir = tempfile.mkdtemp(prefix="gate_sink_") + "/out"
    docs = _derived_span_docs(spark, sf_dir)
    run_incremental(spark, docs, out_dir)
    run_incremental(spark, docs, out_dir)  # fully cached -> writes nothing

    m = read_metrics(spark, out_dir)
    agg = m.groupBy("stage").agg(
        F.countDistinct("run_id").cast("long").alias("n_runs"),
        F.sum("doc_count").cast("long").alias("doc_count"),
        F.sum("span_count").cast("long").alias("span_count"),
        F.sum("issue_count").cast("long").alias("issue_count"))
    n_out = read_output(spark, out_dir).count()
    return agg.withColumn("out_docs", F.lit(n_out).cast("long"))


def _sql_sink_metrics() -> str:
    from .queries import SQL_SEGMENTATION

    return f"""
SELECT 'extract' AS stage,
  CAST(1 AS BIGINT) AS n_runs,
  CAST((SELECT count(DISTINCT o_orderkey % 100) FROM orders) AS BIGINT)
    AS doc_count,
  CAST((SELECT count(*) FROM orders) AS BIGINT) AS span_count,
  CAST((SELECT count(*) FROM ({SQL_SEGMENTATION}) seg) AS BIGINT)
    AS issue_count,
  CAST((SELECT count(DISTINCT o_orderkey % 100) FROM orders) AS BIGINT)
    AS out_docs
"""


# ---------------------------------------------------------------------------
# Composed curation pipeline (filters -> langid -> exact dedup, one plan)
# ---------------------------------------------------------------------------
# Thresholds chosen so every verdict branch fires on the driver corpus
# (token lengths 10-99, stop ppm 0-222k, langid 'en' for ~90%); every
# 10th document is re-injected under doc_id+1000000 so the duplicate
# branch and the min-surviving-id keeper are exercised.

CUR_MIN_TOK, CUR_MAX_TOK, CUR_MIN_STOP_PPM = 20, 80, 20_000


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import curate_corpus

    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    dups = d.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return curate_corpus(
        d.unionByName(dups), min_tokens=CUR_MIN_TOK, max_tokens=CUR_MAX_TOK,
        allowed_langs=("en",), min_stop_ppm=CUR_MIN_STOP_PPM)


def _sql_curation() -> str:
    from .operators.textstats import EN_FUNCTION_WORDS, EN_STOPWORDS

    stop = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    fn = ", ".join(f"'{w}'" for w in EN_FUNCTION_WORDS)
    return rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
t AS (
  SELECT doc_id, md5(text) AS content_hash,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM corpus),
sig AS (
  SELECT doc_id, content_hash,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(floor(len(list_filter(toks, x -> x IN ({stop})))
               * 1000000.0 / len(toks)) AS BIGINT) AS stop_ratio_ppm,
    CASE WHEN len(list_filter(toks, x -> x IN ({fn}))) * 100 >= len(toks)
         THEN 'en' ELSE 'unknown' END AS pred_lang
  FROM t),
flt AS (
  SELECT *,
    (n_tokens BETWEEN {CUR_MIN_TOK} AND {CUR_MAX_TOK}
     AND pred_lang = 'en'
     AND stop_ratio_ppm >= {CUR_MIN_STOP_PPM}) AS passes
  FROM sig),
k AS (
  SELECT *, min(CASE WHEN passes THEN doc_id END)
              OVER (PARTITION BY content_hash) AS keeper_id
  FROM flt)
SELECT doc_id, n_tokens, stop_ratio_ppm, pred_lang, content_hash, keeper_id,
  CASE WHEN n_tokens < {CUR_MIN_TOK} THEN 'too_short'
       WHEN n_tokens > {CUR_MAX_TOK} THEN 'too_long'
       WHEN pred_lang <> 'en' THEN 'language'
       WHEN stop_ratio_ppm < {CUR_MIN_STOP_PPM} THEN 'low_quality'
       WHEN doc_id <> keeper_id THEN 'duplicate'
       ELSE 'kept' END AS verdict
FROM k
"""


QUERIES_MISC3: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "group_detail": q_group_detail,
    "group_summary": q_group_summary,
    "validation_stats": q_validation_stats,
    "json_roundtrip": q_json_roundtrip,
    "stream_extract": q_stream_extract,
    "span_sequence": q_span_sequence,
    "curation": q_curation,
    "sink_metrics": q_sink_metrics,
}

ORACLES_MISC3: dict[str, str] = {
    "group_detail": SQL_GROUP_DETAIL,
    "group_summary": SQL_GROUP_SUMMARY,
    "validation_stats": _sql_validation_stats(),
    "json_roundtrip": _sql_json_roundtrip(),
    "stream_extract": _sql_stream_extract(),
    "span_sequence": _sql_span_sequence(),
    "curation": _sql_curation(),
    "sink_metrics": _sql_sink_metrics(),
}
