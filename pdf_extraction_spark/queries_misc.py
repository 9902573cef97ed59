"""Gate queries for the remaining round-1 golden-only operators:
A2 enrichment summary + A5 estimate summary (aggregations), S8
content-hash checkpoint cache, J8 calibration feedback loop, and the J7
causal-chain tier. Same contract as the other query modules."""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import enrich_rules as er
from .queries import _pick, _sql_list
from .queries_enrich import _pick_sql
from .queries_enrich2 import N_DOCS

# ---------------------------------------------------------------------------
# A2 + A5 — enrichment summary + estimate summary
# ---------------------------------------------------------------------------

SUM_SEVS = ["critical", "high", "medium", "low", "unknown"]
SUM_ACTS = ["immediate_repair", "replacement", "monitoring", "maintenance"]
SUM_CATS = ["HVAC", "Plumbing", "Electrical", "Unknown"]
SUM_STRATS = ["lookup_table", "ml_model", "llm_reasoning"]
SUM_TRADES = ["hvac", "plumbing", "electrical", "general"]
SUM_CX = ["simple", "moderate", "complex"]


def q_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 summarize_issues + A5 estimate_summary via the real
    enrich_rules code, one row per document. Count maps are emitted as
    sorted 'key:count' strings so the gate compare stays hashable.

    Float discipline (round-5 rewrite): this gate went driver-RED in r02
    AND r04 with rows/schema green but hash red, while passing the local
    bit-exact comparator — the r02 "x100 BIGINT" fix scaled the output
    but left `round_even(round_even(sum/count, 2) * 100, 0)` float
    division in the oracle, whose result is DuckDB-version-sensitive.
    The three average columns are now DEFINED as truncating integer
    division of the exact integer sums — avg_x100 = (100*sum) div n,
    est_avg_conf = sum div n, all operands non-negative so truncation
    == floor on both engines — computed from the raw integer inputs in
    Python here and as BIGINT `//` in the oracle. summarize_issues /
    estimate_summary still run for every other column (their float
    averages are unit-tested separately against the reference rule)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    b = (1 + F.pmod(F.floor(k / 23), F.lit(50))).cast("long")
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(SUM_SEVS, F.pmod(k, F.lit(5))).alias("sev"),
        _pick(SUM_ACTS, F.pmod(F.floor(k / 3), F.lit(4))).alias("act"),
        _pick(SUM_CATS, F.pmod(F.floor(k / 7), F.lit(4))).alias("cat"),
        _pick(SUM_STRATS, F.pmod(F.floor(k / 11), F.lit(3))).alias("strat"),
        _pick(SUM_TRADES, F.pmod(F.floor(k / 13), F.lit(4))).alias("trade"),
        _pick(SUM_CX, F.pmod(F.floor(k / 17), F.lit(3))).alias("cx"),
        (F.pmod(k, F.lit(4)) == 0).alias("safety"),
        (F.pmod(F.floor(k / 5), F.lit(3)) == 0).alias("grouped"),
        (4 + 2 * F.pmod(F.floor(k / 19), F.lit(4))).cast("double").alias("urg"),
        (4 + 2 * F.pmod(F.floor(k / 29), F.lit(4))).cast("double").alias("cxf"),
        (4 * b).cast("long").alias("est_low"),
        (8 * b).cast("long").alias("est_high"),
        (40 + 10 * F.pmod(F.floor(k / 31), F.lit(6))).cast("long")
        .alias("conf"),
        (F.pmod(F.floor(k / 37), F.lit(4)) == 0).alias("review"))

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("k")
        issues = [{
            "standard_severity": r.sev, "standard_action": r.act,
            "standard_category": r.cat, "cost_strategy": r.strat,
            "classification": {"trade": r.trade, "complexity": r.cx},
            "safety_flag": bool(r.safety), "is_grouped": bool(r.grouped),
            "urgency_score": float(r.urg), "complexity_factor": float(r.cxf),
        } for r in pdf.itertuples(index=False)]
        estimates = [{
            "estimated_low": int(r.est_low), "estimated_high": int(r.est_high),
            "confidence_score": int(r.conf), "needs_review": bool(r.review),
        } for r in pdf.itertuples(index=False)]
        s = er.summarize_issues(issues)
        e = er.estimate_summary(estimates)

        def dct(d: dict) -> str:
            return "|".join(f"{key}:{d[key]}" for key in sorted(d))

        return pd.DataFrame([{
            "doc_id": pdf["doc_id"].iloc[0],
            "total_issues": s["total_issues"],
            "by_severity": dct(s["by_severity"]),
            "by_action": dct(s["by_action"]),
            "by_category": dct(s["by_category"]),
            "by_trade": dct(s["by_trade"]),
            "by_complexity": dct(s["by_complexity"]),
            "by_strategy": dct(s["by_strategy"]),
            "safety_issues": s["safety_issues"],
            "grouped_issues": s["grouped_issues"],
            # gate columns defined in pure integer arithmetic (see
            # docstring): the urg/cxf doubles are exactly integer-valued,
            # so int() is lossless and // matches the oracle's BIGINT //
            "avg_urgency_x100":
                (100 * int(pdf["urg"].sum())) // len(pdf),
            "avg_complexity_x100":
                (100 * int(pdf["cxf"].sum())) // len(pdf),
            "est_issues": e["estimated_issues"],
            "est_low_total": e["total_estimated_low"],
            "est_high_total": e["total_estimated_high"],
            "est_avg_conf": int(pdf["conf"].sum()) // len(pdf),
            "est_needs_review": e["needs_review"],
        }])

    return df.groupBy("doc_id").applyInPandas(
        per_doc, "doc_id bigint, total_issues long, by_severity string, "
                 "by_action string, by_category string, by_trade string, "
                 "by_complexity string, by_strategy string, "
                 "safety_issues long, grouped_issues long, "
                 "avg_urgency_x100 long, avg_complexity_x100 long, "
                 "est_issues long, est_low_total long, est_high_total long, "
                 "est_avg_conf long, est_needs_review long")


def _dim_sql(col: str, values: list[str]) -> str:
    """sorted 'value:count' join for one count map."""
    parts = ", ".join(
        f"CASE WHEN count(*) FILTER (WHERE {col} = '{v}') > 0 "
        f"THEN '{v}:' || count(*) FILTER (WHERE {col} = '{v}') END"
        for v in sorted(values))
    return f"concat_ws('|', {parts})"


def _sql_summaries() -> str:
    return f"""
WITH inputs AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    CAST(1 + (o_orderkey // 23) % 50 AS BIGINT) AS b,
    {_sql_list(SUM_SEVS)}[CAST(1 + o_orderkey % 5 AS INT)] AS sev,
    {_pick_sql(SUM_ACTS, 3, 4)} AS act,
    {_pick_sql(SUM_CATS, 7, 4)} AS cat,
    {_pick_sql(SUM_STRATS, 11, 3)} AS strat,
    {_pick_sql(SUM_TRADES, 13, 4)} AS trade,
    {_pick_sql(SUM_CX, 17, 3)} AS cx,
    o_orderkey % 4 = 0 AS safety,
    (o_orderkey // 5) % 3 = 0 AS grouped,
    CAST(4 + 2 * ((o_orderkey // 19) % 4) AS BIGINT) AS urg,
    CAST(4 + 2 * ((o_orderkey // 29) % 4) AS BIGINT) AS cxf,
    (o_orderkey // 37) % 4 = 0 AS review,
    CAST(40 + 10 * ((o_orderkey // 31) % 6) AS BIGINT) AS conf
  FROM orders)
SELECT doc_id,
  count(*) AS total_issues,
  {_dim_sql('sev', SUM_SEVS)} AS by_severity,
  {_dim_sql('act', SUM_ACTS)} AS by_action,
  {_dim_sql('cat', SUM_CATS)} AS by_category,
  {_dim_sql('trade', SUM_TRADES)} AS by_trade,
  {_dim_sql('cx', SUM_CX)} AS by_complexity,
  {_dim_sql('strat', SUM_STRATS)} AS by_strategy,
  count(*) FILTER (WHERE safety) AS safety_issues,
  count(*) FILTER (WHERE grouped) AS grouped_issues,
  -- pure BIGINT truncating division (all operands non-negative, so
  -- // == floor == Spark's Python //): no float, no round_even, no
  -- DuckDB-version-sensitive decimal promotion anywhere in the hash
  (100 * CAST(sum(urg) AS BIGINT)) // count(*) AS avg_urgency_x100,
  (100 * CAST(sum(cxf) AS BIGINT)) // count(*) AS avg_complexity_x100,
  count(*) AS est_issues,
  -- CAST: DuckDB sum(BIGINT) -> HUGEINT -> pandas float64, a dtype
  -- divergence vs Spark's int64 sum even when values are equal
  CAST(sum(4 * b) AS BIGINT) AS est_low_total,
  CAST(sum(8 * b) AS BIGINT) AS est_high_total,
  CAST(sum(conf) AS BIGINT) // count(*) AS est_avg_conf,
  count(*) FILTER (WHERE review) AS est_needs_review
FROM inputs GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# S8 — content-hash checkpoint cache (sources/checkpoint.py:31-64,
# reference src/pipeline.py:74-80,137-171)
# ---------------------------------------------------------------------------

def q_checkpoint_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: the md5 content hash + left_anti incremental decision, via the
    real content_hash_col and the same anti-join run_incremental uses.
    Docs with k%3==0 are 'already processed' (matching hash -> skipped),
    k%3==1 are stale (hash changed -> reprocessed), k%3==2 are new."""
    from .sources.checkpoint import content_hash_col

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    line1 = F.concat(F.lit("line one of doc "), k.cast("string"))
    line2 = F.concat(F.lit("second line "), F.pmod(k, F.lit(7)).cast("string"))
    spans = F.array(
        F.struct(F.lit("text").alias("kind"), line1.alias("text"),
                 F.lit("").alias("media_ref"), F.lit(0).alias("offset")),
        F.struct(F.lit("media_ref").alias("kind"), F.lit("").alias("text"),
                 F.concat(F.lit("img://"), k.cast("string"))
                 .alias("media_ref"), F.lit(1).alias("offset")),
        F.struct(F.lit("text").alias("kind"), line2.alias("text"),
                 F.lit("").alias("media_ref"), F.lit(2).alias("offset")))
    docs = o.select(k.cast("string").alias("doc_id"), spans.alias("spans"),
                    F.pmod(k, F.lit(3)).alias("m"))
    keyed = docs.withColumn("content_hash", content_hash_col())
    seen = keyed.where(F.col("m") == 0) \
        .select("doc_id", "content_hash") \
        .union(keyed.where(F.col("m") == 1)
               .select("doc_id", F.md5(F.lit("stale")).alias("content_hash")))
    todo = keyed.join(seen, ["doc_id", "content_hash"], "left_anti")
    return todo.select("doc_id", "content_hash")


SQL_CHECKPOINT = f"""
WITH docs AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
    CAST(o_orderkey % 3 AS INT) AS m,
    md5(
      'text' || chr(30) || 'line one of doc ' || CAST(o_orderkey AS VARCHAR)
        || chr(30) || '' || chr(30) || '0'
      || chr(31)
      || 'media_ref' || chr(30) || '' || chr(30) || 'img://'
        || CAST(o_orderkey AS VARCHAR) || chr(30) || '1'
      || chr(31)
      || 'text' || chr(30) || 'second line '
        || CAST(o_orderkey % 7 AS VARCHAR) || chr(30) || '' || chr(30) || '2'
    ) AS content_hash
  FROM orders)
SELECT doc_id, content_hash FROM docs WHERE m <> 0
"""


# ---------------------------------------------------------------------------
# J8 — calibration feedback loop (calibration_rules.py; reference
# src/learning/feedback_loop.py:86-341, calibration_database.py:242-290)
# ---------------------------------------------------------------------------

CAL_CATS = ["hvac", "plumbing", "electrical", "roofing", "interior"]
# dyadic per-category variances: exact fp sums in any order, and factors
# landing clearly inside/outside every should_apply gate
CAL_VAR = {"hvac": 12.5, "plumbing": -18.75, "electrical": 0.0,
           "roofing": 50.0, "interior": -43.75}
# applied: hvac 1.125, plumbing 0.8125; electrical 1.0 (negligible),
# roofing capped 1.5 (>1.35), interior capped 0.7 (<0.75) -> not applied


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 via the real calibration_rules code: build the store from a
    derived history (orders with k%30==0), compute per-category factors,
    apply to the full estimates table with apply_calibration_df."""
    from .calibration_rules import (CalibrationRecord, CalibrationStore,
                                    apply_calibration_df)

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    b = (1 + F.pmod(F.floor(k / 23), F.lit(50))).cast("double")
    hist_rows = o.where(F.pmod(k, F.lit(30)) == 0).select(
        _pick(CAL_CATS, F.pmod(F.floor(k / 30), F.lit(5))).alias("category"),
        (100 * b).alias("low"), (300 * b).alias("high")).collect()
    store = CalibrationStore()
    for r in hist_rows:
        mid = (r["low"] + r["high"]) / 2
        v = CAL_VAR[r["category"]] / 100
        store.add(CalibrationRecord(
            category=r["category"], complexity="moderate",
            strategy="lookup_table", estimated_low=r["low"],
            estimated_high=r["high"], actual_cost=mid * (1 + v)))
    estimates = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(CAL_CATS, F.pmod(k, F.lit(5))).alias("category"),
        (4 * b).alias("estimated_low"), (8 * b).alias("estimated_high"))
    out = apply_calibration_df(estimates, store)
    return out.select("doc_id", F.col("k").alias("line_key"), "category",
                      "calibration_factor", "calibrated_low",
                      "calibrated_high")


def _sql_calibration() -> str:
    return f"""
WITH hist AS (
  SELECT {_sql_list(CAL_CATS)}[CAST(1 + (o_orderkey // 30) % 5 AS INT)]
      AS category,
    CAST(100 * (1 + (o_orderkey // 23) % 50) AS DOUBLE) AS low,
    CAST(300 * (1 + (o_orderkey // 23) % 50) AS DOUBLE) AS high
  FROM orders WHERE o_orderkey % 30 = 0),
recs AS (
  SELECT category, (low + high) / 2 AS mid,
    (low + high) / 2 * (1 + (CASE category
      WHEN 'hvac' THEN 12.5 WHEN 'plumbing' THEN -18.75
      WHEN 'electrical' THEN 0.0 WHEN 'roofing' THEN 50.0
      WHEN 'interior' THEN -43.75 END) / 100) AS actual
  FROM hist),
stats AS (
  SELECT category, count(*) AS cnt,
    avg((actual - mid) / mid * 100) AS avg_var,
    coalesce(stddev_samp((actual - mid) / mid * 100), 0) AS std_var
  FROM recs GROUP BY category),
factors AS (
  SELECT category, cnt, avg_var, std_var,
    greatest(0.7::DOUBLE, least(1.5::DOUBLE, 1.0::DOUBLE + avg_var / 100))
      AS factor,
    sqrt(least(1.0::DOUBLE, cnt / 20.0)
         * CASE WHEN std_var > 0
                THEN greatest(0.5::DOUBLE, 1.0::DOUBLE - std_var / 100)
                ELSE 1.0::DOUBLE END) AS confidence
  FROM stats WHERE cnt >= 5),
applied AS (
  SELECT category, factor FROM factors
  WHERE confidence >= 0.6 AND factor >= 0.75 AND factor <= 1.35
    AND NOT (factor >= 0.98 AND factor <= 1.02)),
est AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_sql_list(CAL_CATS)}[CAST(1 + o_orderkey % 5 AS INT)] AS category,
    CAST(4 * (1 + (o_orderkey // 23) % 50) AS DOUBLE) AS estimated_low,
    CAST(8 * (1 + (o_orderkey // 23) % 50) AS DOUBLE) AS estimated_high
  FROM orders)
SELECT e.doc_id, e.k AS line_key, e.category,
  coalesce(a.factor, 1.0) AS calibration_factor,
  round_even(e.estimated_low * coalesce(a.factor, 1.0), 2)
    AS calibrated_low,
  round_even(e.estimated_high * coalesce(a.factor, 1.0), 2)
    AS calibrated_high
FROM est e LEFT JOIN applied a ON a.category = e.category
"""


# ---------------------------------------------------------------------------
# J7 (causal-chain tier) — relationship_analyzer.py:237-320
# ---------------------------------------------------------------------------

CHAIN_DESCS = [
    "general observation with no pattern",
    "roof leak observed at ridge",                # cause: roof_leak
    "ceiling stains spreading near fixture",      # effect: ceiling_stains
    "hvac failure suspected at unit",             # cause: hvac_failure
    "poor airflow in the ducts",                  # effect: poor_airflow
    "foundation cracks at the slab edge",         # cause: foundation_cracks
    "wall cracks visible above the door",         # effect: wall_cracks
    "drainage problems with yard flooding",       # cause + effect
]
CHAIN_SEVS = ["low", "high", "critical"]


def q_causal_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 causal chains via the real relationship_rules code over issues
    whose descriptions each match at most one cause pattern and a known
    effect set (locations empty, so the location tier is off and the SQL
    oracle is exact)."""
    from . import relationship_rules as rel

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(CHAIN_DESCS, F.pmod(k, F.lit(8))).alias("issue"),
        _pick(CHAIN_SEVS, F.pmod(F.floor(k / 3), F.lit(3))).alias("severity"))

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("k")
        issues = [{"id": f"i{r.k}", "issue": r.issue,
                   "severity": r.severity, "location": ""}
                  for r in pdf.itertuples(index=False)]
        chains = rel.find_causal_chains(issues)
        return pd.DataFrame(
            [{"doc_id": pdf["doc_id"].iloc[0],
              "root_cause_id": c["root_cause_id"],
              "chain_length": c["chain_length"],
              "priority": c["priority"]} for c in chains],
            columns=["doc_id", "root_cause_id", "chain_length", "priority"])

    return df.groupBy("doc_id").applyInPandas(
        per_doc, "doc_id bigint, root_cause_id string, chain_length long, "
                 "priority string")


SQL_CAUSAL_CHAINS = f"""
WITH inputs AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    CAST(o_orderkey % 8 AS INT) AS m,
    {_pick_sql(CHAIN_SEVS, 3, 3)} AS severity
  FROM orders),
cnt AS (
  SELECT doc_id,
    count(*) FILTER (WHERE m = 2) AS c2,
    count(*) FILTER (WHERE m = 4) AS c4,
    count(*) FILTER (WHERE m = 6) AS c6,
    count(*) FILTER (WHERE m = 7) AS c7
  FROM inputs GROUP BY doc_id),
-- per cause variant, the effect-match counts derived from the pattern
-- tables: roof_leak->v2(ceiling_stains); hvac_failure->v4(poor_airflow);
-- foundation_cracks->v6(wall_cracks)+v7(drainage_problems);
-- drainage_problems->v7(yard_flooding) minus the row itself
chains AS (
  SELECT i.doc_id, 'i' || CAST(i.k AS VARCHAR) AS root_cause_id,
    CASE i.m WHEN 1 THEN c.c2 WHEN 3 THEN c.c4
             WHEN 5 THEN c.c6 + c.c7 WHEN 7 THEN c.c7 - 1 END AS n_caused,
    CASE WHEN i.severity IN ('critical', 'high') THEN 'high'
         ELSE 'medium' END AS priority
  FROM inputs i JOIN cnt c USING (doc_id)
  WHERE i.m IN (1, 3, 5, 7))
SELECT doc_id, root_cause_id, n_caused + 1 AS chain_length, priority
FROM chains WHERE n_caused > 0
"""


# ---------------------------------------------------------------------------
# J6 — Houston component cost database (cost_database.py:64-172,462-501)
# ---------------------------------------------------------------------------

J6_COMPONENTS = ["hvac air handler unit", "the ac condenser",
                 "water heater replacement", "slab leak under kitchen",
                 "gfci outlet", "roof leak at ridge",
                 "foundation crack east wall", "drywall repair hallway",
                 "mystery gadget xyz"]
J6_SPECS = ["", "50 gallon gas unit", "200 amp service", "3 ton system"]
J6_AGES = [None, 20, 40]
J6_ACCESS = ["normal", "difficult"]
J6_QUALITY = ["low", "medium", "high"]


def q_cost_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 cost_db_estimate via the real estimation_rules code: fuzzy
    component lookup, spec-variant selection, context adjustments."""
    from . import estimation_rules as est

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(J6_COMPONENTS, F.pmod(k, F.lit(9))).alias("component"),
        _pick(J6_SPECS, F.pmod(F.floor(k / 7), F.lit(4))).alias("spec"),
        F.element_at(F.array(*[F.lit(a).cast("int") for a in J6_AGES]),
                     (F.pmod(F.floor(k / 11), F.lit(3)) + 1).cast("int"))
        .alias("age"),
        _pick(J6_ACCESS, F.pmod(F.floor(k / 13), F.lit(2))).alias("access"),
        _pick(J6_QUALITY, F.pmod(F.floor(k / 17), F.lit(3))).alias("quality"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ctx = {"property_age": None if pd.isna(r.age) else int(r.age),
                       "access_difficulty": r.access,
                       "information_quality": r.quality}
                e = est.cost_db_estimate(r.component, r.spec or None, ctx)
                rows.append({
                    "doc_id": r.doc_id, "line_key": r.k,
                    "estimated_low": None if e is None
                    else float(e["estimated_low"]),
                    "estimated_high": None if e is None
                    else float(e["estimated_high"]),
                    "confidence": None if e is None
                    else float(e["confidence"]),
                    "contractor_type": None if e is None
                    else e["contractor_type"],
                })
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, "doc_id bigint, line_key bigint, estimated_low double, "
             "estimated_high double, confidence double, "
             "contractor_type string")


def _sql_cost_db() -> str:
    """Build-time transcription: normalization + word-overlap/alias match
    + spec-variant selection resolved per pick pair from the rule tables
    (all static), leaving only the context arithmetic in SQL."""
    from . import estimation_rules as est

    def normalize(component: str) -> str:
        n = component.lower().strip()
        for word in ("the", "a", "an", "replacement", "repair",
                     "installation"):
            n = n.replace(f" {word} ", " ")
            if n.startswith(f"{word} "):
                n = n[len(word) + 1:]
            n = n.replace(f"{word} ", "")
        return " ".join(n.split())

    def match_key(component: str) -> str | None:
        q = normalize(component)
        qw = set(q.split())
        for key in est.COMPONENTS:
            kw = set(key.replace("_", " ").split())
            if len(qw & kw) >= 2:
                return key
            for alias, variations in est._COMPONENT_ALIASES.items():
                if alias in q and any(v in key for v in variations):
                    return key
        return None

    arms = []
    for ci, comp in enumerate(J6_COMPONENTS):
        key = match_key(comp)
        if key is None:
            continue
        data = est.COMPONENTS[key]
        rate = float(data["labor_rate"])
        h_min, h_max = (float(data["labor_hours"]["min"]),
                        float(data["labor_hours"]["max"]))
        permits = float(data["permits"])
        addl = float(sum(data["additional_costs"].values()))
        conf = float(data["confidence"])
        ctype = data["contractor_type"]
        materials = data["materials"]
        variant = isinstance(materials, dict) \
            and any(isinstance(v, dict) for v in materials.values())
        for si, spec in enumerate(J6_SPECS):
            mat = materials
            if variant:
                mat = None
                if spec:
                    for mkey, mval in materials.items():
                        if isinstance(mval, dict) and any(
                                t in spec.lower() for t in mkey.split("_")):
                            mat = mval
                            break
            if mat is None or "min" not in mat:
                continue  # variant table without a matching spec -> NULL
            arms.append(
                f"WHEN ci = {ci} AND si = {si} THEN struct_pack("
                f"hmin := {h_min}::DOUBLE, hmax := {h_max}::DOUBLE, "
                f"rate := {rate}::DOUBLE, mmin := {float(mat['min'])}::DOUBLE, "
                f"mmax := {float(mat['max'])}::DOUBLE, "
                f"fixed := {permits + addl}::DOUBLE, "
                f"conf := {conf}::DOUBLE, ctype := '{ctype}')")
    return f"""
WITH inputs AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    CAST(o_orderkey % 9 AS INT) AS ci,
    CAST((o_orderkey // 7) % 4 AS INT) AS si,
    [NULL, 20, 40][CAST(1 + (o_orderkey // 11) % 3 AS INT)] AS age,
    {_sql_list(J6_ACCESS)}[CAST(1 + (o_orderkey // 13) % 2 AS INT)]
      AS access,
    {_sql_list(J6_QUALITY)}[CAST(1 + (o_orderkey // 17) % 3 AS INT)]
      AS quality
  FROM orders),
matched AS (
  SELECT *, CASE {' '.join(arms)} END AS m FROM inputs),
adj AS (
  SELECT *,
    m.hmin * CASE WHEN age IS NOT NULL AND age > 30 THEN 1.1::DOUBLE
                  ELSE 1.0::DOUBLE END
           * CASE WHEN access = 'difficult' THEN 1.2::DOUBLE
                  ELSE 1.0::DOUBLE END AS hmin_a,
    m.hmax * CASE WHEN age IS NOT NULL AND age > 30 THEN 1.2::DOUBLE
                  ELSE 1.0::DOUBLE END
           * CASE WHEN access = 'difficult' THEN 1.4::DOUBLE
                  ELSE 1.0::DOUBLE END AS hmax_a,
    CASE WHEN m IS NULL THEN NULL
         WHEN quality = 'low' THEN m.conf * 0.8::DOUBLE
         WHEN quality = 'high' THEN least(0.95::DOUBLE,
                                          m.conf * 1.1::DOUBLE)
         ELSE m.conf END AS conf_a
  FROM matched)
SELECT doc_id, k AS line_key,
  round_even(hmin_a * m.rate + m.mmin + m.fixed, 2) AS estimated_low,
  round_even(hmax_a * m.rate + m.mmax + m.fixed, 2) AS estimated_high,
  conf_a AS confidence,
  m.ctype AS contractor_type
FROM adj
"""


# ---------------------------------------------------------------------------
# Connected-components dedup (transitive keeper over near-dup pairs)
# ---------------------------------------------------------------------------

def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full transitive dedup: jaccard near-dup pairs (threshold 0.5) ->
    min-label-propagation connected components -> per-doc keeper, via the
    real operators. The oracle recomputes reachability with a recursive
    CTE over the identical edge set."""
    from .operators.dedup import dedup_components, jaccard_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    pairs = jaccard_pairs(d, min_shared=2).where(F.col("jaccard") >= 0.5)
    out = dedup_components(d, pairs)
    return out.select("doc_id", "keeper_doc_id", "is_near_duplicate")


def _sql_dedup_components() -> str:
    from .queries import SQL_JACCARD_PAIRS

    return f"""
WITH pairs AS ({SQL_JACCARD_PAIRS}),
edges AS (
  SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5
  UNION SELECT id_b, id_a FROM pairs WHERE jaccard >= 0.5),
nodes AS (SELECT DISTINCT id_a AS id FROM edges),
reach AS (
  WITH RECURSIVE r(id, seen) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT e.id_a, r.seen FROM edges e JOIN r ON r.id = e.id_b)
  SELECT id, min(seen) AS comp FROM r GROUP BY id)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
  coalesce(reach.comp, CAST(d.doc_id AS VARCHAR)) AS keeper_doc_id,
  coalesce(reach.comp, CAST(d.doc_id AS VARCHAR)) <> CAST(d.doc_id AS VARCHAR)
    AS is_near_duplicate
FROM documents d LEFT JOIN reach ON reach.id = CAST(d.doc_id AS VARCHAR)
"""


# ---------------------------------------------------------------------------
# all-pairs top-k (bucketed self-join similarity) + media frame sampling
# ---------------------------------------------------------------------------

APT_PLANES = 8
APT_DIM = 64
APT_TABLES = 2


def q_all_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector top-k neighbours via multi-table multi-probe LSH (the
    operators/similarity.py all_pairs_topk default: L=2 seeded tables x
    Hamming-1 probing — a pair is a candidate iff some table puts the two
    buckets within one sign bit), scored at milli precision and ranked
    with a deterministic tie-break so both engines cut identical top-k
    sets."""
    from pyspark.sql import Window
    from .operators.similarity import pair_cosine_arrow, with_lsh_buckets

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cands = None
    for t in range(APT_TABLES):
        bucketed = with_lsh_buckets(e, APT_DIM, APT_PLANES, seed=42 + t)
        probes = F.array(F.col("bucket"), *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(APT_PLANES)])
        left = bucketed.select(F.explode(probes).alias("bucket"),
                               F.col("vec_id").alias("id_a"))
        right = bucketed.select("bucket", F.col("vec_id").alias("id_b"))
        pairs_t = (left.join(right, "bucket")
                   .where(F.col("id_a") != F.col("id_b"))
                   .select("id_a", "id_b"))
        cands = pairs_t if cands is None else cands.union(pairs_t)
    attached = (cands.distinct()
                .join(e.select(F.col("vec_id").alias("id_a"),
                               F.col("embedding").alias("e_a")), "id_a")
                .join(e.select(F.col("vec_id").alias("id_b"),
                               F.col("embedding").alias("e_b")), "id_b"))
    # Arrow pair-scoring kernel — bit-identical to the unrolled
    # cosine_col(e_a, e_b, dim) f32 projection it replaced
    pairs = (pair_cosine_arrow(attached, "e_a", "e_b", APT_DIM)
             .select("id_a", "id_b",
                     F.floor(F.col("cosine") * 1000)
                     .cast("long").alias("sim_milli")))
    w = Window.partitionBy("id_a").orderBy(F.desc("sim_milli"), "id_b")
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("id_a", "id_b", "sim_milli",
                    F.col("rank").cast("long").alias("rank")))


def _sql_all_pairs_topk() -> str:
    """Oracle: candidate iff EITHER seeded table's sign-bit buckets are
    within Hamming distance 1 (= the Spark side's explode-probe join),
    then top-5 per vector ranked at milli precision (floor-before-rank
    keeps the ordering identical across engines' float summation
    orders)."""
    from .operators.similarity import hyperplanes

    tables = []
    for t in range(APT_TABLES):
        planes = hyperplanes(APT_DIM, APT_PLANES, seed=42 + t)
        plane_lits = ", ".join(
            "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes)
        bucket_expr = " + ".join(
            f"(CASE WHEN list_dot_product(embedding, pl.planes[{i + 1}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(APT_PLANES))
        tables.append((plane_lits, bucket_expr))
    return f"""
WITH pl AS (SELECT [{tables[0][0]}] AS planes),
pl2 AS (SELECT [{tables[1][0]}] AS planes),
be AS (
  SELECT vec_id, embedding, {tables[0][1]} AS bucket0,
    {tables[1][1].replace('pl.planes', 'pl2.planes')} AS bucket1
  FROM embeddings, pl, pl2),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    CAST(floor(list_cosine_similarity(a.embedding, b.embedding) * 1000)
         AS BIGINT) AS sim_milli
  FROM be a JOIN be b
    ON (bit_count(xor(a.bucket0, b.bucket0)) <= 1
        OR bit_count(xor(a.bucket1, b.bucket1)) <= 1)
       AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY sim_milli DESC, id_b) AS rank
  FROM pairs)
SELECT id_a, id_b, sim_milli, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling (operators/multimodal.py sample_frames):
    one row per sampled frame of each synthetic video, payload projected
    to its md5 hex (= md5 of 'ref:idx' by construction — exactly
    recomputable in SQL)."""
    from .operators.multimodal import sample_frames, synthesize_media

    refs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("img://doc_"), F.col("doc_id").cast("string"),
                 F.lit("/0")).alias("media_ref"))
    media = synthesize_media(spark, refs)
    frames = sample_frames(media, every_ms=80, fake=True)
    return frames.select(
        "media_ref", F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.lower(F.hex("frame")).alias("frame_md5"))


SQL_MEDIA_FRAMES = """
WITH refs AS (
  SELECT 'img://doc_' || CAST(doc_id AS VARCHAR) || '/0' AS media_ref
  FROM documents),
m AS (
  SELECT media_ref, md5(media_ref) AS h FROM refs),
vids AS (
  SELECT media_ref,
    (('0x' || substr(h, 9, 2))::INT % 32 + 1) * 40 AS duration_ms
  FROM m
  WHERE ('0x' || substr(h, 11, 2))::INT % 3 = 1),
frames AS (
  SELECT media_ref, CAST(idx AS BIGINT) AS frame_idx,
         CAST(idx * 80 AS BIGINT) AS ts_ms
  FROM vids CROSS JOIN unnest(range(0, CAST((duration_ms + 79) // 80
                                            AS BIGINT))) AS t(idx))
SELECT media_ref, frame_idx, ts_ms,
  md5(media_ref || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM frames
"""


# ---------------------------------------------------------------------------
# A1 — extraction summary (per-doc status/priority/table counts)
# ---------------------------------------------------------------------------

def q_extract_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 via the real exploded extraction plan (plans/extraction.py
    assemble): per-doc issue counts by status and priority plus table
    count — the oracle aggregates the shared segmentation and table
    transcriptions."""
    from .plans.extraction import assemble
    from .queries import derived_lines

    lines = derived_lines(spark, sf_dir)
    docs = (lines.groupBy(F.col("doc_id").cast("string").alias("doc_id"))
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "text"))),
                lambda x: F.struct(
                    F.lit("text").alias("kind"), x["text"].alias("text"),
                    F.lit("").alias("media_ref"), x["offset"].alias("offset")),
            ).alias("spans")))
    out = assemble(docs)
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


def _sql_extract_summary() -> str:
    from .queries import SQL_SEGMENTATION, _sql_tables

    return f"""
WITH iss AS ({SQL_SEGMENTATION}),
tabs AS ({_sql_tables()}),
icounts AS (
  SELECT doc_id,
    count(*) AS total_issues,
    count(*) FILTER (WHERE status = 'D') AS deficient,
    count(*) FILTER (WHERE status = 'I') AS inspected,
    count(*) FILTER (WHERE status = 'NI') AS not_inspected,
    count(*) FILTER (WHERE status = 'NP') AS not_present,
    count(*) FILTER (WHERE priority = 'high') AS high,
    count(*) FILTER (WHERE priority = 'medium') AS medium,
    count(*) FILTER (WHERE priority = 'low') AS low,
    count(*) FILTER (WHERE priority = 'info') AS info
  FROM iss GROUP BY doc_id),
tcounts AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, count(*) AS total_tables
  FROM tabs GROUP BY doc_id),
docs AS (
  SELECT DISTINCT CAST(o_orderkey % 100 AS VARCHAR) AS doc_id FROM orders)
SELECT d.doc_id,
  coalesce(i.total_issues, 0) AS total_issues,
  coalesce(i.deficient, 0) AS deficient,
  coalesce(i.inspected, 0) AS inspected,
  coalesce(i.not_inspected, 0) AS not_inspected,
  coalesce(i.not_present, 0) AS not_present,
  coalesce(i.high, 0) AS high,
  coalesce(i.medium, 0) AS medium,
  coalesce(i.low, 0) AS low,
  coalesce(i.info, 0) AS info,
  coalesce(t.total_tables, 0) AS total_tables
FROM docs d
LEFT JOIN icounts i ON i.doc_id = d.doc_id
LEFT JOIN tcounts t ON t.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (vector-space dedup tier) + IVF ANN
# ---------------------------------------------------------------------------

EMB_DEDUP_THRESH = 900  # milli-floored cosine


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate keeper assignment over a derived
    corpus with planted near-dups: every 5th vector also appears with its
    first coordinate zeroed (cosine ~0.99 to its base — far from both the
    0.9 threshold and any natural pair, whose max cosine is ~0.44).
    Exercises operators/dedup.py embedding_near_dup end-to-end: LSH
    candidate pairs -> Arrow pairwise cosine -> milli threshold ->
    connected-components keeper."""
    from .operators.dedup import embedding_near_dup

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    mod = (e.where(F.col("vec_id") % 5 == 0)
           .select((F.col("vec_id") + 1000000).alias("vec_id"),
                   F.concat(F.array(F.lit(0.0).cast("float")),
                            F.slice("embedding", 2, APT_DIM - 1))
                   .alias("embedding")))
    corpus = e.unionByName(mod)
    out = embedding_near_dup(corpus, APT_DIM,
                             threshold_milli=EMB_DEDUP_THRESH,
                             n_planes=APT_PLANES, n_tables=APT_TABLES)
    return out.select("vec_id", "keeper_id", "is_near_duplicate")


def _sql_embedding_dedup() -> str:
    """Oracle: same derived corpus, the two seeded hyperplane tables
    inlined as literals (Hamming<=1 candidate join = the Spark side's
    probe explode), milli-floored cosine edges, recursive-CTE
    reachability for the transitive keeper."""
    from .operators.similarity import hyperplanes

    tables = []
    for t in range(APT_TABLES):
        planes = hyperplanes(APT_DIM, APT_PLANES, seed=42 + t)
        plane_lits = ", ".join(
            "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes)
        bucket_expr = " + ".join(
            f"(CASE WHEN list_dot_product(embedding, pl{t}.planes[{i + 1}])"
            f" >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(APT_PLANES))
        tables.append((plane_lits, bucket_expr))
    return f"""
WITH pl0 AS (SELECT [{tables[0][0]}] AS planes),
pl1 AS (SELECT [{tables[1][0]}] AS planes),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_concat([CAST(0.0 AS FLOAT)], embedding[2:]) AS embedding
  FROM embeddings WHERE vec_id % 5 = 0),
be AS (
  SELECT vec_id, embedding, {tables[0][1]} AS bucket0,
    {tables[1][1]} AS bucket1
  FROM corpus, pl0, pl1),
edges0 AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM be a JOIN be b
    ON (bit_count(xor(a.bucket0, b.bucket0)) <= 1
        OR bit_count(xor(a.bucket1, b.bucket1)) <= 1)
       AND a.vec_id < b.vec_id
  WHERE CAST(floor(list_cosine_similarity(a.embedding, b.embedding) * 1000)
             AS BIGINT) >= {EMB_DEDUP_THRESH}),
edges AS (SELECT id_a, id_b FROM edges0
          UNION SELECT id_b, id_a FROM edges0),
nodes AS (SELECT DISTINCT id_a AS id FROM edges),
reach AS (
  WITH RECURSIVE r(id, seen) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT e.id_a, r.seen FROM edges e JOIN r ON r.id = e.id_b)
  SELECT id, min(seen) AS comp FROM r GROUP BY id)
SELECT c.vec_id, coalesce(reach.comp, c.vec_id) AS keeper_id,
  coalesce(reach.comp, c.vec_id) <> c.vec_id AS is_near_duplicate
FROM corpus c LEFT JOIN reach ON reach.id = c.vec_id
"""


IVF_LIST = 8
IVF_PROBE = 2


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN gate: deterministic medoid centroids (first IVF_LIST ids),
    milli-floored argmax cell assignment (Arrow kernel), top-IVF_PROBE
    probed cells for the first vector as query, exact milli-scored
    re-rank inside the probed cells."""
    from .operators.similarity import (cosine_scores_arrow, ivf_assign_arrow,
                                       ivf_centroids, _query_cell_order)

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x)
          for x in e.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    cents = ivf_centroids(e, IVF_LIST)
    probe = _query_cell_order(qv, cents)[:IVF_PROBE]
    assigned = ivf_assign_arrow(e, cents, APT_DIM)
    cand = assigned.where(F.col("cell").isin(probe))
    scored = cosine_scores_arrow(cand, qv)
    return (scored.select(
        "vec_id", "label",
        F.floor(F.col("cosine") * 1000).cast("long").alias("sim_milli"))
        .orderBy(F.desc("sim_milli"), "vec_id").limit(10))


SQL_IVF_TOPK = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS c_emb
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {IVF_LIST})),
q AS (SELECT embedding AS q_emb FROM embeddings ORDER BY vec_id LIMIT 1),
assign AS (
  SELECT e.vec_id, e.label, e.embedding, c.cidx,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      CAST(floor(list_cosine_similarity(e.embedding, c.c_emb) * 1000)
           AS BIGINT) DESC, c.cidx) AS rn
  FROM embeddings e, cent c),
cells AS (SELECT vec_id, label, embedding, cidx AS cell
          FROM assign WHERE rn = 1),
qprobe AS (
  SELECT cidx FROM (
    SELECT c.cidx, row_number() OVER (ORDER BY
      CAST(floor(list_cosine_similarity(q.q_emb, c.c_emb) * 1000)
           AS BIGINT) DESC, c.cidx) AS rn
    FROM cent c, q) WHERE rn <= {IVF_PROBE}),
cand AS (SELECT c.vec_id, c.label, c.embedding
         FROM cells c JOIN qprobe p ON c.cell = p.cidx)
SELECT vec_id, label,
  CAST(floor(list_cosine_similarity(embedding, q_emb) * 1000) AS BIGINT)
    AS sim_milli
FROM cand, q
ORDER BY sim_milli DESC, vec_id LIMIT 10
"""


QUERIES_MISC: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embedding_dedup": q_embedding_dedup,
    "ivf_topk": q_ivf_topk,
    "summaries": q_summaries,
    "checkpoint_cache": q_checkpoint_cache,
    "calibration": q_calibration,
    "causal_chains": q_causal_chains,
    "cost_db": q_cost_db,
    "dedup_components": q_dedup_components,
    "all_pairs_topk": q_all_pairs_topk,
    "media_frames": q_media_frames,
    "extract_summary": q_extract_summary,
}

ORACLES_MISC: dict[str, str] = {
    "embedding_dedup": _sql_embedding_dedup(),
    "ivf_topk": SQL_IVF_TOPK,
    "summaries": _sql_summaries(),
    "checkpoint_cache": SQL_CHECKPOINT,
    "calibration": _sql_calibration(),
    "causal_chains": SQL_CAUSAL_CHAINS,
    "cost_db": _sql_cost_db(),
    "dedup_components": _sql_dedup_components(),
    "all_pairs_topk": _sql_all_pairs_topk(),
    "media_frames": SQL_MEDIA_FRAMES,
    "extract_summary": _sql_extract_summary(),
}
