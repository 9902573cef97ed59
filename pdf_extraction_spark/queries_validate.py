"""Post-estimation validation gate query + DuckDB oracle.

Synthesizes a flat estimates table from ``orders`` (18 deterministic
cases covering every branch of the validator: clean accept, inverted
ranges, component-sum mismatch, extreme cost, high-cost review, zero
cost, low/out-of-range/missing confidence, range-ratio violations,
labor-heavy and materials-light ratios, timeline violations, Houston
rate check, missing cost / missing total), runs the REAL Catalyst
validator (validation_rules.with_validation) on the Spark side, and
an independent SQL transcription of the same decision cascade on the
DuckDB side.

The per-case cost-bound expressions are pure arithmetic on ``b`` (a
multiple of 4 derived from o_orderkey) so the identical expression text
parses in both engines, and all derived midpoints/adjustments stay
exact dyadic fractions — float rounding cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .validation_rules import with_validation

# per-case templates: (labor, materials, permits, total) bound pairs as
# expression strings over b (None = component absent), plus scalar fields
_L = "NULL"

DEFAULT = dict(conf="0.8", reasoning="'estimated from historical cost tables'",
               tl=("1.0", "5.0"), contractor="'electrician'",
               urgency="'medium'", category="'interior walls'",
               desc="'component shows damage and requires repair'")

CASES: dict[int, dict] = {
    0: dict(labor=("b", "2*b"), mat=("b", "2*b"), perm=("0", "0"),
            total=("2*b", "4*b")),
    1: dict(labor=("2*b", "b"), mat=("b", "2*b"), perm=("0", "0"),
            total=("2*b", "4*b")),                       # inverted labor
    2: dict(labor=("b", "2*b"), mat=("b", "2*b"), perm=("0", "0"),
            total=("2*b+56", "4*b+112")),                # sum mismatch
    3: dict(labor=("60000", "120000"), mat=("60000", "120000"),
            perm=("0", "0"), total=("120000", "240000")),  # extreme
    4: dict(labor=("15000", "30000"), mat=("15000", "30000"),
            perm=("0", "0"), total=("30000", "60000")),  # >50k review
    5: dict(labor=("0", "0"), mat=("0", "0"), perm=("0", "0"),
            total=("0", "0"), conf="0.95", reasoning="''",
            contractor=_L),                              # zero cost
    6: dict(labor=("b", "2*b"), mat=("b", "2*b"), perm=("0", "0"),
            total=("2*b", "4*b"), conf="0.5"),           # widen 50%
    7: dict(labor=("b", "2*b"), mat=("b", "2*b"), perm=("0", "0"),
            total=("2*b", "4*b"), conf="0.7"),           # widen 25%
    8: dict(labor=("b", "2*b"), mat=("b", "2*b"), perm=("0", "0"),
            total=("2*b", "4*b"), conf="1.2", reasoning="''"),  # conf err
    9: dict(labor=("b", "2*b"), mat=("b", "2*b"), perm=("0", "0"),
            total=("2*b", "4*b"), conf=_L, tl=(_L, _L)),  # missing conf/tl
    10: dict(labor=("b", "4*b"), mat=("b", "2*b"), perm=("0", "0"),
             total=("2*b", "6*b")),                      # ratio 4x > 3x
    11: dict(labor=("2*b", "2.5*b"), mat=("2*b", "2.5*b"), perm=("0", "0"),
             total=("4*b", "5*b")),                      # total ratio 1.25x
    12: dict(labor=("0", "19*b"), mat=("0", "b"), perm=("0", "0"),
             total=("0", "20*b"), conf="0.55", tl=(_L, _L)),  # 4 warnings
    13: dict(labor=("2*b", "4*b"), mat=None, perm=None,
             total=("2*b", "4*b"),
             desc=("CASE WHEN even THEN 'crack requires repair' "
                   "ELSE 'annual inspect service visit' END")),
    14: dict(labor=("CASE WHEN even THEN b ELSE 4000 END",
                    "CASE WHEN even THEN 2*b ELSE 6000 END"),
             mat=("CASE WHEN even THEN b ELSE 4000 END",
                  "CASE WHEN even THEN 2*b ELSE 6000 END"),
             perm=("0", "0"),
             total=("CASE WHEN even THEN 2*b ELSE 8000 END",
                    "CASE WHEN even THEN 4*b ELSE 12000 END"),
             tl=("CASE WHEN even THEN 0.05 ELSE 0.25 END",
                 "CASE WHEN even THEN 400.0 ELSE 0.5 END")),  # timeline
    15: dict(labor=("4", "8"), mat=("4", "8"), perm=("0", "0"),
             total=("8", "16"), category="'plumbing systems'"),  # houston
    16: dict(labor=None, mat=None, perm=None, total=None),  # missing cost
    17: dict(labor=("b", "2*b"), mat=("b", "2*b"), perm=None,
             total=None),                                # missing total
}

_FIELDS = [
    ("labor_min", lambda c: (c.get("labor") or (None,))[0]),
    ("labor_max", lambda c: (c.get("labor") or (None, None))[1]),
    ("materials_min", lambda c: (c.get("mat") or (None,))[0]),
    ("materials_max", lambda c: (c.get("mat") or (None, None))[1]),
    ("permits_min", lambda c: (c.get("perm") or (None,))[0]),
    ("permits_max", lambda c: (c.get("perm") or (None, None))[1]),
    ("total_min", lambda c: (c.get("total") or (None,))[0]),
    ("total_max", lambda c: (c.get("total") or (None, None))[1]),
    ("confidence", lambda c: c.get("conf", DEFAULT["conf"])),
    ("confidence_reasoning",
     lambda c: c.get("reasoning", DEFAULT["reasoning"])),
    ("timeline_min_days", lambda c: c.get("tl", DEFAULT["tl"])[0]),
    ("timeline_max_days", lambda c: c.get("tl", DEFAULT["tl"])[1]),
    ("contractor_type", lambda c: c.get("contractor", DEFAULT["contractor"])),
    ("urgency", lambda c: c.get("urgency", DEFAULT["urgency"])),
    ("category", lambda c: c.get("category", DEFAULT["category"])),
    ("description", lambda c: c.get("desc", DEFAULT["desc"])),
]

_STRING_FIELDS = {"confidence_reasoning", "contractor_type", "urgency",
                  "category", "description"}


def _case_expr(field: str, getter) -> str:
    """CASE m WHEN ... dispatch over the 18 cases for one flat column."""
    arms = []
    for m, spec in CASES.items():
        v = getter(spec)
        arms.append(f"WHEN m = {m} THEN ({v if v is not None else 'NULL'})")
    cast = "" if field in _STRING_FIELDS else "CAST("
    cast_end = "" if field in _STRING_FIELDS else " AS DOUBLE)"
    return (f"{cast}CASE " + " ".join(arms) + f" END{cast_end}")


def _synth_sql(engine: str) -> str:
    """The flat-estimates synthesis CTE; only k/m/b/even derivation
    differs per engine (integer division operator)."""
    div = "div" if engine == "spark" else "//"
    cols = ",\n    ".join(f"{_case_expr(f, g)} AS {f}" for f, g in _FIELDS)
    return f"""
est AS (
  SELECT o_orderkey AS k, CAST(o_orderkey % 18 AS INT) AS m,
         CAST(4 * (1 + (o_orderkey {div} 18) % 50) AS DOUBLE) AS b,
         ((o_orderkey {div} 18) % 2 = 0) AS even
  FROM orders),
flat AS (
  SELECT k, m,
    {cols}
  FROM est)
"""


def q_estimate_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-estimation validation (reference
    src/validation/estimation_validator.py) via the real Catalyst
    cascade over the 18-case synthetic estimates table."""
    spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .createOrReplaceTempView("orders")
    flat = spark.sql("WITH " + _synth_sql("spark") + " SELECT * FROM flat")
    c = F.col
    out = with_validation(
        flat,
        c("labor_min"), c("labor_max"),
        c("materials_min"), c("materials_max"),
        c("permits_min"), c("permits_max"),
        c("total_min"), c("total_max"),
        c("confidence"), c("confidence_reasoning"),
        c("timeline_min_days"), c("timeline_max_days"),
        c("contractor_type"), c("urgency"),
        c("category"), c("description"))
    return out.select(
        c("k").alias("est_key"), c("m").alias("case_id"),
        "valid", "action", "n_errors", "n_warnings", "auto_corrected",
        "total_min_final", "total_max_final", "adj_factor")


def _sql_estimate_validate() -> str:
    """Independent SQL transcription of the validation cascade."""
    rate_case = ("CASE WHEN cat_l LIKE '%hvac%' THEN 85.0 "
                 "WHEN cat_l LIKE '%plumbing%' THEN 80.0 "
                 "WHEN cat_l LIKE '%electrical%' THEN 75.0 "
                 "WHEN cat_l LIKE '%roofing%' THEN 70.0 "
                 "WHEN cat_l LIKE '%foundation%' THEN 90.0 "
                 "ELSE 50.0 END")

    def range_errs(p: str, mn: str, mx: str, is_total: bool) -> str:
        narrow = (f" + CASE WHEN {mn} > 0 AND {mx} > 0 "
                  f"AND {mx}/{mn} < 1.5 THEN 1 ELSE 0 END"
                  if is_total else "")
        return (f"CASE WHEN {p} THEN "
                f"CASE WHEN {mn} > {mx} THEN 1 ELSE 0 END"
                f" + CASE WHEN {mn} < 0 THEN 1 ELSE 0 END"
                f" + CASE WHEN {mx} < 0 THEN 1 ELSE 0 END"
                f" + CASE WHEN {mn} > 0 AND {mx} > 0 AND {mx}/{mn} > 3.0 "
                f"THEN 1 ELSE 0 END{narrow} ELSE 0 END")

    return f"""
WITH {_synth_sql("duckdb")},
c1 AS (
  SELECT *,
    labor_min IS NOT NULL OR labor_max IS NOT NULL AS p_lab,
    materials_min IS NOT NULL OR materials_max IS NOT NULL AS p_mat,
    permits_min IS NOT NULL OR permits_max IS NOT NULL AS p_per,
    total_min IS NOT NULL OR total_max IS NOT NULL AS p_tot,
    coalesce(labor_min, 0) AS lmn, coalesce(labor_max, 0) AS lmx,
    coalesce(materials_min, 0) AS mmn, coalesce(materials_max, 0) AS mmx,
    coalesce(permits_min, 0) AS pmn, coalesce(permits_max, 0) AS pmx,
    coalesce(total_min, 0) AS tmn0, coalesce(total_max, 0) AS tmx0
  FROM flat),
c2 AS (
  SELECT *,
    {range_errs('p_lab', 'lmn', 'lmx', False)}
    + {range_errs('p_mat', 'mmn', 'mmx', False)}
    + {range_errs('p_per', 'pmn', 'pmx', False)}
    + {range_errs('p_tot', 'tmn0', 'tmx0', True)} AS n_range_errors,
    least(lmn, lmx) + least(mmn, mmx) + least(pmn, pmx) AS exp_min,
    greatest(lmn, lmx) + greatest(mmn, mmx) + greatest(pmn, pmx) AS exp_max,
    least(tmn0, tmx0) AS act_min, greatest(tmn0, tmx0) AS act_max,
    greatest(lmn, lmx) AS labor_max_s, greatest(mmn, mmx) AS mat_max_s,
    lower(coalesce(description, '')) AS desc_l,
    lower(coalesce(category, '')) AS cat_l,
    NOT (p_lab OR p_mat OR p_per OR p_tot) AS missing_cost,
    (p_lab OR p_mat OR p_per OR p_tot) AND NOT p_tot AS missing_total
  FROM c1),
c3 AS (
  SELECT *,
    p_tot AND (abs(exp_min - act_min) > 50 OR abs(exp_max - act_max) > 50)
      AS math_bad,
    act_min AS t_min, act_max AS t_max,
    act_max > 100000 AS extreme
  FROM c2),
c4 AS (
  SELECT *,
    CASE WHEN n_range_errors > 0 THEN 1 ELSE 0 END
    + CASE WHEN math_bad THEN 1 ELSE 0 END
    + CASE WHEN t_max > 50000 AND t_max <= 100000 THEN 1 ELSE 0 END
    + CASE WHEN t_min = 0 AND t_max = 0 THEN 1
           WHEN t_min = 0 AND t_max > 0 THEN 1 ELSE 0 END
    + CASE WHEN t_max > 0 AND labor_max_s / t_max > 0.9 THEN 1 ELSE 0 END
    + CASE WHEN t_max > 0 AND mat_max_s / t_max < 0.05 AND t_max > 500
           AND NOT (desc_l LIKE '%inspect%' OR desc_l LIKE '%evaluation%'
                    OR desc_l LIKE '%assess%' OR desc_l LIKE '%service%')
           THEN 1 ELSE 0 END
    + CASE WHEN confidence IS NULL THEN 1 ELSE 0 END
    + CASE WHEN confidence IS NOT NULL AND confidence < 0.3 THEN 1
           WHEN confidence IS NOT NULL AND confidence < 0.6 THEN 1
           ELSE 0 END
    + CASE WHEN confidence IS NOT NULL AND confidence > 0.9
           AND length(coalesce(confidence_reasoning, '')) < 20
           THEN 1 ELSE 0 END
    + CASE WHEN timeline_min_days IS NULL AND timeline_max_days IS NULL
           THEN 1
           ELSE CASE WHEN coalesce(timeline_min_days, 0)
                          > coalesce(timeline_max_days, 0)
                     THEN 1 ELSE 0 END
              + CASE WHEN coalesce(timeline_min_days, 0) < 0.1
                     THEN 1 ELSE 0 END
              + CASE WHEN coalesce(timeline_max_days, 0) > 365
                     THEN 1 ELSE 0 END
              + CASE WHEN t_max > 10000 AND coalesce(timeline_max_days, 0) < 1
                     THEN 1 ELSE 0 END
           END
    + CASE WHEN labor_max_s > 0 AND labor_max_s < {rate_case}
           THEN 1 ELSE 0 END
    + CASE WHEN coalesce(contractor_type, '') = '' THEN 1 ELSE 0 END
    + CASE WHEN coalesce(urgency, '') = '' THEN 1 ELSE 0 END AS n_warn_base,
    n_range_errors
    + CASE WHEN confidence IS NOT NULL
           AND (confidence < 0 OR confidence > 1) THEN 1 ELSE 0 END
      AS n_errors_late,
    coalesce(confidence, 1.0) AS conf_eff,
    CASE WHEN math_bad THEN exp_min ELSE act_min END AS fin_min,
    CASE WHEN math_bad THEN exp_max ELSE act_max END AS fin_max
  FROM c3),
c5 AS (
  SELECT *,
    conf_eff < 0.6 OR n_warn_base > 3 OR t_max > 50000 AS should_review,
    CASE WHEN conf_eff < 0.6 THEN 0.5
         WHEN conf_eff < 0.75 THEN 0.25 END AS adj_factor,
    (fin_min + fin_max) / 2 AS mid
  FROM c4),
c6 AS (
  SELECT *,
    adj_factor IS NOT NULL AND (fin_min > 0 OR fin_max > 0) AS adj_applies,
    greatest(0, mid * (1 - adj_factor)) AS a_min_raw,
    mid * (1 + adj_factor) AS a_max_raw
  FROM c5),
c7 AS (
  SELECT *,
    CASE WHEN a_min_raw > 0 THEN a_max_raw / a_min_raw ELSE 0 END AS a_ratio
  FROM c6),
c8 AS (
  SELECT *,
    CASE WHEN adj_applies THEN
      round(CASE WHEN a_ratio < 1.5 THEN mid * 0.75
                 WHEN a_ratio > 4.0 THEN mid * 0.5
                 ELSE a_min_raw END, 2)
      ELSE fin_min END AS adj_min,
    CASE WHEN adj_applies THEN
      round(CASE WHEN a_ratio < 1.5 THEN mid * 1.25
                 WHEN a_ratio > 4.0 THEN mid * 2.0
                 ELSE a_max_raw END, 2)
      ELSE fin_max END AS adj_max,
    NOT (missing_cost OR missing_total OR extreme OR n_errors_late > 0)
      AS valid,
    NOT (missing_cost OR missing_total OR extreme) AS carries
  FROM c7)
SELECT k AS est_key, m AS case_id,
  valid,
  CASE WHEN missing_cost THEN 'regenerate_estimate'
       WHEN missing_total THEN 'recalculate'
       WHEN extreme THEN 'reject'
       WHEN n_errors_late > 0 THEN 'flag_for_review'
       WHEN should_review THEN 'flag_for_review'
       ELSE 'accept' END AS action,
  CAST(CASE WHEN missing_cost THEN 1
            WHEN missing_total THEN n_range_errors + 1
            WHEN extreme THEN 1
            WHEN n_errors_late > 0 THEN n_errors_late
            ELSE 0 END AS BIGINT) AS n_errors,
  CAST(CASE WHEN missing_cost OR missing_total OR extreme THEN 0
            WHEN n_errors_late > 0 THEN n_warn_base
            ELSE n_warn_base
                 + CASE WHEN adj_factor IS NOT NULL THEN 1 ELSE 0 END
       END AS BIGINT) AS n_warnings,
  CASE WHEN missing_cost OR missing_total OR extreme THEN FALSE
       ELSE n_range_errors > 0 OR math_bad END AS auto_corrected,
  CASE WHEN carries AND valid THEN adj_min
       WHEN carries THEN fin_min END AS total_min_final,
  CASE WHEN carries AND valid THEN adj_max
       WHEN carries THEN fin_max END AS total_max_final,
  CASE WHEN valid THEN adj_factor END AS adj_factor
FROM c8
"""


QUERIES_VALIDATE = {"estimate_validate": q_estimate_validate}
ORACLES_VALIDATE = {"estimate_validate": _sql_estimate_validate()}
