"""Gate queries for the enrichment operators that were golden-only in
round 1: C9/T8 attributes, C11-C13 metadata enrichment, C15/C16
classification, T2-T4 cleaning, T5 per-doc dedup, F2-F9 quality routing,
C17/J5 strategy, J1 table-issue link, J2/J3 taxonomy, C19-C21 phase-2
estimation, A2/A3/A5 summaries, S8 checkpoint cache, J8 calibration.

Same contract as queries_enrich.py: inputs derived deterministically from
``orders`` on both sides; Spark runs the REAL implementations
(enrich_rules / estimation_rules / operators), DuckDB runs an independent
ANSI-SQL transcription of the reference semantics.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import enrich_rules as er
from . import rules
from .queries import _pick, _sql_list
from .queries_enrich import ITEMS, PHRASES, _like_any, _pick_sql

# ---------------------------------------------------------------------------
# Derived rich-text issues (attribute/classification inputs)
# ---------------------------------------------------------------------------

N_DOCS = 50

LOC_SFX = ["", " in the kitchen area", " at the master bedroom",
           " near the attic entry", " on the second floor front exterior"]
MEAS_SFX = ["", " damaged area measures 10 x 12 feet",
            " along 15 feet of pipe run",
            " covering 1,200 sq ft of surface",
            " moisture at 60 percent level"]
MAT_SFX = ["", " on the wood framing members",
           " behind drywall sheetrock panels",
           " at the copper supply line", " under asphalt shingles layer"]
ACC_SFX = ["", " difficult to access", " requires ladder staging",
           " found in the crawlspace area", " easily accessible from below"]
SAFE_SFX = ["", " posing a fire hazard risk"]


def derived_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")

    def p(arr: list[str], div: int, mod: int) -> Column:
        return _pick(arr, F.pmod(F.floor(k / div), F.lit(mod)))

    item = p(ITEMS, 7, 5)
    phrase = p(PHRASES, 5, 5)
    desc = F.concat(item, F.lit(" "), phrase, p(LOC_SFX, 3, 5),
                    p(MEAS_SFX, 11, 5), p(MAT_SFX, 13, 5),
                    p(ACC_SFX, 17, 5), _pick(SAFE_SFX, F.pmod(k, F.lit(2))),
                    F.lit("."))
    return o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        desc.alias("description"),
        F.concat(item, F.lit(" condition")).alias("title"))


SQL_RICH_CTE = f"""
rich AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_pick_sql(ITEMS, 7, 5)} || ' ' || {_pick_sql(PHRASES, 5, 5)}
      || {_pick_sql(LOC_SFX, 3, 5)} || {_pick_sql(MEAS_SFX, 11, 5)}
      || {_pick_sql(MAT_SFX, 13, 5)} || {_pick_sql(ACC_SFX, 17, 5)}
      || {_sql_list(SAFE_SFX)}[CAST(1 + o_orderkey % 2 AS INT)]
      || '.' AS description,
    {_pick_sql(ITEMS, 7, 5)} || ' condition' AS title
  FROM orders)
"""


# ---------------------------------------------------------------------------
# C9 + T8 — attribute extraction (attribute_extractor.py:81-213)
# ---------------------------------------------------------------------------

def q_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9/T8 via the real er.extract_attributes; list outputs joined with
    '|' so the gate compare stays hashable."""
    df = derived_rich(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, k, d, t in zip(pdf["doc_id"], pdf["k"],
                                       pdf["description"], pdf["title"]):
                a = er.extract_attributes(d, t)
                meas = a.get("measurements", {})
                rows.append({
                    "doc_id": doc_id, "line_key": k,
                    "locations": "|".join(a.get("locations", [])),
                    "dimensions": "|".join(meas.get("dimensions", [])),
                    "lengths": "|".join(meas.get("lengths", [])),
                    "areas": "|".join(meas.get("areas", [])),
                    "materials": "|".join(a.get("materials", [])),
                    "damage_types": "|".join(a.get("damage_types", [])),
                    "safety_related": bool(a.get("safety_related", False)),
                    "accessibility": a.get("accessibility"),
                })
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, "doc_id bigint, line_key bigint, locations string, "
             "dimensions string, lengths string, areas string, "
             "materials string, damage_types string, "
             "safety_related boolean, accessibility string")


def _sql_attributes() -> str:
    loc_all = [p for pats in rules.LOCATION_TERMS.values() for p in pats]
    loc_cases = ", ".join(
        f"CASE WHEN t LIKE '%{p}%' THEN '{p}' END" for p in loc_all)
    mat_cases = ", ".join(
        f"CASE WHEN {_like_any('t', kws)} THEN '{m}' END"
        for m, kws in rules.MATERIALS.items())
    dmg_cases = ", ".join(
        f"CASE WHEN {_like_any('t', kws)} THEN '{d}' END"
        for d, kws in rules.DAMAGE_TYPES.items())
    safety = _like_any("t", rules.SAFETY_KEYWORDS)
    acc_case = " ".join(
        f"WHEN {_like_any('t', pats)} THEN '{a}'"
        for a, pats in rules.ACCESSIBILITY_PATTERNS.items())
    # RE2-safe rewrites of ATTR_MEASUREMENT_PATTERNS (\' -> ', \" -> ")
    p_dim = (r"(\d+(?:\.\d+)?)\s*[xX×]\s*(\d+(?:\.\d+)?)"
             r"\s*(?:feet|foot|ft|''|inches|inch|in|\x22)?")
    p_len = r"(\d+(?:\.\d+)?)\s*(?:feet|foot|ft|''|inches|inch|in|\x22)"
    p_sq1 = r"(\d+(?:,\d{3})*(?:\.\d+)?)\s*(?:sq\.?\s*ft|square\s+feet|square\s+foot)"
    p_pct = r"(\d+(?:\.\d+)?)\s*(?:%|percent)"
    p_area = r"(\d+(?:,\d{3})*(?:\.\d+)?)\s*(?:sq\.?\s*ft|square\s+feet)"
    return f"""
WITH {SQL_RICH_CTE},
txt AS (
  SELECT doc_id, k,
    lower(title || ' ' || description) AS t
  FROM rich),
meas AS (
  SELECT *,
    regexp_extract_all(t, '{p_dim}', 1) AS d1,
    regexp_extract_all(t, '{p_dim}', 2) AS d2,
    regexp_extract_all(t, '{p_len}', 1) AS l2,
    regexp_extract_all(t, '{p_sq1}', 1) AS l3,
    regexp_extract_all(t, '{p_pct}', 1) AS l4,
    regexp_extract_all(t, '{p_area}', 1) AS ar
  FROM txt)
SELECT doc_id, k AS line_key,
  concat_ws('|', {loc_cases}) AS locations,
  coalesce(array_to_string(
      [d1[i] || 'x' || d2[i] for i in range(1, len(d1) + 1)], '|'), '')
    AS dimensions,
  coalesce(array_to_string(list_concat(list_concat(l2, l3), l4), '|'), '')
    AS lengths,
  coalesce(array_to_string(list_transform(ar, x -> x || ' sq ft'), '|'), '')
    AS areas,
  concat_ws('|', {mat_cases}) AS materials,
  concat_ws('|', {dmg_cases}) AS damage_types,
  {safety} AS safety_related,
  CASE {acc_case} END AS accessibility
FROM meas
"""


# ---------------------------------------------------------------------------
# C11 + C12 + C13 — metadata enrichment (metadata_enricher.py:119-266)
# ---------------------------------------------------------------------------

META_CATS = ["Structural", "HVAC", "Electrical", "Plumbing", "Roofing",
             "Interior", "Unknown"]
META_ACCS = ["", "difficult", "requires_equipment", "confined_space", "easy"]
SPEC_SFX = ["", " contact a licensed electrician",
            " hire a professional contractor",
            " requires certified specialist review", " general note only"]
META_ACTIONS = ["immediate_repair", "replacement", "further_inspection",
                "monitoring", "maintenance"]
N_LOC_PICKS = [0, 1, 2, 3, 4]
N_DMG_PICKS = [0, 1, 3, 4, 2]
MEAS_PICKS = ["none", "area_mid", "dims", "area_small", "area_comma"]
_MEAS_VALUES = {
    "none": {},
    "area_mid": {"areas": ["120.5 sq ft"]},
    "dims": {"dimensions": ["10x12"]},
    "area_small": {"areas": ["8 sq ft"]},
    "area_comma": {"areas": ["1,250 sq ft"]},
}


def q_metadata_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 complexity_factor, C12 requires_specialized_labor, C13
    estimate_affected_area via the real enrich_rules code."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(META_CATS, F.pmod(F.floor(k / 7), F.lit(7))).alias("cat"),
        _pick(META_ACCS, F.pmod(F.floor(k / 5), F.lit(5))).alias("acc"),
        F.concat(_pick(PHRASES, F.pmod(k, F.lit(5))),
                 _pick(SPEC_SFX, F.pmod(F.floor(k / 11), F.lit(5))))
        .alias("description"),
        _pick(META_ACTIONS, F.pmod(F.floor(k / 13), F.lit(5))).alias("act"),
        F.pmod(F.floor(k / 3), F.lit(5)).cast("int").alias("nloc_i"),
        F.pmod(F.floor(k / 17), F.lit(5)).cast("int").alias("ndmg_i"),
        F.pmod(F.floor(k / 19), F.lit(5)).cast("int").alias("meas_i"),
        (F.pmod(k, F.lit(2)) == 0).alias("spec_flag"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                issue = {
                    "standard_category": r.cat,
                    "accessibility_complexity": r.acc,
                    "description": r.description,
                    "standard_action": r.act,
                    "requires_specialized_labor": bool(r.spec_flag),
                    "extracted_attributes": {
                        "locations": [f"loc{i}"
                                      for i in range(N_LOC_PICKS[r.nloc_i])],
                        "damage_types": [f"d{i}"
                                         for i in range(N_DMG_PICKS[r.ndmg_i])],
                        "measurements": dict(
                            _MEAS_VALUES[MEAS_PICKS[r.meas_i]]),
                    },
                }
                cx = er.complexity_factor(issue)
                spec = er.requires_specialized_labor(issue)
                area = er.estimate_affected_area(issue)
                rows.append({
                    "doc_id": r.doc_id, "line_key": r.k,
                    "complexity": cx, "specialized": spec,
                    "square_feet": (area or {}).get("square_feet"),
                    "dimensions": (area or {}).get("dimensions"),
                    "size_category": (area or {}).get("size_category"),
                })
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, "doc_id bigint, line_key bigint, complexity double, "
             "specialized boolean, square_feet double, dimensions string, "
             "size_category string")


def _sql_metadata_enrich() -> str:
    cat_pts = " ".join(f"WHEN '{c}' THEN {v!r}"
                       for c, v in rules.CATEGORY_COMPLEXITY.items())
    acc_pts = " ".join(f"WHEN '{a}' THEN {v!r}"
                       for a, v in rules.ACCESSIBILITY_COMPLEXITY.items())
    spec_kw = _like_any("lower(description)", rules.SPECIALIZED_KEYWORDS)
    spec_cats = ", ".join(f"'{c}'" for c in sorted(rules.SPECIALIZED_CATEGORIES))
    sqft_case = (
        "CASE meas WHEN 'area_mid' THEN 120.5 WHEN 'area_small' THEN 8.0 "
        "WHEN 'area_comma' THEN 1250.0 WHEN 'dims' THEN 120.0 END")
    size_case = (
        "CASE WHEN sqft IS NULL THEN NULL WHEN sqft < 10 THEN 'small' "
        "WHEN sqft < 50 THEN 'medium' WHEN sqft < 200 THEN 'large' "
        "ELSE 'very_large' END")
    return f"""
WITH inputs AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_pick_sql(META_CATS, 7, 7)} AS cat,
    {_pick_sql(META_ACCS, 5, 5)} AS acc,
    {_sql_list(PHRASES)}[CAST(1 + o_orderkey % 5 AS INT)]
      || {_pick_sql(SPEC_SFX, 11, 5)} AS description,
    {_pick_sql(META_ACTIONS, 13, 5)} AS act,
    {_sql_list([str(n) for n in N_LOC_PICKS])}[CAST(1 + (o_orderkey // 3) % 5 AS INT)]::INT AS nloc,
    {_sql_list([str(n) for n in N_DMG_PICKS])}[CAST(1 + (o_orderkey // 17) % 5 AS INT)]::INT AS ndmg,
    {_sql_list(MEAS_PICKS)}[CAST(1 + (o_orderkey // 19) % 5 AS INT)] AS meas,
    o_orderkey % 2 = 0 AS spec_flag
  FROM orders),
calc AS (
  SELECT *,
    cat IN ({spec_cats}) OR {spec_kw} OR act = 'further_inspection' AS specialized,
    {sqft_case} AS sqft
  FROM inputs)
SELECT doc_id, k AS line_key,
  round(least(10.0,
    5.0 + CASE cat {cat_pts} ELSE 0.0 END
        + CASE acc {acc_pts} ELSE 0.0 END
        + CASE WHEN spec_flag THEN 1.5 ELSE 0.0 END
        + CASE WHEN nloc > 2 THEN 1.0 ELSE 0.0 END
        + CASE WHEN ndmg > 2 THEN 1.0 ELSE 0.0 END), 2) AS complexity,
  specialized,
  sqft AS square_feet,
  CASE WHEN meas = 'dims' THEN '10x12' END AS dimensions,
  {size_case} AS size_category
FROM calc
"""


# ---------------------------------------------------------------------------
# C15 + C16 — work-type and complexity classification
# (issue_classifier.py:140-221)
# ---------------------------------------------------------------------------

CLS_ACTIONS = ["immediate_repair", "replacement", "further_inspection",
               "monitoring", "maintenance", "no_action", "unknown", ""]
WT_SFX = ["", " fix and patch the seal", " remove and replace the unit",
          " evaluate with a specialist", " clean and service regularly",
          " observe and track the trend"]
CX_FACTORS = ["3.0", "5.0", "7.5", "4.0", "9.0"]
CX_SFX = ["", " minor quick fix involved", " standard typical work",
          " major extensive structural scope",
          " minor issue but major extensive work"]


def q_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15 classify_work_type + C16 classify_complexity via the real
    enrich_rules code."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(CLS_ACTIONS, F.pmod(k, F.lit(8))).alias("act"),
        F.concat(_pick(PHRASES, F.pmod(F.floor(k / 5), F.lit(5))),
                 _pick(WT_SFX, F.pmod(F.floor(k / 7), F.lit(6))),
                 _pick(CX_SFX, F.pmod(F.floor(k / 11), F.lit(5))))
        .alias("description"),
        _pick(CX_FACTORS, F.pmod(F.floor(k / 13), F.lit(5)))
        .cast("double").alias("factor"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                issue = {"standard_action": r.act,
                         "description": r.description,
                         "complexity_factor": float(r.factor)}
                wt, wt_conf = er.classify_work_type(issue)
                cx, cx_conf = er.classify_complexity(issue)
                rows.append({"doc_id": r.doc_id, "line_key": r.k,
                             "work_type": wt, "wt_conf": wt_conf,
                             "complexity": cx, "cx_conf": cx_conf})
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, "doc_id bigint, line_key bigint, work_type string, "
             "wt_conf double, complexity string, cx_conf double")


def _sql_classification() -> str:
    a2w = " ".join(f"WHEN '{a}' THEN '{w}'"
                   for a, w in rules.ACTION_TO_WORK_TYPE.items())
    works = list(rules.WORK_TYPE_KEYWORDS)
    score_cols = ", ".join(
        "(" + " + ".join(
            f"CASE WHEN c LIKE '%{kw}%' THEN 1 ELSE 0 END"
            for kw in kws) + f") AS s_{w}"
        for w, kws in rules.WORK_TYPE_KEYWORDS.items())
    best = "greatest(" + ", ".join(f"s_{w}" for w in works) + ")"
    best_case = " ".join(
        f"WHEN s_{w} = wb AND s_{w} > 0 THEN '{w}'" for w in works)
    # C16: base tier from factor, then the simple/moderate/complex
    # indicator passes run in dict order, each mutating (tier, conf)
    tiers = list(rules.COMPLEXITY_INDICATORS)
    tier_hits = ", ".join(
        f"{_like_any('d', kws)} AS hit_{t}"
        for t, kws in rules.COMPLEXITY_INDICATORS.items())
    steps = ""
    prev = "0"
    for i, t in enumerate(tiers):
        steps += f""",
cx{i + 1} AS (
  SELECT *,
    CASE WHEN hit_{t} AND cx{i} = '{t}' THEN cx{i}
         WHEN hit_{t} AND cf{i} < 0.8 THEN '{t}'
         ELSE cx{i} END AS cx{i + 1},
    CASE WHEN hit_{t} AND cx{i} = '{t}'
         THEN least(0.95::DOUBLE, cf{i} + 0.1::DOUBLE)
         WHEN hit_{t} AND cf{i} < 0.8 THEN 0.8::DOUBLE
         ELSE cf{i} END AS cf{i + 1}
  FROM cx{i})"""
        prev = str(i + 1)
    return f"""
WITH inputs AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_sql_list(CLS_ACTIONS)}[CAST(1 + o_orderkey % 8 AS INT)] AS act,
    {_pick_sql(PHRASES, 5, 5)} || {_pick_sql(WT_SFX, 7, 6)}
      || {_pick_sql(CX_SFX, 11, 5)} AS description,
    CAST({_pick_sql(CX_FACTORS, 13, 5)} AS DOUBLE) AS factor
  FROM orders),
txt AS (
  SELECT *, lower(act || ' ' || lower(description)) AS c,
         lower(description) AS d
  FROM inputs),
scored AS (SELECT *, {score_cols} FROM txt),
wt AS (
  SELECT *, {best} AS wb FROM scored),
cx0 AS (
  SELECT *,
    CASE WHEN factor >= 7 THEN 'complex' WHEN factor >= 4 THEN 'moderate'
         ELSE 'simple' END AS cx0,
    CASE WHEN factor >= 7 THEN 0.8::DOUBLE WHEN factor >= 4
         THEN 0.75::DOUBLE ELSE 0.7::DOUBLE END AS cf0,
    {tier_hits}
  FROM wt){steps}
SELECT doc_id, k AS line_key,
  CASE WHEN act IN ({', '.join("'" + a + "'" for a in rules.ACTION_TO_WORK_TYPE)})
       THEN CASE act {a2w} END
       WHEN wb = 0 THEN 'repair'
       ELSE CASE {best_case} END END AS work_type,
  CASE WHEN act IN ({', '.join("'" + a + "'" for a in rules.ACTION_TO_WORK_TYPE)})
       THEN 0.9::DOUBLE
       WHEN wb = 0 THEN 0.5::DOUBLE
       ELSE least(0.85::DOUBLE, 0.6::DOUBLE + wb / 5.0::DOUBLE)
       END AS wt_conf,
  cx{prev} AS complexity, cf{prev} AS cx_conf
FROM cx{prev}
"""





# ---------------------------------------------------------------------------
# T2 + T3 + T4 — text cleaning (text_cleaner.py:70-273)
# ---------------------------------------------------------------------------

CLEAN_PRE = ["", "teh roo1 above ", "e1ectrical panel near ", "hvac unit by "]
CLEAN_MID = ["", " crack ed paint seen", " address promptly promptly",
             " wat er stain found"]
CLEAN_END = ["", " needs work  now", " fix this ,please", " urgent!!"]
CLEAN_ITEMS = ["window frame", "hvac unit", "kitchen sink", "gfci outlet",
               "front door"]


def q_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 clean_text / T3 clean_description / T4 clean_item_name via the
    real enrich_rules code, over deterministically dirtied text (OCR word
    errors, split suffixes, duplicate words, spacing/punctuation)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    dirty = F.concat(
        _pick(CLEAN_PRE, F.pmod(F.floor(k / 3), F.lit(4))),
        _pick(ITEMS, F.pmod(F.floor(k / 7), F.lit(5))), F.lit(" "),
        _pick(PHRASES, F.pmod(F.floor(k / 5), F.lit(5))),
        _pick(CLEAN_MID, F.pmod(F.floor(k / 11), F.lit(4))),
        _pick(CLEAN_END, F.pmod(F.floor(k / 13), F.lit(4))))
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        dirty.alias("dirty"),
        _pick(CLEAN_ITEMS, F.pmod(k, F.lit(5))).alias("item"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "line_key": pdf["k"],
                "cleaned": [er.clean_text(t) for t in pdf["dirty"]],
                "cleaned_desc": [er.clean_description(t)
                                 for t in pdf["dirty"]],
                "cleaned_item": [er.clean_item_name(i)
                                 for i in pdf["item"]],
            })

    return df.mapInPandas(
        run, "doc_id bigint, line_key bigint, cleaned string, "
             "cleaned_desc string, cleaned_item string")


def _sql_cleaning() -> str:
    ocr_arms = " ".join(
        f"WHEN '{w}' THEN CASE WHEN substr(x, 1, 1) BETWEEN 'A' AND 'Z' "
        f"THEN upper(substr('{c}', 1, 1)) || substr('{c}', 2) "
        f"ELSE '{c}' END"
        for w, c in rules.OCR_CORRECTIONS.items() if " " not in w)
    suffixes = "|".join(rules.SPLIT_SUFFIXES)
    title_terms = ", ".join(f"'{t}'" for t in sorted(rules.TITLE_CASE_ITEMS))
    return rf"""
WITH base AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_pick_sql(CLEAN_PRE, 3, 4)} || {_pick_sql(ITEMS, 7, 5)} || ' '
      || {_pick_sql(PHRASES, 5, 5)} || {_pick_sql(CLEAN_MID, 11, 4)}
      || {_pick_sql(CLEAN_END, 13, 4)} AS dirty,
    {_sql_list(CLEAN_ITEMS)}[CAST(1 + o_orderkey % 5 AS INT)] AS item
  FROM orders),
s1 AS (  -- whitespace collapse
  SELECT *, trim(regexp_replace(dirty, ' +', ' ', 'g')) AS t1 FROM base),
s2 AS (  -- word-level OCR map (capitalization-preserving)
  SELECT *, array_to_string(list_transform(string_split(t1, ' '),
    x -> CASE lower(x) {ocr_arms} ELSE x END), ' ') AS t2 FROM s1),
s3 AS (  -- split-suffix rejoin
  SELECT *, regexp_replace(t2, '\b(\w+)\s+({suffixes})\b', '\1\2', 'g')
    AS t3 FROM s2),
s4 AS (  -- punctuation fixes
  SELECT *, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    t3, '\s+([.,;:!?])', '\1', 'g'),
        '([.,;:!?])([A-Za-z])', '\1 \2', 'g'),
        '\.\.\.+', '...', 'g'),
        '([!?.]){{2,}}', '\1', 'g') AS t4 FROM s3),
s5 AS (  -- duplicate-word collapse (injected dup only; RE2 lacks \1)
  SELECT *, replace(t4, 'promptly promptly', 'promptly') AS t5 FROM s4),
s6 AS (  -- TITLE_CASE_ITEMS uppercasing
  SELECT *, trim(array_to_string(list_transform(string_split(t5, ' '),
    x -> CASE WHEN lower(x) IN ({title_terms}) THEN upper(x) ELSE x END),
    ' ')) AS cleaned FROM s5),
s7 AS (
  SELECT *,
    CASE WHEN substr(cleaned, 1, 1) BETWEEN 'a' AND 'z'
         THEN upper(substr(cleaned, 1, 1)) || substr(cleaned, 2)
         ELSE cleaned END AS d1
  FROM s6),
s8 AS (
  SELECT *, CASE WHEN substr(d1, -1, 1) IN ('.', '!', '?') THEN d1
                 ELSE d1 || '.' END AS cleaned_desc
  FROM s7),
it AS (  -- T4: title() + acronym uppercase (clean inputs -> no-op pipeline)
  SELECT *,
    replace(replace(array_to_string(list_transform(string_split(item, ' '),
      x -> upper(substr(x, 1, 1)) || lower(substr(x, 2))), ' '),
      'Hvac', 'HVAC'), 'Gfci', 'GFCI') AS cleaned_item
  FROM s8)
SELECT doc_id, k AS line_key, cleaned, cleaned_desc, cleaned_item FROM it
"""


# ---------------------------------------------------------------------------
# T5 — per-document near-duplicate detection (text_cleaner.py:275-301)
# ---------------------------------------------------------------------------

DUP_TEMPLATES = [
    "crack noted",
    "leak found at the main junction area",
    "the exterior surface coating shows wear deterioration and requires "
    "scheduled maintenance within the coming season window",
]


def q_dedup_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 via the real DuplicateTracker, one tracker per document in k
    order. Distinct templates are length-separated (ratio < 0.739 =
    difflib's real_quick_ratio bound at threshold 0.85), so the fuzzy
    tier provably cannot fire and the verdict equals exact repetition —
    which the SQL oracle expresses as a window."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(DUP_TEMPLATES, F.pmod(F.floor(k / 5), F.lit(3))).alias("text"))

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("k")
        tracker = er.DuplicateTracker()
        return pd.DataFrame({
            "doc_id": pdf["doc_id"], "line_key": pdf["k"],
            "is_duplicate": [tracker.is_duplicate(t) for t in pdf["text"]],
        })

    return df.groupBy("doc_id").applyInPandas(
        per_doc, "doc_id bigint, line_key bigint, is_duplicate boolean")


SQL_DEDUP_DOC = f"""
WITH t AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_pick_sql(DUP_TEMPLATES, 5, 3)} AS text
  FROM orders)
SELECT doc_id, k AS line_key,
  row_number() OVER (PARTITION BY doc_id, text ORDER BY k) > 1
    AS is_duplicate
FROM t
"""


# ---------------------------------------------------------------------------
# F2 + F3 + F4 + F6 + F7 + F8 + F9 — quality gate routing
# (schema_validator.py:66-204, data_quality_validator.py:137-610)
# ---------------------------------------------------------------------------

Q_DESCS = [
    "",
    "{item} {phrase} recommend repair promptly",
    "It is recommended that buyers consult qualified people",
    "No issues observed in the area today",
    "tiny",
    "??? !!! *** ### @@@ %%% ^^ &&",
    "Comments: minor crack noted",
    "For your information please refer to the related section",
]
Q_TITLES = ["Item condition", "ROOF COVERING AREA", "general note",
            "Item condition summary"]
Q_STATUSES = ["D", "I", "XX", ""]
Q_SECTIONS = ["I. STRUCTURAL", "HEADER"]


def _q_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    item = _pick(ITEMS, F.pmod(F.floor(k / 7), F.lit(5)))
    phrase = _pick(PHRASES, F.pmod(F.floor(k / 5), F.lit(5)))
    d_i = F.pmod(k, F.lit(8)).cast("int")
    desc_t = _pick(Q_DESCS, d_i)
    desc = F.when(d_i == 1, F.concat(item, F.lit(" "), phrase,
                                     F.lit(" recommend repair promptly"))) \
        .otherwise(desc_t)
    return o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        desc.alias("description"),
        _pick(Q_TITLES, F.pmod(F.floor(k / 3), F.lit(4))).alias("title"),
        _pick(Q_STATUSES, F.pmod(F.floor(k / 11), F.lit(4))).alias("status"),
        _pick(Q_SECTIONS, F.pmod(F.floor(k / 17), F.lit(2))).alias("section"),
        F.element_at(
            F.array(F.lit(None).cast("string"), F.lit("high"), F.lit("low")),
            (F.pmod(F.floor(k / 13), F.lit(3)) + 1).cast("int"))
        .alias("priority"))


def q_quality_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 schema validation + F3/F4/F6/F7/F8/F9 quality routing via the
    real enrich_rules code (validate_schema then quality_validate, as in
    the enrichment pipeline's phase 1)."""
    df = _q_inputs(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                issue = {"id": f"iss_{r.k}", "section": r.section,
                         "description": r.description, "status": r.status,
                         "title": r.title}
                if r.priority is not None:
                    issue["priority"] = r.priority
                cleaned, is_valid = er.validate_schema(issue)
                action, score, reason = er.quality_validate(cleaned)
                rows.append({
                    "doc_id": r.doc_id, "line_key": r.k,
                    "schema_valid": is_valid,
                    "validation_status": cleaned["validation_status"],
                    "priority_out": cleaned["priority"],
                    "action": action, "quality": score, "reason": reason,
                })
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, "doc_id bigint, line_key bigint, schema_valid boolean, "
             "validation_status string, priority_out string, "
             "action string, quality double, reason string")


def _sql_quality_routing() -> str:
    meta_kw = _like_any("low_td", rules.METADATA_KEYWORDS)
    disc = _like_any("low_td", rules.DISCLAIMER_PHRASES)
    rescue = _like_any("low_td", rules.DISCLAIMER_RESCUE_WORDS)
    non_issue = "(" + " OR ".join(
        "regexp_matches(low_d, '" + p.replace("'", "''") + "')"
        for p in rules.NON_ISSUE_PATTERNS) + ")"
    hdr_ci = "(" + " OR ".join(
        f"regexp_matches(lower(title), '{p}') "
        f"OR regexp_matches(low_d, '{p}')"
        for p in rules.HEADER_CI_PATTERNS) + ")"
    hdr_cs = "(" + " OR ".join(
        f"regexp_matches(title, '{p}') OR regexp_matches(description, '{p}')"
        for p in rules.HEADER_CS_PATTERNS) + ")"
    single_words = ", ".join(f"'{w}'" for w in rules.HEADER_SINGLE_WORDS)
    sect_ind = _like_any("low_d", rules.SECTION_INDICATOR_PHRASES)
    hdr_prefix = rules.HEADER_PREFIX_RE
    hdr_kw = _like_any("lower(content_after)", rules.HEADER_ISSUE_KEYWORDS)
    title_action = _like_any("low_d", rules.TITLE_ACTION_WORDS)
    non_action = _like_any("low_d", rules.NON_ACTIONABLE_PHRASES)
    act_kw_count = " + ".join(
        f"CASE WHEN low_d LIKE '%{w}%' THEN 1 ELSE 0 END"
        for w in rules.ACTIONABLE_KEYWORDS)
    mean_loc = _like_any("low_d", rules.MEANING_LOCATIONS)
    statuses = ", ".join(f"'{s}'" for s in sorted(rules.VALID_STATUSES))
    meas_re = r"(?i)\d+\s*(inch|ft|year|degree|percent|%|\x22)"
    return rf"""
WITH inputs AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    CASE CAST(o_orderkey % 8 AS INT)
      WHEN 1 THEN {_pick_sql(ITEMS, 7, 5)} || ' '
        || {_pick_sql(PHRASES, 5, 5)} || ' recommend repair promptly'
      ELSE {_sql_list(Q_DESCS)}[CAST(1 + o_orderkey % 8 AS INT)]
    END AS description,
    {_pick_sql(Q_TITLES, 3, 4)} AS title,
    {_pick_sql(Q_STATUSES, 11, 4)} AS status,
    {_pick_sql(Q_SECTIONS, 17, 2)} AS section,
    [NULL, 'high', 'low'][CAST(1 + (o_orderkey // 13) % 3 AS INT)]
      AS priority
  FROM orders),
schema_chk AS (
  -- F2: id/section/status/description present + non-blank (ASCII inputs:
  -- T1 normalization is the identity, types are all str)
  SELECT *,
    trim(description) <> '' AND trim(status) <> '' AS schema_valid,
    coalesce(priority, 'unknown') AS priority_out
  FROM inputs),
txt AS (
  SELECT *,
    trim(description) AS d, trim(title) AS ttl,
    lower(trim(title) || ' ' || trim(description)) AS low_td,
    lower(trim(description)) AS low_d
  FROM schema_chk),
corr AS (
  -- F4 (ASCII inputs -> severe/ascii/combining branches cannot fire;
  -- only the special-char-ratio minor branch can)
  SELECT *,
    CASE WHEN length(ttl || ' ' || d) > 0
              AND length(regexp_replace(ttl || ' ' || d,
                                        '[A-Za-z0-9\s]', '', 'g'))
                  > 0.7 * length(ttl || ' ' || d)
         THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END AS corr_pen
  FROM txt),
meaning AS (
  -- F8 (same fp accumulation order as the python: kw, digits,
  -- measurement, location, word count)
  SELECT *,
    least(1.0::DOUBLE, greatest(0.0::DOUBLE,
      ((((0.5::DOUBLE
        + least(0.3::DOUBLE, ({act_kw_count}) * 0.1::DOUBLE))
        + CASE WHEN regexp_matches(d, '\d+') THEN 0.1::DOUBLE
               ELSE 0.0::DOUBLE END)
        + CASE WHEN regexp_matches(d, '{meas_re}') THEN 0.1::DOUBLE
               ELSE 0.0::DOUBLE END)
        + CASE WHEN {mean_loc} THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END)
        + CASE WHEN len(string_split_regex(d, '\s+'))
                    BETWEEN 5 AND 100 THEN 0.1::DOUBLE
               WHEN len(string_split_regex(d, '\s+')) < 3
               THEN -0.3::DOUBLE ELSE 0.0::DOUBLE END))
      AS meaning
  FROM corr),
hdr AS (
  -- F7 (the reachable branches for these inputs, in reference order)
  SELECT *,
    regexp_replace(d, '(?i){hdr_prefix}', '') AS content_after,
    CASE
      WHEN {hdr_ci} THEN TRUE
      WHEN {hdr_cs} THEN TRUE
      WHEN ttl <> '' AND ttl = upper(ttl) AND ttl <> lower(ttl)
           AND length(d) < 30 THEN TRUE
      WHEN ttl = d AND length(ttl) < 50 THEN TRUE
      WHEN len(string_split_regex(trim(replace(ttl, ':', '')), '\s+')) = 1
           AND lower(string_split_regex(trim(replace(ttl, ':', '')),
                                        '\s+')[1]) IN ({single_words})
           THEN TRUE
      WHEN ttl = upper(ttl) AND ttl <> lower(ttl)
           AND len(string_split_regex(ttl, '\s+')) BETWEEN 2 AND 3
           AND ({sect_ind} OR length(d) < 40) THEN TRUE
      WHEN regexp_matches(d, '(?i){hdr_prefix}') THEN
        CASE WHEN length(regexp_replace(d, '(?i){hdr_prefix}', '')) < 15
             THEN TRUE
             WHEN {hdr_kw}
                  AND length(regexp_replace(d, '(?i){hdr_prefix}', '')) > 30
             THEN FALSE
             WHEN length(regexp_replace(d, '(?i){hdr_prefix}', '')) < 30
             THEN TRUE
             ELSE FALSE END
      WHEN regexp_matches(trim(ttl), '(?i)^general\s+\w+\s*$') THEN TRUE
      WHEN length(d) < 20 AND d LIKE '%:' THEN TRUE
      WHEN position(lower(trim(ttl)) IN lower(trim(d))) > 0
           AND length(d) < 60 AND NOT {title_action} THEN TRUE
      WHEN {non_action} AND length(d) < 100 THEN TRUE
      ELSE FALSE END AS is_header
  FROM meaning),
quality AS (
  SELECT *,
    greatest(0.0::DOUBLE,
      ((((1.0::DOUBLE - corr_pen)
        - CASE WHEN length(d) < 5 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
        - CASE WHEN status NOT IN ({statuses}) THEN 0.2::DOUBLE
               ELSE 0.0::DOUBLE END)
        - CASE WHEN meaning < 0.3 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
      - (1.0::DOUBLE - meaning) * 0.2::DOUBLE) AS q
  FROM hdr)
SELECT doc_id, k AS line_key, schema_valid,
  CASE WHEN schema_valid THEN 'pending' ELSE 'failed' END
    AS validation_status,
  priority_out,
  CASE
    WHEN d = '' THEN 'exclude'
    WHEN upper(section) = 'HEADER' OR {meta_kw}
         OR ({disc} AND NOT {rescue}) THEN 'exclude'
    WHEN {non_issue} THEN 'exclude'
    WHEN is_header THEN 'exclude'
    WHEN q < 0.3 THEN 'flag_for_review'
    ELSE 'accept' END AS action,
  CASE
    WHEN d = '' THEN 0.0::DOUBLE
    WHEN upper(section) = 'HEADER' OR {meta_kw}
         OR ({disc} AND NOT {rescue}) THEN 0.1::DOUBLE
    WHEN {non_issue} THEN 0.9::DOUBLE
    WHEN is_header THEN 0.2::DOUBLE
    ELSE q END AS quality,
  CASE
    WHEN d = '' THEN 'empty_description'
    WHEN upper(section) = 'HEADER' OR {meta_kw}
         OR ({disc} AND NOT {rescue}) THEN 'metadata_content'
    WHEN {non_issue} THEN 'non_issue_statement'
    WHEN is_header THEN 'header_content'
    WHEN q < 0.3 THEN 'low_quality_score'
    ELSE 'passed' END AS reason
FROM quality
"""


# ---------------------------------------------------------------------------
# C17 + J5 — cost strategy + standard-item match
# (cost_strategy_assigner.py:73-161)
# ---------------------------------------------------------------------------

ST_WORKS = ["replacement", "repair", "inspection", "maintenance"]
ST_COMPLEX = ["simple", "moderate", "complex"]
ST_CATS = ["HVAC", "Plumbing", "Electrical", "Roofing", "Unknown"]
ST_TRADES = ["hvac", "plumbing", "electrical", "roofing", "general"]
ST_DESCS = ["the furnace unit needs replacement work",
            "toilet replacement required at hall bath",
            "outlet replacement recommended by inspector",
            "window replacement for the rear elevation",
            "minor wear observed at the trim",
            "the accessible panel cover at the exterior wall near the rear "
            "elevation shows deterioration and displacement that has "
            "progressed beyond routine maintenance thresholds and now "
            "requires coordinated corrective work across multiple adjoining "
            "substrate sections to restore the assembly"]


def q_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17 assign_strategy + J5 match_standard_item via the real
    enrich_rules code."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(ST_WORKS, F.pmod(k, F.lit(4))).alias("work"),
        _pick(ST_COMPLEX, F.pmod(F.floor(k / 3), F.lit(3))).alias("cx"),
        _pick(ST_CATS, F.pmod(F.floor(k / 7), F.lit(5))).alias("cat"),
        _pick(ST_TRADES, F.pmod(F.floor(k / 11), F.lit(5))).alias("trade"),
        _pick(ST_DESCS, F.pmod(F.floor(k / 5), F.lit(6))).alias("description"),
        (F.pmod(F.floor(k / 13), F.lit(2)) == 0).alias("has_meas"),
        (F.pmod(F.floor(k / 17), F.lit(2)) == 0).alias("specialist"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                issue = {
                    "classification": {"work_type": r.work,
                                       "complexity": r.cx,
                                       "trade": r.trade},
                    "standard_category": r.cat,
                    "description": r.description,
                    "requires_specialized_labor": bool(r.specialist),
                    "extracted_attributes": {
                        "measurements": {"areas": ["10 sq ft"]}
                        if r.has_meas else {}},
                }
                strategy, conf, matched = er.assign_strategy(issue)
                rows.append({"doc_id": r.doc_id, "line_key": r.k,
                             "strategy": strategy, "confidence": conf,
                             "matched_item": matched})
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, "doc_id bigint, line_key bigint, strategy string, "
             "confidence double, matched_item string")


def _sql_strategy() -> str:
    match_case = " ".join(
        "WHEN " + " AND ".join(f"search LIKE '%{part}%'"
                               for part in key.split("_"))
        + f" THEN '{key}'"
        for key in rules.STANDARD_REPLACEMENTS)
    return f"""
WITH inputs AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_sql_list(ST_WORKS)}[CAST(1 + o_orderkey % 4 AS INT)] AS work,
    {_pick_sql(ST_COMPLEX, 3, 3)} AS cx,
    {_pick_sql(ST_CATS, 7, 5)} AS cat,
    {_pick_sql(ST_TRADES, 11, 5)} AS trade,
    {_pick_sql(ST_DESCS, 5, 6)} AS description,
    (o_orderkey // 13) % 2 = 0 AS has_meas,
    (o_orderkey // 17) % 2 = 0 AS specialist
  FROM orders),
m AS (
  SELECT *, lower(trade || ' ' || cat || ' ' || description) AS search
  FROM inputs),
matched AS (
  SELECT *, CASE {match_case} ELSE '' END AS std_key FROM m)
SELECT doc_id, k AS line_key,
  CASE
    WHEN work = 'replacement' AND cx IN ('simple', 'moderate')
         AND std_key <> '' THEN 'lookup_table'
    WHEN cx = 'complex' THEN 'llm_reasoning'
    WHEN length(description) > 200 THEN 'llm_reasoning'
    WHEN specialist OR work = 'inspection' THEN 'llm_reasoning'
    WHEN has_meas AND cat <> 'Unknown' AND cx IN ('simple', 'moderate')
         THEN 'ml_model'
    ELSE 'llm_reasoning' END AS strategy,
  CASE
    WHEN work = 'replacement' AND cx IN ('simple', 'moderate')
         AND std_key <> '' THEN 0.9::DOUBLE
    WHEN cx = 'complex' THEN 0.85::DOUBLE
    WHEN length(description) > 200 THEN 0.8::DOUBLE
    WHEN specialist OR work = 'inspection' THEN 0.85::DOUBLE
    WHEN has_meas AND cat <> 'Unknown' AND cx IN ('simple', 'moderate')
         THEN 0.75::DOUBLE
    ELSE 0.7::DOUBLE END AS confidence,
  CASE WHEN work = 'replacement' AND cx IN ('simple', 'moderate')
       THEN std_key ELSE '' END AS matched_item
FROM matched
"""


# ---------------------------------------------------------------------------
# J2 + J3 — component taxonomy (component_taxonomy.py:80-252)
# ---------------------------------------------------------------------------

TAX_ITEMS = ["", "hvac", "shingles", "breaker box", "water heater",
             "zq 0097 xv 13"]
TAX_SECTIONS = ["", "III. HEATING EQUIPMENT", "IV. PLUMBING SYSTEMS",
                "ROOF COVERING MATERIALS"]
TAX_DESCS = ["", "furnace making intermittent noise",
             "pipe leak under the hall sink",
             "wiring concern at the service panel",
             "paint scuff noted at entry"]


def q_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 taxonomy_standardize (exact-lookup tier; items chosen so the
    difflib fuzzy tier provably returns Unknown) + J3
    taxonomy_from_context ordered ladder, via the real code."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    df = o.select(
        F.pmod(k, F.lit(N_DOCS)).alias("doc_id"), k.alias("k"),
        _pick(TAX_ITEMS, F.pmod(k, F.lit(6))).alias("item"),
        _pick(TAX_SECTIONS, F.pmod(F.floor(k / 7), F.lit(4))).alias("section"),
        _pick(TAX_DESCS, F.pmod(F.floor(k / 11), F.lit(5))).alias("description"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                cat, sub, conf = er.taxonomy_from_context(
                    r.item, r.section, r.description)
                rows.append({"doc_id": r.doc_id, "line_key": r.k,
                             "category": cat, "subcategory": sub,
                             "confidence": conf})
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, "doc_id bigint, line_key bigint, category string, "
             "subcategory string, confidence double")


def _sql_taxonomy() -> str:
    # exact-lookup tier transcribed from rules.TAXONOMY with the same
    # precedence as _build_lookup (later entries overwrite earlier, but
    # the chosen TAX_ITEMS are unambiguous keys)
    lookup: dict[str, tuple[str, str | None, float]] = {}
    for category, config in rules.TAXONOMY.items():
        lookup[category.lower()] = (category, None, 1.0)
        for sub in config["subcategories"]:
            lookup[sub.lower().replace("_", " ")] = (category, sub, 0.95)
        for alias in config["aliases"]:
            lookup[alias.lower()] = (category, None, 0.9)
    std_arms = []
    for it in TAX_ITEMS:
        cat, sub, conf = lookup.get(it, ("Unknown", None, 0.0))
        sub_sql = f"'{sub}'" if sub else "NULL"
        std_arms.append(
            f"WHEN item = '{it}' THEN "
            f"struct_pack(c := '{cat}', s := {sub_sql}, f := {conf}::DOUBLE)")
    roof = _like_any("ctx", rules.ROOF_INDICATORS)
    # category-major arm order (name, then aliases, then subcategories
    # within each category) — the python loop returns on the first hit in
    # exactly this order
    tax_arms = []
    for cat_name, config in rules.TAXONOMY.items():
        tax_arms.append(
            f"WHEN ctx LIKE '%{cat_name.lower()}%' THEN "
            f"struct_pack(c := '{cat_name}', s := NULL::VARCHAR, "
            f"f := 0.75::DOUBLE)")
        for alias in config["aliases"]:
            tax_arms.append(
                f"WHEN ctx LIKE '%{alias}%' THEN "
                f"struct_pack(c := '{cat_name}', s := NULL::VARCHAR, "
                f"f := 0.8::DOUBLE)")
        for sub in config["subcategories"]:
            sp = sub.replace("_", " ")
            tax_arms.append(
                f"WHEN ctx LIKE '%{sp}%' THEN "
                f"struct_pack(c := '{cat_name}', s := '{sub}', "
                f"f := 0.85::DOUBLE)")
    return f"""
WITH inputs AS (
  SELECT o_orderkey % {N_DOCS} AS doc_id, o_orderkey AS k,
    {_sql_list(TAX_ITEMS)}[CAST(1 + o_orderkey % 6 AS INT)] AS item,
    {_pick_sql(TAX_SECTIONS, 7, 4)} AS section,
    {_pick_sql(TAX_DESCS, 11, 5)} AS description
  FROM orders),
base AS (
  SELECT *,
    lower(concat_ws(' ', nullif(item, ''), nullif(section, ''),
                    nullif(description, ''))) AS ctx,
    CASE {' '.join(std_arms)} END AS std
  FROM inputs),
ladder AS (
  SELECT *,
    CASE
      WHEN {roof} THEN
        struct_pack(c := 'Roofing', s := NULL::VARCHAR, f := 0.9::DOUBLE)
      WHEN std.f < 0.75 AND (CASE {' '.join(tax_arms)} END) IS NOT NULL
        THEN (CASE {' '.join(tax_arms)} END)
      WHEN section <> '' AND std.f < 0.7 AND lower(section) LIKE '%roof%'
        THEN struct_pack(c := 'Roofing', s := NULL::VARCHAR,
                         f := 0.85::DOUBLE)
      WHEN section <> '' AND std.f < 0.7
           AND lower(section) LIKE '%structural%'
        THEN struct_pack(c := 'Structural', s := NULL::VARCHAR,
                         f := 0.75::DOUBLE)
      WHEN section <> '' AND std.f < 0.7 AND lower(section) LIKE '%plumbing%'
        THEN struct_pack(c := 'Plumbing', s := NULL::VARCHAR,
                         f := 0.75::DOUBLE)
      WHEN section <> '' AND std.f < 0.7
           AND lower(section) LIKE '%electrical%'
        THEN struct_pack(c := 'Electrical', s := NULL::VARCHAR,
                         f := 0.75::DOUBLE)
      WHEN section <> '' AND std.f < 0.7
           AND (lower(section) LIKE '%hvac%'
                OR lower(section) LIKE '%heating%'
                OR lower(section) LIKE '%cooling%'
                OR lower(section) LIKE '%air conditioning%')
        THEN struct_pack(c := 'HVAC', s := NULL::VARCHAR, f := 0.75::DOUBLE)
      WHEN std.f < 0.5 AND description <> ''
           AND {_like_any('lower(description)',
                          ['roof', 'shingle', 'flashing', 'gutter',
                           'downspout', 'roofing'])}
        THEN struct_pack(c := 'Roofing', s := NULL::VARCHAR,
                         f := 0.8::DOUBLE)
      WHEN std.f < 0.5 AND description <> ''
           AND {_like_any('lower(description)',
                          ['hvac', 'furnace', 'air conditioning', 'heat',
                           'cooling'])}
        THEN struct_pack(c := 'HVAC', s := NULL::VARCHAR, f := 0.75::DOUBLE)
      WHEN std.f < 0.5 AND description <> ''
           AND {_like_any('lower(description)',
                          ['plumbing', 'water', 'pipe', 'leak', 'drain',
                           'toilet', 'faucet'])}
        THEN struct_pack(c := 'Plumbing', s := NULL::VARCHAR,
                         f := 0.75::DOUBLE)
      WHEN std.f < 0.5 AND description <> ''
           AND {_like_any('lower(description)',
                          ['electrical', 'wiring', 'outlet', 'circuit',
                           'breaker', 'panel'])}
        THEN struct_pack(c := 'Electrical', s := NULL::VARCHAR,
                         f := 0.75::DOUBLE)
      ELSE std END AS res
  FROM base)
SELECT doc_id, k AS line_key, res.c AS category, res.s AS subcategory,
       res.f AS confidence
FROM ladder
"""


# ---------------------------------------------------------------------------
# J1 — cost-table -> issue linking (src/data_structurer.py:160-178)
# ---------------------------------------------------------------------------

def q_issue_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 via the real operators: segment issues + extract tables from the
    shared derived corpus, then link_costs (first issue per table in
    issue order, later tables overwrite earlier)."""
    from .operators.segmentation import segment_issues
    from .operators.tables import extract_tables, link_costs
    from .plans.extraction import build_blocks, classify_spans, explode_spans
    from .operators.sections import track_sections
    from .queries import derived_lines

    lines = derived_lines(spark, sf_dir)
    docs = (lines.groupBy("doc_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "text"))),
                lambda x: F.struct(
                    F.lit("text").alias("kind"), x["text"].alias("text"),
                    F.lit("").alias("media_ref"), x["offset"].alias("offset")),
            ).alias("spans")))
    spans = track_sections(classify_spans(explode_spans(docs)))
    issues = segment_issues(
        build_blocks(spans).withColumn("doc_id",
                                       F.col("doc_id").cast("string")))
    tables = extract_tables(spans).withColumn(
        "doc_id", F.col("doc_id").cast("string"))
    linked = link_costs(issues, tables)
    return linked.select(
        "doc_id", "issue_order",
        F.col("estimated_cost.min").alias("cost_min"),
        F.col("estimated_cost.max").alias("cost_max"),
        F.col("estimated_cost.average").alias("cost_avg"))


def _sql_issue_link() -> str:
    from .queries import SQL_SEGMENTATION, _sql_tables

    iss_sql = SQL_SEGMENTATION.replace(
        "CAST(count(DISTINCT page_num) AS INT) AS n_pages,",
        "list(DISTINCT page_num) AS pages,")
    return f"""
WITH iss AS ({iss_sql}),
tabs AS ({_sql_tables()}),
cost_tabs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, first_off AS t_order,
         section AS t_section, page_num AS t_page,
         cost_min, cost_max, cost_avg
  FROM tabs
  WHERE table_type = 'cost_estimate' AND cost_min IS NOT NULL),
cand AS (
  SELECT i.doc_id, i.issue_order, t.t_order,
         t.cost_min, t.cost_max, t.cost_avg,
    row_number() OVER (PARTITION BY i.doc_id, t.t_order
                       ORDER BY i.issue_order) AS r1
  FROM iss i JOIN cost_tabs t
    ON i.doc_id = t.doc_id AND i.section = t.t_section
   AND list_contains(i.pages, t.t_page)),
first_per_table AS (SELECT * FROM cand WHERE r1 = 1),
last_per_issue AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, issue_order
                               ORDER BY t_order DESC) AS r2
  FROM first_per_table)
SELECT i.doc_id, i.issue_order, l.cost_min, l.cost_max, l.cost_avg
FROM iss i
LEFT JOIN (SELECT * FROM last_per_issue WHERE r2 = 1) l
  ON i.doc_id = l.doc_id AND i.issue_order = l.issue_order
"""


QUERIES_ENRICH2: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "attributes": q_attributes,
    "metadata_enrich": q_metadata_enrich,
    "classification": q_classification,
    "cleaning": q_cleaning,
    "dedup_doc": q_dedup_doc,
    "quality_routing": q_quality_routing,
    "strategy": q_strategy,
    "taxonomy": q_taxonomy,
    "issue_link": q_issue_link,
}

ORACLES_ENRICH2: dict[str, str] = {
    "attributes": _sql_attributes(),
    "metadata_enrich": _sql_metadata_enrich(),
    "classification": _sql_classification(),
    "cleaning": _sql_cleaning(),
    "dedup_doc": SQL_DEDUP_DOC,
    "quality_routing": _sql_quality_routing(),
    "strategy": _sql_strategy(),
    "taxonomy": _sql_taxonomy(),
    "issue_link": _sql_issue_link(),
}
