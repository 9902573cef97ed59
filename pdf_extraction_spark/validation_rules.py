"""Post-estimation validation (Phase 1): sanity-check cost estimates
AFTER estimation, auto-correct what is mechanically fixable, and route
each estimate to accept / flag_for_review / recalculate / regenerate /
reject.

Reference behavior: src/validation/estimation_validator.py (808 LoC) —
cost-range validity + Phase-1 range-ratio limits (1.5-3x), component-sum
math (labor+materials+permits=total, $50 tolerance), extreme-cost
detection ($50k review / $100k reject), zero-cost and component-ratio
warnings, confidence validation, timeline reasonableness, Houston labor
rates, and confidence-based range widening (<0.6 -> +-50%, <0.75 ->
+-25% around the midpoint). Exercised by the reference's
tests/test_phase1_improvements.py:277.

Two forms:

- ``validate_estimate``: the pure-python rule core (exact reference
  semantics, both auto_correct modes, including the top-level
  estimated_low/high "simple estimate" path) — used by unit tests as
  the reference for the column form.
- ``with_validation``: the scale path — the same decision cascade as
  pure ``pyspark.sql.functions`` column expressions over a flat
  estimates DataFrame (one row per estimate, nullable min/max per
  component). Whole-stage codegen, no Python in the hot path, and an
  exact DuckDB SQL twin for the correctness gate.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

# thresholds (reference: estimation_validator.py:74-103)
MAX_SINGLE_ITEM_COST = 50_000
EXTREME_COST_THRESHOLD = 100_000
COMPONENT_SUM_TOLERANCE = 50
MAX_LABOR_RATIO = 0.9
MIN_MATERIALS_RATIO = 0.05
MIN_ACCEPTABLE_CONFIDENCE = 0.3
REVIEW_CONFIDENCE_THRESHOLD = 0.6
MIN_TIMELINE_DAYS = 0.1
MAX_TIMELINE_DAYS = 365
MAX_RANGE_RATIO = 3.0
MIN_RANGE_RATIO = 1.5

HOUSTON_LABOR_RATES = {
    "hvac": (85, 150),
    "plumbing": (80, 130),
    "electrical": (75, 125),
    "roofing": (70, 120),
    "foundation": (90, 140),
    "general": (50, 100),
}

COMPONENTS = ("labor", "materials", "permits", "total")
INSPECTION_WORDS = ("inspect", "evaluation", "assess", "service")
REQUIRED_FIELDS = ("cost", "contractor_type", "urgency")

ACCEPT = "accept"
REGENERATE = "regenerate_estimate"
FLAG_FOR_REVIEW = "flag_for_review"
RECALCULATE = "recalculate"
REJECT = "reject"


# ---------------------------------------------------------------------------
# Pure-python rule core
# ---------------------------------------------------------------------------

def _comp_bounds(cost: dict, name: str) -> tuple[float, float]:
    comp = cost.get(name, {})
    if not isinstance(comp, dict):
        return 0, 0
    return comp.get("min", 0), comp.get("max", 0)


def _range_errors(cost: dict) -> list[str]:
    """min<max per component, negatives, and Phase-1 range-ratio limits
    (estimation_validator.py:300-347)."""
    errors = []
    for name in COMPONENTS:
        if name not in cost or not isinstance(cost[name], dict):
            continue
        mn, mx = _comp_bounds(cost, name)
        if mn > mx:
            errors.append(f"{name}: min ({mn}) > max ({mx})")
        if mn < 0:
            errors.append(f"{name}: negative min ({mn})")
        if mx < 0:
            errors.append(f"{name}: negative max ({mx})")
        if mn > 0 and mx > 0:
            ratio = mx / mn
            if ratio > MAX_RANGE_RATIO:
                errors.append(f"{name}: range ratio {ratio:.2f}x > "
                              f"{MAX_RANGE_RATIO}x limit")
            elif ratio < MIN_RANGE_RATIO and name == "total":
                errors.append(f"{name}: range ratio {ratio:.2f}x too "
                              f"narrow (< {MIN_RANGE_RATIO}x)")
    return errors


def _swap_inverted(cost: dict) -> dict:
    out = dict(cost)
    for name in COMPONENTS:
        if name in out and isinstance(out[name], dict):
            mn, mx = _comp_bounds(out, name)
            if mn > mx:
                out[name] = {"min": mx, "max": mn}
    return out


def _component_math(cost: dict) -> tuple[list[str], Optional[dict]]:
    """labor+materials+permits == total within $50
    (estimation_validator.py:366-417)."""
    if not cost.get("total"):
        return ["missing total cost"], None
    exp_min = sum(_comp_bounds(cost, c)[0]
                  for c in ("labor", "materials", "permits"))
    exp_max = sum(_comp_bounds(cost, c)[1]
                  for c in ("labor", "materials", "permits"))
    act_min, act_max = _comp_bounds(cost, "total")
    errors = []
    if abs(exp_min - act_min) > COMPONENT_SUM_TOLERANCE:
        errors.append(f"total min {act_min} != component sum {exp_min}")
    if abs(exp_max - act_max) > COMPONENT_SUM_TOLERANCE:
        errors.append(f"total max {act_max} != component sum {exp_max}")
    if errors:
        corrected = dict(cost)
        corrected["total"] = {"min": exp_min, "max": exp_max}
        return errors, corrected
    return [], None


def _labor_category(issue: dict) -> str:
    cat = (issue.get("standard_category") or issue.get("category")
           or issue.get("section") or "").lower()
    for key in HOUSTON_LABOR_RATES:
        if key in cat:
            return key
    return "general"


def adjust_range_by_confidence(estimate: dict, confidence: float) -> dict:
    """Widen cost ranges around the midpoint for low-confidence estimates
    (<0.6 -> +-50%, <0.75 -> +-25%; estimation_validator.py:596-672)."""
    adjusted = dict(estimate)
    cost = dict(adjusted.get("cost") or {})
    if not cost or confidence is None:
        return adjusted
    if confidence < 0.6:
        factor = 0.5
    elif confidence < 0.75:
        factor = 0.25
    else:
        return adjusted
    for name in COMPONENTS:
        if name in cost and isinstance(cost[name], dict):
            mn, mx = _comp_bounds(cost, name)
            if mn > 0 or mx > 0:
                mid = (mn + mx) / 2
                new_min = max(0, mid * (1 - factor))
                new_max = mid * (1 + factor)
                ratio = new_max / new_min if new_min > 0 else 0
                if ratio < MIN_RANGE_RATIO:
                    new_min, new_max = mid * 0.75, mid * 1.25
                elif ratio > 4.0:
                    new_min, new_max = mid * 0.5, mid * 2.0
                cost[name] = {"min": round(new_min, 2),
                              "max": round(new_max, 2)}
    adjusted["cost"] = cost
    adjusted["confidence_adjustment"] = {
        "original_confidence": confidence, "adjustment_factor": factor}
    return adjusted


def validate_estimate(estimate: dict, issue: Optional[dict] = None,
                      auto_correct: bool = True) -> dict:
    """Validate one estimate; returns {valid, reason, action, errors,
    warnings, corrected_estimate}. Check order matches the reference
    (estimation_validator.py:123-298): ranges -> component math ->
    extreme cost -> zero costs -> ratios -> confidence -> timeline ->
    Houston rates -> required fields -> confidence-based adjustment."""
    errors: list[str] = []
    warnings: list[str] = []
    corrected: Optional[dict] = None

    def error_result(reason: str, action: str, errs: list[str]) -> dict:
        return {"valid": False, "reason": reason, "action": action,
                "errors": errs, "warnings": [], "corrected_estimate": None}

    # simple estimates: top-level estimated_low/high, no nested cost
    if ("cost" not in estimate and "estimated_low" in estimate
            and "estimated_high" in estimate):
        est = dict(estimate)
        low, high = est["estimated_low"], est["estimated_high"]
        touched = False
        if isinstance(low, (int, float)) and isinstance(high, (int, float)):
            if low >= high:
                if auto_correct:
                    est["estimated_low"], est["estimated_high"] = high, low
                    touched = True
                    warnings.append("auto-corrected inverted low/high")
                else:
                    errors.append(f"estimated_low ({low}) >= "
                                  f"estimated_high ({high})")
            low, high = est["estimated_low"], est["estimated_high"]
            if low == 0 and high > 0:
                warnings.append("estimated_low is $0 - auto-adjusted")
                if auto_correct:
                    est["estimated_low"] = max(100, int(high * 0.1))
                    touched = True
            low, high = est["estimated_low"], est["estimated_high"]
            if low > 0 and high / low > 10:
                warnings.append("range wider than 10x - capped to 5x")
                if auto_correct:
                    est["estimated_high"] = int(low * 5)
                    touched = True
        if touched:
            corrected = dict(est)
        cost = {"total": {"min": est.get("estimated_low", 0),
                          "max": est.get("estimated_high", 0)}}
        estimate = est
    else:
        cost = estimate.get("cost") or {}
        if not cost:
            return error_result("missing cost data", REGENERATE,
                               ["no cost information provided"])

    range_errs = _range_errors(cost)
    if range_errs:
        errors.extend(range_errs)
        if auto_correct:
            cost = _swap_inverted(cost)
            corrected = {**estimate, "cost": cost}
            warnings.append("auto-corrected inverted min/max ranges")
        else:
            return error_result("invalid cost ranges", RECALCULATE, errors)

    math_errs, math_corrected = _component_math(cost)
    if math_errs:
        if auto_correct and math_corrected:
            corrected = {**estimate, "cost": math_corrected}
            warnings.append("auto-corrected component sum")
        else:
            errors.extend(math_errs)
            return error_result("cost components don't sum", RECALCULATE,
                               errors)

    total_min, total_max = _comp_bounds(cost, "total")
    if total_max > EXTREME_COST_THRESHOLD:
        return error_result(f"extreme cost estimate (${total_max:,.0f})",
                            REJECT,
                            [f"cost exceeds ${EXTREME_COST_THRESHOLD:,.0f}"])
    if total_max > MAX_SINGLE_ITEM_COST:
        warnings.append(f"high cost estimate (${total_max:,.0f})")

    if total_min == 0 and total_max == 0:
        warnings.append("total cost is $0 - likely estimation error")
    elif total_min == 0 and total_max > 0:
        warnings.append("min total cost is $0 - may be unrealistic")

    labor_min, labor_max = _comp_bounds(cost, "labor")
    mat_min, mat_max = _comp_bounds(cost, "materials")
    if total_max > 0:
        if labor_max / total_max > MAX_LABOR_RATIO:
            warnings.append(f"labor is {labor_max / total_max:.0%} of total")
        if (mat_max / total_max < MIN_MATERIALS_RATIO and total_max > 500
                and issue is not None):
            desc = (issue.get("description") or "").lower()
            if not any(w in desc for w in INSPECTION_WORDS):
                warnings.append("materials cost unusually low")

    confidence = estimate.get("confidence_score")
    if confidence is None:
        conf_obj = estimate.get("confidence")
        confidence = (conf_obj.get("overall")
                      if isinstance(conf_obj, dict) else None)
    if confidence is None:
        warnings.append("no confidence score provided")
    else:
        if not 0 <= confidence <= 1:
            errors.append(f"confidence {confidence} out of [0, 1]")
        if confidence < MIN_ACCEPTABLE_CONFIDENCE:
            warnings.append(f"very low confidence ({confidence:.2f})")
        elif confidence < REVIEW_CONFIDENCE_THRESHOLD:
            warnings.append(f"low confidence ({confidence:.2f})")
        if confidence > 0.9:
            reasoning = estimate.get("confidence_reasoning", "")
            if not reasoning or len(reasoning) < 20:
                warnings.append("high confidence without reasoning")

    timeline = estimate.get("timeline") or {}
    if not timeline:
        warnings.append("no timeline information provided")
    else:
        t_min = timeline.get("min_days", 0)
        t_max = timeline.get("max_days", 0)
        if t_min > t_max:
            warnings.append(f"timeline min ({t_min}) > max ({t_max})")
        if t_min < MIN_TIMELINE_DAYS:
            warnings.append(f"unusually short timeline ({t_min} days)")
        if t_max > MAX_TIMELINE_DAYS:
            warnings.append(f"unusually long timeline ({t_max} days)")
        if total_max > 10000 and t_max < 1:
            warnings.append("high cost but very short timeline")

    if issue is not None:
        key = _labor_category(issue)
        rate_min, _rate_max = HOUSTON_LABOR_RATES[key]
        if 0 < labor_max < rate_min:
            warnings.append(f"labor (${labor_max}) low for {key} work")

    for field in REQUIRED_FIELDS:
        if field == "cost":
            present = bool(cost)
        else:
            present = bool(estimate.get(field))
        if not present:
            warnings.append(f"missing field: {field}")

    if errors:
        return {"valid": False, "reason": errors[0],
                "action": FLAG_FOR_REVIEW, "errors": errors,
                "warnings": warnings, "corrected_estimate": corrected}

    conf_eff = confidence if confidence is not None else 1.0
    should_review = (conf_eff < REVIEW_CONFIDENCE_THRESHOLD
                     or len(warnings) > 3
                     or total_max > MAX_SINGLE_ITEM_COST)
    final = corrected if corrected else dict(estimate)
    if conf_eff < 0.75:
        final = adjust_range_by_confidence(final, conf_eff)
        warnings.append(f"ranges adjusted for confidence ({conf_eff:.2f})")
    return {"valid": True,
            "reason": "passed" + (" with warnings" if warnings else ""),
            "action": FLAG_FOR_REVIEW if should_review else ACCEPT,
            "errors": [], "warnings": warnings,
            "corrected_estimate": final}


# ---------------------------------------------------------------------------
# Catalyst column-expression form (the scale path; auto_correct=True)
# ---------------------------------------------------------------------------

def _cascade_parts(
    labor_min: Column, labor_max: Column,
    materials_min: Column, materials_max: Column,
    permits_min: Column, permits_max: Column,
    total_min: Column, total_max: Column,
    confidence: Column, confidence_reasoning: Column,
    timeline_min_days: Column, timeline_max_days: Column,
    contractor_type: Column, urgency: Column,
    category: Column, description: Column,
):
    """The decision cascade split at its natural reuse frontier.

    Returns ``(mid, finish)``: ``mid`` is a dict of the eleven
    intermediate columns every output re-reads (range-error count,
    component-sum verdict, post-correction totals, warning tally,
    widening factor, outcome flags), ``finish(refs)`` builds the eight
    output columns from a mapping with those keys (``with_validation``
    passes ``F.col`` references to a projection that materialized them).

    The split exists because Column reuse in pyspark is TREE reuse:
    inlining ``mid`` into all eight outputs multiplies the shared
    subtrees until the single generated ``project_doConsume`` method
    passes janino's 64 KB bytecode limit and the whole projection
    silently falls back to interpreted evaluation (observed at the
    sf0.01 gate: a 2.6k-line generated class, `Code grows beyond
    64 KB`, ~6s interpreted vs ~1s compiled). Materializing the
    frontier keeps every generated method small so whole-stage
    codegen actually engages at scale.
    """
    comps = {
        "labor": (labor_min, labor_max),
        "materials": (materials_min, materials_max),
        "permits": (permits_min, permits_max),
        "total": (total_min, total_max),
    }
    present = {n: mn.isNotNull() | mx.isNotNull()
               for n, (mn, mx) in comps.items()}
    b = {n: (F.when(present[n], F.coalesce(mn, F.lit(0.0))),
             F.when(present[n], F.coalesce(mx, F.lit(0.0))))
         for n, (mn, mx) in comps.items()}

    any_comp = present["labor"] | present["materials"] \
        | present["permits"] | present["total"]

    # range errors per component (pre-swap values)
    def comp_range_errors(name: str) -> Column:
        mn, mx = b[name]
        ratio = mx / mn
        n = (F.when(mn > mx, 1).otherwise(0)
             + F.when(mn < 0, 1).otherwise(0)
             + F.when(mx < 0, 1).otherwise(0)
             + F.when((mn > 0) & (mx > 0) & (ratio > MAX_RANGE_RATIO), 1)
             .otherwise(0))
        if name == "total":
            n = n + F.when((mn > 0) & (mx > 0) & (ratio < MIN_RANGE_RATIO),
                           1).otherwise(0)
        return F.when(present[name], n).otherwise(F.lit(0))

    n_range_errors = sum((comp_range_errors(n) for n in COMPONENTS),
                         F.lit(0))

    # post-swap bounds (swap-if-inverted == least/greatest)
    s = {n: (F.least(b[n][0], b[n][1]), F.greatest(b[n][0], b[n][1]))
         for n in COMPONENTS}
    z = F.lit(0.0)
    exp_min = (F.coalesce(s["labor"][0], z) + F.coalesce(s["materials"][0], z)
               + F.coalesce(s["permits"][0], z))
    exp_max = (F.coalesce(s["labor"][1], z) + F.coalesce(s["materials"][1], z)
               + F.coalesce(s["permits"][1], z))
    act_min = F.coalesce(s["total"][0], z)
    act_max = F.coalesce(s["total"][1], z)
    math_bad = present["total"] & (
        (F.abs(exp_min - act_min) > COMPONENT_SUM_TOLERANCE)
        | (F.abs(exp_max - act_max) > COMPONENT_SUM_TOLERANCE))

    # totals the downstream checks see: post-swap, PRE-math-correction
    # (the reference reads `cost` which is only reassigned by the swap)
    t_min = act_min
    t_max = act_max
    labor_max_s = F.coalesce(s["labor"][1], z)
    mat_max_s = F.coalesce(s["materials"][1], z)

    # the swap warning fires whenever range errors exist (auto-correct
    # always runs), regardless of whether a swap actually changed values
    warn_swap = F.when(n_range_errors > 0, 1).otherwise(0)
    warn_math = F.when(math_bad, 1).otherwise(0)
    warn_high = F.when((t_max > MAX_SINGLE_ITEM_COST)
                       & (t_max <= EXTREME_COST_THRESHOLD), 1).otherwise(0)
    warn_zero = F.when((t_min == 0) & (t_max == 0), 1) \
        .when((t_min == 0) & (t_max > 0), 1).otherwise(0)
    warn_labor_ratio = F.when(
        (t_max > 0) & (labor_max_s / t_max > MAX_LABOR_RATIO), 1).otherwise(0)
    desc_l = F.lower(F.coalesce(description, F.lit("")))
    has_inspection_word = sum(
        (F.when(desc_l.contains(w), 1).otherwise(0)
         for w in INSPECTION_WORDS), F.lit(0)) > 0
    warn_materials = F.when(
        (t_max > 0) & (mat_max_s / t_max < MIN_MATERIALS_RATIO)
        & (t_max > 500) & ~has_inspection_word, 1).otherwise(0)

    conf = confidence
    err_conf = F.when(conf.isNotNull() & ((conf < 0) | (conf > 1)), 1) \
        .otherwise(0)
    warn_conf = (
        F.when(conf.isNull(), 1).otherwise(0)
        + F.when(conf.isNotNull() & (conf < MIN_ACCEPTABLE_CONFIDENCE), 1)
        .when(conf.isNotNull() & (conf < REVIEW_CONFIDENCE_THRESHOLD), 1)
        .otherwise(0)
        + F.when(conf.isNotNull() & (conf > 0.9)
                 & (F.length(F.coalesce(confidence_reasoning,
                                        F.lit(""))) < 20), 1).otherwise(0))

    has_timeline = timeline_min_days.isNotNull() \
        | timeline_max_days.isNotNull()
    tl_min = F.coalesce(timeline_min_days, z)
    tl_max = F.coalesce(timeline_max_days, z)
    warn_timeline = F.when(~has_timeline, F.lit(1)).otherwise(
        F.when(tl_min > tl_max, 1).otherwise(0)
        + F.when(tl_min < MIN_TIMELINE_DAYS, 1).otherwise(0)
        + F.when(tl_max > MAX_TIMELINE_DAYS, 1).otherwise(0)
        + F.when((t_max > 10000) & (tl_max < 1), 1).otherwise(0))

    cat_l = F.lower(F.coalesce(category, F.lit("")))
    # first-match-wins over dict order == chained when in order
    rate_expr = None
    for key, (rmin, _rmax) in HOUSTON_LABOR_RATES.items():
        if key == "general":
            continue
        cond = cat_l.contains(key)
        rate_expr = (F.when(cond, F.lit(float(rmin))) if rate_expr is None
                     else rate_expr.when(cond, F.lit(float(rmin))))
    rate_min = rate_expr.otherwise(
        F.lit(float(HOUSTON_LABOR_RATES["general"][0])))
    warn_houston = F.when((labor_max_s > 0) & (labor_max_s < rate_min), 1) \
        .otherwise(0)

    warn_missing = (
        F.when(F.coalesce(contractor_type, F.lit("")) == "", 1).otherwise(0)
        + F.when(F.coalesce(urgency, F.lit("")) == "", 1).otherwise(0))

    n_errors_late = n_range_errors + err_conf
    n_warn_base = (warn_swap + warn_math + warn_high + warn_zero
                   + warn_labor_ratio + warn_materials + warn_conf
                   + warn_timeline + warn_houston + warn_missing)

    conf_eff = F.coalesce(conf, F.lit(1.0))
    should_review = ((conf_eff < REVIEW_CONFIDENCE_THRESHOLD)
                     | (n_warn_base > 3) | (t_max > MAX_SINGLE_ITEM_COST))
    adj_factor = F.when(conf_eff < 0.6, F.lit(0.5)) \
        .when(conf_eff < 0.75, F.lit(0.25))

    # final totals: math correction first, then confidence widening
    fin_min = F.when(math_bad, exp_min).otherwise(act_min)
    fin_max = F.when(math_bad, exp_max).otherwise(act_max)

    mid = {
        "n_range_errors": n_range_errors,
        "n_errors_late": n_errors_late,
        "math_bad": math_bad,
        "fin_min": fin_min,
        "fin_max": fin_max,
        "n_warn_base": n_warn_base,
        "adj_factor": adj_factor,
        "should_review": should_review,
        "missing_cost": ~any_comp,
        "missing_total": any_comp & ~present["total"],
        "extreme": t_max > EXTREME_COST_THRESHOLD,
    }

    def finish(v) -> list[Column]:
        fin_min, fin_max = v["fin_min"], v["fin_max"]
        adj_factor = v["adj_factor"]
        n_range_errors = v["n_range_errors"]
        n_errors_late = v["n_errors_late"]
        n_warn_base = v["n_warn_base"]
        missing_cost = v["missing_cost"]
        missing_total = v["missing_total"]
        extreme = v["extreme"]

        mid_pt = (fin_min + fin_max) / 2
        adj_applies = adj_factor.isNotNull() \
            & ((fin_min > 0) | (fin_max > 0))
        a_min_raw = F.greatest(z, mid_pt * (1 - adj_factor))
        a_max_raw = mid_pt * (1 + adj_factor)
        a_ratio = F.when(a_min_raw > 0, a_max_raw / a_min_raw).otherwise(z)
        a_min = F.when(a_ratio < MIN_RANGE_RATIO, mid_pt * 0.75) \
            .when(a_ratio > 4.0, mid_pt * 0.5).otherwise(a_min_raw)
        a_max = F.when(a_ratio < MIN_RANGE_RATIO, mid_pt * 1.25) \
            .when(a_ratio > 4.0, mid_pt * 2.0).otherwise(a_max_raw)
        adj_min = F.when(adj_applies, F.round(a_min, 2)).otherwise(fin_min)
        adj_max = F.when(adj_applies, F.round(a_max, 2)).otherwise(fin_max)

        # outcome cascade, in reference check order
        action = (
            F.when(missing_cost, F.lit(REGENERATE))
            .when(missing_total, F.lit(RECALCULATE))
            .when(extreme, F.lit(REJECT))
            .when(n_errors_late > 0, F.lit(FLAG_FOR_REVIEW))
            .when(v["should_review"], F.lit(FLAG_FOR_REVIEW))
            .otherwise(F.lit(ACCEPT)))
        valid = ~(missing_cost | missing_total | extreme
                  | (n_errors_late > 0))
        n_errors = (
            F.when(missing_cost, F.lit(1))
            .when(missing_total, n_range_errors + 1)
            .when(extreme, F.lit(1))
            .when(n_errors_late > 0, n_errors_late)
            .otherwise(F.lit(0)))
        # error-result constructor drops warnings; invalid
        # flag_for_review keeps them; the valid low-confidence path
        # appends the adjust warning
        n_warnings = (
            F.when(missing_cost | missing_total | extreme, F.lit(0))
            .when(n_errors_late > 0, n_warn_base)
            .otherwise(n_warn_base
                       + F.when(adj_factor.isNotNull(), 1).otherwise(0)))
        auto_corrected = F.when(
            missing_cost | missing_total | extreme, F.lit(False)) \
            .otherwise((n_range_errors > 0) | v["math_bad"])
        carries_estimate = ~(missing_cost | missing_total | extreme)
        out_min = F.when(carries_estimate & valid, adj_min) \
            .when(carries_estimate, fin_min)
        out_max = F.when(carries_estimate & valid, adj_max) \
            .when(carries_estimate, fin_max)
        out_factor = F.when(valid, adj_factor)

        return [
            valid.alias("valid"),
            action.alias("action"),
            n_errors.cast("long").alias("n_errors"),
            n_warnings.cast("long").alias("n_warnings"),
            auto_corrected.alias("auto_corrected"),
            out_min.cast("double").alias("total_min_final"),
            out_max.cast("double").alias("total_max_final"),
            out_factor.cast("double").alias("adj_factor"),
        ]

    return mid, finish


def with_validation(df, *cols: Column):
    """Append the eight validation output columns to ``df`` (the C22
    scale path; reference src/validation/estimation_validator.py).

    ``cols`` are the sixteen input columns in ``_cascade_parts`` order (a
    NULL component bound pair means the component is absent). Outputs:
    valid, action, n_errors, n_warnings, auto_corrected,
    total_min_final / total_max_final (post swap -> component-sum
    correction -> confidence widening; NULL for reject/recalculate/
    regenerate outcomes) and adj_factor.

    The cascade runs as two stacked projections: the first
    materializes the eleven shared intermediates under ``__val_*``
    names, the second computes the outputs from those references and
    drops the scratch columns. Catalyst keeps the stages separate
    (CollapseProject declines to inline a non-cheap alias referenced
    more than once), so every generated method stays under janino's
    64 KB limit and the whole pipeline remains codegen'd — one narrow
    map-only pass, no shuffle, no Python.
    """
    mid, finish = _cascade_parts(*cols)
    scratch = {f"__val_{k}": c for k, c in mid.items()}
    staged = df.withColumns(scratch)
    refs = {k: F.col(f"__val_{k}") for k in mid}
    return staged.select(*df.columns, *finish(refs))
