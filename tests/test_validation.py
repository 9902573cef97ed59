"""Post-estimation validation (validation_rules): python rule core vs
reference scenarios (src/validation/estimation_validator.py, exercised by
the reference's tests/test_phase1_improvements.py), and Catalyst columnar
form vs the python core."""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark import validation_rules as vr


def _estimate(cost, conf=0.8, reasoning="estimated from historical tables",
              timeline=(1, 5), contractor="electrician", urgency="medium"):
    est = {"cost": cost, "contractor_type": contractor, "urgency": urgency}
    if conf is not None:
        est["confidence_score"] = conf
    if reasoning is not None:
        est["confidence_reasoning"] = reasoning
    if timeline is not None:
        est["timeline"] = {"min_days": timeline[0], "max_days": timeline[1]}
    return est


def _cost(l=(100, 200), m=(50, 100), p=(0, 0), t=(150, 300)):
    return {"labor": {"min": l[0], "max": l[1]},
            "materials": {"min": m[0], "max": m[1]},
            "permits": {"min": p[0], "max": p[1]},
            "total": {"min": t[0], "max": t[1]}}


# -- reference scenarios (test_phase1_improvements.py range-ratio cases) --

def test_good_ratio_accepts():
    r = vr.validate_estimate(_estimate(_cost()))
    assert r["valid"] and r["action"] == vr.ACCEPT and not r["errors"]


def test_wide_ratio_flags():
    # 5x total ratio exceeds the 3x Phase-1 limit
    r = vr.validate_estimate(_estimate(_cost(
        l=(100, 500), m=(50, 250), t=(150, 750))))
    assert not r["valid"] and r["action"] == vr.FLAG_FOR_REVIEW
    assert any("ratio" in e for e in r["errors"])


def test_edge_3x_ratio_accepts():
    r = vr.validate_estimate(_estimate(_cost(
        l=(2000, 6000), m=(1000, 3000), t=(3000, 9000))))
    assert r["valid"] and r["action"] == vr.ACCEPT


def test_narrow_total_ratio_flags():
    r = vr.validate_estimate(_estimate(_cost(
        l=(80, 100), m=(40, 50), t=(120, 150))))  # 1.25x
    assert not r["valid"]
    assert any("narrow" in e for e in r["errors"])


def test_component_math_autocorrects():
    est = _estimate(_cost(t=(300, 600)))  # components sum to (150, 300)
    r = vr.validate_estimate(est)
    assert r["valid"]
    assert any("component sum" in w for w in r["warnings"])
    assert r["corrected_estimate"]["cost"]["total"] == {"min": 150,
                                                        "max": 300}


def test_inverted_range_flags_but_corrects():
    r = vr.validate_estimate(_estimate(_cost(l=(200, 100))))
    assert not r["valid"] and r["action"] == vr.FLAG_FOR_REVIEW
    assert r["corrected_estimate"]["cost"]["labor"] == {"min": 100,
                                                        "max": 200}


def test_extreme_cost_rejects():
    r = vr.validate_estimate(_estimate(_cost(
        l=(60000, 120000), m=(60000, 120000), t=(120000, 240000))))
    assert not r["valid"] and r["action"] == vr.REJECT


def test_high_cost_review():
    r = vr.validate_estimate(_estimate(_cost(
        l=(15000, 30000), m=(15000, 30000), t=(30000, 60000))))
    assert r["valid"] and r["action"] == vr.FLAG_FOR_REVIEW


def test_missing_cost_regenerates():
    r = vr.validate_estimate({"contractor_type": "plumber",
                              "urgency": "high"})
    assert not r["valid"] and r["action"] == vr.REGENERATE


def test_confidence_adjustment_widens_low_and_keeps_high():
    est = _estimate(_cost())
    adjusted = vr.adjust_range_by_confidence(dict(est), 0.5)
    t = adjusted["cost"]["total"]
    orig_ratio = 300 / 150
    assert t["max"] / t["min"] > orig_ratio  # widened
    untouched = vr.adjust_range_by_confidence(dict(est), 0.85)
    assert untouched["cost"]["total"] == {"min": 150, "max": 300}


def test_low_confidence_flow_adjusts_and_reviews():
    r = vr.validate_estimate(_estimate(_cost(), conf=0.5))
    assert r["valid"] and r["action"] == vr.FLAG_FOR_REVIEW
    t = r["corrected_estimate"]["cost"]["total"]
    # mid=225, factor 0.5 -> (112.5, 337.5)
    assert t == {"min": 112.5, "max": 337.5}


def test_simple_estimate_path():
    # inverted low/high is swapped
    r = vr.validate_estimate({"estimated_low": 500, "estimated_high": 200,
                              "contractor_type": "roofer",
                              "urgency": "low", "confidence_score": 0.8,
                              "timeline": {"min_days": 1, "max_days": 3}})
    assert r["corrected_estimate"] is not None or r["valid"] is not None
    # zero low is raised to max(100, 10% of high)
    r2 = vr.validate_estimate({"estimated_low": 0, "estimated_high": 2000,
                               "contractor_type": "roofer",
                               "urgency": "low", "confidence_score": 0.8,
                               "timeline": {"min_days": 1, "max_days": 3}})
    assert r2["corrected_estimate"]["estimated_low"] == 200
    # >10x span is capped at 5x
    r3 = vr.validate_estimate({"estimated_low": 100,
                               "estimated_high": 5000,
                               "contractor_type": "roofer",
                               "urgency": "low", "confidence_score": 0.8,
                               "timeline": {"min_days": 1, "max_days": 3}})
    assert r3["corrected_estimate"]["estimated_high"] == 500


def test_houston_rate_warning():
    r = vr.validate_estimate(
        _estimate(_cost(l=(4, 8), m=(4, 8), t=(8, 16))),
        issue={"category": "plumbing systems", "description": "leak"})
    assert any("plumbing" in w for w in r["warnings"])


# -- columnar form vs python core on the gate's 18 case families --

def _flat_to_estimate(row):
    cost = {}
    for name in vr.COMPONENTS:
        key = {"labor": "labor", "materials": "materials",
               "permits": "permits", "total": "total"}[name]
        mn, mx = row[f"{key}_min"], row[f"{key}_max"]
        if mn is not None or mx is not None:
            cost[name] = {"min": mn or 0, "max": mx or 0}
    est = {}
    if cost:
        est["cost"] = cost
    if row["confidence"] is not None:
        est["confidence_score"] = row["confidence"]
    if row["confidence_reasoning"] is not None:
        est["confidence_reasoning"] = row["confidence_reasoning"]
    if (row["timeline_min_days"] is not None
            or row["timeline_max_days"] is not None):
        est["timeline"] = {"min_days": row["timeline_min_days"] or 0,
                           "max_days": row["timeline_max_days"] or 0}
    if row["contractor_type"]:
        est["contractor_type"] = row["contractor_type"]
    if row["urgency"]:
        est["urgency"] = row["urgency"]
    issue = {"category": row["category"],
             "description": row["description"]}
    return est, issue


def test_columnar_matches_python_core(spark):
    from pdf_extraction_spark.queries_validate import _synth_sql

    orders = spark.range(1, 400).select(F.col("id").alias("o_orderkey"))
    orders.createOrReplaceTempView("orders")
    flat = spark.sql("WITH " + _synth_sql("spark") + " SELECT * FROM flat")
    c = F.col
    # the staged scale path (with_validation keeps the input columns,
    # which _flat_to_estimate reads back out of each row)
    got = vr.with_validation(
        flat,
        c("labor_min"), c("labor_max"), c("materials_min"),
        c("materials_max"), c("permits_min"), c("permits_max"),
        c("total_min"), c("total_max"), c("confidence"),
        c("confidence_reasoning"), c("timeline_min_days"),
        c("timeline_max_days"), c("contractor_type"), c("urgency"),
        c("category"), c("description")).collect()

    for r in got:
        row = r.asDict()
        est, issue = _flat_to_estimate(row)
        want = vr.validate_estimate(est, issue)
        ctx = f"k={row['k']} case={row['m']}"
        assert row["valid"] == want["valid"], ctx
        assert row["action"] == want["action"], ctx
        assert row["n_errors"] == len(want["errors"]), \
            f"{ctx}: {want['errors']}"
        assert row["n_warnings"] == len(want["warnings"]), \
            f"{ctx}: {want['warnings']}"
        if want["action"] in (vr.REJECT, vr.RECALCULATE, vr.REGENERATE):
            assert row["total_min_final"] is None, ctx
        elif want["valid"]:
            t = want["corrected_estimate"]["cost"]["total"]
            assert row["total_min_final"] == pytest.approx(t["min"]), ctx
            assert row["total_max_final"] == pytest.approx(t["max"]), ctx
