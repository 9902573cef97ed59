"""C19/C20/C21/J6 phase-2 estimation transcription tests (behavioural
expectations lifted from the reference's test_phase2_improvements.py
scenarios)."""

from pdf_extraction_spark import estimation_rules as est


def test_c19_lookup_table():
    # note: 'hallway' would contain the complex-indicator 'all' as a
    # substring and veto the lookup — a reference quirk we preserve
    r = est.select_strategy_phase2({
        "title": "Replace outlet cover in den",
        "description": "Outlet cover is cracked and should be swapped",
        "category": "electrical", "severity": "low"})
    assert r["strategy"] == "lookup_table"
    assert r["confidence"] == 0.95
    ce = r["cost_estimate"]
    assert ce["matched_item"] == "outlet cover"
    assert ce["cost"]["total"]["min"] == 15 + 5 + 0
    assert ce["cost"]["total"]["max"] == 25 + 10 + 0


def test_c19_lookup_rejected_when_complex():
    r = est.select_strategy_phase2({
        "title": "Multiple gfci outlet failures",
        "description": "gfci outlet not working in several rooms",
        "category": "electrical", "severity": "medium"})
    assert r["strategy"] != "lookup_table"


def test_c19_complex_and_formula_and_hybrid():
    r = est.select_strategy_phase2({
        "title": "Foundation settlement at rear",
        "description": "Significant pier movement observed",
        "category": "foundation", "severity": "high"})
    assert r["strategy"] == "llm_reasoning" and r["confidence"] == 0.7

    r = est.select_strategy_phase2({
        "title": "Interior painting needed",
        "description": "painting of 200 sq ft wall area after patching",
        "category": "interior", "severity": "low"})
    assert r["strategy"] == "formula_based"
    ce = r["cost_estimate"]
    assert ce["cost"]["labor"]["min"] == 200 * 1.5
    assert ce["cost"]["labor"]["max"] == 200 * 3.0
    assert ce["cost"]["total"]["min"] == max(200 * 1.5 + 200 * 0.5, 150)

    r = est.select_strategy_phase2({
        "title": "Service garage door opener",
        "description": "Door opener needs adjustment and lubrication service",
        "category": "general", "severity": "low"})
    assert r["strategy"] == "hybrid" and r["confidence"] == 0.75


def test_j6_cost_database():
    # reference quirk preserved: the spec matcher takes the FIRST variant
    # sharing ANY token with the spec ('gallon' in '50 gallon gas' matches
    # 40_gallon_gas before 50_gallon_gas; cost_database.py:525-529)
    data = est.cost_db_lookup("water heater", "50 gallon gas")
    assert data is not None
    assert data["specification_matched"] == "40_gallon_gas"
    assert data["materials"] == {"min": 600, "max": 1200}
    tank = est.cost_db_lookup("water heater", "tankless electric")
    assert tank["specification_matched"] == "40_gallon_electric"  # 'electric' hits first

    e = est.cost_db_estimate("water heater", "50 gallon gas")
    # labor 3-5h * $100 + materials + permit 150 + additional 300
    assert e["estimated_low"] == 3 * 100 + 600 + 150 + 300
    assert e["estimated_high"] == 5 * 100 + 1200 + 150 + 300

    # context adjustments: old property inflates labor hours
    old = est.cost_db_lookup("water heater", "50 gallon gas",
                             {"property_age": 45})
    assert abs(old["labor_hours"]["min"] - 3 * 1.1) < 1e-9
    assert abs(old["labor_hours"]["max"] - 5 * 1.2) < 1e-9

    # gfci match through word overlap. (The word 'replacement' at end of
    # string survives normalization — no trailing space — and then the 'ac'
    # alias matches inside 'repl-ac-ement', routing to the AC condenser:
    # reference quirk, cost_database.py:465-497.)
    g = est.cost_db_lookup("gfci outlet install")
    assert g is not None and g["contractor_type"] == "electrician"
    quirk = est.cost_db_lookup("gfci outlet replacement")
    assert quirk["contractor_type"] == "hvac_technician"

    assert est.cost_db_lookup("unknown gizmo") is None


def test_c21_houston_adjust():
    base = {"cost": {"labor": {"min": 100, "max": 200},
                     "materials": {"min": 50, "max": 100},
                     "permits": {"min": 0, "max": 0},
                     "total": {"min": 150, "max": 300}}}
    # 'Replace' contains 'ac' -> the hvac trade keyword fires first
    # (reference quirk, houston_cost_multipliers.py:300-316)
    quirk = est.houston_adjust(base, {
        "title": "Roof shingle repair",
        "description": "Replace damaged shingles near the ridge",
        "category": "roofing"})
    assert quirk["trade"] == "hvac"

    adj = est.houston_adjust(base, {
        "title": "Roof shingle repair",
        "description": "Worn shingles near the ridge need patching",
        "category": "roofing"})
    assert adj["trade"] == "roofing"
    assert adj["labor_multiplier"] == 1.15
    assert adj["material_multiplier"] == 1.08
    assert adj["permit_type"] == "roofing"
    assert adj["cost"]["permits"] == {"min": 200, "max": 400}
    # climate: hurricane/uv factors fold into materials max; +ventilation 200
    assert adj["climate_adjustment"] == 200
    assert adj["cost"]["labor"]["min"] == round(100 * 1.15, 2)

    # minor-repair phrase suppresses the permit
    adj2 = est.houston_adjust(base, {
        "title": "Minor roof touch up",
        "description": "minor sealant touch up at flashing",
        "category": "roofing"})
    assert adj2["permit_type"] == "none"


def test_c20_confidence_scorer():
    estimate = {"estimated_low": 500, "estimated_high": 1000,
                "reasoning": ("Labor hours estimated from Houston market "
                              "rates; materials priced from supplier data "
                              "with standard assumptions for this repair.")}
    issue = {"issue": ("Water heater shows corrosion and a small leak at "
                       "the base, approximately 2 inch area affected"),
             "description": "corrosion at tank base",
             "location": "garage", "category": "plumbing",
             "item": "water heater", "severity": "medium"}
    r = est.confidence_score(estimate, issue, property_age=8,
                             has_photos=True, database_match_score=0.9)
    assert 0 <= r["overall"] <= 100
    b = r["breakdown"]
    assert b["has_photos"] == 100.0
    assert b["database_match"] == 90.0
    assert b["estimate_range_quality"] == 100.0  # ratio 2.0 in ideal band
    assert b["has_location"] == 100.0            # 'garage' is specific
    assert b["age_uncertainty"] == 90.0          # water heater, young
    assert r["overall"] >= 70                    # good estimate
    assert r["manual_review_needed"] is False

    # degenerate estimate scores poorly on range quality
    bad = est.confidence_score({"estimated_low": 0, "estimated_high": 0},
                               issue)
    assert bad["breakdown"]["estimate_range_quality"] == 0.0


def test_j7_relationships():
    from pdf_extraction_spark import relationship_rules as rel

    issues = [
        {"id": "R1", "issue": "Roof leak observed at ridge with water stain",
         "description": "Roof leak observed at ridge with water stain",
         "item": "roof covering", "category": "Roofing",
         "location": "attic", "severity": "high"},
        {"id": "R2", "issue": "Ceiling stains in master bedroom below attic",
         "description": "Ceiling stains in master bedroom below attic",
         "item": "ceiling", "category": "Interior",
         "location": "attic", "severity": "medium"},
        {"id": "R3", "issue": "Dishwasher drain line improperly installed",
         "description": "Dishwasher drain line improperly installed",
         "item": "dishwasher", "category": "Appliances",
         "location": "kitchen", "severity": "low"},
    ]
    out = rel.analyze_issues(issues)
    # roof_leak -> ceiling_stains causal chain
    chains = {c["root_cause_id"]: c for c in out["causal_chains"]}
    assert "R1" in chains
    assert "R2" in chains["R1"]["caused_issue_ids"]
    assert chains["R1"]["priority"] == "high"
    # attic location bundle (R1+R2)
    kinds = {(b["bundle_type"], tuple(sorted(b["issue_ids"])))
             for b in out["bundles"]}
    assert ("same_location", ("R1", "R2")) in kinds
    stats = out["statistics"]
    assert stats["total_issues"] == 3
    assert stats["potential_bundles"] >= 1
    # 'leak' is a plumber keyword and plumber precedes roofer in the
    # contractor table, so a roof LEAK routes to plumber (reference quirk,
    # relationship_analyzer.py:534-545)
    assert rel.infer_contractor_type(issues[0]) == "plumber"
    assert rel.infer_contractor_type(
        {"category": "Roofing", "item": "shingles",
         "issue": "worn shingles"}) == "roofer"


def test_hybrid_estimate_chain():
    """hybrid_cost_estimator.py:86-341 deterministic fallback chain:
    the selected strategy answers itself (depth 0) for lookup/formula;
    the LLM branches (hybrid/llm_reasoning) fall through to the severity
    heuristic (depth 1); Houston adjustment applies to every branch."""
    # lookup: gfci outlet, no complex indicator
    h = est.hybrid_estimate({
        "title": "", "description": "replace the gfci outlet in den",
        "category": "electrical", "severity": "low"})
    assert (h["strategy"], h["estimator_used"], h["fallback_depth"]) == \
        ("lookup_table", "lookup_table", 0)
    assert h["contractor_type"] == "General" and h["urgency"] == "low"
    # outlet -> electrical permit replaces the zero base permit; trade is
    # hvac because 'replACe' contains the 'ac' keyword (reference quirk,
    # houston_cost_multipliers.py trade table order)
    assert h["permit_type"] == "electrical" and h["trade"] == "hvac"
    # labor (80,150)*1.15 + materials (30,60)*1.10 + permit (150,300)
    assert h["total_min"] == round(
        round(80 * 1.15, 2) + round(30 * 1.10, 2) + 150, 0)
    assert h["total_max"] == round(
        round(150 * 1.15, 2) + round(60 * 1.10, 2) + 300, 0)

    # formula: painting with sqft -> formula answers, contractor ladder
    h = est.hybrid_estimate({
        "title": "", "description": "painting needed across 200 sq ft of wall",
        "category": "", "severity": "medium"})
    assert (h["strategy"], h["estimator_used"], h["fallback_depth"]) == \
        ("formula_based", "formula_based", 0)
    # 'ACross' hits the 'ac' contractor keyword (reference quirk,
    # hybrid_cost_estimator.py:300-318 substring match)
    assert h["contractor_type"] == "HVAC Technician"
    assert h["urgency"] == "normal"

    # llm branch with no AI estimator -> severity fallback heuristic
    h = est.hybrid_estimate({
        "title": "", "description": "foundation settling with pier movement",
        "category": "", "severity": "critical"})
    assert (h["strategy"], h["estimator_used"], h["fallback_depth"]) == \
        ("llm_reasoning", "fallback_heuristic", 1)
    assert h["estimate_confidence"] == 0.4
    assert h["urgency"] == "immediate"
    assert h["trade"] == "foundation"

    # hybrid branch -> same fallback path
    h = est.hybrid_estimate({
        "title": "", "description": "routine service visit to maintain the unit",
        "category": "", "severity": "low"})
    assert (h["strategy"], h["fallback_depth"]) == ("hybrid", 1)
    assert h["estimator_used"] == "fallback_heuristic"
