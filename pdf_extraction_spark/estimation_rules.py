"""Phase-2 estimation semantics: C19 strategy selector, J6 Houston cost
database, C21 Houston market adjustments, C20 confidence scorer.

Faithful transcription of the reference's estimation layer
(src/estimation/cost_strategy_selector.py, cost_database.py,
houston_cost_multipliers.py, confidence_scorer.py). These replace the
reference's "hybrid AI" glue with its own deterministic components, per
the north-star ("LLM-enrichment glue re-implemented as deterministic
rule-based classifiers"). Pure python per-issue functions, executed inside
the same mapInPandas batches as enrich_rules.
"""

from __future__ import annotations

import re
from typing import Any

# ---------------------------------------------------------------------------
# C19 — cost strategy selector (cost_strategy_selector.py:63-426)
# ---------------------------------------------------------------------------

SIMPLE_REPAIRS: dict[str, dict[str, Any]] = {
    "outlet cover": {"labor": (15, 25), "materials": (5, 10), "permits": 0, "hours": 0.25},
    "light switch": {"labor": (40, 80), "materials": (10, 25), "permits": 0, "hours": 0.5},
    "light bulb": {"labor": (0, 20), "materials": (5, 15), "permits": 0, "hours": 0.1},
    "smoke detector battery": {"labor": (0, 20), "materials": (10, 25), "permits": 0, "hours": 0.1},
    "gfci outlet": {"labor": (80, 150), "materials": (30, 60), "permits": 0, "hours": 1.0},
    "furnace filter": {"labor": (20, 40), "materials": (20, 50), "permits": 0, "hours": 0.25},
    "thermostat battery": {"labor": (0, 20), "materials": (5, 15), "permits": 0, "hours": 0.1},
    "air filter": {"labor": (20, 40), "materials": (15, 40), "permits": 0, "hours": 0.25},
    "faucet aerator": {"labor": (30, 60), "materials": (10, 25), "permits": 0, "hours": 0.5},
    "toilet flapper": {"labor": (80, 120), "materials": (15, 30), "permits": 0, "hours": 1.0},
    "drain stopper": {"labor": (60, 100), "materials": (20, 40), "permits": 0, "hours": 0.75},
    "caulking": {"labor": (100, 200), "materials": (20, 50), "permits": 0, "hours": 1.5},
    "weather stripping": {"labor": (80, 150), "materials": (30, 60), "permits": 0, "hours": 1.0},
    "door sweep": {"labor": (40, 80), "materials": (15, 35), "permits": 0, "hours": 0.5},
}

FORMULA_CATEGORIES: dict[str, dict[str, Any]] = {
    "painting": {"labor_per_sqft": (1.5, 3.0), "material_per_sqft": (0.5, 1.0),
                 "permits": 0, "min_charge": 150},
    "drywall_repair": {"labor_per_sqft": (2.0, 4.0), "material_per_sqft": (0.75, 1.5),
                       "permits": 0, "min_charge": 100},
    "flooring": {"labor_per_sqft": (3.0, 6.0), "material_per_sqft": (2.0, 8.0),
                 "permits": 0, "min_charge": 300},
    "fence_repair": {"labor_per_linear_ft": (15, 30), "material_per_linear_ft": (10, 25),
                     "permits": 0, "min_charge": 200},
}

COMPLEX_CATEGORIES = ["foundation", "structural", "roof_replacement",
                      "hvac_replacement", "electrical_panel",
                      "plumbing_repipe", "mold_remediation", "water_damage"]
SIMPLE_KEYWORDS = [
    "replace outlet cover", "outlet cover", "switch plate", "light bulb",
    "bulb replacement", "furnace filter", "air filter", "filter replacement",
    "smoke detector battery", "battery replacement", "thermostat battery",
    "faucet aerator", "toilet flapper", "drain stopper", "door sweep",
    "weather stripping",
]
COMPLEX_KEYWORDS = [
    "foundation", "structural", "pier", "underpinning", "mold", "asbestos",
    "lead paint", "roof replacement", "reroof", "hvac replacement",
    "new system", "electrical panel", "panel upgrade", "repipe", "repiping",
    "water damage", "flood damage",
]
COMPLEX_INDICATORS = ["not working", "damaged", "broken", "multiple",
                      "several", "all"]
UNCERTAINTY_PHRASES = ["possible", "potential", "may need", "could require",
                       "extent unknown", "further inspection",
                       "evaluation required"]
HYBRID_INDICATORS = ["repair", "replace", "install", "service", "maintain",
                     "adjust"]


def _selector_measurements(description: str) -> dict | None:
    """cost_strategy_selector.py:321-346."""
    out: dict[str, int] = {}
    m = re.search(r"(\d+)\s*(?:square\s*feet|sq\.?\s*ft\.?|sf)",
                  description, re.IGNORECASE)
    if m:
        out["square_feet"] = int(m.group(1))
    m = re.search(r"(\d+)\s*(?:linear\s*feet|lf|feet|ft)", description,
                  re.IGNORECASE)
    if m and "square_feet" not in out:
        out["linear_feet"] = int(m.group(1))
    m = re.search(r"(\d+)\s*(?:units?|items?|pieces?|locations?)",
                  description, re.IGNORECASE)
    if m:
        out["quantity"] = int(m.group(1))
    return out or None


def _formula_estimate(category: str, formula: dict,
                      measurements: dict) -> dict | None:
    """cost_strategy_selector.py:348-426."""
    labor_min = labor_max = mat_min = mat_max = 0.0
    if "square_feet" in measurements:
        sqft = measurements["square_feet"]
        if "labor_per_sqft" in formula:
            lo, hi = formula["labor_per_sqft"]
            labor_min, labor_max = sqft * lo, sqft * hi
        if "material_per_sqft" in formula:
            lo, hi = formula["material_per_sqft"]
            mat_min, mat_max = sqft * lo, sqft * hi
    elif "linear_feet" in measurements:
        lf = measurements["linear_feet"]
        if "labor_per_linear_ft" in formula:
            lo, hi = formula["labor_per_linear_ft"]
            labor_min, labor_max = lf * lo, lf * hi
        if "material_per_linear_ft" in formula:
            lo, hi = formula["material_per_linear_ft"]
            mat_min, mat_max = lf * lo, lf * hi
    min_charge = formula.get("min_charge", 0)
    total_min = max(labor_min + mat_min, min_charge)
    total_max = labor_max + mat_max
    if total_max < total_min:
        total_max = total_min * 1.5
    permits = formula.get("permits", 0)
    return {
        "cost": {
            "labor": {"min": round(labor_min, 2), "max": round(labor_max, 2)},
            "materials": {"min": round(mat_min, 2), "max": round(mat_max, 2)},
            "permits": {"min": permits, "max": permits},
            "total": {"min": round(total_min + permits, 2),
                      "max": round(total_max + permits, 2)},
        },
        "source": "formula", "category": category,
        "measurements": measurements,
    }


def select_strategy_phase2(issue: dict) -> dict:
    """C19 (cost_strategy_selector.py:163-224): lookup_table /
    llm_reasoning / formula_based / hybrid decision list. Returns
    {strategy, confidence, reasoning, cost_estimate?}."""
    title = issue.get("title", "").lower()
    description = issue.get("description", "").lower()
    category = issue.get("category", "").lower()
    severity = issue.get("severity", "").lower()
    text = f"{title} {description}"

    # 1. lookup table
    text_norm = " ".join(text.split())
    for repair_name, cost_data in SIMPLE_REPAIRS.items():
        if repair_name in text_norm:
            if not any(ind in text_norm for ind in COMPLEX_INDICATORS):
                labor_min, labor_max = cost_data["labor"]
                mat_min, mat_max = cost_data["materials"]
                permits = cost_data["permits"]
                return {
                    "strategy": "lookup_table", "confidence": 0.95,
                    "reasoning": f"Standard repair: {repair_name} - using lookup table",
                    "cost_estimate": {
                        "cost": {
                            "labor": {"min": labor_min, "max": labor_max},
                            "materials": {"min": mat_min, "max": mat_max},
                            "permits": {"min": permits, "max": permits},
                            "total": {"min": labor_min + mat_min + permits,
                                      "max": labor_max + mat_max + permits},
                        },
                        "estimated_hours": cost_data["hours"],
                        "source": "lookup_table",
                        "matched_item": repair_name,
                    },
                }

    # 2. complex -> llm
    complex_repair = (
        any(kw in text for kw in COMPLEX_KEYWORDS)
        or any(cat in category for cat in COMPLEX_CATEGORIES)
        or (severity in ("critical", "high")
            and not any(kw in text for kw in SIMPLE_KEYWORDS))
        or any(p in text for p in UNCERTAINTY_PHRASES))
    if complex_repair:
        return {"strategy": "llm_reasoning", "confidence": 0.7,
                "reasoning": "Complex repair requiring expert AI analysis",
                "cost_estimate": None}

    # 3. formula
    measurements = _selector_measurements(description)
    if measurements:
        for cat_name, formula in FORMULA_CATEGORIES.items():
            if cat_name.replace("_", " ") in text:
                estimate = _formula_estimate(cat_name, formula, measurements)
                if estimate:
                    return {
                        "strategy": "formula_based", "confidence": 0.85,
                        "reasoning": f"Standard {cat_name} with measurements - using formula",
                        "cost_estimate": estimate,
                    }

    # 4. hybrid
    if (not any(kw in text for kw in SIMPLE_KEYWORDS)
            and not any(kw in text for kw in COMPLEX_KEYWORDS)
            and any(ind in text for ind in HYBRID_INDICATORS)):
        return {"strategy": "hybrid", "confidence": 0.75,
                "reasoning": ("Standard repair with calculable base cost, "
                              "AI verification recommended"),
                "cost_estimate": None}

    return {"strategy": "llm_reasoning", "confidence": 0.6,
            "reasoning": "Default to AI analysis - unclear repair type or complexity",
            "cost_estimate": None}


# ---------------------------------------------------------------------------
# J6 — Houston cost database (cost_database.py)
# ---------------------------------------------------------------------------

LABOR_RATES = {
    "general_contractor": 125, "hvac_technician": 125, "electrician": 110,
    "plumber": 100, "roofer": 85, "foundation_specialist": 150,
    "handyman": 65, "structural_engineer": 175, "pest_control": 75,
}

# flat-materials subset of the component database (cost_database.py:174-467);
# per-square / per-pier entries keep their reference keys
COMPONENTS: dict[str, dict[str, Any]] = {
    "hvac_air_handler": {
        "contractor_type": "hvac_technician",
        "labor_hours": {"min": 5, "max": 10},
        "labor_rate": LABOR_RATES["hvac_technician"],
        "materials": {"min": 1500, "max": 4000}, "permits": 150,
        "additional_costs": {"ductwork_sealing": 200}, "confidence": 0.85,
    },
    "hvac_duct_repair": {
        "contractor_type": "hvac_technician",
        "labor_hours": {"min": 2, "max": 4},
        "labor_rate": LABOR_RATES["hvac_technician"],
        "materials": {"min": 150, "max": 400}, "permits": 0,
        "additional_costs": {}, "confidence": 0.85,
    },
    "ac_condenser_unit": {
        "contractor_type": "hvac_technician",
        "labor_hours": {"min": 4, "max": 8},
        "labor_rate": LABOR_RATES["hvac_technician"],
        "materials": {"2_ton": {"min": 1200, "max": 2500},
                      "3_ton": {"min": 1800, "max": 3500},
                      "4_ton": {"min": 2400, "max": 4500},
                      "5_ton": {"min": 3000, "max": 5500}},
        "permits": 150,
        "additional_costs": {"refrigerant": 150, "disposal_fee": 75,
                             "electrical_disconnect": 100},
        "confidence": 0.9,
    },
    "water_heater": {
        "contractor_type": "plumber",
        "labor_hours": {"min": 3, "max": 5},
        "labor_rate": LABOR_RATES["plumber"],
        "materials": {"40_gallon_gas": {"min": 600, "max": 1200},
                      "50_gallon_gas": {"min": 700, "max": 1400},
                      "40_gallon_electric": {"min": 450, "max": 900},
                      "50_gallon_electric": {"min": 500, "max": 1000},
                      "tankless_gas": {"min": 1200, "max": 2500},
                      "tankless_electric": {"min": 800, "max": 1800}},
        "permits": 150,
        "additional_costs": {"pan_and_drain": 100, "expansion_tank": 150,
                             "haul_away": 50},
        "confidence": 0.9,
    },
    "slab_leak_repair": {
        "contractor_type": "plumber",
        "labor_hours": {"min": 8, "max": 16},
        "labor_rate": LABOR_RATES["plumber"] * 1.3,
        "materials": {"min": 300, "max": 800}, "permits": 150,
        "additional_costs": {"concrete_cutting": 400, "leak_detection": 250,
                             "concrete_repair": 350},
        "confidence": 0.7,
    },
    "drain_line_repair": {
        "contractor_type": "plumber",
        "labor_hours": {"min": 2, "max": 6},
        "labor_rate": LABOR_RATES["plumber"],
        "materials": {"min": 100, "max": 400}, "permits": 100,
        "additional_costs": {}, "confidence": 0.8,
    },
    "electrical_panel": {
        "contractor_type": "electrician",
        "labor_hours": {"min": 6, "max": 10},
        "labor_rate": LABOR_RATES["electrician"],
        "materials": {"100_amp": {"min": 800, "max": 1500},
                      "150_amp": {"min": 1200, "max": 2000},
                      "200_amp": {"min": 1500, "max": 2500}},
        "permits": 250,
        "additional_costs": {"meter_base": 200, "ground_rod": 150},
        "confidence": 0.9,
    },
    "gfci_outlet": {
        "contractor_type": "electrician",
        "labor_hours": {"min": 0.5, "max": 1},
        "labor_rate": LABOR_RATES["electrician"],
        "materials": {"min": 15, "max": 40}, "permits": 0,
        "additional_costs": {}, "confidence": 0.95,
    },
    "roof_leak_repair": {
        "contractor_type": "roofer",
        "labor_hours": {"min": 1, "max": 4},
        "labor_rate": LABOR_RATES["roofer"],
        "materials": {"min": 50, "max": 200}, "permits": 0,
        "additional_costs": {}, "confidence": 0.75,
    },
    "foundation_crack_repair": {
        "contractor_type": "foundation_specialist",
        "labor_hours": {"min": 2, "max": 4},
        "labor_rate": LABOR_RATES["foundation_specialist"],
        "materials": {"min": 100, "max": 300}, "permits": 0,
        "additional_costs": {"epoxy_injection": 200}, "confidence": 0.75,
    },
    "drywall_repair": {
        "contractor_type": "handyman",
        "labor_hours": {"min": 1, "max": 3},
        "labor_rate": LABOR_RATES["handyman"],
        "materials": {"min": 20, "max": 75}, "permits": 0,
        "additional_costs": {"paint_matching": 50}, "confidence": 0.9,
    },
}

_COMPONENT_ALIASES = {
    "ac": ["condenser", "air conditioning", "cooling"],
    "water heater": ["hot water", "heater"],
    "electrical": ["electric", "wiring"],
    "roof": ["roofing", "shingles"],
    "foundation": ["slab", "pier"],
}


def _normalize_component(component: str) -> str:
    """cost_database.py:462-476."""
    normalized = component.lower().strip()
    for word in ("the", "a", "an", "replacement", "repair", "installation"):
        normalized = normalized.replace(f" {word} ", " ")
        normalized = normalized.replace(f"{word} ", "")
    return " ".join(normalized.split())


def _matches_component(query: str, key: str) -> bool:
    """cost_database.py:478-501."""
    qw = set(query.split())
    kw = set(key.replace("_", " ").split())
    if len(qw & kw) >= 2:
        return True
    for alias, variations in _COMPONENT_ALIASES.items():
        if alias in query and any(v in key for v in variations):
            return True
    return False


def cost_db_lookup(component: str, specifications: str | None = None,
                   context: dict | None = None) -> dict | None:
    """J6 (cost_database.py:64-109): normalized/fuzzy component lookup with
    spec and context adjustments."""
    import copy

    query = _normalize_component(component)
    for key, data in COMPONENTS.items():
        if _matches_component(query, key):
            cost_data = copy.deepcopy(data)
            if specifications:
                spec = specifications.lower()
                materials = cost_data.get("materials", {})
                if isinstance(materials, dict) \
                        and any(isinstance(v, dict) for v in materials.values()):
                    for mkey, mval in materials.items():
                        if isinstance(mval, dict) \
                                and any(t in spec for t in mkey.split("_")):
                            cost_data["materials"] = mval
                            cost_data["specification_matched"] = mkey
                            break
            if context:
                age = context.get("property_age")
                if age and age > 30:
                    cost_data["labor_hours"]["min"] *= 1.1
                    cost_data["labor_hours"]["max"] *= 1.2
                if context.get("access_difficulty", "normal") == "difficult":
                    cost_data["labor_hours"]["min"] *= 1.2
                    cost_data["labor_hours"]["max"] *= 1.4
                q = context.get("information_quality", "medium")
                if q == "low":
                    cost_data["confidence"] *= 0.8
                elif q == "high":
                    cost_data["confidence"] = min(
                        0.95, cost_data["confidence"] * 1.1)
            return cost_data
    return None


def cost_db_estimate(component: str, specifications: str | None = None,
                     context: dict | None = None) -> dict | None:
    """J6 (cost_database.py:111-172): full estimate from the lookup."""
    cost_data = cost_db_lookup(component, specifications, context)
    if not cost_data:
        return None
    materials = cost_data["materials"]
    if isinstance(materials, dict) and "min" not in materials:
        # variant table without a matching spec: no flat price to use
        return None
    labor_low = cost_data["labor_hours"]["min"] * cost_data["labor_rate"]
    labor_high = cost_data["labor_hours"]["max"] * cost_data["labor_rate"]
    permits = cost_data.get("permits", 0)
    additional = sum(cost_data.get("additional_costs", {}).values())
    low = labor_low + materials["min"] + permits + additional
    high = labor_high + materials["max"] + permits + additional
    return {
        "estimated_low": round(low, 2), "estimated_high": round(high, 2),
        "confidence": cost_data.get("confidence", 0.8),
        "contractor_type": cost_data.get("contractor_type",
                                         "general_contractor"),
    }


# ---------------------------------------------------------------------------
# C21 — Houston market adjustments (houston_cost_multipliers.py:41-340)
# ---------------------------------------------------------------------------

LABOR_MULTIPLIERS = {"hvac": 1.15, "plumbing": 1.12, "electrical": 1.10,
                     "roofing": 1.15, "foundation": 1.25, "structural": 1.20,
                     "general": 1.08, "default": 1.10}
MATERIAL_MULTIPLIERS = {"hvac": 1.10, "roofing": 1.08, "foundation": 1.15,
                        "insulation": 1.05, "humidity_control": 1.12,
                        "default": 1.00}
PERMIT_COSTS = {"electrical": {"min": 150, "max": 300},
                "plumbing": {"min": 125, "max": 250},
                "mechanical": {"min": 175, "max": 350},
                "structural": {"min": 300, "max": 600},
                "roofing": {"min": 200, "max": 400},
                "none": {"min": 0, "max": 0}}
CLIMATE_ADJUSTMENTS = {
    "foundation": {"drainage_factor": 1.10, "pier_premium": 1.15,
                   "soil_testing": 500},
    "hvac": {"efficiency_premium": 1.08, "humidity_control": 300,
             "runtime_factor": 1.05},
    "roofing": {"hurricane_rating": 1.10, "uv_resistance": 1.05,
                "ventilation": 200},
    "exterior": {"moisture_resistance": 1.08, "uv_protection": 1.05},
}
PERMIT_KEYWORDS = {
    "electrical": ["electrical", "panel", "circuit", "wiring", "breaker",
                   "outlet", "switch", "lighting", "electric"],
    "plumbing": ["plumbing", "pipe", "water line", "drain", "sewer",
                 "water heater", "fixture", "faucet", "toilet"],
    "mechanical": ["hvac", "air conditioning", "furnace", "heating",
                   "cooling", "ductwork", "ventilation", "ac unit"],
    "structural": ["foundation", "structural", "beam", "joist",
                   "load bearing", "pier", "support", "framing"],
    "roofing": ["roof", "roofing", "shingles", "decking", "flashing"],
}
NO_PERMIT_PHRASES = ["replace filter", "change filter", "battery",
                     "light bulb", "outlet cover", "switch plate",
                     "minor", "small repair", "touch up"]
TRADE_KEYWORDS = {
    "hvac": ["hvac", "air conditioning", "heating", "cooling", "furnace", "ac"],
    "plumbing": ["plumb", "pipe", "water", "drain", "sewer", "faucet", "toilet"],
    "electrical": ["electric", "wiring", "panel", "circuit", "outlet", "switch"],
    "roofing": ["roof", "shingle", "flashing", "gutter"],
    "foundation": ["foundation", "pier", "slab", "crawlspace"],
    "structural": ["structural", "beam", "joist", "support", "framing"],
}


def determine_trade_type(text: str, category: str) -> str:
    """houston_cost_multipliers.py:299-318."""
    tl, cl = text.lower(), category.lower()
    for trade, keywords in TRADE_KEYWORDS.items():
        if any(k in tl or k in cl for k in keywords):
            return trade
    return "general"


def determine_permit_type(text: str) -> str:
    """houston_cost_multipliers.py:320-337."""
    tl = text.lower()
    for permit_type, keywords in PERMIT_KEYWORDS.items():
        if any(k in tl for k in keywords):
            if not any(p in tl for p in NO_PERMIT_PHRASES):
                return permit_type
    return "none"


def houston_adjust(base_estimate: dict, issue: dict) -> dict:
    """C21 (houston_cost_multipliers.py:147-297): labor/material
    multipliers, permit additions, climate adjustments."""
    category = issue.get("category", "").lower()
    text = (f"{issue.get('title', '').lower()} "
            f"{issue.get('description', '').lower()}")
    trade = determine_trade_type(text, category)

    cost = base_estimate.get("cost", {})
    labor = dict(cost.get("labor", {"min": 0, "max": 0}))
    materials = dict(cost.get("materials", {"min": 0, "max": 0}))
    permits = dict(cost.get("permits", {"min": 0, "max": 0}))

    lm = LABOR_MULTIPLIERS.get(trade, LABOR_MULTIPLIERS["default"])
    labor = {"min": round(labor["min"] * lm, 2),
             "max": round(labor["max"] * lm, 2)}
    mm = MATERIAL_MULTIPLIERS.get(trade, MATERIAL_MULTIPLIERS["default"])
    materials = {"min": round(materials["min"] * mm, 2),
                 "max": round(materials["max"] * mm, 2)}

    permit_type = determine_permit_type(text)
    permit_cost = PERMIT_COSTS[permit_type]
    if permit_type != "none" and permits.get("max", 0) < permit_cost["min"]:
        permits = dict(permit_cost)

    climate_amount = 0
    for climate_cat, adjustments in CLIMATE_ADJUSTMENTS.items():
        if climate_cat in text or climate_cat in category:
            if "drainage_factor" in adjustments:
                materials["max"] += round(
                    materials["max"] * (adjustments["drainage_factor"] - 1), 2)
            if "hurricane_rating" in adjustments:
                materials["max"] += round(
                    materials["max"] * (adjustments["hurricane_rating"] - 1), 2)
            if "efficiency_premium" in adjustments:
                materials["max"] += round(
                    materials["max"] * (adjustments["efficiency_premium"] - 1), 2)
            for key in ("soil_testing", "humidity_control", "ventilation"):
                if key in adjustments:
                    climate_amount += adjustments[key]

    total = {"min": round(labor["min"] + materials["min"] + permits["min"]
                          + climate_amount, 0),
             "max": round(labor["max"] + materials["max"] + permits["max"]
                          + climate_amount, 0)}
    return {
        "cost": {"labor": labor, "materials": materials, "permits": permits,
                 "total": total},
        "labor_multiplier": lm, "material_multiplier": mm,
        "permit_type": permit_type, "climate_adjustment": climate_amount,
        "trade": trade,
    }


# ---------------------------------------------------------------------------
# C20 — multi-dimensional confidence scorer (confidence_scorer.py:32-456)
# ---------------------------------------------------------------------------

CONFIDENCE_WEIGHTS = {
    "description_completeness": 0.15, "has_measurements": 0.10,
    "has_photos": 0.10, "has_location": 0.05,
    "database_match": 0.15, "market_data_availability": 0.10,
    "estimate_range_quality": 0.10, "reasoning_quality": 0.05,
    "age_uncertainty": 0.07, "access_difficulty": 0.07,
    "hidden_damage_risk": 0.06,
}
CONFIDENCE_THRESHOLDS = {"excellent": 85, "good": 70, "fair": 55, "poor": 40}

_DETAIL_KEYWORDS = ["crack", "leak", "damaged", "worn", "corrosion", "rust",
                    "missing", "broken", "deteriorated", "sagging", "stain"]
_MEASUREMENT_PATTERNS = [r"\d+\s*(inch|foot|ft|cm|mm)", r"\d+\s*[\"\']",
                         r"\d+x\d+", r"\d+\s*(sq|square)\s*(ft|feet)"]
_SPECIFIC_LOCATIONS = ["northeast", "northwest", "southeast", "southwest",
                       "front", "rear", "side", "left", "right", "bedroom",
                       "bathroom", "kitchen", "garage", "attic", "basement",
                       "crawl space"]
_GENERAL_LOCATIONS = ["exterior", "interior", "roof", "foundation", "wall"]
_HIGH_DATA_CATS = ["hvac", "plumbing", "electrical", "roofing", "painting"]
_LOW_DATA_CATS = ["structural", "foundation", "specialty"]
_AGE_CRITICAL = {"hvac": (15, 20), "water heater": (10, 15), "roof": (20, 25),
                 "electrical panel": (30, 40), "foundation": (50, 70)}
_DIFFICULT_ACCESS = ["attic", "crawl space", "under slab", "behind wall",
                     "inaccessible", "difficult access", "hard to reach",
                     "underground", "buried"]
_EASY_ACCESS = ["visible", "accessible", "exposed", "open", "exterior",
                "garage"]
_HIGH_RISK = ["leak", "water damage", "moisture", "mold", "foundation crack",
              "structural", "termite", "extensive", "severe"]
_VAGUE_PHRASES = ["depends", "varies", "uncertain", "unclear", "unknown"]


def _score_description(description: str) -> float:
    if not description:
        return 0.0
    low = description.lower()
    if len(description) < 20:
        score = 30.0
    elif len(description) < 50:
        score = 50.0
    elif len(description) < 100:
        score = 70.0
    else:
        score = 85.0
    score += min(15, sum(1 for k in _DETAIL_KEYWORDS if k in low) * 3)
    if any(u in low for u in ["inch", "foot", "ft", '"', "'", "cm", "mm"]):
        score += 10
    return min(100.0, score)


def _score_measurements(issue: dict) -> float:
    description = issue.get("issue", "") + " " + issue.get("description", "")
    if "measurements" in issue or "dimensions" in issue:
        return 100.0
    for pattern in _MEASUREMENT_PATTERNS:
        if re.search(pattern, description.lower()):
            return 90.0
    return 50.0


def _score_location(location: str) -> float:
    if not location or location.lower() in ("not specified", "unknown", "n/a"):
        return 30.0
    low = location.lower()
    if any(k in low for k in _SPECIFIC_LOCATIONS):
        return 100.0
    if any(k in low for k in _GENERAL_LOCATIONS):
        return 70.0
    return 50.0


def _score_market_data(category: str) -> float:
    low = category.lower()
    if any(c in low for c in _HIGH_DATA_CATS):
        return 90.0
    if any(c in low for c in _LOW_DATA_CATS):
        return 60.0
    return 75.0


def _score_range_quality(estimate: dict) -> float:
    low = estimate.get("estimated_low", 0)
    high = estimate.get("estimated_high", 0)
    if low <= 0 or high <= 0 or low >= high:
        return 0.0
    ratio = high / low
    if 1.3 <= ratio <= 2.5:
        return 100.0
    elif 1.2 <= ratio <= 3.0:
        return 85.0
    elif 1.1 <= ratio <= 4.0:
        return 70.0
    elif ratio < 1.1:
        return 40.0
    return 50.0


def _score_reasoning(reasoning: str) -> float:
    if not reasoning:
        return 0.0
    low = reasoning.lower()
    if len(reasoning) < 50:
        score = 20.0
    elif len(reasoning) < 150:
        score = 60.0
    elif len(reasoning) < 300:
        score = 80.0
    else:
        score = 90.0
    if "labor" in low or "hours" in low:
        score += 5
    if "material" in low or "supplies" in low:
        score += 5
    if "houston" in low or "market" in low:
        score += 5
    score -= sum(1 for p in _VAGUE_PHRASES if p in low) * 5
    return max(0.0, min(100.0, score))


def _score_age(property_age: int | None, item: str) -> float:
    if property_age is None:
        return 60.0
    low = item.lower()
    for key, (typical, uncertain) in _AGE_CRITICAL.items():
        if key in low:
            if property_age <= typical:
                return 90.0
            elif property_age <= uncertain:
                return 70.0
            return 50.0
    return 80.0


def _score_access(location: str, description: str) -> float:
    text = (location + " " + description).lower()
    if any(k in text for k in _DIFFICULT_ACCESS):
        return 50.0
    if any(k in text for k in _EASY_ACCESS):
        return 95.0
    return 75.0


def _score_hidden_damage(description: str, severity: str) -> float:
    low = description.lower()
    n = sum(1 for k in _HIGH_RISK if k in low)
    if n >= 2 or severity.lower() == "critical":
        return 40.0
    elif n == 1 or severity.lower() == "high":
        return 60.0
    return 85.0


def confidence_score(estimate: dict, issue: dict,
                     property_age: int | None = None,
                     has_photos: bool = False,
                     database_match_score: float | None = None) -> dict:
    """C20 (confidence_scorer.py:61-162): 11-dimension weighted score."""
    scores = {
        "description_completeness": _score_description(
            issue.get("issue", issue.get("description", ""))),
        "has_measurements": _score_measurements(issue),
        "has_photos": 100.0 if has_photos else 60.0,
        "has_location": _score_location(issue.get("location", "")),
        "database_match": (database_match_score * 100)
        if database_match_score else 50.0,
        "market_data_availability": _score_market_data(
            issue.get("category", "")),
        "estimate_range_quality": _score_range_quality(estimate),
        "reasoning_quality": _score_reasoning(estimate.get("reasoning", "")),
        "age_uncertainty": _score_age(property_age, issue.get("item", "")),
        "access_difficulty": _score_access(issue.get("location", ""),
                                           issue.get("issue", "")),
        "hidden_damage_risk": _score_hidden_damage(issue.get("issue", ""),
                                                   issue.get("severity", "")),
    }
    overall = sum(scores[d] * CONFIDENCE_WEIGHTS[d] for d in scores)
    return {
        "overall": round(overall, 1),
        "breakdown": {k: round(v, 1) for k, v in scores.items()},
        "inspection_needed": overall < CONFIDENCE_THRESHOLDS["fair"],
        "manual_review_needed": overall < CONFIDENCE_THRESHOLDS["good"],
    }


# ---------------------------------------------------------------------------
# Hybrid estimator routing (hybrid_cost_estimator.py:86-341) — the
# deterministic fallback-chain skeleton: C19 picks the strategy; lookup /
# formula answer from their own tables; hybrid / llm_reasoning (the
# branches that would call an LLM) fall back to the severity heuristic;
# C21 Houston adjustment is applied to whichever estimator answered.
# The chain metadata (which estimator answered, fallback depth) is
# first-class output — round-2 verdict item 7.
# ---------------------------------------------------------------------------

# hybrid_cost_estimator.py:247-283 (_create_minimal_estimate)
FALLBACK_COSTS = {"critical": (500, 2000), "high": (500, 2000),
                  "medium": (200, 800)}
FALLBACK_COSTS_DEFAULT = (100, 400)

# hybrid_cost_estimator.py:300-318 (_determine_contractor_type; dict order
# is the match order)
CONTRACTOR_KEYWORDS = {
    "Electrician": ["electric", "wiring", "panel", "circuit", "outlet"],
    "Plumber": ["plumb", "pipe", "water", "drain", "leak", "faucet"],
    "HVAC Technician": ["hvac", "air conditioning", "heating", "furnace",
                        "ac"],
    "Roofer": ["roof", "shingle", "flashing", "gutter"],
    "Foundation Specialist": ["foundation", "pier", "slab", "settling"],
    "Structural Engineer": ["structural", "beam", "load bearing", "support"],
}


def determine_contractor_type(issue: dict) -> str:
    """hybrid_cost_estimator.py:300-318."""
    text = (f"{issue.get('title', '')} {issue.get('description', '')} "
            f"{issue.get('category', '')}").lower()
    for contractor, keywords in CONTRACTOR_KEYWORDS.items():
        if any(k in text for k in keywords):
            return contractor
    return "General Contractor"


def determine_urgency(severity: str) -> str:
    """hybrid_cost_estimator.py:320-333."""
    low = severity.lower() if isinstance(severity, str) else "medium"
    if low == "critical":
        return "immediate"
    if low == "high":
        return "urgent"
    if low == "medium":
        return "normal"
    return "low"


def _minimal_estimate(issue: dict) -> dict:
    """hybrid_cost_estimator.py:247-283: severity-banded fallback, 60/40
    labor/materials split, no permits, confidence 0.4."""
    severity = issue.get("severity", "Medium")
    low = severity.lower() if isinstance(severity, str) else "medium"
    lo, hi = FALLBACK_COSTS.get(low, FALLBACK_COSTS_DEFAULT)
    return {
        "cost": {
            "labor": {"min": lo * 0.6, "max": hi * 0.6},
            "materials": {"min": lo * 0.4, "max": hi * 0.4},
            "permits": {"min": 0, "max": 0},
            "total": {"min": lo, "max": hi},
        },
        "contractor_type": "General",
        "urgency": determine_urgency(low),
        "confidence_score": 0.4,
        "source": "fallback_heuristic",
    }


def hybrid_estimate(issue: dict, apply_houston: bool = True) -> dict:
    """Deterministic hybrid-estimator chain
    (hybrid_cost_estimator.py:86-180 with ai_estimator_func=None — the
    only configuration with no LLM in the loop):

    1. C19 select_strategy_phase2 picks lookup/formula/hybrid/llm.
    2. lookup_table / formula_based answer from their own estimate;
       hybrid and llm_reasoning (the LLM branches) fall back to the
       severity heuristic (hybrid_cost_estimator.py:225-245 warning
       path), as does a selected strategy with no estimate attached.
    3. C21 houston_adjust runs on whichever estimator answered.

    Returns flat chain metadata + final costs:
    estimator_used is the estimator that actually produced the numbers,
    fallback_depth is 0 when the selected strategy answered itself and
    1 when the chain fell through to the severity heuristic."""
    sel = select_strategy_phase2(issue)
    strategy = sel["strategy"]
    ce = sel.get("cost_estimate")

    if strategy == "lookup_table" and ce:
        base = dict(ce)
        # hybrid_cost_estimator.py:182-199: fixed decorations
        contractor = "General"
        urgency = determine_urgency(issue.get("severity", "Low"))
        estimator_used, fallback_depth = "lookup_table", 0
        est_conf = None
    elif strategy == "formula_based" and ce:
        base = dict(ce)
        # hybrid_cost_estimator.py:201-218
        contractor = determine_contractor_type(issue)
        urgency = determine_urgency(issue.get("severity", "Medium"))
        estimator_used, fallback_depth = "formula_based", 0
        est_conf = None
    else:
        base = _minimal_estimate(issue)
        contractor = base["contractor_type"]
        urgency = base["urgency"]
        estimator_used, fallback_depth = "fallback_heuristic", 1
        est_conf = base["confidence_score"]

    if apply_houston:
        adj = houston_adjust(base, issue)
        cost = adj["cost"]
        houston = {"houston_adjusted": True, "trade": adj["trade"],
                   "permit_type": adj["permit_type"]}
    else:
        cost = base["cost"]
        houston = {"houston_adjusted": False, "trade": None,
                   "permit_type": None}

    return {
        "strategy": strategy,
        "strategy_confidence": sel["confidence"],
        "estimator_used": estimator_used,
        "fallback_depth": fallback_depth,
        "estimate_confidence": est_conf,
        "contractor_type": contractor,
        "urgency": urgency,
        "total_min": float(cost["total"]["min"]),
        "total_max": float(cost["total"]["max"]),
        **houston,
    }
