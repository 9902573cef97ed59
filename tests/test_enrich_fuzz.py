"""Adversarial parity fuzz: the production enrichment plan
(plans/enrichment.enrich_extracted, the mapInArrow pass the jobs run)
must stay field-identical to the all-python enrich_document path on
hostile issue corpora — unicode text, empty/giant descriptions, odd
statuses, boilerplate titles, measurement soup, zero to three pages —
after the issues cross the Spark<->Arrow struct mapping both ways. Complements
test_enrichment.py's standard-corpus parity with the nasty tail."""

import math
import random

from pdf_extraction_spark import enrich_rules as er
from pdf_extraction_spark.plans.enrichment import enrich_extracted

DESCS = [
    "",
    "   ",
    "safety hazard: exposed wiring near panel",
    "crack measuring 12 x 8 feet in the ceiling",
    "area of 1,250 sq ft affected by moisture",
    "replace 25% of the shingles, about 300 square feet",
    "water leak at 5 ft pipe \x22quoted\x22 run",
    "Comments: GFCI outlet not functioning in master bathroom",
    "HVAC unit requires further inspection by licensed technician",
    "mold growth observed throughout the crawl space",
    "þorn “smart” – text — with NBSP and 12 feet of trim",
    "漢字 damage near the 水 heater, replace 10 sq ft",
    "x" * 3000,
    ("repair and replace damaged section " * 50).strip(),
    "no issues observed - functional",
    "GENERAL FINDINGS",
    "Observations",
    "It is recommended that professionals evaluate",
    "minor wear",
    "The electrical panel cover is loose. Recommend repair. D",
    "foundation settlement causing drywall cracks at 3 locations",
    "window seal failed; condensation between panes 2x4 ft",
    "roof leak staining ceiling; attic insulation wet 100 sqft",
    "price estimate $2,500 - $4,000 for full replacement",
    "¡exclamation! ¿question? ümlaut ß sharp",
]
SECTIONS = ["I. STRUCTURAL SYSTEMS", "II. ELECTRICAL SYSTEMS",
            "III. HEATING", "HEADER"]
STATUSES = ["D", "I", "NI", "NP", None]
TITLES = ["Ceiling crack", "Panel issue", "", "Comments:", "LOUD TITLE",
          "a" * 200]


def gen(n_docs, seed):
    rng = random.Random(seed)
    docs = []
    for d in range(n_docs):
        n = rng.randint(0, 14)
        issues = []
        for i in range(n):
            sec = rng.choice(SECTIONS)
            issues.append({
                "id": f"{sec}_{i}",
                "section": sec,
                "subsection": rng.choice(["A. Foundations", "", "B. Roof"]),
                "status": rng.choice(STATUSES),
                "priority": rng.choice(["high", "medium", "low", "info"]),
                "title": rng.choice(TITLES),
                "description": rng.choice(DESCS) + (
                    " " + rng.choice(DESCS) if rng.random() < 0.4 else ""),
                "page_numbers": sorted(rng.sample(range(1, 41),
                                                  rng.randint(0, 3))),
                "estimated_cost": (
                    {"min": 100.0, "max": 900.0, "average": 500.0}
                    if rng.random() < 0.3 else None),
            })
        docs.append((f"e{d:04d}", issues))
    return docs


BOOLS = ("is_duplicate", "needs_manual_review",
         "requires_specialized_labor", "is_grouped")
STRS = ("id", "section", "status", "priority", "title", "description",
        "standard_category", "standard_subcategory", "standard_severity",
        "standard_action", "cost_strategy", "matched_standard_item")
FLOATS = ("severity_confidence", "action_confidence", "category_confidence",
          "data_quality_score", "urgency_score", "complexity_factor",
          "strategy_confidence")


def test_enrich_parity_on_adversarial_issues(spark):
    docs = gen(50, seed=1)
    schema = (
        "doc_id string, issues array<struct<id string, section string, "
        "subsection string, status string, priority string, title string, "
        "description string, page_numbers array<int>, "
        "estimated_cost struct<min double, max double, average double>>>")
    rows = [(d, [(i["id"], i["section"], i["subsection"], i["status"],
                  i["priority"], i["title"], i["description"],
                  i["page_numbers"],
                  (i["estimated_cost"]["min"], i["estimated_cost"]["max"],
                   i["estimated_cost"]["average"])
                  if i["estimated_cost"] else None)
                 for i in issues]) for d, issues in docs]
    sdf = spark.createDataFrame(rows, schema).repartition(4)

    want = {d: er.enrich_document([dict(i) for i in issues])
            for d, issues in docs}
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in enrich_extracted(sdf).collect()}

    for doc_id, res in want.items():
        out = got[doc_id]
        assert len(out["issues"]) == len(res["issues"]), doc_id
        assert out["n_excluded"] == res["n_excluded"], doc_id
        for order, (row, issue) in enumerate(zip(out["issues"],
                                                 res["issues"])):
            ctx = f"{doc_id}#{order}"
            for k in BOOLS:
                assert row[k] == bool(issue.get(k, False)), f"{ctx}.{k}"
            for k in STRS:
                assert row[k] == issue.get(k), \
                    f"{ctx}.{k}: {row[k]!r} != {issue.get(k)!r}"
            assert row["page_numbers"] == issue["page_numbers"], \
                f"{ctx}.page_numbers"
            for k in FLOATS:
                assert math.isclose(row[k], issue.get(k), abs_tol=1e-9), \
                    f"{ctx}.{k}: {row[k]} != {issue.get(k)}"
            cls = issue.get("classification", {})
            for k in ("trade", "work_type", "complexity"):
                assert row["classification"][k] == cls.get(k), f"{ctx}.{k}"
        est = [(e["issue_id"], e["estimated_low"], e["estimated_high"])
               for e in res["estimates"]]
        assert [(e["issue_id"], e["estimated_low"], e["estimated_high"])
                for e in out["estimates"]] == est, doc_id
