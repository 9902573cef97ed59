"""Enrichment pipeline tests.

1. Reference-derived behavioural expectations on the 6-issue SAMPLE corpus
   (transcribed from /root/reference/tests/test_enrichment_pipeline.py:23-90
   and its asserts at :103-328).
2. Spark (the mapInArrow enrichment pass) vs direct-python golden
   equality on the synthetic extraction corpus.
"""

import math

import pytest
from pyspark.sql.types import StructType

from pdf_extraction_spark import corpus, enrich_rules as er, oracle
from pdf_extraction_spark.plans.enrichment import enrich_extracted
from pdf_extraction_spark.plans.fused import OUTPUT_SCHEMA, assemble_fused

SAMPLE_ISSUES = [
    {
        "id": "TEST_001", "section": "II. PLUMBING SYSTEM",
        "subsection": "Water Heater", "status": "D", "priority": "high",
        "title": "Water heater showing signs of age and minor corrosion",
        "description": ("The water heater in the utility room shows signs of "
                        "age with minor surface rust on the tank. Unit is "
                        "approximately 12 years old. Recommend replacement or "
                        "further evaluation by licensed plumber."),
        "page_numbers": [15], "estimated_cost": None,
    },
    {
        "id": "TEST_002", "section": "I. STRUCTURAL SYSTEMS",
        "subsection": "Foundation", "status": "D", "priority": "critical",
        "title": "Significant cracks observed in foundation",
        "description": ("Multiple cracks approximately 2-3 inches wide "
                        "observed in concrete foundation at northwest corner. "
                        "Water staining present. Immediate evaluation by "
                        "structural engineer recommended for safety."),
        "page_numbers": [8], "estimated_cost": None,
    },
    {
        "id": "TEST_003", "section": "III. ELECTRICAL SYSTEM",
        "subsection": "Outlets", "status": "D", "priority": "medium",
        "title": "GFCI outlets missing in bathroom",
        "description": ("Bathroom outlets near sink do not have GFCI "
                        "protection. Install GFCI outlets per current "
                        "electrical code requirements."),
        "page_numbers": [12], "estimated_cost": None,
    },
    {
        "id": "TEST_004", "section": "III. ELECTRICAL SYSTEM",
        "subsection": "Outlets", "status": "D", "priority": "medium",
        "title": "GFCI outlet not functioning in kitchen",
        "description": ("Kitchen GFCI outlet near sink failed to trip during "
                        "testing. Replace GFCI outlet."),
        "page_numbers": [12], "estimated_cost": None,
    },
    {
        "id": "TEST_005", "section": "IV. HVAC SYSTEM",
        "subsection": "Air Conditioning", "status": "D", "priority": "high",
        "title": "AC unit not cooling efficiently",
        "description": ("Central air conditioning unit in backyard showing "
                        "reduced cooling capacity. System is 18 years old and "
                        "may need replacement. Further evaluation by HVAC "
                        "technician recommended."),
        "page_numbers": [18], "estimated_cost": None,
    },
    {
        "id": "TEST_006", "section": "V. ROOFING", "subsection": "Shingles",
        "status": "D", "priority": "low",
        "title": "Minor shingle damage on south side",
        "description": ("A few damaged shingles observed on south-facing roof "
                        "section. Cosmetic issue, monitor for now. Consider "
                        "repair during next maintenance cycle."),
        "page_numbers": [20], "estimated_cost": None,
    },
]


def test_sample_issues_pipeline():
    result = er.enrich_document([dict(i) for i in SAMPLE_ISSUES])
    issues = {i["id"]: i for i in result["issues"]}
    assert len(issues) == 6  # none excluded

    # severity: status 'D' -> high base; safety/foundation boosters
    assert issues["TEST_002"]["standard_severity"] == "critical"  # high + safety
    assert issues["TEST_001"]["standard_severity"] in ("high", "critical")

    # taxonomy (test_enrichment_pipeline.py:188-192)
    assert issues["TEST_006"]["standard_category"] == "Roofing"
    # Reference quirk preserved: the HVAC alias 'ac' matches as a SUBSTRING
    # of 'cracks' (component_taxonomy.py:210-214 checks `alias in context`),
    # so the foundation-crack issue classifies as HVAC, exactly as the
    # reference does.
    assert issues["TEST_002"]["standard_category"] == "HVAC"

    # attributes: foundation issue is safety-flagged, water damage detected
    attrs2 = issues["TEST_002"]["extracted_attributes"]
    assert issues["TEST_002"]["safety_flag"] is True
    assert "water_damage" in attrs2["damage_types"]
    assert "crack" in attrs2["damage_types"]

    # classification: GFCI issue -> electrical trade. (TEST_004 lands on
    # hvac via the same 'ac'-substring quirk: 'replace' contains 'ac', so
    # its standard_category is HVAC and the +5 category boost wins.)
    assert issues["TEST_003"]["classification"]["trade"] == "electrical"
    assert issues["TEST_004"]["classification"]["trade"] == "hvac"

    # grouping: TEST_001 (water heater, inspection) and TEST_005 (AC,
    # inspection) both classify hvac/further_inspection -> they share the
    # trade_hvac_inspection group (J4, issue_grouper.py:56-58)
    g1 = set(issues["TEST_001"]["grouped_with"])
    g5 = set(issues["TEST_005"]["grouped_with"])
    assert g1 & g5, "hvac inspection pair should be grouped together"
    assert issues["TEST_001"]["is_grouped"]

    # strategies assigned from the decision list
    for issue in issues.values():
        assert issue["cost_strategy"] in ("lookup_table", "ml_model",
                                          "llm_reasoning")

    # estimates: every kept issue estimated, plumbing/electrical categories hit
    ests = {e["issue_id"]: e for e in result["estimates"]}
    assert ests["TEST_003"]["category"] == "electrical"
    assert ests["TEST_001"]["category"] == "plumbing"
    for e in ests.values():
        assert e["estimated_low"] <= e["estimated_high"]

    # summary shape (A2)
    s = result["summary"]
    assert s["total_issues"] == 6
    assert s["safety_issues"] >= 1
    assert 0 < s["avg_urgency"] <= 10


def test_quality_gate_excludes():
    bad = [
        {"id": "B1", "section": "HEADER", "status": "I", "priority": "info",
         "title": "x", "description": "Report Number: 12345",
         "page_numbers": [1], "estimated_cost": None},
        {"id": "B2", "section": "I. S", "status": "I", "priority": "info",
         "title": "Comments:", "description": "Comments:",
         "page_numbers": [1], "estimated_cost": None},
        {"id": "B3", "section": "I. S", "status": "I", "priority": "info",
         "title": "ok", "description": "No issues observed.",
         "page_numbers": [1], "estimated_cost": None},
        {"id": "G1", "section": "I. S", "status": "D", "priority": "high",
         "title": "Ceiling fan not functioning",
         "description": ("Comments: Ceiling fan in master bedroom is not "
                         "functioning; recommend repair of the fixture by an "
                         "electrician."),
         "page_numbers": [2], "estimated_cost": None},
    ]
    result = er.enrich_document(bad)
    kept_ids = [i["id"] for i in result["issues"]]
    assert kept_ids == ["G1"]
    assert result["n_excluded"] == 3


def test_dedup_per_document():
    a = {"id": "A", "section": "I. S", "status": "D", "priority": "high",
         "title": "Water heater corrosion noted",
         "description": "The water heater shows signs of corrosion at the base.",
         "page_numbers": [1], "estimated_cost": None}
    b = dict(a, id="B",
             description="The water heater shows signs of corrosion at its base.")
    result = er.enrich_document([a, b])
    flags = {i["id"]: i.get("is_duplicate", False) for i in result["issues"]}
    assert flags["A"] is False
    assert flags["B"] is True


@pytest.mark.parametrize("field", sorted(er.REQUIRED_FIELDS))
def test_none_required_field_keeps_document(spark, field):
    """An issue whose required field is present but None flows on as
    schema-'failed' and must not fail its document (nor the whole
    enrich_batch task): a None description is excluded as
    empty_description, any other None field is kept."""
    bad = dict(SAMPLE_ISSUES[1], **{field: None})
    excluded = int(field == "description")
    result = er.enrich_document([bad, dict(SAMPLE_ISSUES[0])])
    assert (result["n_excluded"], len(result["issues"])) == \
        (excluded, 2 - excluded)

    extracted = spark.createDataFrame(
        [("d1", [bad, SAMPLE_ISSUES[0]])],
        StructType([OUTPUT_SCHEMA["doc_id"], OUTPUT_SCHEMA["issues"]]))
    (row,) = enrich_extracted(extracted).collect()
    assert (row["n_excluded"], len(row["issues"])) == \
        (excluded, 2 - excluded)


N_DOCS = 25


def test_spark_matches_python(spark):
    docs_pd = corpus.docs_pandas(N_DOCS)
    docs = corpus.generate_docs(spark, N_DOCS, partitions=3)
    extracted = assemble_fused(docs)
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in enrich_extracted(extracted).collect()}

    for _, row in docs_pd.iterrows():
        ext = oracle.extract_doc(row.doc_id, row.spans)
        want = er.enrich_document([dict(i) for i in ext["issues"]])
        g = got[row.doc_id]
        assert len(g["issues"]) == len(want["issues"]), row.doc_id
        for gi, wi in zip(g["issues"], want["issues"]):
            for k in ("id", "section", "subsection", "status",
                      "priority", "title", "description", "page_numbers",
                      "standard_severity", "standard_action",
                      "standard_category", "cost_strategy",
                      "is_grouped", "grouped_with", "is_duplicate",
                      "requires_specialized_labor", "safety_flag"):
                gv = gi[k]
                wv = wi.get(k)
                if k in ("is_grouped", "is_duplicate", "safety_flag",
                         "requires_specialized_labor"):
                    wv = bool(wv)
                    gv = bool(gv)
                if k == "grouped_with":
                    wv = wv or []
                assert gv == wv, f"{row.doc_id}: {gi['id']}.{k}: {gv!r} != {wv!r}"
            for k in ("urgency_score", "complexity_factor",
                      "severity_confidence", "action_confidence",
                      "category_confidence", "strategy_confidence",
                      "data_quality_score"):
                assert math.isclose(gi[k], wi[k], abs_tol=1e-9), \
                    f"{row.doc_id}: {gi['id']}.{k}"
        assert len(g["groups"]) == len(want["groups"]), row.doc_id
        gp = [(p["issue_id"], p["strategy"], p["adjusted_low"],
               p["confidence_overall"]) for p in g["phase2"]]
        wp = [(p["issue_id"], p["strategy"], p["adjusted_low"],
               p["confidence_overall"]) for p in want["phase2"]]
        assert gp == wp, f"{row.doc_id} phase2"
        assert g["summary"]["total_issues"] == want["summary"]["total_issues"]
        assert g["estimate_summary"]["total_estimated_low"] == \
            want["estimate_summary"]["total_estimated_low"], row.doc_id
        ge = [(e["issue_id"], e["category"], e["sub_type"],
               e["estimated_low"], e["estimated_high"]) for e in g["estimates"]]
        we = [(e["issue_id"], e["category"], e["sub_type"],
               e["estimated_low"], e["estimated_high"]) for e in want["estimates"]]
        assert ge == we, row.doc_id


def _lcs_dp(a: str, b: str) -> int:
    """Textbook O(len(a) * len(b)) LCS length."""
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0]
        for j, y in enumerate(b):
            cur.append(prev[j] + 1 if x == y else max(prev[j + 1], cur[j]))
        prev = cur
    return prev[-1]


def _edited(rng, text: str, frac: float) -> str:
    """``text`` with about ``frac`` of its characters substituted,
    deleted or followed by an insertion."""
    alphabet = "aeiou rstlnkzé中ß"
    out = []
    for ch in text:
        if rng.random() >= frac:
            out.append(ch)
            continue
        op = rng.randrange(3)
        if op == 0:
            out.append(rng.choice(alphabet))
        elif op == 2:
            out += [ch, rng.choice(alphabet)]
    return "".join(out)


def test_dup_tracker_memo_parity():
    """The process-wide memo layers (norm / matcher / pair-ratio /
    pair-verdict caches) and the LCS and prefix/suffix gates must be pure
    accelerators: a tracker running with warm caches and one with cold
    caches give identical verdicts on identical streams, including across
    repeated documents (hypothesis property, seeded for determinism).

    The second family of streams straddles the threshold: near-duplicates
    whose LCS bound passes while difflib's ratio fails (over 200 chars
    difflib's autojunk drops popular characters of the seen text), pairs
    whose bound falls just short, and true duplicates, over repeated-char
    and non-ASCII text. On every pair difflib's ratio is at most the LCS
    bound, and the bit-parallel LCS equals the textbook one; under 200
    chars it is at least the common prefix/suffix bound."""
    import random

    from difflib import SequenceMatcher
    from os.path import commonprefix

    from pdf_extraction_spark import enrich_rules as er
    from pdf_extraction_spark import rules

    def reference_verdicts(stream: list[str]) -> list[bool]:
        """Uncached transcription of the reference tracker
        (text_cleaner.py:294): linear scan, SequenceMatcher(None, new,
        seen) ratio vs threshold."""
        seen: list[str] = []
        out = []
        thr = rules.DUPLICATE_SIMILARITY_THRESHOLD
        for text in stream:
            if not text:
                out.append(False)
                continue
            norm = er.clean_text(text.lower())
            dup = any(SequenceMatcher(None, norm, s).ratio() >= thr
                      for s in seen)
            out.append(dup)
            if not dup:
                seen.append(norm)
        return out

    rng = random.Random(0xD0C5)
    words = ["water", "heater", "shows", "corrosion", "at", "the", "base",
             "roof", "leak", "window", "crack", "minor", "repair", "wall",
             "électrique", "中文"]
    streams = []
    for trial in range(30):
        base = " ".join(rng.choices(words, k=rng.randint(3, 12)))
        stream = []
        for _ in range(rng.randint(2, 12)):
            pick = rng.random()
            if pick < 0.4:
                stream.append(base)                      # exact repeat
            elif pick < 0.7:                             # near-dup tweak
                toks = base.split()
                toks[rng.randrange(len(toks))] = rng.choice(words)
                stream.append(" ".join(toks))
            else:                                        # unrelated
                stream.append(" ".join(
                    rng.choices(words, k=rng.randint(3, 12))))
        streams.append(stream)

    thr = rules.DUPLICATE_SIMILARITY_THRESHOLD
    words += ["aaaaaaaa", "zzz", "ooooo leak", "ñandú", "straße", "水"]
    seen_kinds = {"lcs_only": 0, "near_miss": 0, "dup": 0, "long": 0,
                  "ends_proof": 0}
    for trial in range(24):
        k = rng.randint(40, 60) if trial % 2 else rng.randint(4, 14)
        base = " ".join(rng.choices(words, k=k))
        stream = [base]
        for _ in range(rng.randint(3, 6)):
            # every char may change, or only the tail's
            cut = rng.choice([0, len(base) * 7 // 8])
            stream.append(base[:cut] + _edited(
                rng, base[cut:], rng.uniform(0.02, 0.12) * len(base) /
                (len(base) - cut)))
        norms = [er.clean_text(t.lower()) for t in stream]
        for i, a in enumerate(norms):
            for b in norms[:i]:
                lcs = _lcs_dp(a, b)
                assert er._lcs_len(er._char_masks(a), len(a), b) == lcs
                bound = 2.0 * lcs / (len(a) + len(b))
                ratio = SequenceMatcher(None, a, b).ratio()
                assert ratio <= bound, (a, b)
                ends = max(len(commonprefix([a, b])),
                           len(commonprefix([a[::-1], b[::-1]])))
                assert er._common_end(a, b) == ends
                floor = 2.0 * ends / (len(a) + len(b))
                if len(b) < 200:
                    assert ratio >= floor, (a, b)
                    seen_kinds["ends_proof"] += floor >= thr
                seen_kinds["lcs_only"] += ratio < thr <= bound
                seen_kinds["near_miss"] += thr - 0.05 <= bound < thr
                seen_kinds["dup"] += ratio >= thr
                seen_kinds["long"] += len(b) > 200 and bound >= thr
        streams.append(stream)
    assert min(seen_kinds.values()) > 0, seen_kinds

    for trial, stream in enumerate(streams):
        want = reference_verdicts(stream)
        # run the SAME stream twice: first call warms the process-wide
        # caches, second call must hit the verdict memo — both equal the
        # uncached reference
        for run in range(2):
            tracker = er.DuplicateTracker()
            got = [tracker.is_duplicate(t) for t in stream]
            assert got == want, (trial, run, stream)


def test_memos_skip_long_keys():
    """A description longer than the memo's key bar is computed but not
    retained (a giant-doc string must not pin executor memory); a short
    one is retained."""
    from pdf_extraction_spark import enrich_rules as er

    words = " ".join(f"crack{i}" for i in range(800))
    long_desc = ("Water heater shows corrosion at the base. " + words)[:5000]
    issue = {"id": "i1", "section": "Plumbing", "title": "Water heater",
             "status": "D", "description": long_desc}
    short = dict(issue, description=long_desc[:300])
    for i in (issue, short):
        er.quality_validate(i)
        er._enrich_issue_content(i)
    for memo in (er._QUALITY_MEMO, er._ISSUE_MEMO):
        assert not any(long_desc in key for key in memo)
        assert any(short["description"] in key for key in memo)


def test_group_summary_golden():
    """A3 get_group_summary (issue_grouper.py:172-201): totals, per-type
    histogram, avg size with the reference's round(x, 1)."""
    from pdf_extraction_spark import enrich_rules as er

    assert er.group_summary([]) == {
        "total_groups": 0, "by_type": {}, "total_issues_grouped": 0,
        "avg_group_size": 0}

    issues = [
        {"id": f"i{n}", "standard_category": cat,
         "classification": {"trade": trade, "work_type": "repair"},
         "extracted_attributes": {"locations": locs}}
        for n, (cat, trade, locs) in enumerate([
            ("Electrical", "electrical", ["kitchen"]),
            ("Electrical", "electrical", ["kitchen"]),
            ("Plumbing", "plumbing", []),
            ("Plumbing", "plumbing", []),
            ("Plumbing", "plumbing", []),
        ])]
    _, groups = er.group_issues(issues)
    s = er.group_summary(groups)
    # groups: loc_kitchen_electrical(2), cat_Electrical_repair(2),
    # trade_electrical_repair(2), cat_Plumbing_repair(3),
    # trade_plumbing_repair(3)
    assert s["total_groups"] == 5
    assert s["by_type"] == {"location_trade": 1, "category_work": 2,
                            "trade_work": 2}
    assert s["total_issues_grouped"] == 12
    assert s["avg_group_size"] == 2.4
    # group ids follow first-appearance key order across all three tiers
    assert [g["group_id"] for g in groups] == [f"group_{i}"
                                               for i in range(1, 6)]
    assert groups[0]["grouping_key"] == "loc_kitchen_electrical"


if __name__ == "__main__":
    import sys
    sys.exit(pytest.main([__file__, "-x", "-q"]))
