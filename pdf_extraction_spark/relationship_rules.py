"""J7 — issue relationship analysis: causal chains + bundling.

Faithful transcription of src/estimation/relationship_analyzer.py
(:31-100 pattern tables, :237-460 chain/bundle discovery). Document-local
(an issue only relates to issues of the same report), so it runs inside
the same per-doc mapInPandas batches as the rest of enrichment.
"""

from __future__ import annotations

from typing import Any

CAUSAL_RELATIONSHIPS: dict[str, list[str]] = {
    "foundation_cracks": ["grading_issues", "drainage_problems",
                          "plumbing_leaks", "door_misalignment",
                          "wall_cracks", "floor_slope"],
    "roof_leak": ["ceiling_stains", "attic_moisture", "insulation_damage",
                  "mold_growth", "drywall_damage"],
    "plumbing_leak": ["foundation_settlement", "water_damage", "mold",
                      "flooring_damage", "ceiling_stains"],
    "hvac_failure": ["duct_leaks", "thermostat_issues", "air_filter_dirty",
                     "poor_airflow", "high_humidity"],
    "electrical_panel_issues": ["frequent_breaker_trips", "outlet_problems",
                                "flickering_lights", "inadequate_power"],
    "drainage_problems": ["foundation_issues", "basement_moisture",
                          "yard_flooding", "erosion"],
    "termite_damage": ["structural_weakness", "wood_deterioration",
                       "moisture_problems"],
}

BUNDLING_SAVINGS = {"same_location": 0.15, "same_contractor": 0.20,
                    "shared_access": 0.25, "related_systems": 0.10}

_WATER_KEYWORDS = ["leak", "water", "moisture", "stain", "mold", "drainage"]
_STRUCTURAL_KEYWORDS = ["foundation", "crack", "settlement", "structural",
                        "slope"]
_CONTRACTOR_KEYWORDS = {
    "hvac": ["hvac", "air conditioner", "furnace", "heating", "cooling",
             "duct"],
    "plumber": ["plumbing", "pipe", "drain", "water heater", "leak",
                "faucet"],
    "electrician": ["electrical", "wiring", "outlet", "panel", "breaker",
                    "switch"],
    "roofer": ["roof", "shingles", "flashing", "gutter", "downspout"],
    "foundation_specialist": ["foundation", "pier", "settlement", "slab"],
    "handyman": ["door", "window", "drywall", "paint", "minor"],
}
_ACCESS_KEYWORDS = {
    "attic": ["attic", "roof deck", "soffit"],
    "crawl_space": ["crawl space", "under house", "subfloor"],
    "roof": ["roof", "shingles", "flashing", "gutter"],
    "exterior": ["exterior", "outside", "facade"],
    "basement": ["basement", "below grade"],
}


def issue_id(issue: dict) -> str:
    """relationship_analyzer.py:641-645."""
    return issue.get("id", f"{issue.get('category', '')}_"
                           f"{issue.get('item', '')}_"
                           f"{issue.get('issue', '')[:20]}")


def _searchable_text(issue: dict) -> str:
    return " ".join([issue.get("item", ""), issue.get("category", ""),
                     issue.get("issue", ""),
                     issue.get("description", "")]).lower()


_PATTERN_WORDS: dict[str, list[str]] = {}


def _matches_text(text: str, pattern: str) -> bool:
    words = _PATTERN_WORDS.get(pattern)
    if words is None:
        words = pattern.lower().replace("_", " ").split()
        _PATTERN_WORDS[pattern] = words
    if len(words) > 1:
        return sum(1 for w in words if w in text) >= 2
    return words[0] in text


def infer_contractor_type(issue: dict) -> str:
    """relationship_analyzer.py:521-547."""
    searchable = (f"{issue.get('category', '').lower()} "
                  f"{issue.get('item', '').lower()} "
                  f"{issue.get('issue', '').lower()}")
    for contractor, keywords in _CONTRACTOR_KEYWORDS.items():
        if any(k in searchable for k in keywords):
            return contractor
    return "general_contractor"


_ALL_EFFECTS = sorted({e for effs in CAUSAL_RELATIONSHIPS.values()
                       for e in effs})


_CTX_TEXT_CACHE: dict[tuple[str, str],
                      tuple[list, set, bool, bool]] = {}
_CTX_CACHE_MAX = 200_000


def _ctx_entry(text: str, issue_txt: str) -> tuple[list, set, bool, bool]:
    """Per-issue pattern matches are pure in (searchable text, raw issue
    text); cached process-wide because boilerplate issues recur across
    documents. The cached list/set are shared read-only by _caused_indices
    (intersections only, never mutated)."""
    key = (text, issue_txt)
    hit = _CTX_TEXT_CACHE.get(key)
    if hit is None:
        hit = ([p for p in CAUSAL_RELATIONSHIPS if _matches_text(text, p)],
               {e for e in _ALL_EFFECTS if _matches_text(text, e)},
               any(k in issue_txt for k in _WATER_KEYWORDS),
               any(k in issue_txt for k in _STRUCTURAL_KEYWORDS))
        if len(_CTX_TEXT_CACHE) < _CTX_CACHE_MAX:
            _CTX_TEXT_CACHE[key] = hit
    return hit


class _Ctx:
    """Precomputed per-issue pattern matches: turns the O(n² · patterns)
    chain scan into output-sensitive index probes with identical output.

    ``effect_index`` inverts effect_sets (effect -> ascending issue
    indices), so a cause pattern touches only the issues that match one
    of its effects instead of scanning all n. ``water_idx`` /
    ``structural_idx`` / ``ws_idx`` pre-filter the location tier by its
    plausibility gate (an implausible pair never appends, so skipping it
    is exact). Per-issue frozensets are built once per document, not per
    (cause, other) pair."""

    def __init__(self, issues: list[dict]):
        self.issues = issues
        self.ids = [issue_id(i) for i in issues]
        entries = [_ctx_entry(_searchable_text(i),
                              str(i.get("issue", "")).lower())
                   for i in issues]
        self.cause_masks = [e[0] for e in entries]
        self.effect_sets = [e[1] for e in entries]
        self.locs = [i.get("location", "").lower() for i in issues]
        self.water = [e[2] for e in entries]
        self.structural = [e[3] for e in entries]
        self.effect_index: dict[str, list[int]] = {}
        for oi, effs in enumerate(self.effect_sets):
            for e in effs:
                self.effect_index.setdefault(e, []).append(oi)
        self.water_idx = [oi for oi, w in enumerate(self.water) if w]
        self.structural_idx = [oi for oi, s in enumerate(self.structural)
                               if s]
        self.ws_idx = [oi for oi in range(len(issues))
                       if self.water[oi] or self.structural[oi]]
        self._fz: list[frozenset | None] = [None] * len(issues)

    def frozen(self, i: int) -> frozenset:
        fz = self._fz[i]
        if fz is None:
            fz = frozenset(self.issues[i].items())
            self._fz[i] = fz
        return fz


def _caused_indices(ci: int, issues: list[dict], ctx: _Ctx) -> list[int]:
    """Index-level twin of the reference loop (relationship_analyzer.py:
    260-320): per matched cause-pattern, every other issue matching any of
    its effects (duplicates across patterns preserved); then the
    location/plausibility tier with the `not in caused` equality check."""
    caused: list[int] = []
    cause_id = ctx.ids[ci]
    for pattern in ctx.cause_masks[ci]:
        cand: set[int] = set()
        for e in CAUSAL_RELATIONSHIPS[pattern]:
            cand.update(ctx.effect_index.get(e, ()))
        for oi in sorted(cand):
            if ctx.ids[oi] != cause_id:
                caused.append(oi)
    cause_loc = ctx.locs[ci]
    if cause_loc and (ctx.water[ci] or ctx.structural[ci]):
        # the reference dedups with dict EQUALITY (`other not in caused`),
        # so an equal-but-distinct issue dict also blocks the append
        caused_frozen = {ctx.frozen(i) for i in caused}
        # plausibility requires the pair to share water or structural
        # context; scanning only issues with the cause's context(s) is
        # exact (an implausible other never appends or mutates state)
        if ctx.water[ci] and ctx.structural[ci]:
            scan = ctx.ws_idx
        elif ctx.water[ci]:
            scan = ctx.water_idx
        else:
            scan = ctx.structural_idx
        for oi in scan:
            if ctx.ids[oi] == cause_id:
                continue
            other_loc = ctx.locs[oi]
            if other_loc and cause_loc in other_loc \
                    or other_loc in cause_loc:
                fz = ctx.frozen(oi)
                if fz not in caused_frozen:
                    plausible = ((ctx.water[ci] and ctx.water[oi])
                                 or (ctx.structural[ci]
                                     and ctx.structural[oi]))
                    if plausible:
                        caused.append(oi)
                        caused_frozen.add(fz)
    return caused


def find_causal_chains(issues: list[dict]) -> list[dict]:
    """relationship_analyzer.py:237-258."""
    ctx = _Ctx(issues)
    chains = []
    for ci, issue in enumerate(issues):
        caused = _caused_indices(ci, issues, ctx)
        if caused:
            chains.append({
                "root_cause_id": ctx.ids[ci],
                "caused_issue_ids": [ctx.ids[i] for i in caused],
                "chain_length": len(caused) + 1,
                "priority": "high"
                if issue.get("severity", "").lower() in ("critical", "high")
                else "medium",
            })
    return sorted(chains, key=lambda x: x["chain_length"], reverse=True)


def find_bundles(issues: list[dict]) -> list[dict]:
    """relationship_analyzer.py:322-358: location / contractor / access
    grouping with duplicate-set suppression."""
    bundles: list[dict] = []

    loc_groups: dict[str, list[dict]] = {}
    for issue in issues:
        loc = issue.get("location", "Unknown").strip()
        if loc and loc.lower() not in ("unknown", "not specified", "n/a"):
            loc_groups.setdefault(loc, []).append(issue)
    for loc, group in loc_groups.items():
        if len(group) >= 2:
            bundles.append({"bundle_type": "same_location", "key": loc,
                            "issue_ids": [issue_id(i) for i in group],
                            "savings_pct": BUNDLING_SAVINGS["same_location"]})

    def _dedup_add(bundle: dict) -> None:
        ids = set(bundle["issue_ids"])
        if not any(set(b["issue_ids"]) == ids for b in bundles):
            bundles.append(bundle)

    con_groups: dict[str, list[dict]] = {}
    for issue in issues:
        con_groups.setdefault(infer_contractor_type(issue), []).append(issue)
    for contractor, group in con_groups.items():
        if len(group) >= 2:
            _dedup_add({"bundle_type": "same_contractor", "key": contractor,
                        "issue_ids": [issue_id(i) for i in group],
                        "savings_pct": BUNDLING_SAVINGS["same_contractor"]})

    acc_groups: dict[str, list[dict]] = {}
    for issue in issues:
        searchable = (issue.get("location", "") + " "
                      + issue.get("issue", "") + " "
                      + issue.get("item", "")).lower()
        matched = False
        for access, keywords in _ACCESS_KEYWORDS.items():
            if any(k in searchable for k in keywords):
                acc_groups.setdefault(access, []).append(issue)
                matched = True
                break
        if not matched:
            acc_groups.setdefault("standard", []).append(issue)
    for access, group in acc_groups.items():
        if len(group) >= 2:
            _dedup_add({"bundle_type": "shared_access", "key": access,
                        "issue_ids": [issue_id(i) for i in group],
                        "savings_pct": BUNDLING_SAVINGS["shared_access"]})

    return bundles


def analyze_issues(issues: list[dict]) -> dict[str, Any]:
    """relationship_analyzer.py:101-158: chains + bundles + isolated set."""
    chains = find_causal_chains(issues)
    bundles = find_bundles(issues)
    related_ids: set[str] = set()
    for chain in chains:
        related_ids.add(chain["root_cause_id"])
        related_ids.update(chain["caused_issue_ids"])
    for bundle in bundles:
        related_ids.update(bundle["issue_ids"])
    isolated = [issue_id(i) for i in issues
                if issue_id(i) not in related_ids]
    return {
        "causal_chains": chains,
        "bundles": bundles,
        "isolated_issue_ids": isolated,
        "statistics": {
            "total_issues": len(issues),
            "issues_in_chains": len(related_ids),
            "isolated_issues": len(isolated),
            "potential_bundles": len(bundles),
            "average_savings_pct":
                sum(b["savings_pct"] for b in bundles) / len(bundles)
                if bundles else 0,
            "max_savings_pct":
                max((b["savings_pct"] for b in bundles), default=0),
        },
    }
