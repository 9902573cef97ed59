"""Deterministic synthetic span-corpus generator (FIXTURES.md §1-§3).

Produces the canonical input table
``docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
shaped like the TREC inspection reports the reference parses
(`/root/reference/extracted_data/6-report.json`): boilerplate preamble,
roman-numeral sections, letter subsections, checkbox status lines, issue
bodies with enrichment triggers, cost/elevation tables, and interleaved
media spans.

Generation is seed-fixed (seed=42) and distributed: each doc is built from a
per-doc ``np.random.default_rng((seed, doc_index))`` inside ``mapInPandas``,
so the same (seed, n_docs) always yields byte-identical data at any
parallelism level — required for the two-cluster-size benchmark protocol.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

LINES_PER_PAGE = 50  # pseudo-page: page_num = offset // LINES_PER_PAGE + 1

SPAN_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# --- content pools ---------------------------------------------------------

META_LINES = [
    "Report Number: {rn}",
    "Inspection Date: Saturday, August 16, 2025",
    "Date: 08/16/2025",
    "{street_no} Denise Dale Ln, Houston, TX 77084",
    "{street_no} Oak Hollow Dr, Austin, TX 78701",
    "Property Address: {street_no} Denise Dale Ln, Houston, TX 77084",
    "2,450 square feet of living area",
    "Built in 1998",
    "2 story single family residence",
    "Property Type: Single Family",
    "Lot size: 8,500 sq ft",
    "3 bedrooms, 2.5 bathrooms",
    "Location: Houston, TX",
]

BOILERPLATE_LINES = [
    "· indicate an item as Deficient (D) if a condition exists that adversely and materially affects the performance of a system",
    "It is recommended that qualified service professionals be contacted prior to the expiration of any option periods.",
    "The inspector IS NOT required to: identify all potential hazards;",
    "This report is subject to contractual time limitations and applicable inspection standards.",
    "Limitations of inspection: the inspector is not required to operate systems that are shut down.",
    "This report does not constitute a warranty of any kind as specified by the SOPs.",
    "Maintenance and repairs are the responsibility of the client after closing.",
    "DISCLAIMER",
    "PROMULGATED BY THE TEXAS REAL ESTATE COMMISSION",
]

SECTIONS = [
    ("I. STRUCTURAL SYSTEMS", [
        "A. Foundations", "B. Grading and Drainage", "C. Roof Covering Materials",
        "D. Roof Structures and Attics", "E. Walls (Interior and Exterior)",
        "F. Ceilings and Floors",
    ]),
    ("II. ELECTRICAL SYSTEMS", [
        "A. Service Entrance and Panels",
        "B. Branch Circuits, Connected Devices, and Fixtures",
    ]),
    ("III. HEATING, VENTILATION AND AIR CONDITIONING SYSTEMS", [
        "A. Heating Equipment", "B. Cooling Equipment",
        "C. Duct Systems, Chases, and Vents",
    ]),
    ("IV. PLUMBING SYSTEMS", [
        "A. Plumbing Supply, Distribution Systems and Fixtures",
        "B. Drains, Wastes, and Vents", "C. Water Heating Equipment",
    ]),
    ("V. APPLIANCES", [
        "A. Dishwashers", "B. Food Waste Disposers",
        "C. Range Hood and Exhaust Systems",
    ]),
]

# Raw status lines; glyph survival through T1 normalization is part of what
# the extraction pipeline must reproduce (þ→'th', ¨→NFKD space).
STATUS_LINES = [
    "✓ Inspected and noted below",
    "✓ ✓ reviewed items listed",
    "¨ ✓ checked during walkthrough",
    "þ ¨ ¨ ¨ marked on form",
    "¨ ¨ þ ¨ marked on form",
    "D - item found deficient",
    "I = item inspected",
    "NP for this system",
    "Status: NI at time of visit",
    "✓ ¨ ¨ ¨ standard checklist row",
]

# Multi-line issue bodies (FIXTURES.md §2.5): enrichment triggers, OCR dirt,
# non-issue affirmations, header traps, near-duplicate pairs.
ISSUE_BODIES: list[list[str]] = [
    ["Comments: The water heater shows signs of corrosion at the base.",
     "Recommend replacement by licensed plumber.",
     "Affected area approximately 2x3 feet in the garage."],
    ["Comments: GFCI outlet in the kitchen is not functioning.",
     "This is a safety hazard and should be repaired immediately by a licensed electrician."],
    ["Note: Foundation has visible cracks on the east side of the structure.",
     "Recommend further evaluation by structural engineer.",
     "Crack measures approximately 15 feet in length near the garage."],
    ["Comments: Roof shingles are worn and several are missing near the ridge.",
     "Moderate roof repair recommended; monitor condition after heavy rain.",
     "Approximately 500 sq ft of roof covering affected."],
    ["Observation: AC unit is aging and cooling output is low.",
     "HVAC service recommended; the compressor is operating as designed for its age."],
    ["Comments: Water stain observed on the ceiling in the master bedroom.",
     "Possible roof leak; moisture reading 15% in drywall.",
     "Recommend repair of flashing and monitor for further water damage."],
    ["Comments: Electrical panel has a double-tapped breaker.",
     "This is a fire hazard; correct asap by qualified professional."],
    ["Note: Grading slopes toward the foundation at the rear of the home.",
     "Recommend regrading to direct drainage away from the structure."],
    ["Comments: Dishwasher drain line is improperly installed.",
     "Install new high loop or air gap per manufacturer specification."],
    ["Comments: No issues observed."],
    ["Comments: Functional."],
    ["Comments: System performing its intended function."],
    ["Comments: Within normal limits."],
    ["Comments: The roo1 shows wa11 damage near tbe attic hatch.",
     "Recommend rep air of shingles and cleanup of debris."],
    ["Comments: Mold observed in the crawlspace; difficult to access area.",
     "This is a health hazard; remediation by certified specialist required."],
    ["Comments: Gas leak odor detected at the water heater connection.",
     "Danger: urgent repair required; contact licensed plumber immediately."],
    ["Comments: Several windows have failed seals with condensation between panes.",
     "Window replacement recommended; multiple locations throughout the home."],
    ["Comments: Toilet in the hallway bathroom is loose at the base.",
     "Repair: reset and seal toilet; replace wax ring."],
    ["Comments:"],
    ["GENERAL FINDINGS"],
    ["Observations"],
    ["Comments: Deck boards are rotted at the back porch; wood decay extensive.",
     "Replace damaged boards; entire deck surface may need replacement."],
    ["Comments: Furnace burner shows rust and the heat exchanger is corroded.",
     "Recommend replacement of furnace; unit is 22 years old."],
    ["Comments: Minor cosmetic cracks in interior drywall near door frames.",
     "Typical settling; patch and paint as routine maintenance."],
    ["Comments: Sprinkler system valve leaks at the side yard.",
     "Repair valve; localized issue only."],
    ["Comments: The water heater shows signs of corrosion at its base.",
     "Recommend replacement by a licensed plumber.",
     "Affected area approximately 2x3 feet in the garage area."],
]

COST_TABLES: list[list[str]] = [
    ["Item | Estimated Cost | Notes",
     "Roof repair | $500 - $700 | flashing and sealant",
     "Water heater | $1,234.56 | replacement cost",
     "Total | 2,000 dollars | combined estimate"],
    ["Repair Item | Price Range",
     "Electrical panel | $1,500 - $3,000",
     "GFCI outlets | 150$ each"],
]

ELEVATION_TABLES: list[list[str]] = [
    ["Point | Elevation | Grade",
     "A1 | 100.2 | 1.2% slope",
     "B2 | 99.8 | level",
     "C3 | 98.9 | 2.4% slope"],
]

CHECKLIST_TABLES: list[list[str]] = [
    ["Item | I | NI | NP | D",
     "Foundations | X | | |",
     "Grading | | | | X"],
]


def _doc_lines(rng: np.random.Generator, giant: bool = False) -> list[tuple[str, str, str]]:
    """Build one doc as a list of (kind, text, media_ref) raw spans.

    kind here is the *input* kind: 'text' | 'media' (FIXTURES.md §1); output
    kinds are assigned by the pipeline.
    """
    spans: list[tuple[str, str, str]] = []
    media_count = 0

    def emit(text: str) -> None:
        spans.append(("text", text, ""))

    def maybe_media() -> None:
        nonlocal media_count
        if rng.random() < 0.04:
            spans.append(("media", "", f"img://{media_count}"))
            media_count += 1

    # preamble: metadata + boilerplate
    rn = f"{rng.integers(10, 99)}1625AD{rng.integers(1, 9)}"
    street_no = int(rng.integers(100, 99999))
    n_meta = int(rng.integers(4, 8))
    for idx in rng.choice(len(META_LINES), size=n_meta, replace=False):
        emit(META_LINES[idx].format(rn=rn, street_no=street_no))
    n_boiler = int(rng.integers(3, 7))
    for idx in rng.choice(len(BOILERPLATE_LINES), size=n_boiler, replace=False):
        emit(BOILERPLATE_LINES[idx])
    maybe_media()

    n_cycles = int(rng.integers(80, 200)) if giant else int(rng.integers(1, 3))
    n_sections = int(rng.integers(3, len(SECTIONS) + 1))
    for _ in range(n_cycles):
        for sec_title, subsections in SECTIONS[:n_sections]:
            emit(sec_title)
            n_subs = int(rng.integers(2, len(subsections) + 1))
            for sub_title in subsections[:n_subs]:
                emit(sub_title)
                if rng.random() < 0.7:
                    emit(STATUS_LINES[int(rng.integers(0, len(STATUS_LINES)))])
                for _ in range(int(rng.integers(1, 4))):
                    body = ISSUE_BODIES[int(rng.integers(0, len(ISSUE_BODIES)))]
                    for line in body:
                        emit(line)
                maybe_media()
            if rng.random() < 0.35:
                pool = (COST_TABLES, ELEVATION_TABLES, CHECKLIST_TABLES)[
                    int(rng.integers(0, 3))]
                for line in pool[int(rng.integers(0, len(pool)))]:
                    emit(line)
            maybe_media()
    return spans


def _build_docs(indices: np.ndarray, seed: int, giant_every: int) -> pd.DataFrame:
    rows = []
    for doc_index in indices:
        doc_index = int(doc_index)
        rng = np.random.default_rng((seed, doc_index))
        giant = giant_every > 0 and doc_index % giant_every == giant_every - 1
        doc_id = f"doc_{doc_index:09d}"
        raw = _doc_lines(rng, giant=giant)
        spans = [
            {"kind": k,
             "text": t,
             "media_ref": m.replace("img://", f"img://{doc_id}/") if m else "",
             "offset": i}
            for i, (k, t, m) in enumerate(raw)
        ]
        rows.append({"doc_id": doc_id, "spans": spans})
    return pd.DataFrame(rows, columns=["doc_id", "spans"])


def generate_docs(spark, n_docs: int, giant_every: int = 0,
                  partitions: int | None = None):
    """Distributed deterministic generation of the span corpus.

    ``giant_every``: every k-th doc is a "giant" (~50-100× spans) to exercise
    the skew path (FIXTURES.md §3 bench tier); 0 disables.
    """
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_docs, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _build_docs(pdf["id"].values, 42, giant_every)

    return base.mapInPandas(gen, schema=SPAN_SCHEMA)


def docs_pandas(n_docs: int, seed: int = 42, giant_every: int = 0) -> pd.DataFrame:
    """Driver-side generation of the same corpus (for the oracle / small tests)."""
    return _build_docs(np.arange(n_docs), seed, giant_every)
