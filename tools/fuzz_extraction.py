"""Differential fuzz harness (committed so the campaign is
reproducible — usage: python tools/fuzz.py extraction LO HI):
the random-unicode + keyword-splice campaign from BENCH/BASELINE.md §20,
run through the exploded, fused and salted plans against the
pure-python oracle, comparing the FULL output (:func:`doc_diff`): span
sequence, issues, tables, raw sections, metadata struct, summary.

This campaign found the 4th tri-engine regex divergence (RE2's ``\\s``
missing ``\\x0b``/``\\x1c-\\x1f``); divergent strings get promoted into
tests/test_extraction_fuzz.py's committed NASTY corpus. Its pools hold
non-ASCII decimal digits (metadata numerics) and the code points where
RE2 and Python re part ways (``rules.RE2_DIVERGENT``).
"""

from __future__ import annotations

import math
import random

from pdf_extraction_spark.plans.extraction import assemble
from pdf_extraction_spark.plans.fused import assemble_fused
from pdf_extraction_spark.plans.salted import assemble_salted

ASCII = "abcdefghij KLMNOP 0123456789 .,:;|$-()'\""
UNI_POOLS = [
    "\t\x0b\x0c\x1c\x1d\x1e\x1f    　​",
    "平仮名カタカナ漢字",
    "éëþ́̈",          # latin + combining marks
    "🙂🚰✓¨þ",
    "–—“”‘’",
    "٠١٢٣٤٥٦٧٨٩०৩๕",          # non-ASCII decimal digits (Nd)
    "İıͅ\u2028\u2029𝟘𑽐",  # rules.RE2_DIVERGENT code points
]
KEYWORDS = [
    "I. STRUCTURAL SYSTEMS", "IV. ELECTRICAL", "A. Foundations",
    "B. Grading", "ix. roman", "Deficient", "not inspected",
    "Comments: leak observed", "safety hazard gas fire immediate",
    "Item | Estimated Cost | Notes", "Roof fix | $500 - $700 | notes",
    "$1,234.56", "99$", "2,450 sqft", "built in 1978",
    "Report Number: RPT-1", "Inspection Date: August 16, 2025",
    "no issues observed - functional", "within normal limits",
    "It is recommended that professionals review this report",
    "NP", "NI", "D", "I", "P",
    "Year built:", "sq ft", "bedrooms", "baths", "stories:",
]


def span_text(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 10)):
        r = rng.random()
        if r < 0.45:
            parts.append(rng.choice(KEYWORDS))
        elif r < 0.75:
            parts.append("".join(rng.choice(ASCII)
                                 for _ in range(rng.randint(1, 12))))
        else:
            pool = rng.choice(UNI_POOLS)
            parts.append("".join(rng.choice(pool)
                                 for _ in range(rng.randint(1, 6))))
        parts.append(rng.choice([" ", " ", "", "\t", "\x0b", " "]))
    return "".join(parts)


def gen_case(seed: int) -> list[tuple]:
    """(doc_id, spans) of the seed's 30 documents."""
    rng = random.Random(seed)
    docs = []
    for d in range(30):
        spans = []
        for i in range(rng.randint(1, 40)):
            if rng.random() < 0.1:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"img_{d}_{i}.png",
                              "offset": i})
            else:
                spans.append({"kind": "text", "text": span_text(rng),
                              "media_ref": "", "offset": i})
        rng.shuffle(spans)
        docs.append((f"r{seed}_{d:03d}", spans))
    return docs


def docs_frame(spark, docs: list[tuple]):
    """(doc_id, spans) documents as a four-partition span frame."""
    return spark.createDataFrame(
        [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in spans]) for d, spans in docs],
        "doc_id string, spans array<struct<kind string, text string,"
        " media_ref string, offset int>>").repartition(4)


PLANS = {
    "exploded": assemble,
    "fused": assemble_fused,
    "salted": lambda df: assemble_salted(df, chunk_spans=16),
}


def _parts(doc: dict) -> dict:
    return {
        "spans": [(s["kind"], s["text"], s["media_ref"], s["order"])
                  for s in doc["spans"]],
        "issues": [(x["id"], x["section"], x["subsection"], x["status"],
                    x["priority"], x["title"], x["description"],
                    tuple(x["page_numbers"])) for x in doc["issues"]],
        "tables": [(t["page_num"], t["section"], t["table_type"],
                    tuple(t["headers"]),
                    tuple(tuple(r) for r in t["table_data"]))
                   for t in doc["tables"]],
        "raw_sections": doc["raw_sections"] or {},
        "summary": doc["summary"],
    }


def _same_value(got, want) -> bool:
    if isinstance(want, float) and got is not None:
        return math.isclose(got, want, abs_tol=1e-9)
    return got == want


def doc_diff(got: dict, want: dict) -> list[str]:
    """One line per document part where a plan's output (doc_id ->
    row dict) differs from the oracle's; metadata floats compare to
    1e-9."""
    if set(got) != set(want):
        return [f"doc ids differ: {sorted(set(got) ^ set(want))[:5]}"]
    errs = []
    for doc_id, w in want.items():
        g = got[doc_id]
        gp, wp = _parts(g), _parts(w)
        errs += [f"doc {doc_id} {part}: plan {str(gp[part])[:400]} "
                 f"oracle {str(wp[part])[:400]}"
                 for part in wp if gp[part] != wp[part]]
        meta = g["metadata"]
        errs += [f"doc {doc_id} metadata {k}: plan {meta.get(k)!r} "
                 f"oracle {v!r}"
                 for k, v in w["metadata"].items()
                 if not _same_value(meta.get(k), v)]
        if set(meta) != set(w["metadata"]):
            errs.append(f"doc {doc_id} metadata fields: plan "
                        f"{sorted(meta)} oracle {sorted(w['metadata'])}")
    return errs
