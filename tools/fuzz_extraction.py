"""Differential fuzz harness (committed so the campaign is
reproducible — usage: python tools/fuzz_extraction.py LO HI [plan]):
the random-unicode + keyword-splice campaign from BENCH/BASELINE.md §20,
run through the fused (and optionally exploded/salted) plans against the
pure-python oracle, comparing the FULL output: span sequence, issues,
tables, metadata struct, summary.

This campaign found the 4th tri-engine regex divergence (RE2's ``\\s``
missing ``\\x0b``/``\\x1c-\\x1f``); divergent strings get promoted into
tests/test_extraction_fuzz.py's committed NASTY corpus. Its pools hold
non-ASCII decimal digits (metadata numerics) and the code points where
RE2 and Python re part ways (``rules.RE2_DIVERGENT``).
"""

from __future__ import annotations

import random
import sys

sys.path.insert(0, __import__("os").path.dirname(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__))))

from pdf_extraction_spark import oracle  # noqa: E402
from pdf_extraction_spark.plans.extraction import assemble  # noqa: E402
from pdf_extraction_spark.plans.fused import assemble_fused  # noqa: E402
from pdf_extraction_spark.plans.salted import assemble_salted  # noqa: E402
from pdf_extraction_spark.session import get_spark  # noqa: E402

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


def rand_text(rng: random.Random) -> str:
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


def gen_docs(n_docs: int, seed: int):
    rng = random.Random(seed)
    docs = []
    for d in range(n_docs):
        spans = []
        for i in range(rng.randint(1, 40)):
            if rng.random() < 0.1:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"img_{d}_{i}.png",
                              "offset": i})
            else:
                spans.append({"kind": "text", "text": rand_text(rng),
                              "media_ref": "", "offset": i})
        rng.shuffle(spans)
        docs.append((f"r{seed}_{d:03d}", spans))
    return docs


def norm(doc: dict) -> tuple:
    return (
        [(s["kind"], s["text"], s["media_ref"], s["order"])
         for s in doc["spans"]],
        [(x["id"], x["section"], x["subsection"], x["status"],
          x["priority"], x["title"], x["description"],
          tuple(x["page_numbers"])) for x in doc["issues"]],
        [(t["page_num"], t["section"], t["table_type"],
          tuple(t["headers"]),
          tuple(tuple(r) for r in t["table_data"])) for t in doc["tables"]],
        tuple(sorted(doc["metadata"].items())),
        tuple(sorted(doc["summary"].items())),
    )


PLANS = {
    "exploded": assemble,
    "fused": assemble_fused,
    "salted": lambda df: assemble_salted(df, chunk_spans=16),
}


def main() -> None:
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    plans = ([sys.argv[3]] if len(sys.argv) > 3 and sys.argv[3] != "all"
             else list(PLANS))
    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for seed in range(lo, hi):
        docs = gen_docs(30, seed)
        sdf = spark.createDataFrame(
            [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in spans]) for d, spans in docs],
            "doc_id string, spans array<struct<kind string, text string,"
            " media_ref string, offset int>>").repartition(4)
        want = {d: norm(oracle.extract_doc(d, spans))
                for d, spans in docs}
        for plan in plans:
            got = {r["doc_id"]: norm(r.asDict(recursive=True))
                   for r in PLANS[plan](sdf).collect()}
            for doc_id, w in want.items():
                if got[doc_id] != w:
                    bad += 1
                    print(f"seed {seed} plan {plan} doc {doc_id}:"
                          " DIVERGENCE")
                    for i, part in enumerate(
                            ["spans", "issues", "tables", "meta",
                             "summary"]):
                        if got[doc_id][i] != w[i]:
                            print(" part", part)
                            print("  spark", str(got[doc_id][i])[:400])
                            print("  oracle", str(w[i])[:400])
        if seed % 10 == 0:
            print("seed", seed, "ok" if bad == 0 else f"bad={bad}")
    print("DONE divergences:", bad)


if __name__ == "__main__":
    main()
