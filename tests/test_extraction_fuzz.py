"""Adversarial differential fuzz: exploded vs fused vs salted plans vs
the pure-python oracle, on hostile span corpora (unicode whitespace, CJK
adjacency, combining marks, glyph checkboxes, giant lines, unsorted
offsets, interleaved media).

This harness found three real tri-engine regex divergences (Java regexp
vs RE2/pyarrow vs python re) that rules.jre() and the fused kernel's
non-ASCII python-re fallback now close:
  1. NBSP/CJK inside metadata text (Java ASCII-only \\w/\\s vs python),
  2. U+2028/U+2029 as Java line terminators for '.' (UNIX_LINES),
  3. combining marks counted into Java's (?U)\\w and the \\b it induces.
Seeds are fixed so the corpus is deterministic; each seed exercised a
distinct bug class when it was found.
"""

import random

import pytest

from pdf_extraction_spark import oracle
from tools.fuzz_extraction import PLANS, doc_diff, docs_frame

NASTY = [
    "", " ", "\t \t", " ​", "þþþ ¨✓þ",
    "I. STRUCTURAL SYSTEMS", "IV. ", "IX.  Doubled  Space", "XVIII. Deep Roman",
    "iv. lowercase roman", "II.NoSpace", "V .Spaced dot",
    "A. Foundations", "Z. z", "B.  ", "a. lower sub",
    "þorn's “smart” – quotes — here",
    "ééé combining marks ë",
    "safety hazard gas fire immediate",
    "Comments: leak observed near the foundation",
    "note: minor crack",
    "Deficient item marked D today",
    "checkbox þ ✓ ¨ D status row",
    "Item | Estimated Cost | Notes",
    "Roof fix | $500 - $700 | flashing",
    "Total | 2,000 dollars | combined",
    "weird | table | row | with | many | cells",
    "$1,234.56 and 99$ and 12 dollars",
    "It is recommended that professionals review this report",
    "Noting limitations in scope of the inspection",
    "This report is prepared for the exclusive use",
    "no issues observed - functional and satisfactory",
    "within normal limits",
    "平仮名 カタカナ 漢字 mixed ascii",
    "emoji 🙂 in line 🚰 plumbing",
    "x" * 5000,
    ("long sentence with repair and replace keywords " * 80).strip(),
    "1234 Main St, Houston, TX 77002",
    "Square footage: 2,450 sqft built in 1978 two stories",
    "price range 150$ to $3,000.50 total",
    "NP", "NI", "D", "I", " P ",
    "GENERAL FINDINGS",
    "Observations",
    "\x00null\x00byte",
    "Report Number:\u00a0RPT-9",
    "Inspection Date:\u2003Saturday, August 16, 2025",
    "Square\u00a0footage: 1,999 sqft",
    "Built in\u00a01985, two\u00a0stories",
    "price 45\u00a0$ and 3\u00a0dollars",
    "IV.\u2028Sep Title",
    "IX.\u2003Em Space Title",
    "12 dollars\n\u6f22\u5b57 interleaved\n99 Oak St, Houston, TX 77002",
    "D\u6f22 adjacency \u6f22D and \u00a1NP!",
    "Report Number: RPT-9",
    "Inspection Date: Saturday, August 16, 2025",
    "Square footage: 1,999 sqft",
    "Built in 1985, two stories",
    "price 45 $ and 3 dollars",
    "IV. Sep Title",
    "12 dollars\n漢字 interleaved\n99 Oak St, Houston, TX 77002",
    "D漢 adjacency 漢D and ¡NP!",
    "trailing spaces    ",
    "    leading spaces",
    "line\nwith\ninternal\nnewlines",
    # RE2's \s excludes \x0b and \x1c-\x1f — ASCII chars python's \s
    # matches, so they dodge the fused kernels' non-ASCII python-re
    # reroute; rules.re2() closes the gap (4th tri-engine divergence,
    # found by the extended random-unicode fuzz campaign)
    "A. \x0b\t\n\r\r\x0b\n\n\x0c\x0b\t\r176585748  Deficient item marked D today",
    "IV. \x0bVertical tab section",
    "A. \x1c\x1d\x1e\x1fseparator heading observed",
    # Unicode decimal digits in metadata numerics: the oracle's int()/
    # float() read them, the casts of the other plans did not
    "Year built: \u0661\u0669\u0668\u0665",
    "2,\u0661\u0660\u0660 sq ft",
    "\u0663 bedrooms",
    "\u0662.\u0665 baths",
]


def gen_docs(n_docs, seed):
    rng = random.Random(seed)
    docs = []
    for d in range(n_docs):
        n = rng.randint(1, 60)
        spans = []
        for i in range(n):
            if rng.random() < 0.12:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"img_{d}_{i}.png", "offset": i})
            else:
                t = rng.choice(NASTY)
                if rng.random() < 0.3:
                    t = t + " " + rng.choice(NASTY)
                spans.append({"kind": "text", "text": t,
                              "media_ref": "", "offset": i})
        rng.shuffle(spans)  # unsorted input order
        docs.append((f"f{d:04d}", spans))
    return docs


@pytest.mark.parametrize("seed", [1, 3, 6])
@pytest.mark.parametrize("plan_name", list(PLANS))
def test_adversarial_corpus_matches_oracle(spark, plan_name, seed):
    docs = gen_docs(40, seed)
    want = {d: oracle.extract_doc(d, spans) for d, spans in docs}
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in PLANS[plan_name](docs_frame(spark, docs)).collect()}
    assert doc_diff(got, want) == []


def test_null_text_span_is_skipped_by_every_plan(spark):
    """A NULL span text is left out of the metadata page texts, as the
    exploded plan's array_join leaves it out (the fused kernel's Python
    join raised on it)."""
    sdf = spark.createDataFrame(
        [("n", [("text", "Report Number: R-1", "", 0), ("text", None, "", 1),
                ("text", "3 bedrooms", "", 2)])],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>")
    for plan in PLANS.values():
        (row,) = plan(sdf).collect()
        meta = row["metadata"].asDict()
        assert (meta["report_number"], meta["bedrooms"]) == ("R-1", 3)
        assert [s["text"] for s in row["spans"]] == \
            ["Report Number: R-1", "", "3 bedrooms"]


# The metadata cascades' hostile pool: every code point class where RE2
# and Python re could part ways (NBSP, Arabic-Indic digits, the dotted
# and dotless i, long s, the Kelvin sign, U+1D7D8 and U+11F50 digits
# beyond the BMP, the ideographic space, \x0b, \x1c, \x85, U+2028, a
# trailing newline), spliced between the patterns' own keywords.
META_POOL = [" ", "١", "٢", "٩", "٠", "İ",
             "ı", "ſ", "K", "\U0001d7d8", "\U00011f50",
             "　", "\x0b", "\x1c", "\x85", " ", "\n", " ", ",",
             ".", ":", ";", "a", "k", "s", "T", "X"]
META_WORDS = [
    "Report Number:", "Inspection Date:", "Date:", "square feet", "sq ft",
    "SF", "living area", "approx.", "year built", "built in",
    "construction date", "circa", "ca.", "story", "level", "stories:",
    "one", "Two", "single", "property type:", "home type", "style:",
    "single family", "townhome", "condo", "ranch", "lot size:", "lot:",
    "acres", "bedrooms", "bed", "baths", "bathroom", "location:",
    "address:", "Houston, TX", "Texas", "TX", "KS",
]
# whole field phrases; {s} is drawn from the pool, {d} is 1-5 digits and
# {z} 5 digits
META_PHRASES = [
    "{d}{s}Main St,{s}Houston,{s}TX{s}{z}", "{d}{s}Oak{s}Ave,{s}Austin,KS{z}",
    "lot size:{s}{d},{d}{s}sq ft", "lot:{s}{d}.{d}{s}acres",
    "Year built:{s}{d}", "{d}{s}bedrooms", "{d}.{d}{s}baths",
    "{d}{s}story", "stories:{s}{d}", "{d},{d}{s}sq{s}ft",
]
META_DIGITS = "0123456789٠١٢٣٥٨٩"


def _meta_text(rng: random.Random) -> str:
    def digits(n: int) -> str:
        return "".join(rng.choice(META_DIGITS) for _ in range(n))

    parts = []
    for _ in range(rng.randint(1, 14)):
        r = rng.random()
        if r < 0.2:
            phrase = rng.choice(META_PHRASES)
            while "{" in phrase:
                phrase = phrase.replace("{s}", rng.choice(META_POOL), 1) \
                    .replace("{d}", digits(rng.randint(1, 5)), 1) \
                    .replace("{z}", digits(5), 1)
            parts.append(phrase)
        elif r < 0.5:
            parts.append(rng.choice(META_WORDS))
        elif r < 0.75:
            parts.append(digits(rng.randint(1, 5)))
        else:
            parts.append("".join(rng.choice(META_POOL)
                                 for _ in range(rng.randint(1, 4))))
        # never "": digit runs stay short enough for the int32 fields
        parts.append(rng.choice([" ", "\n", "\u00a0", ": ", ", "]))
    if rng.random() < 0.2:
        parts.append("\n")
    return "".join(parts)


def test_metadata_cascades_match_oracle_on_unicode():
    """fused._metadata_records (RE2 with the narrow Python-re reroute)
    against the oracle's Python re, on 3,000 seeded documents of two
    pages each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pdf_extraction_spark import rules
    from pdf_extraction_spark.corpus import LINES_PER_PAGE
    from pdf_extraction_spark.plans.fused import _metadata_records

    rng = random.Random(9)
    pages = [(_meta_text(rng), _meta_text(rng)) for _ in range(3000)]
    want = [oracle._extract_metadata(
        [{"kind": "text", "text": a, "media_ref": "", "offset": 0},
         {"kind": "text", "text": b, "media_ref": "",
          "offset": LINES_PER_PAGE}]) for a, b in pages]
    first2 = pa.array([f"{a}\n{b}" for a, b in pages])
    got = _metadata_records(pa.array([a for a, _ in pages]), first2,
                            np.full(len(pages), 2)).to_pylist()
    assert got == want
    # the pool reaches both engines and every field
    rerouted = pc.match_substring_regex(first2, rules.RE2_DIVERGENT) \
        .to_numpy(zero_copy_only=False).sum()
    assert 100 < rerouted < len(pages) - 100
    for k in want[0]:
        assert sum(w[k] is not None for w in want) >= 30, k
