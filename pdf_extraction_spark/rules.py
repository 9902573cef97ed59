"""Rule tables for the PySpark-native extraction engine.

Every constant here is a transcription of a deterministic rule observed in the
reference repo (``VanshChitransh/pdf-extraction``, read-only at /root/reference).
Citations use ``file:line`` of the reference; ``text_extractor.pyc:N`` refers to
original source line numbers recovered from
``src/__pycache__/text_extractor.cpython-313.pyc`` (the checked-in ``.py`` is
gutted — see SURVEY.md "Critical recovery note").

This module is pure data + tiny pure-python helpers. Both the Spark pipeline
(column expressions / pandas UDFs) and the pandas oracle (tests/golden) import
from here so the two implementations cannot drift on rule content.
"""

from __future__ import annotations

import re
import unicodedata

# ---------------------------------------------------------------------------
# T1 — unicode normalization (text_extractor.pyc:11-64)
# ---------------------------------------------------------------------------

# Ordered replacement map (dict iteration order is load-bearing; transcribed in
# the order embedded in the pyc constants).
UNICODE_REPLACEMENTS: list[tuple[str, str]] = [
    ("þ", "th"),   # þ thorn
    ("Þ", "Th"),   # Þ Thorn
    ("�", ""),     # replacement char
    ("\x00", ""),       # null byte
    ("\xa0", " "),      # NBSP
    ("​", ""),     # zero-width space
    ("’", "'"),    # right single quote
    ("“", '"'),    # left double quote
    ("”", '"'),    # right double quote
    ("–", "-"),    # en dash
    ("—", "--"),   # em dash
]


def normalize_unicode_text(text: str) -> str:
    """Reference semantics of ``normalize_unicode_text`` (text_extractor.pyc:11-64):
    replacement map -> NFKD -> drop combining marks (category M*).

    ASCII fast path: NFKD is the identity on ASCII and ASCII has no
    category-M characters, so post-replacement ASCII text returns as-is
    (exact, and the overwhelmingly common case)."""
    if not text:
        return text
    for old, new in UNICODE_REPLACEMENTS:
        if old in text:
            text = text.replace(old, new)
    if text.isascii():
        return text
    text = unicodedata.normalize("NFKD", text)
    return "".join(c for c in text if not unicodedata.category(c).startswith("M"))


# python-re word chars: alphanumerics (L*, N*) + underscore. Java's (?U)\w
# additionally includes combining marks (Mn/Mc/Me) and join controls, so \w,
# \b and \S are rewritten into explicit classes / lookarounds instead.
_PY_W = r"[\p{L}\p{N}_]"
# python-re whitespace: Unicode White_Space + the U+001C-1F separators
# (str.isspace() includes them; the White_Space property does not)
_PY_S = r"[\s\x1c-\x1f]"
_PY_B = (r"(?:(?<=[\p{L}\p{N}_])(?![\p{L}\p{N}_])"
         r"|(?<![\p{L}\p{N}_])(?=[\p{L}\p{N}_]))")
_JRE_MAP = {"w": _PY_W, "s": _PY_S, "S": "[^\\s\\x1c-\\x1f]", "b": _PY_B}
_JRE_CACHE: dict[str, str] = {}


def jre(pattern: str) -> str:
    """Compile a shared pattern to Java-regex form with python-re
    semantics (for rlike/regexp_extract in the exploded plan).

    Java's default \\w/\\s/\\S/\\d classes are ASCII-only while Python's
    re module — the engine the reference runs on and the one the fused
    plan's kernels and the golden oracle use — is Unicode-aware; and
    Java's unicode classes ((?U)) are *wider* than python's (\\w and the
    \\b it induces include combining marks). So: \\w/\\s/\\S/\\b are
    rewritten into explicit Java classes/lookarounds matching python
    exactly (class forms are Java class-union syntax, legal both inside
    and outside [...]); (?U) aligns the remaining \\d; UNIX_LINES ((?d))
    narrows Java's line-terminator set for ./^/$ to \\n like python.
    All three divergence classes were found by the differential fuzz in
    tests/test_extraction_fuzz.py (NBSP after 'Report Number:', CJK
    between a number and an address, combining marks inside an address).
    """
    out = _JRE_CACHE.get(pattern)
    if out is None:
        parts: list[str] = []
        i = 0
        while i < len(pattern):
            c = pattern[i]
            if c == "\\" and i + 1 < len(pattern) and \
                    pattern[i + 1] in _JRE_MAP:
                parts.append(_JRE_MAP[pattern[i + 1]])
                i += 2
            elif c == "\\":
                parts.append(pattern[i:i + 2])
                i += 2
            else:
                parts.append(c)
                i += 1
        out = "(?Ud)" + "".join(parts)
        _JRE_CACHE[pattern] = out
    return out


# Python re's \s, \d and \w as RE2 class members. RE2's own \s/\d/\w are
# ASCII-only ([\t\n\f\r ], [0-9], [0-9A-Za-z_]); these Unicode forms
# match exactly what Python 3.11 re matches on every BMP code point
# outside RE2_DIVERGENT (tests/test_jre.py scans all of them).
_RE2_MEMBERS = {
    "s": r"\t\n\x{0b}\f\r\x{1c}-\x{1f}\x{85}\p{Z}",
    "d": r"\p{Nd}",
    "w": r"\p{L}\p{N}_",
}
# The code points where an re2() pattern and Python re can disagree:
# U+10000 and above (RE2's Unicode tables are newer than Python 3.11's),
# U+0130/U+0131 (Python's (?i) folds both onto i, RE2 neither), U+0345
# (RE2's (?i) folds it into \p{L} through iota, Python's \w excludes
# it), and U+2028/U+2029 (line ends to Java's regex; RE2 and Python
# agree on them in every test here, and the set keeps them as a guard).
# Callers find rows holding any of them with one RE2 mask and re-run
# just those rows under Python re.
RE2_DIVERGENT = (r"[\x{0130}\x{0131}\x{0345}\x{2028}\x{2029}"
                 r"\x{10000}-\x{10ffff}]")
_RE2_CACHE: dict[tuple[str, str | None], str] = {}


def re2(pattern: str, group: str | None = None) -> str:
    """Compile a shared pattern to RE2 form with Python re semantics
    (for the pyarrow.compute regex scans of the fused kernels).

    \\s, \\d and \\w become explicit Unicode classes (bare members inside
    an existing [...]) and \\S, \\D, \\W their negations; a negated class
    inside [...] has no member form and raises. The result agrees with
    Python re on every string free of RE2_DIVERGENT code points. \\b is
    left as RE2's ASCII word boundary, so callers using it re-run
    non-ASCII rows under Python re. ``group`` names the pattern's single
    capture group, as ``pyarrow.compute.extract_regex`` requires."""
    key = (pattern, group)
    out = _RE2_CACHE.get(key)
    if out is None:
        parts: list[str] = []
        in_class = False
        groups = 0
        i = 0
        while i < len(pattern):
            c = pattern[i]
            nxt = pattern[i + 1] if i + 1 < len(pattern) else ""
            if c == "\\" and nxt.lower() in _RE2_MEMBERS:
                members = _RE2_MEMBERS[nxt.lower()]
                if nxt.islower():
                    parts.append(members if in_class else f"[{members}]")
                elif in_class:
                    raise ValueError(f"\\{nxt} inside a character class has "
                                     "no RE2 member-list rewrite")
                else:
                    parts.append(f"[^{members}]")
                i += 2
            elif c == "\\":
                parts.append(pattern[i:i + 2])
                i += 2
            else:
                if c == "[" and not in_class:
                    in_class = True
                elif c == "]" and in_class:
                    in_class = False
                elif c == "(" and not in_class and nxt != "?":
                    groups += 1
                    if group is not None:
                        c = f"(?P<{group}>"
                parts.append(c)
                i += 1
        if group is not None and groups != 1:
            raise ValueError(f"{pattern!r} has {groups} capture groups, "
                             "not one")
        out = "".join(parts)
        _RE2_CACHE[key] = out
    return out


# ---------------------------------------------------------------------------
# W1 — section / subsection tracking (text_extractor.pyc:90-129)
# ---------------------------------------------------------------------------

SECTION_RE = r"^([IVX]+)\.\s+(.+)$"       # text_extractor.pyc:101
SUBSECTION_RE = r"^([A-Z])\.\s+(.+)$"     # text_extractor.pyc:108
DEFAULT_SECTION = "HEADER"                # text_extractor.pyc:124
DEFAULT_SUBSECTION = ""                   # text_extractor.pyc:125

# ---------------------------------------------------------------------------
# C1 — status detection (text_extractor.pyc:140-175)
# ---------------------------------------------------------------------------

# Checkbox glyph alternation; patterns tried in order, first match wins.
_CB = r"([þ✓]|¨)"
CHECKBOX_PATTERNS: list[tuple[str, tuple[str, ...]]] = [
    (rf"\b{_CB}\s*{_CB}\s*{_CB}\s*{_CB}", ("I", "NI", "NP", "D")),
    (rf"\b{_CB}\s*{_CB}\s*{_CB}", ("I", "NI", "D")),
    (rf"\b{_CB}\s*{_CB}", ("I", "D")),
    (rf"\b{_CB}", ("I",)),
]
BARE_STATUS_RE = r"\b([DINP])\b"
CHECKED_GLYPHS = ("þ", "✓")


def detect_status(line: str) -> str | None:
    """First-match-wins checkbox/status detection (text_extractor.pyc:140-175).

    For glyph patterns the *position* of the first checked glyph maps to the
    status list; bare single letters D/I/N/P map to themselves.
    """
    for pattern, status_map in CHECKBOX_PATTERNS:
        m = re.search(pattern, line)
        if m:
            for i, cb in enumerate(m.groups()):
                if cb in CHECKED_GLYPHS:
                    return status_map[i]
            return None
    m = re.search(BARE_STATUS_RE, line)
    if m:
        return m.group(1)
    return None


# ---------------------------------------------------------------------------
# W2 — issue segmentation (src/data_structurer.py:78-107)
# ---------------------------------------------------------------------------

ISSUE_KEYWORDS = [
    "comments:", "note:", "observation:", "finding:", "issue:",
    "deficiency:", "problem:", "concern:", "recommendation:",
]  # src/data_structurer.py:88-91
SUBSECTION_CHANGE_MIN_LEN = 200  # src/data_structurer.py:96-99

# ---------------------------------------------------------------------------
# C4 — priority (src/data_structurer.py:110-144)
# ---------------------------------------------------------------------------

HIGH_PRIORITY_KEYWORDS = [
    "safety", "hazard", "danger", "urgent", "critical", "severe",
    "structural", "foundation", "electrical", "gas", "fire",
]  # src/data_structurer.py:121-124
MEDIUM_PRIORITY_KEYWORDS = [
    "repair", "replace", "maintenance", "damage", "worn", "crack",
]  # src/data_structurer.py:133-135
LOW_PRIORITY_STATUSES = ("I", "NI", "NP")  # src/data_structurer.py:141

# ---------------------------------------------------------------------------
# C5 — title extraction (src/data_structurer.py:147-157)
# ---------------------------------------------------------------------------
TITLE_MAX_FIRST_SENTENCE = 100


def extract_title(content: str) -> str:
    sentences = content.split(".")
    if sentences and len(sentences[0]) < TITLE_MAX_FIRST_SENTENCE:
        return sentences[0].strip()
    return content[:100].strip() + ("..." if len(content) > 100 else "")


# ---------------------------------------------------------------------------
# T6 — price parsing (src/data_structurer.py:194-198)
# ---------------------------------------------------------------------------

PRICE_PATTERNS = [
    r"\$(\d+(?:,\d{3})*(?:\.\d{2})?)",          # $1,234.56
    r"(\d+(?:,\d{3})*(?:\.\d{2})?)\s*\$",       # 1234.56$
    r"(\d+(?:,\d{3})*(?:\.\d{2})?)\s*dollars?",  # 1234.56 dollars
]

# ---------------------------------------------------------------------------
# C6 — table classification (src/table_extractor.py:87-116); ordered cascade
# ---------------------------------------------------------------------------

TABLE_TYPE_KEYWORDS: list[tuple[str, list[str]]] = [
    ("elevation_survey", ["elevation", "height", "level", "grade", "slope"]),
    ("cost_estimate", ["price", "cost", "range", "$", "estimate", "repair"]),
    ("inspection_checklist", ["i", "ni", "np", "d", "inspected", "deficient"]),
    ("measurement", ["measurement", "dimension", "length", "width", "depth"]),
    ("summary", ["summary", "total", "count", "number"]),
]
TABLE_MAX_ROWS = 1000   # src/table_extractor.py:197
TABLE_MAX_COLS = 50     # src/table_extractor.py:200

# ---------------------------------------------------------------------------
# S1 — doc metadata scan (src/metadata_extractor.py:22-35)
# ---------------------------------------------------------------------------

REPORT_NUMBER_RE = r"Report Number:\s*(\S+)"
INSPECTION_DATE_RE = r"Inspection Date:\s*(.+?)(?:\n|$)"
DATE_FALLBACK_RE = r"Date:\s*(.+?)(?:\n|$)"
ADDRESS_TX_RE = r"(\d+\s+[\w\s]+,\s*\w+,\s*TX\s*\d{5})"
ADDRESS_ANY_RE = r"(\d+\s+[\w\s]+,\s*\w+,\s*[A-Z]{2}\s*\d{5})"
REPORT_TYPE_ESTIMATE_MARKER = "Repair Pricer"

# ---------------------------------------------------------------------------
# T7 — property metadata regexes (text_extractor.pyc:273-409)
# ---------------------------------------------------------------------------

SQFT_PATTERNS = [
    r"(?:square\s*feet|sq\.?\s*ft\.?|sf)[:\s]*(\d{1,2},?\d{3})",
    r"(\d{1,2},?\d{3})\s*(?:square\s*feet|sq\.?\s*ft\.?|sf)",
    r"(?:living\s*area|total\s*area)[:\s]*(\d{1,2},?\d{3})",
    r"(?:approx\.?\s*)?(\d{1,2},?\d{3})\s*sq",
]
YEAR_PATTERNS = [
    r"(?:year\s*built|built|construction\s*date)[:\s]*(\d{4})",
    r"(?:built\s*in\s*)?(\d{4})",
    r"(?:circa|ca\.?|c\.?)\s*(\d{4})",
]
YEAR_MIN, YEAR_MAX = 1800, 2025
STORIES_PATTERNS = [
    r"(\d)\s*story",
    r"(\d)\s*level",
    r"stories?[:\s]*(\d)",
    r"(one|two|three|single|double|triple)\s*story",
]
STORY_WORDS = {"one": 1, "single": 1, "two": 2, "double": 2, "three": 3, "triple": 3}
HOME_TYPE_PATTERNS = [
    r"(?:property\s*type|home\s*type|style)[:\s]*([\w\s]+?)(?:\n|,|;)",
    r"(single\s*family|townh?ome?|condo(?:minium)?|duplex|ranch|colonial|victorian)",
]
LOT_PATTERNS = [
    r"lot\s*size[:\s]*([\d,]+)\s*(?:sq\.?\s*ft\.?|sf)",
    r"lot[:\s]*([\d.]+)\s*acres?",
]
BED_PATTERNS = [r"(\d+)\s*bed(?:room)?s?", r"bed(?:room)?s?[:\s]*(\d+)"]
BATH_PATTERNS = [r"(\d+(?:\.\d+)?)\s*bath(?:room)?s?", r"bath(?:room)?s?[:\s]*(\d+(?:\.\d+)?)"]
LOCATION_PATTERNS = [
    r"(?:location|address|property\s*address)[:\s]*([^\n]+)",
    r"(Houston,?\s*(?:TX|Texas))",
]

# ---------------------------------------------------------------------------
# F4/F5/F6/F7/F8 — data quality validation
# (src/validation/data_quality_validator.py)
# ---------------------------------------------------------------------------

METADATA_KEYWORDS = [
    "contractual time limitations",
    "qualified service professionals",
    "option periods",
    "prior to the expiration",
    "it is recommended that",
    "the inspector is not required",
    "responsibility of the client",
    "indicate an item as deficient",
    "adversely and materially affects",
    "as specified by the sops",
    "does not constitute",
    "this report",
    "inspection standards",
    "limitations of inspection",
]  # data_quality_validator.py:70-85

DISCLAIMER_PHRASES = [
    "the inspector", "this report", "is not required to",
    "does not include", "limitations", "disclaimer",
]  # data_quality_validator.py:394-401
DISCLAIMER_RESCUE_WORDS = [
    "repair", "replace", "damaged", "missing", "leak", "crack",
    "worn", "rusted", "broken", "defect", "recommend", "install",
]  # data_quality_validator.py:403-406

NON_ISSUE_PATTERNS = [
    r"\bno\s+(significant\s+)?(issues|deficiencies|damage|leaks?|moisture|hazards?)\s+(observed|detected|noted|found)\b",
    r"\bno\s+(active\s+)?(leaks?|moisture)\b",
    r"\bperforming\s+its\s+intended\s+function\b",
    r"\boperating\s+as\s+designed\b",
    r"\bfunctional\b",
    r"\bsatisfactory\b",
    r"\bwithin\s+normal\s+limits\b",
    r"\bno\s+significant\s+deficiencies\b",
    r"\bno\s+(apparent\s+)?(problems|concerns)\b",
]  # data_quality_validator.py:414-424

HEADER_CI_PATTERNS = [
    r"^comments?:?\s*$", r"^note:?\s*$", r"^notes?:?\s*$", r"^important:?\s*$",
    r"^disclaimer:?\s*$", r"^observations?:?\s*$", r"^findings?:?\s*$",
    r"^summary:?\s*$", r"^recommendations?:?\s*$", r"^overview:?\s*$",
    r"^inspection notes?:?\s*$", r"^general:?\s*$",
]  # data_quality_validator.py:434-447
HEADER_CS_PATTERNS = [
    r"^[ivx]+\.\s*[A-Z\s]+$",  # roman numerals + caps
    r"^[A-Z\s]+:?\s*$",        # all caps
    r"^\d+\.\s*[A-Z\s]+$",     # numbered section headers
]  # data_quality_validator.py:449-453
HEADER_SINGLE_WORDS = [
    "comment", "comments", "note", "notes", "observation", "observations",
    "finding", "findings", "important", "summary", "overview", "general",
    "recommendation", "recommendations", "disclaimer",
]  # data_quality_validator.py:483-486
SECTION_INDICATOR_PHRASES = [
    "section for", "brief note", "for your information", "please note", "refer to",
]  # data_quality_validator.py:494-495
HEADER_PREFIX_RE = r"^(comments?|notes?|observations?|findings?|important):\s+"
HEADER_ISSUE_KEYWORDS = [
    "damaged", "broken", "cracked", "leak", "missing", "worn",
    "high", "low", "incorrect", "improper", "not", "should",
    "recommend", "repair", "replace", "too", "excessive",
    "insufficient", "deficient", "deteriorat", "rust", "corroded",
]  # data_quality_validator.py:514-519
TITLE_ACTION_WORDS = [
    "repair", "replace", "fix", "install", "damaged", "leak", "crack",
]  # data_quality_validator.py:541-543
NON_ACTIONABLE_PHRASES = [
    "for your information", "please note", "inspector recommends", "refer to",
    "see section", "as noted", "section for", "brief note",
]  # data_quality_validator.py:548-557

ACTIONABLE_KEYWORDS = [
    "repair", "replace", "install", "fix", "damaged", "missing",
    "leak", "crack", "broken", "worn", "rusted", "defect",
    "recommend", "maintain", "seal", "clean", "adjust", "service",
]  # data_quality_validator.py:578-582
MEANING_LOCATIONS = [
    "roof", "wall", "floor", "ceiling", "attic", "basement",
    "kitchen", "bathroom", "bedroom", "garage", "exterior", "interior",
]  # data_quality_validator.py:591-594
MEASUREMENT_RE = r"\d+\s*(inch|ft|year|degree|percent|%|\")"  # :590

VALID_STATUSES = {
    "D", "I", "NI", "NP", "Deficient", "Inspected", "Not Inspected", "Not Present",
}  # data_quality_validator.py:107

MIN_DESCRIPTION_LENGTH = 5      # data_quality_validator.py:111
MIN_QUALITY_SCORE = 0.3         # :112
MIN_ASCII_RATIO = 0.2           # :113
MAX_SPECIAL_CHAR_RATIO = 0.7    # :114

# ---------------------------------------------------------------------------
# T2 — text cleaning (src/cleaning/text_cleaner.py:19-64)
# ---------------------------------------------------------------------------

OCR_CORRECTIONS = {
    "roo1": "roof", "wa11": "wall", "0utlet": "outlet", "1eak": "leak",
    "f1oor": "floor", "cei1ing": "ceiling", "e1ectrical": "electrical",
    "p1umbing": "plumbing", "rep1ace": "replace", "insta11": "install",
    "tbe": "the", "tbis": "this", "witb": "with", "tbat": "that",
    "wbere": "where", "wben": "when",
    "repai r": "repair", "rep air": "repair", "repa ir": "repair",
    "inspec tion": "inspection", "inspect ion": "inspection",
    "recomm end": "recommend", "recommen d": "recommend",
    "hv ac": "HVAC", "a/c": "AC", "wat er": "water",
    "ele ctrical": "electrical", "plumb ing": "plumbing",
    "struc tural": "structural",
}  # word-level map (single-token entries apply per word; multi-token via regex)
TITLE_CASE_ITEMS = {
    "hvac", "ac", "gfci", "afci", "pex", "pvc", "abs", "csst",
    "led", "cfl", "tpo", "epdm", "eifs",
}  # text_cleaner.py:61-64
SPLIT_SUFFIXES = ["ed", "er", "ly", "al", "or", "ar", "ir"]  # text_cleaner.py:157
DUPLICATE_SIMILARITY_THRESHOLD = 0.85  # text_cleaner.py:275

# ---------------------------------------------------------------------------
# C7 — severity normalization (src/normalization/severity_normalizer.py)
# ---------------------------------------------------------------------------

SEVERITY_MAPPING = {
    "critical": [
        "critical", "immediate", "urgent", "emergency", "safety hazard",
        "dangerous", "severe", "life safety", "imminent danger", "hazardous",
        "unsafe", "immediate attention", "serious safety", "extreme",
    ],
    "high": [
        "high priority", "high", "major", "significant", "important",
        "needs immediate repair", "structural concern", "substantial",
        "considerable", "notable", "prompt attention", "serious",
    ],
    "medium": [
        "moderate", "medium", "attention needed", "monitor", "should repair",
        "recommended", "advisable", "typical", "common", "routine repair",
        "normal wear", "standard maintenance",
    ],
    "low": [
        "minor", "low", "cosmetic", "informational", "low priority",
        "aesthetic", "appearance", "optional", "convenience", "nice to have",
        "improvement", "minor concern", "slight",
    ],
}  # severity_normalizer.py:18-39
STATUS_TO_SEVERITY = {
    "D": "high", "I": "low", "NI": "medium", "NP": "low",
    "Deficient": "high", "Inspected": "low",
    "Not Inspected": "medium", "Not Present": "low",
}  # severity_normalizer.py:42-51
SEVERITY_BOOSTERS = {
    "critical": ["leak", "water damage", "electrical", "fire", "gas",
                 "structural", "foundation", "safety"],
    "high": ["roof", "hvac", "plumbing", "major system", "significant damage"],
}  # severity_normalizer.py:54-57

# ---------------------------------------------------------------------------
# C8 — action normalization (src/normalization/action_normalizer.py:17-113)
# ---------------------------------------------------------------------------

ACTION_TAXONOMY: dict[str, dict[str, list[str]]] = {
    "immediate_repair": {
        "keywords": [
            "repair immediately", "fix asap", "urgent repair", "immediate attention",
            "repair now", "address immediately", "correct asap", "fix urgently",
            "emergency repair", "repair promptly",
        ],
        "patterns": [
            r"repair.*immediately", r"immediate.*repair", r"fix.*asap",
            r"urgent.*repair", r"emergency.*repair",
        ],
    },
    "replacement": {
        "keywords": [
            "replace", "replacement needed", "install new", "full replacement",
            "remove and replace", "new installation", "replace unit",
            "replace system", "upgrade to new", "install replacement",
        ],
        "patterns": [r"replace\b", r"replacement", r"install\s+new", r"remove\s+and\s+replace"],
    },
    "further_inspection": {
        "keywords": [
            "further evaluation", "specialist evaluation", "professional assessment",
            "detailed inspection", "evaluate by", "inspection by", "consult with",
            "expert opinion", "licensed contractor", "qualified professional",
            "further investigation", "additional inspection", "specialist required",
        ],
        "patterns": [
            r"evaluat.*by", r"inspect.*by", r"consult\s+with",
            r"licensed\s+(contractor|professional)",
            r"qualified\s+(contractor|professional)", r"specialist", r"expert.*opinion",
        ],
    },
    "monitoring": {
        "keywords": [
            "monitor", "observe", "watch", "track over time", "periodic inspection",
            "check regularly", "keep an eye on", "review periodically",
            "monitor condition", "ongoing observation", "routine check",
        ],
        "patterns": [r"monitor\b", r"observe\b", r"watch\b", r"track.*time", r"periodic"],
    },
    "maintenance": {
        "keywords": [
            "maintain", "service", "clean", "routine maintenance", "regular maintenance",
            "upkeep", "servicing", "scheduled maintenance", "preventive maintenance",
            "maintain regularly", "keep maintained", "routine service",
        ],
        "patterns": [r"maintain\b", r"maintenance\b", r"service\b", r"clean\b", r"upkeep\b"],
    },
    "no_action": {
        "keywords": [
            "no action required", "acceptable condition", "within normal limits",
            "no repair needed", "informational only", "for your information",
            "note only", "no deficiency",
        ],
        "patterns": [r"no\s+action", r"no\s+repair", r"acceptable", r"informational\s+only"],
    },
}
ACTION_PRIORITY = {
    "immediate_repair": 5, "replacement": 4, "further_inspection": 3,
    "maintenance": 2, "monitoring": 1, "no_action": 0, "unknown": 0,
}  # action_normalizer.py:106-114

# ---------------------------------------------------------------------------
# J2/J3 — component taxonomy (src/enrichment/component_taxonomy.py:18-78)
# ---------------------------------------------------------------------------

TAXONOMY: dict[str, dict[str, list[str]]] = {
    "HVAC": {
        "subcategories": ["furnace", "air_conditioner", "heat_pump", "ductwork",
                          "thermostat", "air_handler", "condenser"],
        "aliases": ["heating", "cooling", "hvac system", "climate control", "ac",
                    "a/c", "heat", "air conditioning", "central air", "hvac unit",
                    "heating system", "cooling system"],
    },
    "Roofing": {
        "subcategories": ["shingles", "flashing", "gutters", "downspouts",
                          "chimney", "skylights", "vents", "ridge"],
        "aliases": ["roof", "rooftop", "roof covering", "roofing system",
                    "roof shingles", "roof membrane", "roof surface", "gutter system"],
    },
    "Plumbing": {
        "subcategories": ["water_heater", "pipes", "drains", "fixtures",
                          "water_supply", "sewer", "faucets", "toilets"],
        "aliases": ["plumbing system", "water system", "piping", "drain system",
                    "water lines", "supply lines", "waste lines",
                    "plumbing fixtures", "hot water heater"],
    },
    "Electrical": {
        "subcategories": ["panel", "wiring", "outlets", "switches", "gfci",
                          "afci", "breakers", "lighting"],
        "aliases": ["electrical system", "electric", "electrical panel",
                    "breaker box", "wiring system", "electrical outlets", "power",
                    "circuit breaker", "service panel"],
    },
    "Structural": {
        "subcategories": ["foundation", "framing", "walls", "floors", "beams",
                          "joists", "supports"],
        "aliases": ["structure", "structural system", "framing system",
                    "load bearing", "structural support", "foundation system",
                    "slab", "concrete foundation"],
    },
    "Exterior": {
        "subcategories": ["siding", "trim", "doors", "windows", "decks",
                          "porches", "driveway", "walkways"],
        "aliases": ["exterior walls", "outside", "exterior surfaces", "facade",
                    "exterior finish", "exterior components", "outdoor features"],
    },
    "Interior": {
        "subcategories": ["walls", "ceilings", "floors", "doors", "windows",
                          "trim", "stairs"],
        "aliases": ["interior walls", "inside", "interior surfaces",
                    "interior finish", "interior components", "indoor features",
                    "drywall", "sheetrock"],
    },
    "Appliances": {
        "subcategories": ["dishwasher", "range", "oven", "microwave",
                          "refrigerator", "disposal", "hood"],
        "aliases": ["kitchen appliances", "appliance", "built-in appliances",
                    "cooking appliances"],
    },
    "Insulation": {
        "subcategories": ["attic_insulation", "wall_insulation",
                          "crawlspace_insulation", "ventilation"],
        "aliases": ["insulation system", "thermal barrier", "attic insulation",
                    "weatherization"],
    },
    "Windows_Doors": {
        "subcategories": ["windows", "doors", "glass", "frames", "screens",
                          "weatherstripping"],
        "aliases": ["windows and doors", "entry doors", "window system",
                    "door system", "glazing"],
    },
    "Fireplace": {
        "subcategories": ["firebox", "chimney", "damper", "hearth", "flue"],
        "aliases": ["fireplace system", "wood burning", "gas fireplace",
                    "fireplace insert"],
    },
    "Garage": {
        "subcategories": ["garage_door", "opener", "floor", "walls"],
        "aliases": ["garage system", "garage door system", "carport"],
    },
    "Grounds": {
        "subcategories": ["grading", "drainage", "retaining_walls", "fencing",
                          "landscaping"],
        "aliases": ["site", "yard", "property grounds", "exterior grounds",
                    "landscape"],
    },
}
ROOF_INDICATORS = [
    "roof", "shingle", "flashing", "gutter", "downspout", "roofing",
    "roof covering", "ridge", "roof deck", "roof surface", "roof leak",
    "roof damage", "roof repair", "roof replacement", "roof vent",
    "roof material", "roof structure", "roof system", "roof area",
    "rooftop", "roof edge", "roof drainage", "roof inspection",
]  # component_taxonomy.py:183-189

# ---------------------------------------------------------------------------
# C9 — attribute extraction (src/enrichment/attribute_extractor.py:17-79)
# ---------------------------------------------------------------------------

LOCATION_TERMS: dict[str, list[str]] = {
    "rooms": [
        "kitchen", "bedroom", "bathroom", "living room", "dining room",
        "family room", "master bedroom", "guest bedroom", "laundry room",
        "utility room", "garage", "basement", "attic", "crawlspace", "hallway",
        "foyer", "entry", "den", "office", "bonus room", "media room", "game room",
    ],
    "areas": [
        "front", "back", "rear", "side", "left", "right", "north", "south",
        "east", "west", "exterior", "interior", "upstairs", "downstairs",
        "first floor", "second floor", "ground level", "upper level", "lower level",
    ],
    "outdoor": [
        "roof", "driveway", "walkway", "patio", "deck", "porch", "yard", "lawn",
        "fence", "gate", "foundation", "exterior wall",
    ],
}
ATTR_MEASUREMENT_PATTERNS = [
    r"(\d+(?:\.\d+)?)\s*[xX×]\s*(\d+(?:\.\d+)?)\s*(?:feet|foot|ft|\'|inches|inch|in|\")?",
    r"(\d+(?:\.\d+)?)\s*(?:feet|foot|ft|\'|inches|inch|in|\")",
    r"(\d+(?:,\d{3})*(?:\.\d+)?)\s*(?:sq\.?\s*ft|square\s+feet|square\s+foot)",
    r"(\d+(?:\.\d+)?)\s*(?:%|percent)",
]
SQFT_ATTR_RE = r"(\d+(?:,\d{3})*(?:\.\d+)?)\s*(?:sq\.?\s*ft|square\s+feet)"
MATERIALS: dict[str, list[str]] = {
    "wood": ["wood", "wooden", "timber", "lumber", "oak", "pine", "cedar",
             "plywood", "hardwood"],
    "metal": ["metal", "steel", "aluminum", "iron", "galvanized", "copper", "brass"],
    "concrete": ["concrete", "cement", "masonry", "brick", "block", "cinder block"],
    "drywall": ["drywall", "sheetrock", "gypsum board", "wallboard"],
    "plastic": ["plastic", "pvc", "vinyl", "polyethylene", "abs"],
    "glass": ["glass", "glazing", "window glass"],
    "shingles": ["shingles", "asphalt shingles", "composition shingles", "roof shingles"],
    "tile": ["tile", "ceramic", "porcelain", "tiles"],
    "carpet": ["carpet", "carpeting", "rug"],
    "paint": ["paint", "painted", "coating"],
}
DAMAGE_TYPES: dict[str, list[str]] = {
    "water_damage": ["water damage", "water stain", "moisture", "wet", "damp",
                     "leak", "seepage"],
    "crack": ["crack", "cracked", "cracking", "fracture", "split"],
    "rust": ["rust", "rusted", "corrosion", "corroded", "oxidation"],
    "rot": ["rot", "rotted", "decay", "decayed", "deterioration"],
    "mold": ["mold", "mildew", "fungus", "fungi"],
    "wear": ["wear", "worn", "aging", "deteriorated", "degraded"],
    "missing": ["missing", "absent", "not present", "lacking"],
    "damaged": ["damaged", "broken", "defective", "compromised"],
    "improper": ["improper", "incorrect", "inadequate", "insufficient"],
}
SAFETY_KEYWORDS = [
    "safety", "hazard", "dangerous", "risk", "unsafe", "fire hazard",
    "electrical hazard", "shock hazard", "trip hazard", "fall hazard",
    "carbon monoxide", "gas leak", "structural integrity",
]
ACCESSIBILITY_PATTERNS: dict[str, list[str]] = {
    "difficult": ["difficult to access", "hard to reach", "limited access",
                  "not accessible"],
    "requires_equipment": ["requires ladder", "requires scaffolding", "needs lift",
                           "needs special equipment"],
    "confined_space": ["crawlspace", "attic", "tight space", "confined"],
    "easy": ["easily accessible", "readily accessible", "easy access"],
}
LOCATION_CONTEXT_RE = r"(?:in|at|near|around|by)\s+(?:the\s+)?(\w+(?:\s+\w+)?)"

# ---------------------------------------------------------------------------
# C10/C11/C12/C13 — metadata enrichment (src/enrichment/metadata_enricher.py)
# ---------------------------------------------------------------------------

URGENCY_SEVERITY_SCORES = {"critical": 4.0, "high": 3.0, "medium": 2.0,
                           "low": 1.0, "unknown": 0.0}
CATEGORY_COMPLEXITY = {"Structural": 3.0, "HVAC": 2.5, "Electrical": 2.5,
                       "Plumbing": 2.0, "Roofing": 2.0, "Foundation": 3.0}
ACCESSIBILITY_COMPLEXITY = {"difficult": 2.0, "requires_equipment": 2.5,
                            "confined_space": 1.5, "easy": -1.0}
SPECIALIZED_CATEGORIES = {"Electrical", "HVAC", "Plumbing", "Structural", "Roofing"}
SPECIALIZED_KEYWORDS = [
    "licensed", "electrician", "plumber", "hvac tech", "structural engineer",
    "contractor", "specialist", "professional", "certified", "qualified",
]
SIZE_BUCKETS = [(10, "small"), (50, "medium"), (200, "large")]  # else very_large

# ---------------------------------------------------------------------------
# C14/C15/C16 — issue classification (src/classification/issue_classifier.py)
# ---------------------------------------------------------------------------

TRADE_CLASSIFICATION: dict[str, dict[str, list[str]]] = {
    "plumbing": {
        "keywords": ["plumbing", "pipe", "drain", "water", "sewer", "faucet",
                     "toilet", "sink", "tub", "shower", "water heater", "leak",
                     "drainage"],
        "categories": ["Plumbing", "Water_Heater"],
    },
    "electrical": {
        "keywords": ["electrical", "electric", "wiring", "outlet", "switch",
                     "panel", "breaker", "gfci", "afci", "lighting", "fixture",
                     "circuit"],
        "categories": ["Electrical"],
    },
    "hvac": {
        "keywords": ["hvac", "heating", "cooling", "furnace", "air conditioner",
                     "ac", "heat pump", "ductwork", "thermostat", "ventilation",
                     "air handler"],
        "categories": ["HVAC"],
    },
    "structural": {
        "keywords": ["structural", "foundation", "framing", "beam", "joist",
                     "support", "load bearing", "structural integrity", "settling",
                     "slab"],
        "categories": ["Structural", "Foundation"],
    },
    "roofing": {
        "keywords": ["roof", "shingles", "flashing", "gutter", "downspout",
                     "roofing", "roof covering", "ridge", "roof deck"],
        "categories": ["Roofing"],
    },
    "carpentry": {
        "keywords": ["door", "window", "trim", "cabinet", "deck", "porch",
                     "framing", "wood", "siding", "fence"],
        "categories": ["Windows_Doors", "Exterior", "Interior"],
    },
    "masonry": {
        "keywords": ["masonry", "brick", "concrete", "block", "chimney",
                     "fireplace", "foundation", "retaining wall"],
        "categories": ["Structural", "Fireplace", "Exterior"],
    },
    "painting": {
        "keywords": ["paint", "painted", "coating", "finish", "stain"],
        "categories": ["Interior", "Exterior"],
    },
    "flooring": {
        "keywords": ["floor", "flooring", "carpet", "tile", "hardwood",
                     "laminate", "vinyl"],
        "categories": ["Interior"],
    },
    "general": {
        "keywords": ["repair", "maintenance", "general", "misc", "miscellaneous"],
        "categories": ["Interior", "Exterior", "Unknown"],
    },
}
WORK_TYPE_KEYWORDS: dict[str, list[str]] = {
    "repair": ["repair", "fix", "correct", "patch", "seal", "address"],
    "replacement": ["replace", "replacement", "install new", "remove and replace"],
    "inspection": ["inspect", "evaluate", "assess", "investigation", "specialist"],
    "maintenance": ["maintain", "service", "clean", "maintenance", "upkeep"],
    "monitoring": ["monitor", "observe", "watch", "track"],
}
ACTION_TO_WORK_TYPE = {
    "immediate_repair": "repair", "replacement": "replacement",
    "further_inspection": "inspection", "monitoring": "monitoring",
    "maintenance": "maintenance", "no_action": "monitoring",
}
COMPLEXITY_INDICATORS: dict[str, list[str]] = {
    "simple": ["minor", "small", "simple", "quick fix", "easy"],
    "moderate": ["moderate", "typical", "standard", "normal"],
    "complex": ["major", "extensive", "significant", "complex", "structural"],
}

# ---------------------------------------------------------------------------
# C17/J5 — cost strategy (src/classification/cost_strategy_assigner.py:16-40)
# ---------------------------------------------------------------------------

STANDARD_REPLACEMENTS = {
    "hvac_furnace_replacement": (3500, 2500, 5000),
    "hvac_ac_replacement": (4000, 3000, 6000),
    "hvac_thermostat_replacement": (250, 150, 400),
    "plumbing_water_heater_replacement": (1200, 800, 2000),
    "plumbing_toilet_replacement": (350, 250, 500),
    "plumbing_faucet_replacement": (300, 200, 450),
    "electrical_outlet_replacement": (150, 100, 250),
    "electrical_switch_replacement": (120, 80, 200),
    "electrical_gfci_installation": (200, 150, 300),
    "electrical_panel_upgrade": (2000, 1500, 3500),
    "roofing_shingle_replacement": (8000, 5000, 12000),
    "roofing_gutter_replacement": (1500, 1000, 2500),
    "window_replacement": (650, 400, 1000),
    "door_replacement": (800, 500, 1500),
}  # values: (avg_cost, range_low, range_high)

# ---------------------------------------------------------------------------
# C18 — rule-based cost estimation (rule_based_cost_estimator.py:18-81)
# ---------------------------------------------------------------------------

COST_DATABASE: dict[str, dict[str, tuple[int, int, str]]] = {
    "roof": {
        "minor": (200, 500, "Minor roof repair (flashing, sealant)"),
        "moderate": (500, 2000, "Moderate roof repair (shingles, valleys)"),
        "major": (2000, 8000, "Major roof repair or section replacement"),
        "replacement": (8000, 25000, "Full roof replacement"),
    },
    "electrical": {
        "outlet": (100, 250, "Outlet/switch repair or replacement"),
        "circuit": (300, 800, "Circuit repair or breaker replacement"),
        "panel": (1500, 3000, "Electrical panel upgrade"),
        "rewire": (3000, 10000, "Partial or full rewiring"),
    },
    "plumbing": {
        "minor": (150, 400, "Minor plumbing repair (leak, fixture)"),
        "moderate": (400, 1500, "Moderate plumbing (pipe replacement, drain)"),
        "major": (1500, 5000, "Major plumbing (re-pipe, sewer line)"),
    },
    "hvac": {
        "service": (100, 300, "HVAC service or minor repair"),
        "component": (300, 1000, "Component replacement (compressor, fan)"),
        "replacement": (3000, 8000, "Full HVAC system replacement"),
    },
    "foundation": {
        "minor": (500, 2000, "Minor foundation repair (cracks, settling)"),
        "moderate": (2000, 8000, "Moderate foundation repair (piers, leveling)"),
        "major": (8000, 30000, "Major foundation repair or stabilization"),
    },
    "structural": {
        "minor": (300, 1000, "Minor structural repair (joist, beam)"),
        "moderate": (1000, 5000, "Moderate structural repair"),
        "major": (5000, 20000, "Major structural repair or reinforcement"),
    },
    "exterior": {
        "minor": (200, 800, "Minor exterior repair (siding, trim)"),
        "paint": (2000, 5000, "Exterior painting"),
        "siding": (3000, 12000, "Siding replacement"),
    },
    "interior": {
        "cosmetic": (100, 500, "Cosmetic repair (paint, patch)"),
        "flooring": (1000, 5000, "Flooring repair or replacement"),
        "drywall": (300, 1500, "Drywall repair"),
    },
    "windows": {
        "repair": (100, 400, "Window/door repair"),
        "replacement": (400, 1200, "Single window/door replacement"),
        "multiple": (2000, 8000, "Multiple windows/doors replacement"),
    },
    "misc": {
        "minor": (100, 500, "Minor repair"),
        "moderate": (500, 2000, "Moderate repair"),
        "major": (2000, 8000, "Major repair"),
    },
}
COST_FALLBACK = (200, 1000, "General repair estimate")

# J4 — grouping discount schedule (src/classification/issue_grouper.py:145)
GROUP_DISCOUNT_SCHEDULE = [1.0, 0.7, 0.6, 0.6, 0.6]
