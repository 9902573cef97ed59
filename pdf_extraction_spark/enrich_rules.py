"""Per-issue enrichment semantics: faithful transcription of the reference
6-phase pipeline (src/data_enrichment_pipeline.py:55-107) + the deterministic
rule-based cost estimator (rule_based_cost_estimator.py:90-300).

Pure python, per-issue / per-document functions. The Spark plan
(plans/enrichment.py) executes these inside mapInArrow batches (per-doc
scope, zero shuffle); the pytest oracle calls them directly — one shared
implementation, so Spark and oracle cannot drift.

Every function cites its reference source; rule tables live in rules.py.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter
from difflib import SequenceMatcher
from typing import Any

from . import rules
from .memo import Memo, memoized

# ---------------------------------------------------------------------------
# F2 — schema validation (src/validation/schema_validator.py:35-204)
# ---------------------------------------------------------------------------

REQUIRED_FIELDS: dict[str, type] = {
    "id": str, "section": str, "description": str, "status": str,
}
OPTIONAL_FIELDS: dict[str, tuple[type, Any]] = {
    "subsection": (str, ""), "priority": (str, "unknown"), "title": (str, ""),
    "page_numbers": (list, []), "estimated_cost": (dict, None),
    "severity": (str, "unknown"), "suggested_action": (str, ""),
    "standard_category": (str, ""), "standard_severity": (str, ""),
    "standard_action": (str, ""), "extracted_attributes": (dict, {}),
    "enrichment_metadata": (dict, {}), "classification": (dict, {}),
    "cost_strategy": (str, ""), "grouped_with": (list, []),
    "validation_status": (str, "pending"),
}


# the per-field fill plan, resolved once: (field, expected, default,
# mutable) — mutable defaults get a fresh copy per issue, immutable ones
# are shared (identical semantics to type(default)(default) per call,
# without re-dispatching isinstance on every issue; validate_schema runs
# per issue in the enrichment hot loop)
_REQ_ITEMS = tuple(REQUIRED_FIELDS.items())
_OPT_ITEMS = tuple(
    (f, exp, default, isinstance(default, (list, dict)))
    for f, (exp, default) in OPTIONAL_FIELDS.items())


def validate_schema(issue: dict) -> tuple[dict, bool]:
    """F2 (schema_validator.py:66-174): required-field presence, type
    coercion, optional-field defaulting. Returns (cleaned, is_valid);
    invalid issues keep flowing with validation_status='failed'
    (schema_validator.py:200-202)."""
    errors = 0
    cleaned = dict(issue)
    for field, expected in _REQ_ITEMS:
        v = issue.get(field)
        if v is None:
            errors += 1
        elif isinstance(v, expected):
            if expected is str and not v.strip():
                errors += 1
        else:
            try:
                cleaned[field] = expected(v)
            except Exception:  # noqa: BLE001
                errors += 1
    for field, expected, default, mutable in _OPT_ITEMS:
        v = cleaned.get(field)
        if v is None:
            cleaned[field] = type(default)(default) if mutable else default
        elif not isinstance(v, expected):
            try:
                cleaned[field] = expected(v) if v else default
            except Exception:  # noqa: BLE001
                cleaned[field] = default
    is_valid = errors == 0
    if not is_valid:
        cleaned["validation_status"] = "failed"
    return cleaned, is_valid


# ---------------------------------------------------------------------------
# T2/T3/T4/T5 — text cleaning (src/cleaning/text_cleaner.py)
# ---------------------------------------------------------------------------

_SPLIT_SUFFIX_RE = re.compile(r"\b(\w+)\s+(\w{1,2})\b")
_DUP_WORD_RE = re.compile(r"\b(\w+)\s+\1\b", re.IGNORECASE)
_DUP_PHRASE_RES = [
    re.compile(r"\b(" + r"\s+".join([r"\w+"] * n) + r")\s+\1\b", re.IGNORECASE)
    for n in range(5, 1, -1)
]  # text_cleaner.py:184-186


@memoized(200_000)
def clean_text(text: str, preserve_case: bool = False) -> str:
    """T2 (text_cleaner.py:70-114): NFKD, control-char strip, whitespace,
    OCR corrections, punctuation, de-repetition, casing. Memoized (pure;
    section/title strings repeat heavily across issues)."""
    if not text or not isinstance(text, str):
        return ""
    text = unicodedata.normalize("NFKD", text)
    text = "".join(c for c in text
                   if unicodedata.category(c)[0] != "C" or c in "\n\r\t")
    # _normalize_whitespace (:116-132)
    text = re.sub(r" +", " ", text)
    text = re.sub(r"\n{3,}", "\n\n", text)
    text = re.sub(r" *\n *", "\n", text)
    text = "\n".join(line.rstrip() for line in text.split("\n"))
    # _apply_ocr_corrections (:134-159) — word-level map (note: text.split()
    # collapses newlines to spaces, a reference quirk we preserve)
    words = []
    for word in text.split():
        lower = word.lower()
        if lower in rules.OCR_CORRECTIONS:
            corrected = rules.OCR_CORRECTIONS[lower]
            if word[0].isupper():
                corrected = corrected.capitalize()
            words.append(corrected)
        else:
            words.append(word)
    text = " ".join(words)
    text = _SPLIT_SUFFIX_RE.sub(
        lambda m: m.group(1) + m.group(2)
        if m.group(2) in rules.SPLIT_SUFFIXES else m.group(0), text)
    # _fix_punctuation (:161-176)
    text = re.sub(r"\s+([.,;:!?])", r"\1", text)
    text = re.sub(r"([.,;:!?])([A-Za-z])", r"\1 \2", text)
    text = re.sub(r"\.\.\.+", "...", text)
    text = re.sub(r'"([^"]*)"', r'"\1"', text)
    text = re.sub(r"([!?.]){2,}", r"\1", text)
    # _remove_repetition (:178-188)
    text = _DUP_WORD_RE.sub(r"\1", text)
    for pat in _DUP_PHRASE_RES:
        text = pat.sub(r"\1", text)
    # _normalize_case (:190-209)
    if not preserve_case:
        out = []
        for word in text.split():
            if word.lower() in rules.TITLE_CASE_ITEMS:
                out.append(word.upper())
            else:
                out.append(word)
        text = " ".join(out)
    return text.strip()


@memoized(200_000)
def clean_description(description: str) -> str:
    """T2+T3 (text_cleaner.py:236-273). Memoized (pure; boilerplate
    descriptions recur heavily across issues and documents)."""
    if not description:
        return ""
    text = clean_text(description)
    if text:
        if text[0].islower():
            text = text[0].upper() + text[1:]
        if text[-1] not in ".!?":
            text += "."
        text = re.sub(r"([.!?])\s+([a-z])",
                      lambda m: m.group(1) + " " + m.group(2).upper(), text)
    return text


@memoized(200_000)
def clean_item_name(item: str) -> str:
    """T4 (text_cleaner.py:211-234). Memoized (pure)."""
    if not item:
        return ""
    out = clean_text(item, True).title()
    for term in rules.TITLE_CASE_ITEMS:
        out = re.sub(r"\b" + term + r"\b", term.upper(), out,
                     flags=re.IGNORECASE)
    return out


@memoized(500_000)
def _dup_norm(text: str) -> tuple[str, Counter]:
    """A tracker entry's normalized text and its character counts."""
    normalized = clean_text(text.lower())
    return normalized, Counter(normalized)


@memoized(500_000)
def _matcher(normalized: str) -> SequenceMatcher:
    """A matcher with ``normalized`` as seq2. Its b2j index is the
    expensive half of a matcher and pure per string, so it is shared
    process-wide (workers are single-threaded, and set_seq1 does not
    touch b2j)."""
    return SequenceMatcher(b=normalized)


# full pair verdict (gates + ratio): recurring boilerplate pairs skip
# even the length/counter quick-reject work
_PAIR_VERDICTS = Memo(500_000)


# difflib's autojunk drops the popular items of a seq2 this long or longer
_AUTOJUNK_LEN = 200


def _common_end(a: str, b: str) -> int:
    """The longer of the common prefix and the common suffix of ``a``
    and ``b``: a common substring, so at most difflib's longest match
    when seq2 has no junk."""
    n = min(len(a), len(b))
    pre = next((i for i in range(n) if a[i] != b[i]), n)
    suf = next((i for i in range(n) if a[-1 - i] != b[-1 - i]), n)
    return max(pre, suf)


def _char_masks(a: str) -> dict[str, int]:
    """Per character of ``a``, the bit set of its positions."""
    masks: dict[str, int] = {}
    for i, ch in enumerate(a):
        masks[ch] = masks.get(ch, 0) | (1 << i)
    return masks


def _lcs_len(masks: dict[str, int], la: int, b: str) -> int:
    """Length of a longest common subsequence of ``a`` and ``b``, from
    ``a``'s :func:`_char_masks` and length: the bit-parallel column
    recurrence of Allison & Dix (1986) in Hyyrö's (2004) form, one
    big-int step per character of ``b``; the zero bits of ``v`` count
    the LCS."""
    full = (1 << la) - 1
    v = full
    for ch in b:
        m = masks.get(ch)
        if m:
            u = v & m
            v = ((v + u) | (v - u)) & full
    return la - v.bit_count()


class DuplicateTracker:
    """T5 (text_cleaner.py:275-301): per-document sequential near-dup check.

    Exact accelerations: an identical string short-circuits (ratio 1.0),
    the length-ratio bound (== difflib real_quick_ratio) skips pairs that
    cannot reach the threshold, quick_ratio gates the LCS bound, and the
    LCS bound gates the full ratio: difflib's matching blocks form a
    common subsequence, so ``ratio() <= 2.0 * lcs / (la + lb)`` in the
    same float form (difflib._calculate_ratio), and a pair whose bound
    is below the threshold is no duplicate. From below, a seen text under
    200 chars has no autojunk, so difflib's first block is a longest
    common substring, at least as long as the common prefix or suffix:
    a pair whose prefix/suffix bound reaches the threshold is a
    duplicate without difflib.
    The tracker state is per-document, but normalization and pair verdicts
    are pure string functions cached process-wide — boilerplate
    descriptions recur across documents, so repeat docs skip difflib."""

    def __init__(self) -> None:
        self.seen: list[tuple[str, int, Counter,
                               SequenceMatcher]] = []
        self.seen_set: set[str] = set()

    def is_duplicate(self, text: str) -> bool:
        threshold = rules.DUPLICATE_SIMILARITY_THRESHOLD
        if not text:
            return False
        normalized, cn = _dup_norm(text)
        if normalized in self.seen_set:
            return True
        ln = len(normalized)
        masks = None
        # Reference order (text_cleaner.py:294): SequenceMatcher(None,
        # new, seen) — seq2 (where autojunk applies for >200-char strings)
        # is the SEEN text. One prepared matcher per seen entry keeps the
        # b2j cache while preserving that argument order. The char-counter
        # bound below IS difflib's quick_ratio (2*multiset-overlap/total),
        # computed from cached counters instead of per-pair rebuilds.
        for seen, ls, cs, sm in self.seen:
            pair = (normalized, seen)
            v = _PAIR_VERDICTS.get(pair)
            if v is not None:
                if v:
                    return True
                continue
            mn, mx = (ls, ln) if ls < ln else (ln, ls)
            if 2 * mn < threshold * (mn + mx):                # lengths
                verdict = False
            elif 2 * sum(min(c, cn[ch]) for ch, c in cs.items()) < \
                    threshold * (ln + ls):                    # counters
                verdict = False
            elif ls < _AUTOJUNK_LEN and 2.0 * _common_end(
                    normalized, seen) / (ln + ls) >= threshold:
                verdict = True                                # prefix/suffix
            else:
                if masks is None:
                    masks = _char_masks(normalized)
                verdict = 2.0 * _lcs_len(masks, ln, seen) / (ln + ls) \
                    >= threshold
                if verdict:
                    sm.set_seq1(normalized)
                    verdict = sm.ratio() >= threshold
            _PAIR_VERDICTS.admit(pair, verdict)
            if verdict:
                return True
        sm = _matcher(normalized)
        self.seen.append((normalized, ln, cn, sm))
        self.seen_set.add(normalized)
        return False


def clean_issue(issue: dict) -> dict:
    """text_cleaner.py:303-334."""
    cleaned = dict(issue)
    if cleaned.get("title"):
        cleaned["title"] = clean_text(cleaned["title"])
    if cleaned.get("description"):
        cleaned["description"] = clean_description(cleaned["description"])
    if cleaned.get("section"):
        cleaned["section"] = clean_text(cleaned["section"])
    if cleaned.get("subsection"):
        cleaned["subsection"] = clean_text(cleaned["subsection"])
    if cleaned.get("item"):
        cleaned["item"] = clean_item_name(cleaned["item"])
    return cleaned


# ---------------------------------------------------------------------------
# F3-F9 — data quality gate (src/validation/data_quality_validator.py)
# ---------------------------------------------------------------------------

ACCEPT, EXCLUDE, FLAG = "accept", "exclude", "flag_for_review"


# every ASCII char whose unicode category is P* or S* (precomputed so the
# per-char category scan below only runs for non-ASCII text)
_ASCII_PS = frozenset(
    c for c in map(chr, range(128))
    if unicodedata.category(c)[0] in ("P", "S"))
_ASCII_PS_RE = re.compile(
    "[" + re.escape("".join(sorted(_ASCII_PS))) + "]")


def _check_unicode_corruption(description: str, title: str) -> dict:
    """F4 (data_quality_validator.py:318-374)."""
    text = f"{title} {description}"
    for char in ("þ", "Þ", "\u0308", "\ufffd", "\x00"):
        if char in text:
            return {"corrupted": True, "severity": "severe", "penalty": 0.3}
    is_ascii = text.isascii()
    if not is_ascii:
        ascii_count = sum(1 for c in text if ord(c) < 128)
        ascii_ratio = ascii_count / len(text) if text else 1.0
        if ascii_ratio < rules.MIN_ASCII_RATIO:
            return {"corrupted": True, "severity": "moderate",
                    "penalty": 0.3}
    if is_ascii:
        special = len(_ASCII_PS_RE.findall(text))
    else:
        special = sum(1 for c in text
                      if unicodedata.category(c)[0] in ("P", "S"))
    if text and special / len(text) > rules.MAX_SPECIAL_CHAR_RATIO:
        return {"corrupted": False, "severity": "minor", "penalty": 0.2}
    if not is_ascii and re.search(r"[\u0300-\u036f]{3,}", text):
        return {"corrupted": True, "severity": "moderate", "penalty": 0.2}
    return {"corrupted": False, "severity": "none", "penalty": 0}


def _is_metadata_content(description: str, title: str, section: str,
                         issue_id: str) -> bool:
    """F5 (data_quality_validator.py:376-409)."""
    if section.upper() == "HEADER" or "HEADER" in issue_id.upper():
        return True
    low = f"{title} {description}".lower()
    if any(kw in low for kw in rules.METADATA_KEYWORDS):
        return True
    if any(p in low for p in rules.DISCLAIMER_PHRASES):
        if not any(w in low for w in rules.DISCLAIMER_RESCUE_WORDS):
            return True
    return False


def _is_non_issue(description: str) -> bool:
    """F6 (data_quality_validator.py:411-428)."""
    desc = description.lower().strip()
    return any(re.search(p, desc) for p in rules.NON_ISSUE_PATTERNS)


def _looks_like_header(title: str, description: str) -> bool:
    """F7 (data_quality_validator.py:430-563)."""
    for pattern in rules.HEADER_CI_PATTERNS:
        if re.match(pattern, title, re.IGNORECASE) \
                or re.match(pattern, description, re.IGNORECASE):
            return True
    for pattern in rules.HEADER_CS_PATTERNS:
        if re.match(pattern, title) or re.match(pattern, description):
            return True
    if title and title.isupper() and len(description) < 30:
        return True
    if title == description and len(title) < 50:
        return True
    title_stripped = title.strip()
    words_in_title = title_stripped.replace(":", "").strip().split()
    if len(words_in_title) == 1 \
            and words_in_title[0].lower() in rules.HEADER_SINGLE_WORDS:
        return True
    if title_stripped.isupper() and 2 <= len(words_in_title) <= 3:
        if any(ind in description.lower()
               for ind in rules.SECTION_INDICATOR_PHRASES):
            return True
        if len(description) < 40:
            return True
    if re.match(rules.HEADER_PREFIX_RE, description, re.IGNORECASE):
        content_after = re.sub(rules.HEADER_PREFIX_RE, "", description,
                               flags=re.IGNORECASE)
        if len(content_after) < 15:
            return True
        has_kw = any(k in content_after.lower()
                     for k in rules.HEADER_ISSUE_KEYWORDS)
        if has_kw and len(content_after) > 30:
            return False
        elif len(content_after) < 30:
            return True
    if re.match(r"^general\s+\w+\s*$", title.strip(), re.IGNORECASE):
        return True
    if len(description) < 20 and description.strip().endswith(":"):
        return True
    if title.lower().strip() in description.lower().strip() \
            and len(description) < 60:
        if not any(w in description.lower() for w in rules.TITLE_ACTION_WORDS):
            return True
    if any(p in description.lower() for p in rules.NON_ACTIONABLE_PHRASES) \
            and len(description) < 100:
        return True
    return False


def _semantic_meaning(text: str) -> float:
    """F8 (data_quality_validator.py:565-610)."""
    if not text:
        return 0.0
    score = 0.5
    low = text.lower()
    kw_count = sum(1 for kw in rules.ACTIONABLE_KEYWORDS if kw in low)
    score += min(0.3, kw_count * 0.1)
    if re.search(r"\d+", text):
        score += 0.1
    if re.search(rules.MEASUREMENT_RE, text, re.IGNORECASE):
        score += 0.1
    if any(loc in low for loc in rules.MEANING_LOCATIONS):
        score += 0.1
    wc = len(text.split())
    if 5 <= wc <= 100:
        score += 0.1
    elif wc < 3:
        score -= 0.3
    return min(1.0, max(0.0, score))


_QUALITY_MEMO = Memo(200_000)


def quality_validate(issue: dict) -> tuple[str, float, str]:
    """F9 routing (data_quality_validator.py:137-316): returns
    (action, quality_score, reason). Memoized on exactly the fields the
    validator reads (issue id only matters via the HEADER substring test,
    data_quality_validator.py:379) — boilerplate issues recur across
    documents, so the hit rate at corpus scale is high."""
    key = (issue.get("description"), issue.get("title"),
           issue.get("status"), issue.get("section"),
           "HEADER" in str(issue.get("id", "unknown")).upper())
    return _QUALITY_MEMO.lookup(key, _quality_validate_impl, (issue,))


def _quality_validate_impl(issue: dict) -> tuple[str, float, str]:
    # a field that is present but None reads as empty, as a missing one
    # does: validate_schema passes such an issue on as 'failed'
    description = (issue.get("description") or "").strip()
    title = (issue.get("title") or "").strip()
    status = issue.get("status") or ""
    section = issue.get("section") or ""
    issue_id = issue.get("id") or ""
    quality = 1.0

    if not description:
        return EXCLUDE, 0.0, "empty_description"

    # checks run on T1-normalized text (validator re-normalizes internally,
    # data_quality_validator.py:174-185); the stored issue keeps T2-cleaned text
    description = rules.normalize_unicode_text(description)
    title = rules.normalize_unicode_text(title)

    corr = _check_unicode_corruption(description, title)
    if corr["corrupted"] and corr["severity"] == "severe":
        if "�" in description or "�" in title \
                or "\x00" in description or "\x00" in title:
            quality -= 0.5
        else:
            quality -= 0.1
    else:
        quality -= min(0.1, corr["penalty"])

    if _is_metadata_content(description, title, section, issue_id):
        return EXCLUDE, 0.1, "metadata_content"
    if _is_non_issue(description):
        return EXCLUDE, 0.9, "non_issue_statement"
    if len(description) < rules.MIN_DESCRIPTION_LENGTH:
        quality -= 0.3
    if status not in rules.VALID_STATUSES:
        quality -= 0.2
    meaning = _semantic_meaning(description)
    if meaning < 0.3:
        quality -= 0.3
    quality = max(0.0, quality - (1.0 - meaning) * 0.2)
    if _looks_like_header(title, description):
        return EXCLUDE, 0.2, "header_content"
    if quality < rules.MIN_QUALITY_SCORE:
        return FLAG, quality, "low_quality_score"
    return ACCEPT, quality, "passed"


# ---------------------------------------------------------------------------
# C7 — severity normalization (src/normalization/severity_normalizer.py)
# ---------------------------------------------------------------------------

@memoized(100_000)
def _match_severity_text(text: str) -> tuple[str, float]:
    """severity_normalizer.py:106-143: exact membership, substring
    containment (conf = len ratio), difflib fuzzy tier. Memoized — the
    inputs are the low-cardinality severity/priority labels."""
    if not text:
        return "unknown", 0.0
    low = text.lower().strip()
    for severity, keywords in rules.SEVERITY_MAPPING.items():
        if low in keywords:
            return severity, 0.95
    best = ("unknown", 0.0)
    for severity, keywords in rules.SEVERITY_MAPPING.items():
        for keyword in keywords:
            if keyword in low:
                conf = min(0.9, len(keyword) / len(low))
                if conf > best[1]:
                    best = (severity, conf)
            sim = SequenceMatcher(None, low, keyword).ratio()
            if sim > 0.7 and sim > best[1]:
                best = (severity, sim * 0.85)
    return best


def _severity_context_boost(severity: str, confidence: float,
                            description: str) -> tuple[str, float]:
    """severity_normalizer.py:145-180."""
    low = description.lower()
    for keyword in rules.SEVERITY_BOOSTERS["critical"]:
        if keyword in low:
            if severity in ("low", "medium"):
                return "high", min(0.9, confidence + 0.1)
            elif severity == "high" and "safety" in low:
                return "critical", min(0.95, confidence + 0.1)
    for keyword in rules.SEVERITY_BOOSTERS["high"]:
        if keyword in low:
            if severity == "low":
                return "medium", min(0.85, confidence + 0.1)
    return severity, confidence


def normalize_severity(severity_text: str, status: str | None,
                       description: str | None) -> tuple[str, float]:
    """severity_normalizer.py:59-104."""
    if not severity_text and not status:
        return "unknown", 0.0
    if status and status in rules.STATUS_TO_SEVERITY:
        base = rules.STATUS_TO_SEVERITY[status]
        confidence = 0.7
        if severity_text:
            text_sev, text_conf = _match_severity_text(severity_text)
            if text_sev == base:
                confidence = min(0.95, confidence + text_conf * 0.3)
            elif text_sev and text_conf > 0.8:
                base, confidence = text_sev, text_conf
        if description:
            base, confidence = _severity_context_boost(base, confidence,
                                                       description)
        return base, confidence
    if severity_text:
        sev, conf = _match_severity_text(severity_text)
        if description:
            sev, conf = _severity_context_boost(sev, conf, description)
        return sev, conf
    return "unknown", 0.0


# ---------------------------------------------------------------------------
# C8 — action normalization (src/normalization/action_normalizer.py)
# ---------------------------------------------------------------------------

_ACTION_PATTERN_RES = {
    action: [re.compile(p, re.IGNORECASE) for p in cfg["patterns"]]
    for action, cfg in rules.ACTION_TAXONOMY.items()
}


def normalize_action(action_text: str, description: str | None,
                     severity: str | None) -> tuple[str, float]:
    """action_normalizer.py:116-217."""
    if not action_text and not description:
        return "unknown", 0.0
    text = " ".join(filter(None, [action_text, description])).lower()

    best = ("unknown", 0.0)
    for action, cfg in rules.ACTION_TAXONOMY.items():
        for keyword in cfg["keywords"]:
            if keyword in text:
                conf = min(0.95, 0.6 + len(keyword.split()) * 0.1)
                if conf > best[1]:
                    best = (action, conf)
    action, confidence = best
    if confidence < 0.7:
        for cand, pats in _ACTION_PATTERN_RES.items():
            if any(p.search(text) for p in pats):
                if 0.85 > confidence:
                    action, confidence = cand, 0.85
                break
    if severity:
        if severity in ("critical", "high") \
                and action in ("monitoring", "maintenance", "no_action"):
            return "immediate_repair", min(0.85, confidence + 0.1)
        elif severity == "low" and action == "immediate_repair":
            return "maintenance", min(0.8, confidence + 0.1)
    return action, confidence


# ---------------------------------------------------------------------------
# J2/J3 — component taxonomy (src/enrichment/component_taxonomy.py)
# ---------------------------------------------------------------------------

def _build_lookup() -> dict[str, tuple[str, str | None, float]]:
    """component_taxonomy.py:80-100: lookup from category names,
    subcategories, and aliases."""
    lookup: dict[str, tuple[str, str | None, float]] = {}
    for category, config in rules.TAXONOMY.items():
        lookup[category.lower()] = (category, None, 1.0)
        for sub in config["subcategories"]:
            lookup[sub.lower().replace("_", " ")] = (category, sub, 0.95)
        for alias in config["aliases"]:
            lookup[alias.lower()] = (category, None, 0.9)
    return lookup


_TAXONOMY_LOOKUP = _build_lookup()


# one matcher per lookup key, seq2 (the key) prepared once
_TAXONOMY_MATCHERS = [(key, SequenceMatcher(b=key), val)
                      for key, val in _TAXONOMY_LOOKUP.items()]


@memoized(200_000)
def taxonomy_standardize(item_name: str) -> tuple[str, str | None, float]:
    """component_taxonomy.py:102-162: exact lookup then difflib fuzzy.

    Memoized, and the fuzzy scan prunes candidates with difflib's
    quick-ratio upper bounds — exact, because a candidate whose upper
    bound cannot *strictly* beat the running best can never replace it
    (the reference keeps the first strictly-greater candidate)."""
    if not item_name:
        return "Unknown", None, 0.0
    cleaned = item_name.lower().strip()
    cleaned = re.sub(r"[^\w\s/-]", "", cleaned)
    if cleaned in _TAXONOMY_LOOKUP:
        return _TAXONOMY_LOOKUP[cleaned]
    best: tuple[str, str | None, float] = ("Unknown", None, 0.0)
    # Reference order (component_taxonomy.py:150): SequenceMatcher(
    # None, text, key) — seq2 is the taxonomy KEY. The per-key
    # matchers (seq2 prepared once, module-level) preserve that order
    # without recomputing b2j per item.
    for key, sm, (category, subcat, base_conf) in _TAXONOMY_MATCHERS:
        floor = 0.75 if (key in cleaned or cleaned in key) else 0.0
        sm.set_seq1(cleaned)
        if max(sm.real_quick_ratio(), floor) * base_conf <= best[2]:
            continue
        if max(sm.quick_ratio(), floor) * base_conf <= best[2]:
            continue
        confidence = max(sm.ratio(), floor) * base_conf
        if confidence > best[2]:
            best = (category, subcat, confidence)
    return best if best[2] > 0.6 else ("Unknown", None, 0.0)


def taxonomy_from_context(item_name: str, section: str | None,
                          description: str | None) -> tuple[str, str | None, float]:
    """component_taxonomy.py:164-252 (the ordered decision ladder)."""
    category, subcat, confidence = taxonomy_standardize(item_name)
    context = " ".join(filter(None, [item_name, section, description])).lower()

    for indicator in rules.ROOF_INDICATORS:
        if indicator in context:
            return "Roofing", None, 0.9

    if confidence < 0.75:
        for cat_name, config in rules.TAXONOMY.items():
            if cat_name.lower() in context:
                if confidence < 0.75:
                    return cat_name, None, 0.75
            for alias in config["aliases"]:
                if alias in context:
                    if confidence < 0.8:
                        return cat_name, None, 0.8
            for sub in config["subcategories"]:
                if sub.replace("_", " ") in context:
                    if confidence < 0.85:
                        return cat_name, sub, 0.85

    if section and confidence < 0.7:
        sl = section.lower()
        if "roof" in sl or "roofing" in sl:
            return "Roofing", None, 0.85
        elif "structural" in sl:
            return "Structural", None, 0.75
        elif "plumbing" in sl:
            return "Plumbing", None, 0.75
        elif "electrical" in sl:
            return "Electrical", None, 0.75
        elif any(t in sl for t in ("hvac", "heating", "cooling",
                                   "air conditioning")):
            return "HVAC", None, 0.75

    if confidence < 0.5 and description:
        dl = description.lower()
        if any(t in dl for t in ("roof", "shingle", "flashing", "gutter",
                                 "downspout", "roofing")):
            return "Roofing", None, 0.8
        elif any(t in dl for t in ("hvac", "furnace", "air conditioning",
                                   "heat", "cooling")):
            return "HVAC", None, 0.75
        elif any(t in dl for t in ("plumbing", "water", "pipe", "leak",
                                   "drain", "toilet", "faucet")):
            return "Plumbing", None, 0.75
        elif any(t in dl for t in ("electrical", "wiring", "outlet",
                                   "circuit", "breaker", "panel")):
            return "Electrical", None, 0.75

    return category, subcat, confidence


# ---------------------------------------------------------------------------
# C9 — attribute extraction (src/enrichment/attribute_extractor.py)
# ---------------------------------------------------------------------------

_MEASUREMENT_RES = [re.compile(p) for p in rules.ATTR_MEASUREMENT_PATTERNS]
_SQFT_RE = re.compile(rules.SQFT_ATTR_RE)
_LOC_CONTEXT_RE = re.compile(rules.LOCATION_CONTEXT_RE)


def extract_attributes(description: str, title: str | None = None) -> dict:
    """attribute_extractor.py:81-213."""
    if not description:
        return {}
    text = " ".join(filter(None, [title, description])).lower()

    locations = []
    for _cat, patterns in rules.LOCATION_TERMS.items():
        for pattern in patterns:
            if pattern in text and pattern not in locations:
                locations.append(pattern)
    for loc in _LOC_CONTEXT_RE.findall(text):
        for _cat, patterns in rules.LOCATION_TERMS.items():
            if loc in patterns and loc not in locations:
                locations.append(loc)

    measurements: dict[str, list[str]] = {"dimensions": [], "lengths": [],
                                          "areas": []}
    for pat in _MEASUREMENT_RES:
        for match in pat.findall(text):
            if isinstance(match, tuple):
                if len(match) == 2 and match[0] and match[1]:
                    measurements["dimensions"].append(f"{match[0]}x{match[1]}")
                elif len(match) == 1 or (len(match) > 1 and not match[1]):
                    measurements["lengths"].append(str(match[0]))
            else:
                measurements["lengths"].append(str(match))
    sqft = _SQFT_RE.findall(text)
    if sqft:
        measurements["areas"] = [f"{m} sq ft" for m in sqft]
    measurements = {k: v for k, v in measurements.items() if v}

    materials = []
    for mat, keywords in rules.MATERIALS.items():
        for keyword in keywords:
            if keyword in text:
                if mat not in materials:
                    materials.append(mat)
                break
    damage = []
    for dmg, keywords in rules.DAMAGE_TYPES.items():
        for keyword in keywords:
            if keyword in text:
                if dmg not in damage:
                    damage.append(dmg)
                break
    safety = any(kw in text for kw in rules.SAFETY_KEYWORDS)
    accessibility = None
    for acc, patterns in rules.ACCESSIBILITY_PATTERNS.items():
        if any(p in text for p in patterns):
            accessibility = acc
            break

    attributes = {
        "locations": locations, "measurements": measurements,
        "materials": materials, "damage_types": damage,
        "safety_related": safety, "accessibility": accessibility,
    }
    return {k: v for k, v in attributes.items() if v}


# ---------------------------------------------------------------------------
# C10-C13 — contextual metadata (src/enrichment/metadata_enricher.py)
# ---------------------------------------------------------------------------

def urgency_score(issue: dict) -> float:
    """C10 (metadata_enricher.py:67-117)."""
    score = 5.0
    severity = (issue.get("standard_severity") or issue.get("severity", "")).lower()
    score += rules.URGENCY_SEVERITY_SCORES.get(severity, 0.0)
    action = (issue.get("standard_action") or issue.get("suggested_action", "")).lower()
    if "immediate" in action:
        score += 3.0
    elif "replacement" in action or "replace" in action:
        score += 2.0
    elif "repair" in action:
        score += 1.5
    elif "inspect" in action or "evaluat" in action:
        score += 1.0
    elif "monitor" in action:
        score += 0.5
    if issue.get("safety_flag") or issue.get("safety_related"):
        score += 3.0
    damage = issue.get("extracted_attributes", {}).get("damage_types", [])
    if "water_damage" in damage \
            or "leak" in str(issue.get("description", "")).lower():
        score += 1.0
    if "mold" in damage:
        score += 1.5
    return round(min(10.0, score), 2)


def complexity_factor(issue: dict) -> float:
    """C11 (metadata_enricher.py:119-171)."""
    complexity = 5.0
    complexity += rules.CATEGORY_COMPLEXITY.get(
        issue.get("standard_category", ""), 0.0)
    complexity += rules.ACCESSIBILITY_COMPLEXITY.get(
        issue.get("accessibility_complexity", ""), 0.0)
    if issue.get("requires_specialized_labor"):
        complexity += 1.5
    attrs = issue.get("extracted_attributes", {})
    if len(attrs.get("locations", [])) > 2:
        complexity += 1.0
    if len(attrs.get("damage_types", [])) > 2:
        complexity += 1.0
    return round(min(10.0, complexity), 2)


def requires_specialized_labor(issue: dict) -> bool:
    """C12 (metadata_enricher.py:173-208)."""
    if issue.get("standard_category", "") in rules.SPECIALIZED_CATEGORIES:
        return True
    description = issue.get("description", "").lower()
    if any(kw in description for kw in rules.SPECIALIZED_KEYWORDS):
        return True
    return issue.get("standard_action", "") == "further_inspection"


def estimate_affected_area(issue: dict) -> dict | None:
    """C13 (metadata_enricher.py:210-266)."""
    measurements = issue.get("extracted_attributes", {}).get("measurements", {})
    if not measurements:
        return None
    area_info: dict[str, Any] = {}
    if measurements.get("areas"):
        try:
            value = float(measurements["areas"][0].split()[0].replace(",", ""))
            area_info["square_feet"] = value
            area_info["size_category"] = _categorize_size(value)
        except ValueError:
            pass
    elif measurements.get("dimensions"):
        dim = measurements["dimensions"][0]
        try:
            parts = dim.split("x")
            if len(parts) == 2:
                value = float(parts[0]) * float(parts[1])
                area_info["square_feet"] = value
                area_info["dimensions"] = dim
                area_info["size_category"] = _categorize_size(value)
        except ValueError:
            pass
    return area_info or None


def _categorize_size(square_feet: float) -> str:
    for bound, label in rules.SIZE_BUCKETS:
        if square_feet < bound:
            return label
    return "very_large"


# ---------------------------------------------------------------------------
# C14-C16 — multi-level classification (src/classification/issue_classifier.py)
# ---------------------------------------------------------------------------

def classify_trade(issue: dict) -> tuple[str, float]:
    """C14 (issue_classifier.py:91-138). Note the reference scores argmax
    with python dict-order tie-break (max() keeps the first max)."""
    category = issue.get("standard_category", "")
    combined = (f"{category} {issue.get('description', '').lower()} "
                f"{issue.get('title', '').lower()} "
                f"{issue.get('section', '').lower()}").lower()
    scores: dict[str, int] = {}
    for trade, config in rules.TRADE_CLASSIFICATION.items():
        score = sum(1 for kw in config["keywords"] if kw in combined)
        score += sum(5 for cat in config["categories"]
                     if cat.lower() in category.lower())
        if score > 0:
            scores[trade] = score
    if not scores:
        return "general", 0.3
    best = max(scores, key=scores.get)
    return best, min(0.95, 0.5 + scores[best] / 10)


def classify_work_type(issue: dict) -> tuple[str, float]:
    """C15 (issue_classifier.py:140-182)."""
    action = issue.get("standard_action", "")
    if action in rules.ACTION_TO_WORK_TYPE:
        return rules.ACTION_TO_WORK_TYPE[action], 0.9
    combined = f"{action} {issue.get('description', '').lower()}".lower()
    scores = {}
    for work, keywords in rules.WORK_TYPE_KEYWORDS.items():
        score = sum(1 for kw in keywords if kw in combined)
        if score > 0:
            scores[work] = score
    if not scores:
        return "repair", 0.5
    best = max(scores, key=scores.get)
    return best, min(0.85, 0.6 + scores[best] / 5)


def classify_complexity(issue: dict) -> tuple[str, float]:
    """C16 (issue_classifier.py:184-221)."""
    description = issue.get("description", "").lower()
    factor = issue.get("complexity_factor", 5.0)
    if factor >= 7:
        complexity, confidence = "complex", 0.8
    elif factor >= 4:
        complexity, confidence = "moderate", 0.75
    else:
        complexity, confidence = "simple", 0.7
    for tier, indicators in rules.COMPLEXITY_INDICATORS.items():
        for indicator in indicators:
            if indicator in description:
                if tier == complexity:
                    confidence = min(0.95, confidence + 0.1)
                elif confidence < 0.8:
                    complexity, confidence = tier, 0.8
                break
    return complexity, confidence


# ---------------------------------------------------------------------------
# J4 — issue grouping (src/classification/issue_grouper.py:21-120)
# ---------------------------------------------------------------------------

def group_issues(issues: list[dict]) -> tuple[list[dict], list[dict]]:
    """Per-document grouping; returns (issues, groups)."""
    groups_by_key: dict[str, list[int]] = {}
    key_order: list[str] = []

    def add(key: str, idx: int) -> None:
        if key not in groups_by_key:
            groups_by_key[key] = []
            key_order.append(key)
        groups_by_key[key].append(idx)

    for i, issue in enumerate(issues):
        locations = issue.get("extracted_attributes", {}).get("locations", [])
        trade = issue.get("classification", {}).get("trade", "unknown")
        work = issue.get("classification", {}).get("work_type", "unknown")
        category = issue.get("standard_category", "Unknown")
        for location in locations:
            add(f"loc_{location}_{trade}", i)
        add(f"cat_{category}_{work}", i)
        add(f"trade_{trade}_{work}", i)

    groups: list[dict] = []
    issue_groups: dict[int, list[str]] = {}
    next_id = 1
    for key in key_order:
        indices = groups_by_key[key]
        if len(indices) >= 2:
            group_id = f"group_{next_id}"
            next_id += 1
            gtype = ("location_trade" if key.startswith("loc_")
                     else "category_work" if key.startswith("cat_")
                     else "trade_work")
            groups.append({
                "group_id": group_id, "grouping_key": key,
                "issue_count": len(indices),
                "issue_ids": [issues[i].get("id", f"issue_{i}")
                              for i in indices],
                "group_type": gtype,
            })
            for idx in indices:
                issue_groups.setdefault(idx, []).append(group_id)

    for i, issue in enumerate(issues):
        gids = issue_groups.get(i, [])
        issue["grouped_with"] = gids
        issue["is_grouped"] = bool(gids)
    return issues, groups


def group_summary(groups: list[dict]) -> dict:
    """A3 (issue_grouper.py:172-201): summary over the created groups —
    total count, per-type histogram, total issues grouped, avg size."""
    if not groups:
        return {"total_groups": 0, "by_type": {},
                "total_issues_grouped": 0, "avg_group_size": 0}
    by_type: dict[str, int] = {}
    total_issues = 0
    for g in groups:
        by_type[g["group_type"]] = by_type.get(g["group_type"], 0) + 1
        total_issues += g["issue_count"]
    return {
        "total_groups": len(groups), "by_type": by_type,
        "total_issues_grouped": total_issues,
        "avg_group_size": round(total_issues / len(groups), 1),
    }


def group_cost_adjustment(group_size: int) -> dict:
    """A7 (issue_grouper.py:122-166) at a $1000 base cost per item."""
    base_cost = 1000.0
    if group_size <= 1:
        return {"base_cost": base_cost, "total_cost": base_cost,
                "adjustment_factor": 1.0, "savings": 0.0}
    total = base_cost
    sched = rules.GROUP_DISCOUNT_SCHEDULE
    for i in range(1, group_size):
        total += base_cost * sched[min(i, len(sched) - 1)]
    ungrouped = base_cost * group_size
    return {
        "base_cost_per_item": base_cost, "group_size": group_size,
        "total_cost": round(total, 2), "ungrouped_cost": round(ungrouped, 2),
        "adjustment_factor": round(total / ungrouped, 3),
        "savings": round(ungrouped - total, 2),
        "savings_percentage": round((ungrouped - total) / ungrouped * 100, 1),
    }


# ---------------------------------------------------------------------------
# C17/J5 — cost strategy (src/classification/cost_strategy_assigner.py:73-161)
# ---------------------------------------------------------------------------

def match_standard_item(trade: str, category: str, description: str) -> str:
    """J5 (cost_strategy_assigner.py:132-161)."""
    search = f"{trade} {category} {description}".lower()
    for key in rules.STANDARD_REPLACEMENTS:
        if all(part in search for part in key.split("_")):
            return key
    return ""


def assign_strategy(issue: dict) -> tuple[str, float, str]:
    """C17 (cost_strategy_assigner.py:73-130): decision list. The third
    element is the matched standard item key ('' when none)."""
    cls = issue.get("classification", {})
    work = cls.get("work_type", "")
    complexity = cls.get("complexity", "")
    category = issue.get("standard_category", "")
    trade = cls.get("trade", "")
    description = issue.get("description", "") or ""
    has_measurements = bool(
        issue.get("extracted_attributes", {}).get("measurements"))
    specialist = issue.get("requires_specialized_labor", False)

    if work == "replacement" and complexity in ("simple", "moderate"):
        key = match_standard_item(trade, category, description)
        if key:
            return "lookup_table", 0.9, key
    if complexity == "complex":
        return "llm_reasoning", 0.85, ""
    if len(description) > 200:
        return "llm_reasoning", 0.8, ""
    if specialist or work == "inspection":
        return "llm_reasoning", 0.85, ""
    if has_measurements and category != "Unknown" \
            and complexity in ("simple", "moderate"):
        return "ml_model", 0.75, ""
    return "llm_reasoning", 0.7, ""


# ---------------------------------------------------------------------------
# C18 — rule-based cost estimation (rule_based_cost_estimator.py:90-300)
# ---------------------------------------------------------------------------

def _any_in(words: tuple[str, ...], *texts: str) -> bool:
    return any(w in t for w in words for t in texts)


def classify_cost_category(description: str, severity: str,
                           location: str = "") -> tuple[str, str, int]:
    """rule_based_cost_estimator.py:152-267 — first-match-wins ladder."""
    d, loc = description, location
    if _any_in(("roof", "shingle", "flashing", "valley", "ridge", "soffit",
                "fascia"), d, loc):
        if "replace" in d or "replacement" in d:
            return "roof", "replacement", 85
        elif _any_in(("major", "extensive", "structural"), d):
            return "roof", "major", 80
        elif _any_in(("leak", "damage", "missing"), d):
            return "roof", "moderate", 75
        return "roof", "minor", 70
    if _any_in(("electrical", "outlet", "switch", "wiring", "panel",
                "breaker", "gfci", "circuit"), d, loc):
        if "panel" in d or "upgrade" in d:
            return "electrical", "panel", 80
        elif _any_in(("rewire", "re-wire", "wiring"), d):
            return "electrical", "rewire", 75
        elif "circuit" in d or "breaker" in d:
            return "electrical", "circuit", 80
        return "electrical", "outlet", 75
    if _any_in(("plumb", "pipe", "leak", "drain", "water", "sewer", "faucet",
                "toilet", "sink"), d, loc):
        if _any_in(("sewer", "main", "repipe", "re-pipe"), d):
            return "plumbing", "major", 70
        elif _any_in(("extensive", "multiple", "throughout"), d):
            return "plumbing", "moderate", 75
        return "plumbing", "minor", 80
    if _any_in(("hvac", "heating", "cooling", "ac", "furnace",
                "air condition", "compressor"), d, loc):
        if "replace" in d or "replacement" in d:
            return "hvac", "replacement", 80
        elif _any_in(("compressor", "coil", "fan motor"), d):
            return "hvac", "component", 75
        return "hvac", "service", 80
    if _any_in(("foundation", "slab", "pier", "settling",
                "structural crack"), d, loc):
        if _any_in(("major", "extensive", "structural"), d):
            return "foundation", "major", 70
        elif _any_in(("pier", "leveling", "settlement"), d):
            return "foundation", "moderate", 75
        return "foundation", "minor", 70
    if _any_in(("structural", "beam", "joist", "support", "load-bearing"),
               d, loc):
        if "major" in d or "extensive" in d:
            return "structural", "major", 70
        elif "moderate" in d:
            return "structural", "moderate", 75
        return "structural", "minor", 75
    if _any_in(("siding", "exterior", "trim", "paint", "stucco", "brick"),
               d, loc):
        if "siding" in d and "replace" in d:
            return "exterior", "siding", 75
        elif "paint" in d:
            return "exterior", "paint", 80
        return "exterior", "minor", 75
    if _any_in(("window", "door", "glass", "frame", "seal"), d, loc):
        if "replace" in d or "replacement" in d:
            if "multiple" in d or "all" in d:
                return "windows", "multiple", 75
            return "windows", "replacement", 80
        return "windows", "repair", 80
    if _any_in(("paint", "drywall", "wall", "ceiling", "cosmetic"), d, loc):
        if "drywall" in d:
            return "interior", "drywall", 80
        return "interior", "cosmetic", 75
    if _any_in(("floor", "carpet", "tile", "hardwood", "laminate"), d, loc):
        return "interior", "flooring", 75
    if severity in ("critical", "major", "high"):
        return "misc", "major", 50
    elif severity in ("moderate", "medium"):
        return "misc", "moderate", 50
    return "misc", "minor", 50


def estimate_cost(issue: dict) -> dict:
    """rule_based_cost_estimator.py:90-150."""
    description = issue.get("description", "").lower()
    severity = issue.get("severity", "").lower()
    location = issue.get("location", "").lower()

    category, sub_type, confidence = classify_cost_category(
        description, severity, location)
    if category in rules.COST_DATABASE \
            and sub_type in rules.COST_DATABASE[category]:
        low, high, reasoning = rules.COST_DATABASE[category][sub_type]
    else:
        low, high, reasoning = rules.COST_FALLBACK
        confidence = max(30, confidence - 20)

    # severity multipliers (:269-276)
    if severity in ("critical", "major"):
        low, high = low * 1.3, high * 1.5
    elif severity in ("moderate", "medium"):
        low, high = low * 1.0, high * 1.2
    else:
        low, high = low * 0.8, high * 1.0

    risks = []
    if severity in ("critical", "major", "high"):
        risks.append("High priority issue - costs may escalate if delayed")
    if _any_in(("hidden", "unknown", "investigate"), description):
        risks.append("May require additional investigation")
    if _any_in(("structural", "foundation", "load"), description):
        risks.append("May require engineering evaluation")
    if _any_in(("code", "permit", "violation"), description):
        risks.append("May require permits and inspections")
    if _any_in(("water", "moisture", "mold"), description):
        risks.append("May have related water damage or mold issues")
    if not risks:
        risks.append("Standard repair with typical scope")

    return {
        "issue_id": issue.get("issue_id", issue.get("id", "unknown")),
        "category": category, "sub_type": sub_type,
        "estimated_low": int(low), "estimated_high": int(high),
        "confidence_score": confidence,
        "reasoning": reasoning,
        "risk_factors": risks,
        "needs_review": confidence < 70,
    }


# ---------------------------------------------------------------------------
# Full pipeline per document (src/data_enrichment_pipeline.py:55-107)
# ---------------------------------------------------------------------------

# Every RAW issue field read anywhere in phases 2-4, C17 assign_strategy,
# C18 estimate_cost, or the phase-2 estimation block. The string fields
# feed the rules as values; the three flag fields are only ever tested for
# truthiness (urgency_score, complexity_factor), so they memo-key as bools.
# Everything else those phases read is DERIVED from these inside the block
# (standard_*, extracted_attributes, classification, complexity_factor...),
# and the issue id only labels outputs (patched per issue by the caller).
_PURE_STR_FIELDS = ("description", "title", "item", "section", "subsection",
                    "status", "severity", "priority", "suggested_action",
                    "location", "accessibility_complexity")
_PURE_FLAG_FIELDS = ("safety_flag", "safety_related",
                     "requires_specialized_labor")

_ISSUE_MEMO = Memo(200_000)


def _enrich_issue_content(issue: dict) -> tuple[dict, dict, dict]:
    """Phases 2-4 + C17 + C18 + phase-2 estimation for ONE issue — a pure
    function of the _PURE_STR_FIELDS/_PURE_FLAG_FIELDS content, memoized
    process-wide: boilerplate issues recur heavily across documents
    (round-2 profile: ~650 unique descriptions per 10k issues), so at
    corpus scale most issues are dict hits instead of the full
    difflib/regex rule ladder.

    Returns (fields_to_set, estimate_sans_issue_id, phase2_sans_issue_id).
    The returned sub-dicts are shared between cache hits — callers must
    treat them as immutable (the pipeline only reads them downstream).
    """
    key = tuple(issue.get(f) for f in _PURE_STR_FIELDS) + tuple(
        bool(issue.get(f)) for f in _PURE_FLAG_FIELDS)
    return _ISSUE_MEMO.lookup(key, _issue_content, (issue,))


def _issue_content(issue: dict) -> tuple[dict, dict, dict]:
    from . import estimation_rules as est2

    # a None field reads as a missing one (validate_schema passes a None
    # required field on), so every rule below sees its "" default
    v = {f: issue[f] for f in _PURE_STR_FIELDS + _PURE_FLAG_FIELDS
         if issue.get(f) is not None}
    out: dict = {}

    def setv(k: str, val) -> None:
        v[k] = val
        out[k] = val

    # Phase 2 normalization (order preserved from the reference pipeline)
    sev_text = v.get("severity", "") or v.get("priority", "")
    sev, sev_conf = normalize_severity(
        sev_text, v.get("status", ""), v.get("description", ""))
    setv("standard_severity", sev)
    setv("severity_confidence", sev_conf)
    act, act_conf = normalize_action(
        v.get("suggested_action", ""), v.get("description", ""),
        v.get("standard_severity", "") or v.get("severity", ""))
    setv("standard_action", act)
    setv("action_confidence", act_conf)
    setv("action_priority", rules.ACTION_PRIORITY.get(act, 0))

    # Phase 3 enrichment
    item = (v.get("item", "") or v.get("title", "")
            or v.get("subsection", "") or v.get("section", ""))
    cat, sub, conf = taxonomy_from_context(
        item, v.get("section", ""), v.get("description", ""))
    setv("standard_category", cat)
    setv("standard_subcategory", sub)
    setv("category_confidence", conf)
    attrs = extract_attributes(v.get("description", ""), v.get("title", ""))
    setv("extracted_attributes", attrs)
    if attrs.get("safety_related"):
        setv("safety_flag", True)
    if "accessibility" in attrs:
        setv("accessibility_complexity", attrs["accessibility"])
    # metadata enricher order (metadata_enricher.py:24-65): complexity
    # reads requires_specialized_labor BEFORE it is stored (quirk kept)
    setv("urgency_score", urgency_score(v))
    setv("complexity_factor", complexity_factor(v))
    setv("requires_specialized_labor", requires_specialized_labor(v))
    area = estimate_affected_area(v)
    if area:
        setv("estimated_affected_area", area)

    # Phase 4 classification
    trade, trade_conf = classify_trade(v)
    work, work_conf = classify_work_type(v)
    complexity, cx_conf = classify_complexity(v)
    setv("classification", {
        "trade": trade, "trade_confidence": trade_conf,
        "work_type": work, "work_type_confidence": work_conf,
        "complexity": complexity, "complexity_confidence": cx_conf,
    })

    # Phase 6 cost strategy (reads no grouping state, so it folds into
    # the content-pure block even though the pipeline runs it after J4)
    strategy, s_conf, matched = assign_strategy(v)
    setv("cost_strategy", strategy)
    setv("strategy_confidence", s_conf)
    setv("matched_standard_item", matched)

    # C18 estimate (issue_id patched by the caller)
    e18 = estimate_cost(v)

    # Phase-2 estimation: C19 selector + C21 Houston adjust + C20
    # confidence (estimation_rules.py)
    sel_input = {
        "title": v.get("title", ""),
        "description": v.get("description", ""),
        "category": v.get("standard_category", ""),
        "severity": v.get("standard_severity", ""),
    }
    sel = est2.select_strategy_phase2(sel_input)
    adj = est2.houston_adjust(sel["cost_estimate"], sel_input) \
        if sel.get("cost_estimate") else None
    locations = v.get("extracted_attributes", {}).get("locations", [])
    conf2 = est2.confidence_score(
        {"estimated_low": e18["estimated_low"],
         "estimated_high": e18["estimated_high"],
         "reasoning": e18["reasoning"]},
        {"issue": v.get("description", ""),
         "description": v.get("description", ""),
         "location": locations[0] if locations else "",
         "category": v.get("standard_category", ""),
         "item": v.get("title", ""),
         "severity": v.get("standard_severity", "")})
    p2 = {
        "strategy": sel["strategy"],
        "strategy_confidence": sel["confidence"],
        "adjusted_low": adj["cost"]["total"]["min"] if adj else None,
        "adjusted_high": adj["cost"]["total"]["max"] if adj else None,
        "permit_type": adj["permit_type"] if adj else None,
        "trade": adj["trade"] if adj else None,
        "confidence_overall": conf2["overall"],
        "manual_review": bool(conf2["manual_review_needed"]),
    }

    return out, e18, p2


def enrich_document(issues: list[dict]) -> dict:
    """Run phases 1-6 + A2 summary + C18 estimates for one document's
    issues. Returns {'issues': [...], 'groups': [...], 'summary': {...},
    'estimates': [...], 'estimate_summary': {...}}."""
    # Phase 1.1 schema
    validated = [validate_schema(i)[0] for i in issues]
    # Phase 1.2 cleaning + per-doc dedup
    tracker = DuplicateTracker()
    cleaned = []
    for issue in validated:
        c = clean_issue(issue)
        if tracker.is_duplicate(c.get("description", "")):
            c["is_duplicate"] = True
        cleaned.append(c)
    # Phase 1.3 quality gate
    kept = []
    n_excluded = 0
    for issue in cleaned:
        action, score, reason = quality_validate(issue)
        if action == EXCLUDE:
            n_excluded += 1
            continue
        issue["data_quality_score"] = score
        if action == FLAG:
            issue["needs_manual_review"] = True
            issue["review_reason"] = reason
        kept.append(issue)

    # Phases 2-4 + C17/C18 + phase-2 estimation: content-pure per issue,
    # via the process-wide memo (_enrich_issue_content). Phase order is
    # preserved inside the block; grouping (phase 5) stays per-document.
    memoed = [_enrich_issue_content(i) for i in kept]
    for issue, (fields, _e18, _p2) in zip(kept, memoed):
        issue.update(fields)

    # Phase 5 grouping (per-document scope)
    kept, groups = group_issues(kept)

    # A2 summary (data_enrichment_pipeline.py:257-321)
    summary = summarize_issues(kept)

    # C18 estimates + A5 summary (rule_based_cost_estimator.py:341-366)
    # + phase-2 rows: cached content templates with per-issue ids patched
    estimates = [
        {**e18, "issue_id": issue.get("issue_id",
                                      issue.get("id", "unknown"))}
        for issue, (_f, e18, _p2) in zip(kept, memoed)]
    phase2 = [
        {"issue_id": issue.get("id", "unknown"), **p2}
        for issue, (_f, _e18, p2) in zip(kept, memoed)]
    est_summary = estimate_summary(estimates)

    # J7 relationship analysis (relationship_rules.py), document-local
    from . import relationship_rules as rel
    rel_inputs = []
    for issue in kept:
        locations = issue.get("extracted_attributes", {}).get("locations", [])
        rel_inputs.append({
            "id": issue.get("id", "unknown"),
            "issue": issue.get("description", ""),
            "description": issue.get("description", ""),
            "item": issue.get("title", ""),
            "category": issue.get("standard_category", ""),
            "location": locations[0] if locations else "",
            "severity": issue.get("standard_severity", ""),
        })
    relationships = rel.analyze_issues(rel_inputs)

    return {"issues": kept, "groups": groups, "summary": summary,
            "estimates": estimates, "estimate_summary": est_summary,
            "phase2": phase2, "relationships": relationships,
            "n_excluded": n_excluded}


def estimate_summary(estimates: list[dict]) -> dict:
    """A5 (rule_based_cost_estimator.py:341-366)."""
    return {
        "estimated_issues": len(estimates),
        "total_estimated_low": int(sum(e["estimated_low"]
                                       for e in estimates)),
        "total_estimated_high": int(sum(e["estimated_high"]
                                        for e in estimates)),
        "average_confidence": int(
            sum(e["confidence_score"] for e in estimates) / len(estimates))
        if estimates else 0,
        "needs_review": sum(1 for e in estimates if e["needs_review"]),
    }


def summarize_issues(issues: list[dict]) -> dict:
    """A2 (data_enrichment_pipeline.py:257-321)."""
    summary: dict[str, Any] = {
        "total_issues": len(issues), "by_severity": {}, "by_action": {},
        "by_category": {}, "by_trade": {}, "by_complexity": {},
        "by_strategy": {}, "safety_issues": 0, "grouped_issues": 0,
        "avg_urgency": 0, "avg_complexity": 0,
    }
    urgency, complexity = [], []
    for issue in issues:
        for field, key, default in (
                ("by_severity", "standard_severity", "unknown"),
                ("by_action", "standard_action", "unknown"),
                ("by_category", "standard_category", "Unknown"),
                ("by_strategy", "cost_strategy", "unknown")):
            v = issue.get(key, default) or default
            summary[field][v] = summary[field].get(v, 0) + 1
        cls = issue.get("classification", {})
        for field, key in (("by_trade", "trade"), ("by_complexity", "complexity")):
            v = cls.get(key, "unknown")
            summary[field][v] = summary[field].get(v, 0) + 1
        if issue.get("safety_flag"):
            summary["safety_issues"] += 1
        if issue.get("is_grouped"):
            summary["grouped_issues"] += 1
        if "urgency_score" in issue:
            urgency.append(issue["urgency_score"])
        if "complexity_factor" in issue:
            complexity.append(issue["complexity_factor"])
    if urgency:
        summary["avg_urgency"] = round(sum(urgency) / len(urgency), 2)
    if complexity:
        summary["avg_complexity"] = round(sum(complexity) / len(complexity), 2)
    return summary
