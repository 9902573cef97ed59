"""Pure-python oracle: reference-semantics extraction over one doc's spans.

This is a direct row-wise transcription of the reference pipeline
(`src/pipeline.py:56-120` orchestration; see rules.py for per-rule citations),
adapted to the span input model (SURVEY.md §1.4): spans in → classified span
sequence + metadata + issues + tables + raw_sections out.

It exists to produce golden outputs for the Spark pipeline's span-sequence
equality tests (FIXTURES.md §5). It is deliberately simple and slow; the Spark
implementation in plans/extraction.py must match it exactly.
"""

from __future__ import annotations

import re
from typing import Any

from . import rules
from .corpus import LINES_PER_PAGE

# output span kind precedence (documented contract; see plans/extraction.py)
KIND_MEDIA = "media_ref"
KIND_SECTION = "section_heading"
KIND_SUBSECTION = "subsection_heading"
KIND_TABLE_ROW = "table_row"
KIND_BOILERPLATE = "boilerplate"
KIND_STATUS = "status_line"
KIND_TEXT = "text"

TABLE_ROW_MARKER = " | "


def page_of(offset: int) -> int:
    return offset // LINES_PER_PAGE + 1


def is_boilerplate(text: str) -> bool:
    """F5 span-level boilerplate (data_quality_validator.py:376-409, minus the
    section/issue-id checks which are block-level)."""
    low = text.lower()
    if any(kw in low for kw in rules.METADATA_KEYWORDS):
        return True
    if any(p in low for p in rules.DISCLAIMER_PHRASES):
        if not any(w in low for w in rules.DISCLAIMER_RESCUE_WORDS):
            return True
    return False


def classify_span_kind(norm_text: str) -> str:
    """Output span kind for a normalized, stripped text line.

    Precedence: section > subsection > table_row > boilerplate > status_line >
    text (media handled by caller).
    """
    if re.match(rules.SECTION_RE, norm_text):
        return KIND_SECTION
    if re.match(rules.SUBSECTION_RE, norm_text):
        return KIND_SUBSECTION
    if TABLE_ROW_MARKER in norm_text:
        return KIND_TABLE_ROW
    if is_boilerplate(norm_text):
        return KIND_BOILERPLATE
    if rules.detect_status(norm_text) is not None:
        return KIND_STATUS
    return KIND_TEXT


def extract_doc(doc_id: str, spans: list[dict[str, Any]]) -> dict[str, Any]:
    """Full extraction for one document. Returns the golden record."""
    spans = sorted(spans, key=lambda s: s["offset"])

    # ------- span classification + W1 section tracking -------
    out_spans: list[dict[str, Any]] = []
    blocks: list[dict[str, Any]] = []   # reference TextBlock stream
    current_section: str | None = None  # text_extractor.pyc:90-129
    current_subsection: str | None = None

    for s in spans:
        if s["kind"] == "media":
            out_spans.append({"kind": KIND_MEDIA, "text": "",
                              "media_ref": s["media_ref"], "order": s["offset"]})
            continue
        norm = rules.normalize_unicode_text(s["text"]).strip()
        if not norm:  # F1 empty-line filter (text_extractor.pyc:93-95)
            out_spans.append({"kind": KIND_TEXT, "text": norm,
                              "media_ref": "", "order": s["offset"]})
            continue
        kind = classify_span_kind(norm)
        out_spans.append({"kind": kind, "text": norm, "media_ref": "",
                          "order": s["offset"]})
        if kind == KIND_SECTION:
            current_section = norm       # headings consumed, not blocks
            current_subsection = None    # section resets subsection
            continue
        if kind == KIND_SUBSECTION:
            current_subsection = norm
            continue
        if kind == KIND_TABLE_ROW:
            continue  # table path (S5), not part of the block stream
        blocks.append({
            "page_num": page_of(s["offset"]),
            "section": current_section or rules.DEFAULT_SECTION,
            "subsection": current_subsection or rules.DEFAULT_SUBSECTION,
            "status": rules.detect_status(norm),
            "content": norm,
            "offset": s["offset"],
        })

    # ------- W2/W3 issue segmentation (src/data_structurer.py:35-107) -------
    issues: list[dict[str, Any]] = []
    current: dict[str, Any] | None = None
    counter = 0
    for b in blocks:
        if _should_start_new_issue(b, current):
            if current is not None:
                issues.append(current)
                counter += 1
            current = {
                "id": f"{b['section']}_{counter}",
                "section": b["section"],
                "subsection": b["subsection"],
                "status": b["status"] or "I",
                "priority": _determine_priority(b),
                "title": rules.extract_title(b["content"]),
                "description": b["content"],
                "page_numbers": [b["page_num"]],
                "estimated_cost": None,
            }
        elif current is not None:
            current["description"] += "\n" + b["content"]
            if b["page_num"] not in current["page_numbers"]:
                current["page_numbers"].append(b["page_num"])
    if current is not None:
        issues.append(current)

    # ------- S5/C6/W5 tables -------
    tables = _extract_tables(out_spans)

    # ------- J1/T6 cost link (src/data_structurer.py:160-224) -------
    for t in tables:
        if t["table_type"] != "cost_estimate":
            continue
        cost = _cost_from_table(t)
        if not cost:
            continue
        for issue in issues:
            if issue["section"] == t["section"] and t["page_num"] in issue["page_numbers"]:
                issue["estimated_cost"] = cost
                break

    # ------- A4 raw sections (src/data_structurer.py:227-237) -------
    raw_sections: dict[str, str] = {}
    for b in blocks:
        key = (f"{b['section']} > {b['subsection']}" if b["subsection"]
               else b["section"])
        raw_sections[key] = raw_sections.get(key, "") + b["content"] + "\n"

    # ------- S1/T7 metadata -------
    metadata = _extract_metadata(spans)

    # ------- A1 summary (src/data_structurer.py:263-284) -------
    summary = {
        "total_issues": len(issues),
        "deficient": sum(1 for i in issues if i["status"] == "D"),
        "inspected": sum(1 for i in issues if i["status"] == "I"),
        "not_inspected": sum(1 for i in issues if i["status"] == "NI"),
        "not_present": sum(1 for i in issues if i["status"] == "NP"),
        "high": sum(1 for i in issues if i["priority"] == "high"),
        "medium": sum(1 for i in issues if i["priority"] == "medium"),
        "low": sum(1 for i in issues if i["priority"] == "low"),
        "info": sum(1 for i in issues if i["priority"] == "info"),
        "total_tables": len(tables),
    }

    return {
        "doc_id": doc_id,
        "spans": out_spans,
        "issues": issues,
        "tables": tables,
        "raw_sections": raw_sections,
        "metadata": metadata,
        "summary": summary,
    }


def _should_start_new_issue(block: dict, current: dict | None) -> bool:
    """src/data_structurer.py:78-107."""
    if block["status"] == "D":
        return True
    low = block["content"].lower()
    if any(kw in low for kw in rules.ISSUE_KEYWORDS):
        return True
    if (current is not None
            and block["subsection"] != current["subsection"]
            and len(current["description"]) > rules.SUBSECTION_CHANGE_MIN_LEN):
        return True
    if current is not None and block["section"] != current["section"]:
        return True
    return False


def _determine_priority(block: dict) -> str:
    """src/data_structurer.py:110-144 (no font info in span model, so the
    bold/underline branches never fire — same as the simple-scan fallback
    S4, text_extractor.pyc:230-257)."""
    low = block["content"].lower()
    if any(kw in low for kw in rules.HIGH_PRIORITY_KEYWORDS):
        return "high"
    if any(kw in low for kw in rules.MEDIUM_PRIORITY_KEYWORDS):
        return "medium"
    if block["status"] in rules.LOW_PRIORITY_STATUSES:
        return "low"
    return "info"


def _extract_tables(out_spans: list[dict]) -> list[dict]:
    """S5 table assembly from contiguous table_row spans + C6 classify + W5
    section context (src/table_extractor.py:9-145)."""
    # section heading per page: first section heading on the page, else PAGE_n
    page_section: dict[int, str] = {}
    for s in out_spans:
        if s["kind"] == KIND_SECTION:
            pg = page_of(s["order"])
            page_section.setdefault(pg, s["text"])

    # contiguous (by order) runs of table_row spans form one table each
    runs: list[list[dict]] = []
    run: list[dict] = []
    for s in out_spans:
        if s["kind"] == KIND_TABLE_ROW:
            if run and s["order"] != run[-1]["order"] + 1:
                runs.append(run)
                run = []
            run.append(s)
    if run:
        runs.append(run)

    tables = []
    for run in runs:
        rows = [[" ".join(c.split()) for c in r["text"].split("|")]
                for r in run]
        rows = [row for row in rows if any(row)]  # clean_table_data :59-84
        if len(rows) < 2:  # table_extractor.py:23-29
            continue
        headers, data = rows[0], rows[1:]
        if len(data) > rules.TABLE_MAX_ROWS or len(headers) > rules.TABLE_MAX_COLS:
            continue  # F10 validate_table :183-203
        pg = page_of(run[0]["order"])
        tables.append({
            "page_num": pg,
            "section": page_section.get(pg, f"PAGE_{pg}"),
            "headers": headers,
            "table_data": data,
            "table_type": _classify_table(headers, data),
        })
    return tables


def _classify_table(headers: list[str], data: list[list[str]]) -> str:
    """src/table_extractor.py:87-116 (substring containment, ordered cascade)."""
    combined = (" ".join(headers) + " "
                + " ".join(" ".join(r) for r in data)).lower()
    for ttype, kws in rules.TABLE_TYPE_KEYWORDS:
        if any(kw in combined for kw in kws):
            return ttype
    return "generic"


def _cost_from_table(table: dict) -> dict | None:
    """src/data_structurer.py:181-224: within the first price-bearing row the
    LAST price-bearing cell wins; per cell the first matching pattern wins."""
    for row in table["table_data"]:
        cost = None
        for cell in row:
            if not cell:
                continue
            for pattern in rules.PRICE_PATTERNS:
                matches = re.findall(pattern, cell)
                if matches:
                    prices = [float(m.replace(",", "")) for m in matches]
                    cost = {"min": min(prices), "max": max(prices),
                            "average": sum(prices) / len(prices)}
                    break
        if cost:
            return cost
    return None


def _extract_metadata(spans: list[dict]) -> dict:
    """S1 (src/metadata_extractor.py:10-49) on raw page-1 text + T7
    (text_extractor.pyc:273-409) on raw first-2-pages text."""
    text_spans = [s for s in spans if s["kind"] != "media"]
    page1 = "\n".join(s["text"] for s in text_spans
                      if page_of(s["offset"]) == 1)
    first2 = "\n".join(s["text"] for s in text_spans
                       if page_of(s["offset"]) <= 2)
    total_pages = max((page_of(s["offset"]) for s in spans), default=0)

    rn = re.search(rules.REPORT_NUMBER_RE, page1)
    date = re.search(rules.INSPECTION_DATE_RE, page1)
    if not date:
        date = re.search(rules.DATE_FALLBACK_RE, page1)
    addr = re.search(rules.ADDRESS_TX_RE, page1)
    if not addr:
        addr = re.search(rules.ADDRESS_ANY_RE, page1)

    md = {
        "total_pages": total_pages,
        "report_type": ("estimate" if rules.REPORT_TYPE_ESTIMATE_MARKER in page1
                        else "inspection"),
        "report_number": rn.group(1) if rn else None,
        "inspection_date": date.group(1).strip() if date else None,
        "property_address": addr.group(1) if addr else None,
    }
    md.update(_property_metadata(first2))
    return md


def _property_metadata(text: str) -> dict:
    """T7 (text_extractor.pyc:273-409), first-match-wins pattern cascades."""
    out: dict[str, Any] = {
        "square_footage": None, "year_built": None, "stories": None,
        "home_type": None, "lot_size": None, "bedrooms": None,
        "bathrooms": None, "location": None,
    }
    for p in rules.SQFT_PATTERNS:
        m = re.search(p, text, re.IGNORECASE)
        if m:
            out["square_footage"] = int(m.group(1).replace(",", ""))
            break
    for p in rules.YEAR_PATTERNS:
        m = re.search(p, text, re.IGNORECASE)
        if m:
            year = int(m.group(1))
            if rules.YEAR_MIN <= year <= rules.YEAR_MAX:
                out["year_built"] = year
                break
    for p in rules.STORIES_PATTERNS:
        m = re.search(p, text, re.IGNORECASE)
        if m:
            v = m.group(1).lower()
            out["stories"] = int(v) if v.isdigit() else rules.STORY_WORDS.get(v)
            if out["stories"] is not None:
                break
    for p in rules.HOME_TYPE_PATTERNS:
        m = re.search(p, text, re.IGNORECASE)
        if m:
            out["home_type"] = m.group(1).strip()
            break
    for p in rules.LOT_PATTERNS:
        m = re.search(p, text, re.IGNORECASE)
        if m:
            out["lot_size"] = m.group(1)
            break
    for p in rules.BED_PATTERNS:
        m = re.search(p, text, re.IGNORECASE)
        if m:
            out["bedrooms"] = int(m.group(1))
            break
    for p in rules.BATH_PATTERNS:
        m = re.search(p, text, re.IGNORECASE)
        if m:
            out["bathrooms"] = float(m.group(1))
            break
    for p in rules.LOCATION_PATTERNS:
        m = re.search(p, text, re.IGNORECASE)
        if m:
            out["location"] = re.sub(r"\s+", " ", m.group(1)).strip()
            break
    for k in rules.INT32_FIELDS:
        out[k] = rules.int32_or_none(out[k])
    return out
