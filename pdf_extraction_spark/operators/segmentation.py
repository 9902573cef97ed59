"""W2/W3 — exact issue segmentation as a grouped-map pandas UDF.

The ">200 chars accumulated" boundary rule (src/data_structurer.py:96-99)
makes segment boundaries depend on the running description, so this is the
one operator that cannot be a stateless window (SURVEY.md §7.4.1). It runs as
``groupBy(doc_id).applyInPandas`` — Arrow-batched, one python loop per doc
over its (small) block list; all other extraction operators are pure
DataFrame expressions.

Skew note: giant docs are handled upstream by AQE + the blocks-per-doc stream
staying a single group here; the boundary rules only depend on local state,
so a salted two-pass variant (operators/salting.py) can split giant docs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .. import rules

ISSUE_SCHEMA = (
    "doc_id string, issue_order int, id string, section string, "
    "subsection string, status string, priority string, title string, "
    "description string, page_numbers array<int>, first_offset long"
)


def _priority(content_lower: str, status: str | None,
              bold: bool = False, underlined: bool = False) -> str:
    """C4/C2 (src/data_structurer.py:110-144): bold -> high and
    underlined -> medium ahead of the keyword tiers. The default span
    model carries no font attrs, so both flags default False (the S4
    fontless fallback); corpora whose span schema has optional
    bold/underlined fields get the reference's formatting semantics."""
    if bold:
        return "high"
    if any(kw in content_lower for kw in rules.HIGH_PRIORITY_KEYWORDS):
        return "high"
    if underlined:
        return "medium"
    if any(kw in content_lower for kw in rules.MEDIUM_PRIORITY_KEYWORDS):
        return "medium"
    if status in rules.LOW_PRIORITY_STATUSES:
        return "low"
    return "info"


def segment_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Segment one doc's blocks (sorted by offset) into issues."""
    pdf = pdf.sort_values("offset")
    doc_id = pdf["doc_id"].iloc[0] if len(pdf) else None
    issues: list[dict] = []
    cur: dict | None = None
    counter = 0

    contents = pdf["content"].tolist()
    lowers = [c.lower() for c in contents]
    statuses = pdf["status"].tolist()
    sections = pdf["section"].tolist()
    subsections = pdf["subsection"].tolist()
    pages = pdf["page_num"].tolist()
    offsets = pdf["offset"].tolist()
    n = len(contents)
    bolds = (pdf["bold"].fillna(False).tolist()
             if "bold" in pdf.columns else [False] * n)
    unders = (pdf["underlined"].fillna(False).tolist()
              if "underlined" in pdf.columns else [False] * n)

    for i in range(len(contents)):
        status = statuses[i] if isinstance(statuses[i], str) else None
        start = False
        if status == "D":
            start = True
        elif any(kw in lowers[i] for kw in rules.ISSUE_KEYWORDS):
            start = True
        elif (cur is not None and subsections[i] != cur["subsection"]
              and len(cur["description"]) > rules.SUBSECTION_CHANGE_MIN_LEN):
            start = True
        elif cur is not None and sections[i] != cur["section"]:
            start = True

        if start:
            if cur is not None:
                issues.append(cur)
                counter += 1
            cur = {
                "doc_id": doc_id,
                "issue_order": counter,
                "id": f"{sections[i]}_{counter}",
                "section": sections[i],
                "subsection": subsections[i],
                "status": status or "I",
                "priority": _priority(lowers[i], status,
                                      bool(bolds[i]), bool(unders[i])),
                "title": rules.extract_title(contents[i]),
                "description": contents[i],
                "page_numbers": [int(pages[i])],
                "first_offset": int(offsets[i]),
            }
        elif cur is not None:
            cur["description"] += "\n" + contents[i]
            if int(pages[i]) not in cur["page_numbers"]:
                cur["page_numbers"].append(int(pages[i]))
    if cur is not None:
        issues.append(cur)

    cols = ["doc_id", "issue_order", "id", "section", "subsection", "status",
            "priority", "title", "description", "page_numbers", "first_offset"]
    return pd.DataFrame(issues, columns=cols)


def segment_issues(blocks: DataFrame) -> DataFrame:
    """blocks(doc_id, offset, page_num, section, subsection, status, content)
    -> one row per issue, ordered by issue_order within doc."""
    return blocks.groupBy("doc_id").applyInPandas(
        lambda pdf: segment_pdf(pdf), schema=ISSUE_SCHEMA)
