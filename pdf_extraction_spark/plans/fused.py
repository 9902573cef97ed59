"""Zero-shuffle fused extraction plan (Arrow-native).

The reference pipeline (src/pipeline.py:56-120) is per-document: every
operator (T1 normalize, C1 status, W1 sections, W2 segmentation, S5 tables,
J1 cost link, A1/A4 aggregates, S1/T7 metadata) reads only one document's
spans. The input table already stores one row per document
(doc_id, spans array<...>), so the spans of a document are colocated by
construction — exploding to span rows and shuffling them back together by
doc_id (plans/extraction.py) pays ~5 shuffles for work that needs none.

This plan runs the whole extraction as ONE ``mapInArrow`` pass:

  docs --(round-robin repartition for skew)--> mapInArrow(extract)

Arrow-native on both edges: the span struct arrays are consumed directly
from the RecordBatch (ListArray.flatten → columnar numpy views; no
per-span python dicts on input) and the output span sequence is rebuilt as
a ListArray from columnar arrays (no per-span dicts on output). All
span-level operators are vectorized across every span of every document in
the batch (RE2 kernels via pyarrow.compute, pandas grouped ffill for the
W1 running state). Only the inherently sequential parts run as per-document
loops over *blocks*:

  - W2 issue segmentation — the ">200 chars accumulated" boundary rule
    (src/data_structurer.py:96-99) depends on the running description
    (SURVEY.md §7.4.1) — plus A4 raw-section accumulation in the same fold;
  - S5 table-run assembly and J1 cost linking (a handful of rows per doc).

Scale notes (100 TB / 10^12 docs):
  - No shuffle: the job is map-only; 1000 executors scale linearly.
  - Skew: a giant doc (500k spans) is one row; round-robin repartition
    spreads docs evenly, and per-doc cost is bounded by the max doc size.
    For adversarial giant-doc tails the exploded+salted plan is the fallback.
  - Arrow batches are capped (session.py maxRecordsPerBatch) so a batch of
    doc rows with large span arrays stays within executor memory.

Output is row-identical to plans/extraction.assemble (same golden tests).
"""

from __future__ import annotations

import re
import warnings
from typing import Any, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .. import rules

# the shared section/subsection patterns carry capture groups (other
# callers extract them); here .str.contains only needs the match verdict
warnings.filterwarnings(
    "ignore", message="This pattern is interpreted as a regular expression")
from ..corpus import LINES_PER_PAGE
from ..oracle import (KIND_BOILERPLATE, KIND_MEDIA, KIND_SECTION, KIND_STATUS,
                      KIND_SUBSECTION, KIND_TABLE_ROW, KIND_TEXT,
                      TABLE_ROW_MARKER, _classify_table, _cost_from_table)

OUTPUT_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,order:int>>, "
    "issues array<struct<id:string,section:string,subsection:string,"
    "status:string,priority:string,title:string,description:string,"
    "page_numbers:array<int>,"
    "estimated_cost:struct<min:double,max:double,average:double>>>, "
    "tables array<struct<page_num:int,section:string,table_type:string,"
    "headers:array<string>,table_data:array<array<string>>>>, "
    "raw_sections map<string,string>, "
    "metadata struct<total_pages:int,report_type:string,report_number:string,"
    "inspection_date:string,property_address:string,square_footage:int,"
    "year_built:int,stories:int,home_type:string,lot_size:string,"
    "bedrooms:int,bathrooms:double,location:string>, "
    "summary struct<total_issues:int,deficient:long,inspected:long,"
    "not_inspected:long,not_present:long,high:long,medium:long,low:long,"
    "info:long,total_tables:long>"
)

_SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                     ("media_ref", pa.string()), ("order", pa.int32())])
_COST_T = pa.struct([("min", pa.float64()), ("max", pa.float64()),
                     ("average", pa.float64())])
_ISSUE_T = pa.struct([
    ("id", pa.string()), ("section", pa.string()), ("subsection", pa.string()),
    ("status", pa.string()), ("priority", pa.string()), ("title", pa.string()),
    ("description", pa.string()), ("page_numbers", pa.list_(pa.int32())),
    ("estimated_cost", _COST_T)])
_TABLE_T = pa.struct([
    ("page_num", pa.int32()), ("section", pa.string()),
    ("table_type", pa.string()), ("headers", pa.list_(pa.string())),
    ("table_data", pa.list_(pa.list_(pa.string())))])
_META_T = pa.struct([
    ("total_pages", pa.int32()), ("report_type", pa.string()),
    ("report_number", pa.string()), ("inspection_date", pa.string()),
    ("property_address", pa.string()), ("square_footage", pa.int32()),
    ("year_built", pa.int32()), ("stories", pa.int32()),
    ("home_type", pa.string()), ("lot_size", pa.string()),
    ("bedrooms", pa.int32()), ("bathrooms", pa.float64()),
    ("location", pa.string())])
_SUMMARY_T = pa.struct([
    ("total_issues", pa.int32()), ("deficient", pa.int64()),
    ("inspected", pa.int64()), ("not_inspected", pa.int64()),
    ("not_present", pa.int64()), ("high", pa.int64()), ("medium", pa.int64()),
    ("low", pa.int64()), ("info", pa.int64()), ("total_tables", pa.int64())])
PA_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", pa.list_(_SPAN_T)),
    ("issues", pa.list_(_ISSUE_T)), ("tables", pa.list_(_TABLE_T)),
    ("raw_sections", pa.map_(pa.string(), pa.string())),
    ("metadata", _META_T), ("summary", _SUMMARY_T)])

_DIRTY_RE = re.compile(r"[^\x01-\x7f]")
_ALTERNATION_CACHE: dict[int, str] = {}

# python-re twins for the RE2 batch scans: RE2's \s/\b are ASCII-only and
# it treats U+2028/U+2029 as line terminators, so rows containing any
# non-ASCII char re-run under python re — the engine the reference (and
# the golden oracle) uses. Same two-tier design as _normalize_series;
# non-ASCII survivors of T1 are rare at scale, so the slow tier is cold.
_SEC_PY = re.compile(rules.SECTION_RE)
_SUB_PY = re.compile(rules.SUBSECTION_RE)
_BARE_PY = re.compile(rules.BARE_STATUS_RE)


def _normalize_series(s: pd.Series) -> pd.Series:
    """T1 + strip, vectorized with an ASCII fast path (text_extractor.pyc:11-64)."""
    s = s.fillna("")
    out = s.str.strip()
    mask = s.str.contains(_DIRTY_RE)
    if mask.any():
        out[mask] = s[mask].map(
            lambda t: rules.normalize_unicode_text(t).strip())
    return out


def _checkbox_status(sub: pd.Series) -> tuple[pd.Series, pd.Series]:
    """C1 checkbox tier (text_extractor.pyc:140-175) on glyph-bearing rows:
    first-match-wins pattern cascade, positional first-checked-glyph map.
    Returns (status values, matched-any-pattern mask); matched-but-unchecked
    rows get None and must NOT fall through to the bare-letter tier."""
    out = pd.Series([None] * len(sub), index=sub.index, dtype=object)
    matched_any = pd.Series(False, index=sub.index)
    for pattern, status_map in rules.CHECKBOX_PATTERNS:
        ext = sub.str.extract(pattern)
        matched = ~matched_any & ext[0].notna()
        if matched.any():
            decided = pd.Series(False, index=sub.index)
            for i, status in enumerate(status_map):
                chk = matched & ~decided & ext[i].isin(rules.CHECKED_GLYPHS)
                out[chk[chk].index] = status
                decided |= chk
            matched_any |= matched
    return out, matched_any


def _alt_pattern(words: list[str]) -> str:
    key = id(words)
    pat = _ALTERNATION_CACHE.get(key)
    if pat is None:
        pat = "|".join(re.escape(w) for w in words)
        _ALTERNATION_CACHE[key] = pat
    return pat


def _contains_any_pa(low: "pa.Array", words: list[str]) -> np.ndarray:
    """Single RE2 alternation pass (== OR of substring-contains checks)."""
    return pc.match_substring_regex(low, _alt_pattern(words)) \
        .to_numpy(zero_copy_only=False)


def _contains_any(low: pd.Series, words: list[str]) -> pd.Series:
    """Pandas-side variant for small inputs."""
    return low.str.contains(re.compile(_alt_pattern(words)))


def _first_extract(s: pd.Series, patterns: list[str],
                   flags: int = 0) -> pd.Series:
    """First-match-wins pattern cascade, vectorized (T7 semantics)."""
    out = pd.Series([None] * len(s), index=s.index, dtype=object)
    for p in patterns:
        need = out.isna()
        if not need.any():
            break
        ext = s[need].str.extract(re.compile(p, flags))[0].astype(object)
        got = ext[ext.notna()]
        out[got.index] = got
    return out


def _to_obj(s: pd.Series) -> pd.Series:
    return s.astype(object).where(s.notna(), None)


def _metadata_records(page1: list[str], first2: list[str],
                      total_pages: list[int]) -> list[dict]:
    """S1 (metadata_extractor.py:10-49) + T7 (text_extractor.pyc:273-409),
    vectorized across the batch's documents."""
    p1 = pd.Series(page1, dtype=object)
    p2 = pd.Series(first2, dtype=object)
    I = re.IGNORECASE  # noqa: E741

    def _sx(series: pd.Series, pattern: str, flags: int = 0) -> pd.Series:
        return series.str.extract(re.compile(pattern, flags))[0].astype(object)

    rn = _sx(p1, rules.REPORT_NUMBER_RE)
    date = _sx(p1, rules.INSPECTION_DATE_RE)
    date = date.where(date.notna(), _sx(p1, rules.DATE_FALLBACK_RE))
    date = date.str.strip()
    addr = _sx(p1, rules.ADDRESS_TX_RE)
    addr = addr.where(addr.notna(), _sx(p1, rules.ADDRESS_ANY_RE))

    sqft = _first_extract(p2, rules.SQFT_PATTERNS, I).str.replace(",", "")

    year = pd.Series([None] * len(p2), dtype=object)
    for p in rules.YEAR_PATTERNS:
        need = year.isna()
        if not need.any():
            break
        ext = pd.to_numeric(
            p2[need].str.extract(re.compile(p, I))[0], errors="coerce")
        ok = ext[(ext >= rules.YEAR_MIN) & (ext <= rules.YEAR_MAX)]
        year[ok.index] = ok.astype(int)

    stories = pd.Series([None] * len(p2), dtype=object)
    for p in rules.STORIES_PATTERNS:
        need = stories.isna()
        if not need.any():
            break
        ext = p2[need].str.extract(re.compile(p, I))[0].astype(object).str.lower()
        digit = ext[ext.str.fullmatch(r"\d", na=False)]
        stories[digit.index] = digit.astype(int)
        words = ext[ext.notna() & ~ext.str.fullmatch(r"\d", na=False)]
        mapped = words.map(rules.STORY_WORDS)
        mapped = mapped[mapped.notna()]
        stories[mapped.index] = mapped.astype(int)

    home = _first_extract(p2, rules.HOME_TYPE_PATTERNS, I).str.strip()
    lot = _first_extract(p2, rules.LOT_PATTERNS, I)
    beds = pd.to_numeric(_first_extract(p2, rules.BED_PATTERNS, I),
                         errors="coerce")
    baths = pd.to_numeric(_first_extract(p2, rules.BATH_PATTERNS, I),
                          errors="coerce")
    loc = _first_extract(p2, rules.LOCATION_PATTERNS, I)
    loc = loc.str.replace(r"\s+", " ", regex=True).str.strip()

    frame = pd.DataFrame({
        "total_pages": pd.Series(total_pages, dtype=object),
        "report_type": p1.str.contains(
            rules.REPORT_TYPE_ESTIMATE_MARKER, regex=False)
            .map({True: "estimate", False: "inspection"}),
        "report_number": _to_obj(rn),
        "inspection_date": _to_obj(date),
        "property_address": _to_obj(addr),
        "square_footage": _to_obj(pd.to_numeric(sqft, errors="coerce")),
        "year_built": _to_obj(year),
        "stories": _to_obj(stories),
        "home_type": _to_obj(home),
        "lot_size": _to_obj(lot),
        "bedrooms": _to_obj(beds),
        "bathrooms": _to_obj(baths),
        "location": _to_obj(loc),
    })
    recs = frame.to_dict("records")
    for r in recs:
        for k in ("square_footage", "year_built", "stories", "bedrooms"):
            if r[k] is not None:
                r[k] = int(r[k])
        if r["bathrooms"] is not None:
            r["bathrooms"] = float(r["bathrooms"])
    return recs


def _classify_arrays(raw_kinds: np.ndarray,
                     texts: np.ndarray) -> dict[str, Any]:
    """Per-span vectorized classification (T1/C1/F5/kind) — no cross-span
    state, so it runs identically over whole docs or doc *chunks* (the
    salted plan classifies chunks in parallel and merges downstream)."""
    n = len(texts)
    is_media = raw_kinds == "media"

    norm = _normalize_series(pd.Series(texts, dtype=object))
    norm[is_media] = ""

    # RE2-backed scans over the whole batch
    norm_pa = pa.array(norm, type=pa.string())
    low_pa = pc.utf8_lower(norm_pa)

    def _m(pattern: str) -> np.ndarray:
        # rules.re2: python-\s semantics for the ASCII rows RE2 scans
        # (\x0b and \x1c-\x1f are ASCII, so the dirty reroute below
        # never catches them)
        return pc.match_substring_regex(norm_pa, rules.re2(pattern)) \
            .to_numpy(zero_copy_only=False)

    is_sec = _m(rules.SECTION_RE) & ~is_media
    is_sub = _m(rules.SUBSECTION_RE) & ~is_sec & ~is_media
    dirty = norm.str.contains(_DIRTY_RE).values
    if dirty.any():
        d = norm[dirty]
        is_sec[dirty] = d.str.contains(_SEC_PY).values & ~is_media[dirty]
        is_sub[dirty] = (d.str.contains(_SUB_PY).values
                         & ~is_sec[dirty] & ~is_media[dirty])
    is_table = pc.match_substring(norm_pa, TABLE_ROW_MARKER) \
        .to_numpy(zero_copy_only=False) & ~is_sec & ~is_sub & ~is_media
    boiler_meta = _contains_any_pa(low_pa, rules.METADATA_KEYWORDS)
    boiler_disc = _contains_any_pa(low_pa, rules.DISCLAIMER_PHRASES)
    boiler_rescue = _contains_any_pa(low_pa, rules.DISCLAIMER_RESCUE_WORDS)
    is_boiler = (boiler_meta | (boiler_disc & ~boiler_rescue)) \
        & ~is_sec & ~is_sub & ~is_table & ~is_media
    empty = (norm == "").values

    # C1 status: checkbox tier only on glyph-bearing rows (rare), bare tier
    # via one RE2 extract for the rest
    has_glyph = _m("[þ✓¨]")
    bare_vals = pc.struct_field(
        pc.extract_regex(norm_pa, r"\b(?P<s>[DINP])\b"), "s") \
        .to_numpy(zero_copy_only=False)
    if dirty.any():
        bp = norm[dirty].str.extract(_BARE_PY)[0]
        bare_vals[dirty] = bp.where(bp.notna(), None).values
    status = np.full(n, None, dtype=object)
    bare_ok = ~has_glyph
    if has_glyph.any():
        cb_vals, cb_matched = _checkbox_status(norm[has_glyph])
        status[has_glyph] = cb_vals.values
        bare_ok = bare_ok.copy()
        bare_ok[cb_matched[~cb_matched].index.values] = True
    take_bare = bare_ok & pd.notna(bare_vals)
    status[take_bare] = bare_vals[take_bare]
    has_status = pd.notna(status)

    kind = np.full(n, KIND_TEXT, dtype=object)
    kind[is_boiler] = KIND_BOILERPLATE
    kind[(has_status & ~is_sec & ~is_sub & ~is_table
          & ~is_boiler & ~is_media & ~empty)] = KIND_STATUS
    kind[is_table] = KIND_TABLE_ROW
    kind[is_sub] = KIND_SUBSECTION
    kind[is_sec] = KIND_SECTION
    kind[is_media] = KIND_MEDIA
    kind[empty & ~is_media] = KIND_TEXT

    return {
        "norm": norm, "is_media": is_media, "is_sec": is_sec,
        "is_sub": is_sub, "is_table": is_table, "status": status,
        "kind": kind,
        "is_block": (~is_media & ~is_sec & ~is_sub & ~is_table & ~empty),
        "is_kw": _contains_any_pa(low_pa, rules.ISSUE_KEYWORDS),
        "is_high": _contains_any_pa(low_pa, rules.HIGH_PRIORITY_KEYWORDS),
        "is_med": _contains_any_pa(low_pa, rules.MEDIUM_PRIORITY_KEYWORDS),
    }


def _sections_fill(norm: pd.Series, is_sec: np.ndarray, is_sub: np.ndarray,
                   doc_idx: np.ndarray) -> tuple[pd.Series, pd.Series]:
    """W1 — running section/subsection (text_extractor.pyc:90-129):
    grouped forward-fill with the section-epoch guard."""
    sec_vals = norm.where(pd.Series(is_sec, index=norm.index))
    section = sec_vals.groupby(doc_idx, sort=False).ffill()
    epoch = pd.Series(is_sec.astype(np.int64), index=norm.index).groupby(
        doc_idx, sort=False).cumsum()
    sub_vals = norm.where(pd.Series(is_sub, index=norm.index))
    subsection = sub_vals.groupby([doc_idx, epoch.values], sort=False).ffill()
    return section, subsection


def _build_outputs(doc_ids: np.ndarray, bounds: np.ndarray,
                   cls: dict[str, Any], section: pd.Series,
                   subsection: pd.Series, texts: np.ndarray,
                   refs: np.ndarray, offs: np.ndarray) -> dict[str, Any]:
    """Per-doc fold (W2 segmentation, tables, J1, metadata, A1/A4) +
    vectorized span-sequence rebuild. ``cls`` is _classify_arrays output."""
    n_docs = len(doc_ids)
    norm = cls["norm"]
    is_media = cls["is_media"]
    is_sec = cls["is_sec"]
    is_table = cls["is_table"]
    is_block = cls["is_block"]
    status = cls["status"]
    kind = cls["kind"]
    is_kw, is_high, is_med = cls["is_kw"], cls["is_high"], cls["is_med"]
    page = (offs.astype(np.int64) // LINES_PER_PAGE + 1)

    # ---- vectorized output span sequence (no per-span python) ----
    text_out = np.where(is_media, "", norm.values)
    ref_out = np.where(is_media, refs, "")
    spans_col = pa.ListArray.from_arrays(
        pa.array(bounds, type=pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(kind, type=pa.string()),
             pa.array(text_out, type=pa.string()),
             pa.array(ref_out, type=pa.string()),
             pa.array(offs.astype(np.int32), type=pa.int32())],
            names=["kind", "text", "media_ref", "order"]))

    sec_arr = section.values
    sub_arr = subsection.values
    norm_arr = norm.values

    all_issues: list[list[dict]] = []
    all_tables: list[list[dict]] = []
    all_rawsec: list[list[tuple[str, str]]] = []
    all_summary: list[dict] = []
    meta_p1: list[str] = []
    meta_f2: list[str] = []
    meta_tp: list[int] = []

    for d in range(n_docs):
        lo, hi = int(bounds[d]), int(bounds[d + 1])
        rng = range(lo, hi)

        # ---- W2/W3 segmentation + A4 raw sections (one fold) ----
        # Accumulators are LISTS joined once at close, and the growing
        # description's length is tracked as an int: string-append into
        # a dict slot re-copies the whole prefix per line (no refcount-1
        # in-place concat for dict items), turning a 100k-span giant doc
        # into O(n^2) work — measured 14s for ONE 50k-span doc before,
        # linear after. page_numbers relies on offsets being sorted per
        # doc (they are — _sort_flat), so "new page" is a last-element
        # compare, not a list scan.
        issues: list[dict[str, Any]] = []
        raw_sections: dict[str, list[str]] = {}
        cur: dict[str, Any] | None = None
        cur_parts: list[str] = []
        cur_len = 0
        counter = 0

        def _close_issue(cur: dict[str, Any]) -> dict[str, Any]:
            cur["description"] = "\n".join(cur_parts)
            return cur

        for i in rng:
            if not is_block[i]:
                continue
            sec = sec_arr[i] if isinstance(sec_arr[i], str) else rules.DEFAULT_SECTION
            sub = sub_arr[i] if isinstance(sub_arr[i], str) else rules.DEFAULT_SUBSECTION
            content = norm_arr[i]
            st = status[i]

            key = f"{sec} > {sub}" if sub else sec
            raw_sections.setdefault(key, []).append(content)

            start = (st == "D" or is_kw[i]
                     or (cur is not None and sub != cur["subsection"]
                         and cur_len > rules.SUBSECTION_CHANGE_MIN_LEN)
                     or (cur is not None and sec != cur["section"]))
            if start:
                if cur is not None:
                    issues.append(_close_issue(cur))
                    counter += 1
                priority = ("high" if is_high[i] else
                            "medium" if is_med[i] else
                            "low" if st in rules.LOW_PRIORITY_STATUSES else
                            "info")
                cur = {
                    "id": f"{sec}_{counter}",
                    "section": sec, "subsection": sub,
                    "status": st or "I", "priority": priority,
                    "title": rules.extract_title(content),
                    "description": None,
                    "page_numbers": [int(page[i])],
                    "estimated_cost": None,
                }
                cur_parts = [content]
                cur_len = len(content)
            elif cur is not None:
                cur_parts.append(content)
                cur_len += 1 + len(content)
                pg = int(page[i])
                if cur["page_numbers"][-1] != pg:
                    cur["page_numbers"].append(pg)
        if cur is not None:
            issues.append(_close_issue(cur))

        # ---- S5/C6/W5 tables from contiguous table_row runs ----
        page_section: dict[int, str] = {}
        tables: list[dict[str, Any]] = []
        run: list[int] = []

        def _close_run(run: list[int]) -> None:
            rows = [[" ".join(c.split()) for c in norm_arr[i].split("|")]
                    for i in run]
            rows = [r for r in rows if any(r)]
            if len(rows) < 2:
                return
            headers, data = rows[0], rows[1:]
            if (len(data) > rules.TABLE_MAX_ROWS
                    or len(headers) > rules.TABLE_MAX_COLS):
                return
            pg = int(page[run[0]])
            tables.append({
                "page_num": pg,
                "section": page_section.get(pg, f"PAGE_{pg}"),
                "headers": headers, "table_data": data,
                "table_type": _classify_table(headers, data)})

        if is_table[lo:hi].any() or is_sec[lo:hi].any():
            for i in rng:
                if is_sec[i]:
                    page_section.setdefault(int(page[i]), norm_arr[i])
            for i in np.nonzero(is_table[lo:hi])[0] + lo:
                if run and offs[i] != offs[run[-1]] + 1:
                    _close_run(run)
                    run = []
                run.append(int(i))
            if run:
                _close_run(run)

        # ---- J1/T6 cost link (src/data_structurer.py:160-224) ----
        for t in tables:
            if t["table_type"] != "cost_estimate":
                continue
            cost = _cost_from_table(t)
            if not cost:
                continue
            for issue in issues:
                if (issue["section"] == t["section"]
                        and t["page_num"] in issue["page_numbers"]):
                    issue["estimated_cost"] = cost
                    break

        # ---- S1/T7 metadata inputs (raw text; vectorized after loop) ----
        meta_p1.append("\n".join(
            texts[i] for i in rng
            if page[i] <= 1 and not is_media[i]))
        meta_f2.append("\n".join(
            texts[i] for i in rng
            if page[i] <= 2 and not is_media[i]))
        meta_tp.append(int(page[hi - 1]) if hi > lo else 0)

        all_issues.append(issues)
        all_tables.append(tables)
        all_rawsec.append([(k, "\n".join(v) + "\n")
                           for k, v in raw_sections.items()])
        all_summary.append({
            "total_issues": len(issues),
            "deficient": sum(1 for x in issues if x["status"] == "D"),
            "inspected": sum(1 for x in issues if x["status"] == "I"),
            "not_inspected": sum(1 for x in issues if x["status"] == "NI"),
            "not_present": sum(1 for x in issues if x["status"] == "NP"),
            "high": sum(1 for x in issues if x["priority"] == "high"),
            "medium": sum(1 for x in issues if x["priority"] == "medium"),
            "low": sum(1 for x in issues if x["priority"] == "low"),
            "info": sum(1 for x in issues if x["priority"] == "info"),
            "total_tables": len(tables),
        })

    return {
        "doc_id": pa.array(doc_ids, type=pa.string()),
        "spans": spans_col,
        "issues": pa.array(all_issues, type=pa.list_(_ISSUE_T)),
        "tables": pa.array(all_tables, type=pa.list_(_TABLE_T)),
        "raw_sections": pa.array(all_rawsec,
                                 type=pa.map_(pa.string(), pa.string())),
        "metadata": pa.array(_metadata_records(meta_p1, meta_f2, meta_tp),
                             type=_META_T),
        "summary": pa.array(all_summary, type=_SUMMARY_T),
    }


def _extract_core(doc_ids: np.ndarray, bounds: np.ndarray,
                  raw_kinds: np.ndarray, texts: np.ndarray,
                  refs: np.ndarray, offs: np.ndarray) -> dict[str, Any]:
    """Vectorized extraction over flat span arrays.

    ``bounds``: int64 array of len(docs)+1 — doc d owns flat rows
    [bounds[d], bounds[d+1]).  Spans must be offset-ascending within a doc
    (callers sort when needed).  Returns columnar outputs:
    spans as a pyarrow ListArray; the small per-doc structures as py lists.
    """
    cls = _classify_arrays(raw_kinds, texts)
    lengths = np.diff(bounds)
    doc_idx = np.repeat(np.arange(len(doc_ids), dtype=np.int64), lengths)
    section, subsection = _sections_fill(cls["norm"], cls["is_sec"],
                                         cls["is_sub"], doc_idx)
    return _build_outputs(doc_ids, bounds, cls, section, subsection,
                          texts, refs, offs)


def _sort_flat(doc_idx: np.ndarray, offs: np.ndarray,
               arrays: list[np.ndarray]) -> tuple[np.ndarray, list[np.ndarray]]:
    """Ensure per-doc offset-ascending order; no-op when already sorted."""
    d = np.diff(offs.astype(np.int64))
    same_doc = doc_idx[1:] == doc_idx[:-1]
    if not (same_doc & (d <= 0)).any():
        return offs, arrays
    order = np.lexsort((offs, doc_idx))
    return offs[order], [a[order] for a in arrays]


def extract_record_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """Arrow-native adapter: RecordBatch(doc_id, spans) -> output batch."""
    names = rb.schema.names
    spans_col = rb.column(names.index("spans"))
    if isinstance(spans_col, pa.ChunkedArray):
        spans_col = spans_col.combine_chunks()
    flat = spans_col.flatten()
    lengths = pc.list_value_length(spans_col).to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths).astype(np.int64)
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    doc_ids = rb.column(names.index("doc_id")).to_numpy(zero_copy_only=False)

    raw_kinds = flat.field("kind").to_numpy(zero_copy_only=False)
    texts = flat.field("text").to_numpy(zero_copy_only=False)
    refs = flat.field("media_ref").to_numpy(zero_copy_only=False)
    offs = flat.field("offset").to_numpy(zero_copy_only=False)

    doc_idx = np.repeat(np.arange(len(doc_ids), dtype=np.int64), lengths)
    offs, (raw_kinds, texts, refs) = _sort_flat(
        doc_idx, offs, [raw_kinds, texts, refs])

    cols = _extract_core(doc_ids, bounds, raw_kinds, texts, refs, offs)
    return pa.RecordBatch.from_arrays(
        [cols[f.name].cast(f.type) if cols[f.name].type != f.type else cols[f.name]
         for f in PA_SCHEMA],
        schema=PA_SCHEMA)


def assemble_fused(docs: DataFrame, partitions: int | None = None) -> DataFrame:
    """docs(doc_id, spans) -> one structured row per doc; zero shuffles
    (the optional repartition is a round-robin exchange for skew-evenness,
    not a key shuffle)."""
    if partitions is not None:
        docs = docs.repartition(partitions)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # one Spark task == one core: stop pyarrow from spinning up its own
        # per-process thread pool (32 workers x 32 arrow threads thrashes)
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
        for rb in batches:
            if rb.num_rows:
                yield extract_record_batch(rb)

    return docs.mapInArrow(run, schema=OUTPUT_SCHEMA)


def assemble_auto(docs: DataFrame, giant_spans: int | None = 500_000,
                  chunk_spans: int = 16_384,
                  partitions: int | None = None) -> DataFrame:
    """Skew-adaptive extraction: ONE entry point for mixed corpora.

    Docs with ``size(spans) <= giant_spans`` run the zero-shuffle fused
    plan; the giant tail is routed through the chunked+salted plan
    (plans/salted.py) IN THE SAME JOB and unioned back, so an extreme
    doc parallelizes its classification stage across ~n/chunk_spans
    tasks instead of pinning one task while its stage idles (round-3
    verdict item 3; both plans are output-identical, golden seam-carry
    tests). The salt + merge exchanges are paid ONLY by the giant tail
    (BENCH/BASELINE.md §6: corpus-wide salting loses on uniform docs).

    Threshold (measured, local[16], BENCH/BASELINE.md §22): after the
    round-4 de-quadratic fold fix the fused kernel runs ~100k spans/s
    per core, so 400k-span docs are ~4s single-task — giants-only
    fused 9.7s vs salted 9.6s (break-even); at 1.5M spans salted wins
    27.9s vs 34.7s, and the gap widens on a wide cluster where one
    pinned task idles a whole stage. 500k spans ≈ a 40 MB document —
    tasks above ~5s route to the salted path.

    ``giant_spans=None`` — or a streaming input, where the salted
    branch's groupBy is unavailable and micro-batches already bound
    per-task work — degrades to the pure fused plan.
    """
    if giant_spans is None or docs.isStreaming:
        return assemble_fused(docs, partitions)
    from pyspark.sql import functions as F

    from .salted import assemble_salted
    # coalesce: size(NULL) is NULL under ANSI mode, which would fail
    # BOTH branch predicates and silently drop the doc — assemble_fused
    # emits a row for a NULL spans column, so the dispatch must too
    n = F.coalesce(F.size("spans"), F.lit(0))
    normal = assemble_fused(docs.where(n <= giant_spans), partitions)
    giants = assemble_salted(docs.where(n > giant_spans), chunk_spans)
    return normal.unionByName(giants)
