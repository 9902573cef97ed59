"""Zero-shuffle fused extraction plan (Arrow-native).

The reference pipeline (src/pipeline.py:56-120) is per-document: every
operator (T1 normalize, C1 status, W1 sections, W2 segmentation, S5 tables,
J1 cost link, A1/A4 aggregates, S1/T7 metadata) reads only one document's
spans. The input table already stores one row per document
(doc_id, spans array<...>), so the spans of a document are colocated by
construction — exploding to span rows and shuffling them back together by
doc_id (plans/extraction.py) pays ~5 shuffles for work that needs none.

This plan runs the whole extraction as ONE ``mapInArrow`` pass:

  docs --> mapInArrow(extract)

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
  - Skew: a giant doc (500k spans) is one row, so per-task cost is
    bounded by the largest doc. ``assemble_auto`` routes the docs above
    its giant threshold to plans/salted.py, which classifies a doc's span
    chunks in parallel and merges them with this module's own fold.
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

# Python re twins for the classification scans. rules.re2 gives RE2 the
# Python meaning of \s, but the bare-status scan's \b stays RE2's ASCII
# word boundary, so spans holding any non-ASCII char after T1 re-run all
# three scans under Python re, the engine the reference and the golden
# oracle use (5,720 of 129,151 spans on the reports bench input, 0.02 s).
# The metadata cascades reroute far fewer rows: only those holding a
# rules.RE2_DIVERGENT code point (_cascades).
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


def _year(v: str) -> int | None:
    year = int(v)
    return year if rules.YEAR_MIN <= year <= rules.YEAR_MAX else None


def _stories(v: str) -> int | None:
    v = v.lower()
    return int(v) if v.isdigit() else rules.STORY_WORDS.get(v)


_WS_PY = re.compile(r"\s+")

# S1 (src/metadata_extractor.py:22-35) over page-1 text and T7
# (text_extractor.pyc:273-409, case-insensitive) over page-<=2 text, as
# (field, patterns, convert). A field takes the first pattern whose
# capture converts to something other than None; the conversions are the
# oracle's own (int()/float() read every Unicode decimal digit).
_S1 = [
    ("report_number", [rules.REPORT_NUMBER_RE], str),
    ("inspection_date", [rules.INSPECTION_DATE_RE, rules.DATE_FALLBACK_RE],
     str.strip),
    ("property_address", [rules.ADDRESS_TX_RE, rules.ADDRESS_ANY_RE], str),
]
_T7 = [
    ("square_footage", rules.SQFT_PATTERNS,
     lambda v: int(v.replace(",", ""))),
    ("year_built", rules.YEAR_PATTERNS, _year),
    ("stories", rules.STORIES_PATTERNS, _stories),
    ("home_type", rules.HOME_TYPE_PATTERNS, str.strip),
    ("lot_size", rules.LOT_PATTERNS, str),
    ("bedrooms", rules.BED_PATTERNS, int),
    ("bathrooms", rules.BATH_PATTERNS, float),
    ("location", rules.LOCATION_PATTERNS,
     lambda v: _WS_PY.sub(" ", v).strip()),
]


def _cascades(texts: pa.Array, table: list, flags: str) -> dict[str, list]:
    """One value list per field of ``table``. Every pattern is one RE2
    ``extract_regex`` pass over the whole column; the few rows holding a
    rules.RE2_DIVERGENT code point take their captures from Python re."""
    odd = np.flatnonzero(
        pc.match_substring_regex(texts, rules.RE2_DIVERGENT)
        .to_numpy(zero_copy_only=False))
    odd_texts = texts.take(odd).to_pylist()
    out = {}
    for name, patterns, convert in table:
        caps = []
        for p in patterns:
            cap = pc.struct_field(
                pc.extract_regex(texts, rules.re2(flags + p, group="v")),
                [0]).to_pylist()
            py = re.compile(flags + p)
            for j, t in zip(odd, odd_texts):
                m = py.search(t) if t is not None else None
                cap[j] = m.group(1) if m else None
            caps.append(cap)
        col = []
        for row in zip(*caps):
            v = None
            for c in row:
                if c is not None and (v := convert(c)) is not None:
                    break
            col.append(v)
        out[name] = col
    return out


def _metadata_records(page1: pa.Array, first2: pa.Array,
                      total_pages: np.ndarray) -> pa.StructArray:
    """S1 (metadata_extractor.py:10-49) + T7 (text_extractor.pyc:273-409),
    vectorized across the batch's documents."""
    estimate = pc.match_substring(
        page1, rules.REPORT_TYPE_ESTIMATE_MARKER).to_numpy(
            zero_copy_only=False)
    cols = {"total_pages": total_pages,
            "report_type": np.where(estimate, "estimate", "inspection"),
            **_cascades(page1, _S1, ""), **_cascades(first2, _T7, "(?i)")}
    return pa.StructArray.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in _META_T],
        fields=list(_META_T))


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
        # rules.re2: Python's \s, including the ASCII \x0b and
        # \x1c-\x1f that the dirty reroute below never catches
        return pc.match_substring_regex(norm_pa, rules.re2(pattern)) \
            .to_numpy(zero_copy_only=False)

    is_sec = _m(rules.SECTION_RE) & ~is_media
    is_sub = _m(rules.SUBSECTION_RE) & ~is_sec & ~is_media
    dirty = pc.match_substring_regex(norm_pa, _DIRTY_RE.pattern) \
        .to_numpy(zero_copy_only=False)
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


# S1 reads page 1 and T7 pages 1-2: the only raw text the fold reads
META_PAGES = 2


def pages(offs: np.ndarray) -> np.ndarray:
    """The 1-based page of each span offset."""
    return offs.astype(np.int64) // LINES_PER_PAGE + 1


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
    kind = cls["kind"]
    page = pages(offs)

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

    # ---- S1/T7 metadata inputs: each doc's raw non-media text up to a
    # page, joined by newlines (a masked flat array under rebuilt list
    # offsets, then one binary_join); a NULL text is skipped, as the
    # exploded plan's array_join skips it ----
    text_pa = pa.array(texts, type=pa.string())
    has_text = text_pa.is_valid().to_numpy(zero_copy_only=False)

    def _page_texts(max_page: int) -> pa.Array:
        keep = (page <= max_page) & ~is_media & has_text
        offsets = np.concatenate(([0], np.cumsum(keep)))[bounds]
        return pc.binary_join(pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()),
            text_pa.filter(pa.array(keep))), "\n")

    lengths = np.diff(bounds)
    total_pages = np.zeros(n_docs, dtype=np.int64)
    total_pages[lengths > 0] = page[bounds[1:][lengths > 0] - 1]

    # the per-span fold below reads one element at a time, which Python
    # lists answer several times faster than numpy arrays
    is_block, is_kw, is_high, is_med, status, sec_arr, sub_arr, norm_arr, \
        page_l = (np.asarray(a).tolist() for a in (
            cls["is_block"], cls["is_kw"], cls["is_high"], cls["is_med"],
            cls["status"], section.values, subsection.values, norm.values,
            page))

    all_issues: list[list[dict]] = []
    all_tables: list[list[dict]] = []
    all_rawsec: list[list[tuple[str, str]]] = []
    all_summary: list[dict] = []

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
                    "page_numbers": [page_l[i]],
                    "estimated_cost": None,
                }
                cur_parts = [content]
                cur_len = len(content)
            elif cur is not None:
                cur_parts.append(content)
                cur_len += 1 + len(content)
                pg = page_l[i]
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
            pg = page_l[run[0]]
            tables.append({
                "page_num": pg,
                "section": page_section.get(pg, f"PAGE_{pg}"),
                "headers": headers, "table_data": data,
                "table_type": _classify_table(headers, data)})

        if is_table[lo:hi].any() or is_sec[lo:hi].any():
            for i in np.flatnonzero(is_sec[lo:hi]) + lo:
                page_section.setdefault(page_l[i], norm_arr[i])
            for i in np.nonzero(is_table[lo:hi])[0] + lo:
                if run and offs[i] != offs[run[-1]] + 1:
                    _close_run(run)
                    run = []
                run.append(int(i))
            if run:
                _close_run(run)

        # ---- J1/T6 cost link (src/data_structurer.py:160-224): a cost
        # table goes to the first issue of its section that has its page
        # (a later table overwrites), through a (section, page) -> first
        # issue index built once per doc ----
        first_issue: dict[tuple[str, int], int] | None = None
        for t in tables:
            if t["table_type"] != "cost_estimate":
                continue
            cost = _cost_from_table(t)
            if not cost:
                continue
            if first_issue is None:
                first_issue = {}
                for j, issue in enumerate(issues):
                    for pg in issue["page_numbers"]:
                        first_issue.setdefault((issue["section"], pg), j)
            j = first_issue.get((t["section"], t["page_num"]))
            if j is not None:
                issues[j]["estimated_cost"] = cost

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
        "metadata": _metadata_records(
            _page_texts(1), _page_texts(META_PAGES), total_pages),
        "summary": pa.array(all_summary, type=_SUMMARY_T),
    }


def output_batch(doc_ids: np.ndarray, bounds: np.ndarray, doc_idx: np.ndarray,
                 cls: dict[str, Any], texts: np.ndarray, refs: np.ndarray,
                 offs: np.ndarray) -> pa.RecordBatch:
    """W1 fill and the per-doc fold over flat, per-doc offset-ascending
    spans; ``cls`` is their _classify_arrays output and ``doc_idx`` the
    doc of each span."""
    section, subsection = _sections_fill(cls["norm"], cls["is_sec"],
                                         cls["is_sub"], doc_idx)
    cols = _build_outputs(doc_ids, bounds, cls, section, subsection,
                          texts, refs, offs)
    return pa.RecordBatch.from_arrays(
        [cols[f.name].cast(f.type) if cols[f.name].type != f.type else cols[f.name]
         for f in PA_SCHEMA],
        schema=PA_SCHEMA)


def _sort_flat(doc_idx: np.ndarray, offs: np.ndarray,
               arrays: list[np.ndarray]) -> tuple[np.ndarray, list[np.ndarray]]:
    """Ensure per-doc offset-ascending order; no-op when already sorted."""
    d = np.diff(offs.astype(np.int64))
    same_doc = doc_idx[1:] == doc_idx[:-1]
    if not (same_doc & (d <= 0)).any():
        return offs, arrays
    order = np.lexsort((offs, doc_idx))
    return offs[order], [a[order] for a in arrays]


def flat_spans(rb: pa.RecordBatch) -> tuple[np.ndarray, ...]:
    """RecordBatch(doc_id, spans) -> (doc_ids, bounds, kinds, texts, refs,
    offsets): the span structs as flat columns in stored order; row d owns
    flat rows [bounds[d], bounds[d+1])."""
    names = rb.schema.names
    spans_col = rb.column(names.index("spans"))
    if isinstance(spans_col, pa.ChunkedArray):
        spans_col = spans_col.combine_chunks()
    flat = spans_col.flatten()
    lengths = pc.list_value_length(spans_col).to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths).astype(np.int64)
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    return (rb.column(names.index("doc_id")).to_numpy(zero_copy_only=False),
            bounds,
            *(flat.field(f).to_numpy(zero_copy_only=False)
              for f in ("kind", "text", "media_ref", "offset")))


def extract_record_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """Arrow-native adapter: RecordBatch(doc_id, spans) -> output batch."""
    doc_ids, bounds, raw_kinds, texts, refs, offs = flat_spans(rb)
    doc_idx = np.repeat(np.arange(len(doc_ids), dtype=np.int64),
                        np.diff(bounds))
    offs, (raw_kinds, texts, refs) = _sort_flat(
        doc_idx, offs, [raw_kinds, texts, refs])
    return output_batch(doc_ids, bounds, doc_idx,
                        _classify_arrays(raw_kinds, texts), texts, refs, offs)


def assemble_fused(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> one structured row per doc; zero shuffles."""

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
                  chunk_spans: int = 16_384) -> DataFrame:
    """Skew-adaptive extraction: ONE entry point for mixed corpora.

    Docs with ``size(spans) <= giant_spans`` run the zero-shuffle fused
    plan; the giant tail runs through plans/salted.py IN THE SAME JOB and
    is unioned back, so a giant doc classifies its span chunks on all
    cores instead of pinning one task. Both branches give the same rows,
    one per input row even where rows share a doc_id (golden seam-carry
    and duplicate-id tests); only the giant tail pays the salt and merge
    exchanges.

    Threshold (4-core host, local[4], giants-only input with one parquet
    file per doc, best of 2 walls into a noop sink, 16k-span chunks): a
    lone giant of 50k spans takes 0.90 s fused vs 1.61 s salted, 200k
    2.39 vs 2.84 s, 500k 5.83 vs 5.75 s (break-even), 1M 12.59 vs
    11.35 s. With one giant per core fused wins (500k: 7.79 vs 9.13 s):
    the merge's fold is one task per doc and costs about what the
    classification does. 500k spans is about a 40 MB document.

    ``giant_spans=None``, or a streaming input, degrades to the pure
    fused plan: the salted branch's grouped merge does not run on a
    stream, and micro-batches already bound per-task work.  The one
    stream entry point, ``streaming/extract.extract_stream``, calls
    ``assemble_fused`` directly.
    """
    if giant_spans is None or docs.isStreaming:
        return assemble_fused(docs)
    from pyspark.sql import functions as F

    from .salted import assemble_salted
    # coalesce: size(NULL) is NULL under ANSI mode, which would fail
    # BOTH branch predicates and silently drop the doc — assemble_fused
    # emits a row for a NULL spans column, so the dispatch must too
    n = F.coalesce(F.size("spans"), F.lit(0))
    normal = assemble_fused(docs.where(n <= giant_spans))
    giants = assemble_salted(docs.where(n > giant_spans), chunk_spans)
    return normal.unionByName(giants)
