"""Enrichment plan: extraction output -> enriched issues, per document.

The reference enrichment (src/data_enrichment_pipeline.py:55-107) is
document-scoped: the duplicate tracker resets per doc (:131), grouping keys
and group ids are per-report counters (issue_grouper.py:31-33), and every
phase is a per-issue map. Since the extraction output already carries one
row per document with its issues array, the whole 6-phase pipeline + the
deterministic C18 estimator runs as ONE ``mapInArrow`` pass over the
Arrow kernel :func:`enrich_record_batch` — zero shuffles, linear scaling,
same architecture as plans/fused.py.

The kernel decodes the issue structs once from flat per-field columns
and builds its output with one ``RecordBatch.from_pylist``: no pandas
frame on either side, so the per-issue Python rules are the only
interpreted work.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from .. import enrich_rules as er
from . import fused

_STRS = pa.list_(pa.string())
_ATTRS_T = pa.struct([
    ("locations", _STRS),
    ("measurements", pa.struct([("dimensions", _STRS), ("lengths", _STRS),
                                ("areas", _STRS)])),
    ("materials", _STRS), ("damage_types", _STRS),
    ("safety_related", pa.bool_()), ("accessibility", pa.string())])
_AREA_T = pa.struct([("square_feet", pa.float64()),
                     ("dimensions", pa.string()),
                     ("size_category", pa.string())])
_CLS_T = pa.struct([
    ("trade", pa.string()), ("trade_confidence", pa.float64()),
    ("work_type", pa.string()), ("work_type_confidence", pa.float64()),
    ("complexity", pa.string()), ("complexity_confidence", pa.float64())])
_ISSUE_T = pa.struct([
    ("id", pa.string()), ("section", pa.string()), ("subsection", pa.string()),
    ("status", pa.string()), ("priority", pa.string()), ("title", pa.string()),
    ("description", pa.string()), ("page_numbers", pa.list_(pa.int32())),
    ("estimated_cost", fused._COST_T), ("severity", pa.string()),
    ("validation_status", pa.string()), ("is_duplicate", pa.bool_()),
    ("data_quality_score", pa.float64()),
    ("needs_manual_review", pa.bool_()), ("review_reason", pa.string()),
    ("standard_severity", pa.string()),
    ("severity_confidence", pa.float64()),
    ("standard_action", pa.string()), ("action_confidence", pa.float64()),
    ("action_priority", pa.int32()), ("standard_category", pa.string()),
    ("standard_subcategory", pa.string()),
    ("category_confidence", pa.float64()),
    ("extracted_attributes", _ATTRS_T), ("safety_flag", pa.bool_()),
    ("accessibility_complexity", pa.string()),
    ("urgency_score", pa.float64()), ("complexity_factor", pa.float64()),
    ("requires_specialized_labor", pa.bool_()),
    ("estimated_affected_area", _AREA_T), ("classification", _CLS_T),
    ("grouped_with", _STRS), ("is_grouped", pa.bool_()),
    ("cost_strategy", pa.string()), ("strategy_confidence", pa.float64()),
    ("matched_standard_item", pa.string())])
_GROUP_T = pa.struct([
    ("group_id", pa.string()), ("grouping_key", pa.string()),
    ("issue_count", pa.int32()), ("issue_ids", _STRS),
    ("group_type", pa.string())])
_EST_T = pa.struct([
    ("issue_id", pa.string()), ("category", pa.string()),
    ("sub_type", pa.string()), ("estimated_low", pa.int32()),
    ("estimated_high", pa.int32()), ("confidence_score", pa.int32()),
    ("reasoning", pa.string()), ("risk_factors", _STRS),
    ("needs_review", pa.bool_())])
_COUNTS = pa.map_(pa.string(), pa.int32())
_SUMMARY_T = pa.struct([
    ("total_issues", pa.int32()), ("by_severity", _COUNTS),
    ("by_action", _COUNTS), ("by_category", _COUNTS), ("by_trade", _COUNTS),
    ("by_complexity", _COUNTS), ("by_strategy", _COUNTS),
    ("safety_issues", pa.int32()), ("grouped_issues", pa.int32()),
    ("avg_urgency", pa.float64()), ("avg_complexity", pa.float64())])
_EST_SUMMARY_T = pa.struct([
    ("estimated_issues", pa.int32()), ("total_estimated_low", pa.int64()),
    ("total_estimated_high", pa.int64()), ("average_confidence", pa.int32()),
    ("needs_review", pa.int32())])
_PHASE2_T = pa.struct([
    ("issue_id", pa.string()), ("strategy", pa.string()),
    ("strategy_confidence", pa.float64()), ("adjusted_low", pa.float64()),
    ("adjusted_high", pa.float64()), ("permit_type", pa.string()),
    ("trade", pa.string()), ("confidence_overall", pa.float64()),
    ("manual_review", pa.bool_())])
_REL_T = pa.struct([
    ("causal_chains", pa.list_(pa.struct([
        ("root_cause_id", pa.string()), ("caused_issue_ids", _STRS),
        ("chain_length", pa.int32()), ("priority", pa.string())]))),
    ("bundles", pa.list_(pa.struct([
        ("bundle_type", pa.string()), ("key", pa.string()),
        ("issue_ids", _STRS), ("savings_pct", pa.float64())]))),
    ("isolated_issue_ids", _STRS),
    ("statistics", pa.struct([
        ("total_issues", pa.int32()), ("issues_in_chains", pa.int32()),
        ("isolated_issues", pa.int32()), ("potential_bundles", pa.int32()),
        ("average_savings_pct", pa.float64()),
        ("max_savings_pct", pa.float64())]))])

PA_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("issues", pa.list_(_ISSUE_T)),
    ("groups", pa.list_(_GROUP_T)), ("estimates", pa.list_(_EST_T)),
    ("summary", _SUMMARY_T), ("estimate_summary", _EST_SUMMARY_T),
    ("phase2", pa.list_(_PHASE2_T)), ("relationships", _REL_T),
    ("n_excluded", pa.int32())])
ENRICHED_SCHEMA = from_arrow_schema(PA_SCHEMA)
# the extraction output columns the kernel reads
_IN_SCHEMA = pa.schema([fused.PA_SCHEMA.field("doc_id"),
                        fused.PA_SCHEMA.field("issues")])
# the enrich_document result fields that go out as they are
_RESULT_FIELDS = PA_SCHEMA.names[2:]


def _issue_row(issue: dict) -> dict:
    """Give an enriched issue dict the output struct's value rules, in
    place (the Arrow conversion reads only the struct's fields, and a
    missing one is null)."""
    attrs = issue.get("extracted_attributes") or {}
    meas = attrs.get("measurements") or {}
    issue["page_numbers"] = [int(p) for p in (issue.get("page_numbers") or [])]
    issue["extracted_attributes"] = {
        "locations": attrs.get("locations") or [],
        "measurements": {
            "dimensions": meas.get("dimensions") or [],
            "lengths": meas.get("lengths") or [],
            "areas": meas.get("areas") or [],
        },
        "materials": attrs.get("materials") or [],
        "damage_types": attrs.get("damage_types") or [],
        "safety_related": bool(attrs.get("safety_related", False)),
        "accessibility": attrs.get("accessibility"),
    }
    for k in ("is_duplicate", "needs_manual_review", "safety_flag",
              "is_grouped", "requires_specialized_labor"):
        issue[k] = bool(issue.get(k, False))
    area = issue.get("estimated_affected_area")
    if area is not None:
        issue["estimated_affected_area"] = {
            "square_feet": float(area["square_feet"])
            if "square_feet" in area else None,
            "dimensions": area.get("dimensions"),
            "size_category": area.get("size_category"),
        }
    if not isinstance(issue.get("estimated_cost"), dict):
        issue["estimated_cost"] = None
    return issue


def _pylist(arr: pa.Array) -> list:
    """``arr.to_pylist()``; a string array goes through numpy, which
    builds its Python strings several times faster."""
    if arr.type == pa.string():
        return arr.to_numpy(zero_copy_only=False).tolist()
    return arr.to_pylist()


def _doc_issues(rb: pa.RecordBatch) -> list[list[dict]]:
    """Each row's issue structs as dicts (a null list reads as empty),
    decoded from the flat per-field columns of the issues list."""
    col = rb.column(rb.schema.get_field_index("issues"))
    flat = pc.list_flatten(col)
    names = [f.name for f in flat.type]
    issues = [dict(zip(names, v))
              for v in zip(*map(_pylist, flat.flatten()))]
    out, at = [], 0
    for n in pc.list_value_length(col).fill_null(0).to_pylist():
        out.append(issues[at:at + n])
        at += n
    return out


def enrich_record_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """Run the 6-phase enrichment + C18 estimation for a batch of extracted
    document rows (doc_id, issues, ...): one output row per input row."""
    rows = []
    doc_ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
    for doc_id, issues in zip(doc_ids, _doc_issues(rb)):
        result = er.enrich_document(issues)
        row = {k: result[k] for k in _RESULT_FIELDS}
        row["doc_id"] = doc_id
        row["issues"] = [_issue_row(i) for i in result["issues"]]
        rows.append(row)
    return pa.RecordBatch.from_pylist(rows, schema=PA_SCHEMA)


def enrich_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """:func:`enrich_record_batch` over a pandas frame of extracted rows;
    returns its output batch as an Arrow-backed frame."""
    rb = pa.RecordBatch.from_pandas(pdf[["doc_id", "issues"]],
                                    schema=_IN_SCHEMA, preserve_index=False)
    return enrich_record_batch(rb).to_pandas(types_mapper=pd.ArrowDtype)


def enrich_extracted(extracted: DataFrame) -> DataFrame:
    """extracted (plans/fused.py output) -> one enriched row per doc.

    Zero-shuffle map pass. Giant docs need no dispatch branch here
    (unlike plans/fused.assemble_auto): the enrichment kernel is
    output-sensitive linear after the relationship-index fix, so the
    wall is work-bound, not straggler-bound — a measured giant-isolation
    union variant came out 50% SLOWER (its second stage serializes giant
    tasks behind the normal wave; BENCH/BASELINE.md §23)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows:
                yield enrich_record_batch(rb)

    return extracted.select("doc_id", "issues").mapInArrow(
        run, schema=ENRICHED_SCHEMA)
