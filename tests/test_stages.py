"""The stage table (``pdf_extraction_spark/stages.py``) and the query
registry of ``__spark_entry__.py``."""

import json

import pytest

from pdf_extraction_spark.stages import DOCS_SCHEMA, STAGES

TEXT = "Comments: roof leak near the attic vent, gutter badly blocked"
GRID = ("72 628 420 72 re S 212 628 m 212 700 l S "
        "352 628 m 352 700 l S 72 652 m 492 652 l S "
        "72 676 m 492 676 l S ")
STREAM = "BT /F1 11 Tf 14 TL 72 720 Td ({}) Tj ET"


def _rows(stage: str) -> list[tuple]:
    """<= 4 input rows of the stage's declared schema."""
    from pdf_extraction_spark.operators.docx import build_one_docx
    from pdf_extraction_spark.operators.pdffile import build_pdf
    from pdf_extraction_spark.operators.warc import (build_one_mixed_warc,
                                                     build_one_warc)
    page = f"<html><body><h1>{TEXT}</h1><p>{TEXT} {{}}</p></body></html>"
    return {
        "extract": [(f"d{i}", [("text", f"{TEXT} {i}", "", 0),
                               ("media", "", f"img{i}", 1)])
                    for i in range(2)],
        "web": [(f"d{i}", page.format(i)) for i in range(2)],
        "pdf": [(f"d{i}", STREAM.format(f"{TEXT} {i}")) for i in range(2)],
        "ruled": [(f"d{i}", GRID + "BT /F1 10 Tf 76 688 Td "
                   f"(Item{i}) Tj 1 0 0 1 216 660 Tm (v{i}) Tj ET")
                  for i in range(2)],
        "pdffile": [(f"d{i}", bytearray(build_pdf(i, f"{TEXT} {i}")))
                    for i in range(2)],
        "warc": [(f"w{i}", bytearray(build_one_warc(i, f"{TEXT} {i}")))
                 for i in (1, 2)],
        "docx": [(f"d{i}", bytearray(build_one_docx(i, f"{TEXT} {i}")))
                 for i in range(2)],
        "dispatch": [(f"w{i}", bytearray(build_one_mixed_warc(
            i, f"{TEXT} {i}", page.format(i)))) for i in range(4)],
    }[stage if stage != "pipeline" else "extract"]


def _fields(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema]


@pytest.mark.parametrize("stage", list(STAGES))
def test_stage_bridge_runs_on_its_declared_schema(spark, stage):
    spec = STAGES[stage]
    docs = spark.createDataFrame(_rows(stage), spec.schema)
    assert docs.columns == spec.columns()
    out = spec.bridge(docs)
    rows = out.collect()
    assert rows
    if spec.extracts:
        assert _fields(out.schema) == _fields(
            spark.createDataFrame([], DOCS_SCHEMA).schema)
        assert all(r["spans"] for r in rows)
    else:  # ruled: one row per recovered table row
        assert {"doc_id", "tbl_idx", "row_idx", "table_text"} <= set(
            out.columns)
        assert {r["doc_id"] for r in rows} == {"d0", "d1"}


def _write_round(root, rnd: int, rows: dict) -> None:
    cell = {"rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 1, "oracle_rows": 1, "err": None}
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps({
        name: {**cell, "hash_match": green} for name, green in rows.items()
    }))


def test_driver_order_puts_least_recently_proven_first(tmp_path):
    from __spark_entry__ import _driver_order
    _write_round(tmp_path, 1, {"old_green": True, "red_now": True,
                               "fixed": False, "b_tie": True,
                               "a_tie": True})
    _write_round(tmp_path, 2, {"red_now": False, "fixed": True,
                               "recent": True})
    _write_round(tmp_path, 10, {"newest": True})
    names = ["newest", "recent", "fixed", "b_tie", "a_tie", "old_green",
             "red_now", "never_scored"]
    # red newest row and no row lead (by name), then by the round of
    # the newest green row, oldest first, ties by name
    assert _driver_order(names, str(tmp_path)) == [
        "never_scored", "red_now", "a_tie", "b_tie", "old_green",
        "fixed", "recent", "newest"]


def test_queries_and_oracles_share_one_order():
    import __spark_entry__ as e
    assert list(e.queries()) == list(e.oracle_sql())
