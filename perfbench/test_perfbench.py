"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The fast tests need no Spark session; ``test_crawl_files_are_deterministic_per_seed``
starts a one-core one.  ``test_run_prints_every_metric`` and
``test_bare_directory_fails`` start the real command (about a minute each
for the first, a second for the second).
"""

import copy
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

import checks
import inputs
import run
from pdf_extraction_spark import oracle
from workloads import failed_docs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# -- generators ---------------------------------------------------------

def test_report_docs_are_deterministic_per_seed():
    a, b = inputs.report_docs(30, seed=5), inputs.report_docs(30, seed=5)
    assert inputs.digest(a) == inputs.digest(b)
    assert inputs.digest(a) != inputs.digest(inputs.report_docs(30, seed=6))


def test_crawl_pages_are_deterministic_per_seed():
    a, again_a = inputs.crawl_pages(12, 5, 0.25, giant_blocks=40)
    b, again_b = inputs.crawl_pages(12, 5, 0.25, giant_blocks=40)
    c, _ = inputs.crawl_pages(12, 6, 0.25, giant_blocks=40)
    assert inputs.digest(a) == inputs.digest(b) and again_a == again_b
    assert inputs.digest(a) != inputs.digest(c)
    # 3 of the 12 pages plus the giant page (document 12) are re-captured
    assert len(again_a) == 4 and again_a[-1] == 12
    assert a.num_rows == 13 + 4
    # every page is documents text, and every re-capture changes it
    texts = set(pq.read_table(inputs.DOCUMENTS).column("text").to_pylist())
    rows = a.to_pylist()
    assert all(r["text"] in texts for r in rows if r["doc_id"] < 12)
    first = {r["doc_id"]: (r["text"], r["html"]) for r in rows if r["crawl"] == 1}
    assert all(first[r["doc_id"]] != (r["text"], r["html"])
               for r in rows if r["crawl"] == 2)


@pytest.fixture(scope="module")
def spark():
    from pdf_extraction_spark.session import get_spark
    session = get_spark(app_name="perfbench-tests", cores=1)
    yield session
    run.stop_spark(session)


def test_crawl_files_are_deterministic_per_seed(spark):
    pages, again = inputs.crawl_pages(12, 5, 0.25, giant_blocks=40)
    a = inputs.crawl_files(spark, pages)
    assert inputs.digest(a) == inputs.digest(inputs.crawl_files(spark, pages))
    assert a.column("warc_id").to_pylist() == (
        [f"crawl1-{d:06d}" for d in range(13)]
        + [f"crawl2-{d:06d}" for d in again])


def test_land_writes_the_fixed_file_count(tmp_path):
    table = inputs.report_docs(10, seed=1)
    inputs.land(table, str(tmp_path), 4)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 4
    back = pq.read_table(str(tmp_path))
    assert back.column("doc_id").to_pylist() == table.column("doc_id").to_pylist()


# -- metric names and units ----------------------------------------------

def _printed(units):
    line = run.result_line(True, 10, 0, {}, units)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return {k: v["unit"] for k, v in out["metrics"].items()}


def test_every_end_to_end_metric_is_printed_with_its_unit():
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert _printed(run.END_TO_END) == want


def test_every_per_layer_metric_is_printed_with_its_unit():
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert _printed(run.per_layer_units()) == want


def test_workloads_match_the_benchmark_file():
    from workloads import WORKLOADS
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


# -- correctness checks catch corrupted outputs ---------------------------

@pytest.fixture(scope="module")
def golden():
    docs = inputs.report_docs(4, seed=3).to_pylist()
    want = {d["doc_id"]: d["spans"] for d in docs}
    got = {d["doc_id"]: oracle.extract_doc(d["doc_id"], d["spans"])["spans"]
           for d in docs}
    return want, got


def test_golden_check_passes_on_the_oracle_output(golden):
    want, got = golden
    assert checks.check_golden(want, got) == []


def test_golden_check_fails_on_a_dropped_doc(golden):
    want, got = golden
    got = dict(got)
    got.pop(next(iter(got)))
    assert checks.check_golden(want, got)


def test_golden_check_fails_on_reordered_spans(golden):
    want, got = golden
    got = copy.deepcopy(got)
    spans = got[next(iter(got))]
    spans[1], spans[2] = spans[2], spans[1]
    assert checks.check_golden(want, got)


def test_id_check_fails_on_dropped_and_duplicated_docs():
    assert checks.check_ids("x", ["a", "b"], ["a", "b"]) == []
    assert checks.check_ids("x", ["a", "b"], ["a"])
    assert checks.check_ids("x", ["a", "b"], ["a", "b", "b"])


def test_dedupe_check_fails_without_the_recapture_dedupe():
    uris = {"u1", "u2"}
    kept = [("u1", "crawl2-000001"), ("u2", "crawl1-000002")]
    assert checks.check_dedupe(uris, {"u1"}, kept) == []
    # no dedupe: both captures of u1 survive
    assert checks.check_dedupe(uris, {"u1"}, kept + [("u1", "crawl1-000001")])
    # dedupe kept the older capture
    assert checks.check_dedupe(uris, {"u1"}, [("u1", "crawl1-000001"),
                                              ("u2", "crawl1-000002")])


def test_salted_route_check_fails_on_a_fused_or_one_chunk_giant():
    assert checks.check_salted_route(6000, 5000, 6) == []
    assert checks.check_salted_route(4000, 5000, 4)    # routed to fused
    assert checks.check_salted_route(6000, 5000, 1)    # no chunk seam


def test_same_check_fails_when_a_plan_differs():
    assert checks.check_same("x", {"a": "1"}, {"a": "1"}) == []
    assert checks.check_same("x", {"a": "1"}, {"a": "2"})


def test_failed_docs_counts_missing_and_empty_rows():
    assert failed_docs(10, 10, 10) == 0
    assert failed_docs(10, 9, 9) == 1      # one row missing
    assert failed_docs(10, 10, 8) == 2     # two empty rows
    assert failed_docs(10, 11, 10) == 1    # one duplicated row
    assert failed_docs(10, 0, 0) == 10


# -- the real command ------------------------------------------------------

@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_every_metric(trace, section):
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "reports",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_bare_directory_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "reports",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout
