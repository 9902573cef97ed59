"""Physical-plan regression tests — pin the scale-critical properties
the BENCH/BASELINE.md plan audits describe, so a refactor that
reintroduces a cartesian product, an extra shuffle, or a full-width
parquet scan fails CI instead of surfacing at 100x the data.

All assertions are string checks on the executed/analyzed physical plan
(AQE leaves the initial plan's Exchange nodes visible, which is what we
count)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators import dedup, similarity

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_no_cartesian_products(docs, emb):
    """Every candidate generator is bucketed — a cartesian product in
    any of these plans is a 100x-scale regression."""
    plans = {
        "minhash_dedup": _plan(dedup.minhash_dedup(docs)),
        "jaccard_pairs": _plan(dedup.jaccard_pairs(docs)),
        "simhash_pairs": _plan(
            dedup.simhash_pairs(dedup.simhash(docs))),
        "all_pairs_topk": _plan(similarity.all_pairs_topk(emb, 64)),
        "lsh_candidates": _plan(similarity.lsh_candidate_pairs(emb, 64)),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_fused_extraction_zero_shuffle(spark):
    """The fused extraction kernel is scan -> mapInArrow -> project:
    embarrassingly parallel, no Exchange anywhere (BENCH/BASELINE.md's
    headline 100x-scale property). Enrichment after it adds one more
    mapInArrow and still no Exchange."""
    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.plans.enrichment import enrich_extracted
    from pdf_extraction_spark.plans.fused import assemble_fused

    df = assemble_fused(corpus.generate_docs(spark, 50, partitions=2))
    assert "Exchange" not in _plan(df)
    plan = _plan(enrich_extracted(df))
    assert plan.count("MapInArrow") == 2 and "Exchange" not in plan, plan
    # the one MapInPandas is the corpus generator under the fused pass
    assert plan.count("MapInPandas") == 1, plan


def test_salted_branch_salts_chunks(spark):
    """assemble_auto's giant branch round-robins the chunk rows between
    the chunk Generate and the stage-A classification, so one giant
    doc's chunks classify in more than one task."""
    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.plans.fused import assemble_auto

    docs = corpus.generate_docs(spark, 3, giant_every=3, partitions=1)
    plan = _plan(assemble_auto(docs, giant_spans=1000, chunk_spans=256))
    at = [plan.index(s) for s in ("MapInArrow _classify_chunks",
                                  "Exchange RoundRobinPartitioning(",
                                  "Generate posexplode")]
    assert at == sorted(at)

    sc = spark.sparkContext
    sc.setJobGroup("salted-tasks", "salted stage A task count")
    try:
        assemble_auto(docs.where(F.size("spans") > 1000), giant_spans=1000,
                      chunk_spans=256).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    tasks = [st.getStageInfo(s).numCompletedTasks
             for j in st.getJobIdsForGroup("salted-tasks")
             for s in st.getJobInfo(j).stageIds if st.getStageInfo(s)]
    assert max(tasks) > 1


def test_auto_plan_builds_salted_branch_only_for_a_giant(spark):
    """assemble_auto probes the span counts at plan time.  With the
    largest doc exactly at ``giant_spans`` it builds the fused plan
    alone (no salt Exchange, no stage-A Python stage) and returns the
    fused plan's rows; one span more and the salted branch is back."""
    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.plans.fused import assemble_auto, assemble_fused

    docs = corpus.generate_docs(spark, 6, partitions=2)
    n = F.size("spans")
    top = docs.select(F.max(n)).first()[0]
    auto = assemble_auto(docs, giant_spans=top)
    plan = _plan(auto)
    assert "Exchange" not in plan and "_classify_chunks" not in plan, plan
    assert sorted(auto.collect()) == sorted(assemble_fused(docs).collect())

    top_doc = docs.where(n == top).limit(1)
    one_more = docs.where(n < top).unionByName(top_doc.withColumn(
        "spans", F.concat("spans", F.slice("spans", 1, 1))))
    plan = _plan(assemble_auto(one_more, giant_spans=top))
    assert "Exchange RoundRobinPartitioning(" in plan, plan
    assert "MapInArrow _classify_chunks" in plan, plan


def test_parquet_scan_prunes_and_pushes(spark):
    """Column pruning + predicate pushdown must reach the parquet scan:
    a 2-column projection that reads all columns is wrong at any scale."""
    df = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
          .where(F.col("o_orderstatus") == "F")
          .select("o_orderkey", "o_totalprice"))
    plan = _plan(df)
    scan = plan[plan.index("FileScan"):]
    head = scan.splitlines()[0]
    assert "o_orderkey" in head and "o_totalprice" in head
    assert "o_comment" not in head  # pruned
    assert "PushedFilters: [" in scan
    assert "EqualTo(o_orderstatus,F)" in scan


def test_cosine_topk_no_global_sort(emb):
    """Top-k against a query is a per-partition TakeOrdered, never a
    full sort + single-partition exchange."""
    q = [float(x) for x in emb.select("embedding").head()[0]]
    plan = _plan(similarity.cosine_topk(emb, q))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_exact_dedup_single_shuffle(docs):
    """Exact dedup is one hash-partitioned shuffle on the content hash
    (window min-id keeper), nothing more."""
    plan = _plan(dedup.exact_dedup(docs))
    assert plan.count("Exchange hashpartitioning") == 1


def test_arrow_kernels_keep_plan_small(emb):
    """The similarity Arrow kernels exist to keep plan size O(1) in
    (planes, dim) — the unrolled Catalyst twin at (8, 64) is a 512-term
    tree that breaks janino. Pin an upper bound on plan text size as a
    cheap proxy (the regressed form is ~100x larger)."""
    bucketed = similarity.lsh_buckets_arrow(emb, 64, n_planes=8)
    assert len(_plan(bucketed)) < 20_000
    q = [float(x) for x in emb.select("embedding").head()[0]]
    assert len(_plan(similarity.cosine_topk(emb, q))) < 20_000


def _walk_jvm_plan(node):
    """Yield every node of a JVM SparkPlan tree (py4j)."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk_jvm_plan(children.apply(i))


def test_incremental_dedup_never_shuffles_corpus(spark, tmp_path):
    """minhash_dedup_incremental's 100 TB contract: the persisted corpus
    signature table is SCANNED (map-side, twice) but never enters a
    shuffle or broadcast Exchange — every Exchange in the plan carries
    only batch-derived rows, so per-ingest cost scales with the batch,
    not the corpus (VERDICT r3 item 6)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    store = str(tmp_path / "corpus_sig_store")
    dedup.minhash_signatures_arrow(
        docs.where(F.col("doc_id").cast("long") % 2 == 0)) \
        .write.parquet(store)
    corpus_sigs = spark.read.parquet(store)
    batch = docs.where(F.col("doc_id").cast("long") % 2 == 1).limit(50)

    # Plan the verdict with AQE off so Exchange nodes sit in the walkable
    # tree (AQE wraps them behind AdaptiveSparkPlanExec stages).
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        verdict = dedup.minhash_dedup_incremental(batch, corpus_sigs)
        jplan = verdict._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)

    def is_corpus_scan(n):
        if "FileSourceScan" not in n.getClass().getSimpleName():
            return False
        paths = n.relation().location().rootPaths()
        return any("corpus_sig_store" in str(paths.apply(i))
                   for i in range(paths.size()))

    # RAW corpus rows must never CROSS an exchange (shuffled OR
    # broadcast): between any Exchange and the corpus scan there must be
    # a BroadcastHashJoin consuming the corpus on its STREAMED side — a
    # map-side probe whose output is batch-bounded. Corpus-*derived*
    # rows above such a boundary (the candidate set) may shuffle or
    # broadcast freely; they scale with the batch, not the store.
    found = {"scans": 0}

    def walk(node, exchange_above_unbounded):
        name = node.getClass().getSimpleName()
        if is_corpus_scan(node):
            found["scans"] += 1
            assert not exchange_above_unbounded, (
                "corpus rows reach an Exchange with no broadcast-join "
                "boundary in between — the store itself is being "
                "shuffled or broadcast")
            return
        flag = exchange_above_unbounded or "Exchange" in name
        children = node.children()
        if name == "BroadcastHashJoinExec":
            build_left = "BuildLeft" in node.buildSide().toString()
            streamed = children.apply(1 if build_left else 0)
            build = children.apply(0 if build_left else 1)
            walk(streamed, False)  # corpus probed map-side: bounded
            walk(build, flag)
            return
        for i in range(children.size()):
            walk(children.apply(i), flag)

    walk(jplan, False)
    # sanity: the corpus IS scanned (twice: band probe + sig attach)
    assert found["scans"] == 2, found["scans"]


def test_link_family_plan_shapes(spark):
    """link_table is a narrow scan-stage pass (zero Exchange).  The
    host rollup's exact count-distincts plan as Spark's Expand + two
    exchanges (operators/links.py scale notes)."""
    from pdf_extraction_spark.operators.links import (host_stats,
                                                      link_table)
    from pdf_extraction_spark.queries_links import _pages_spark

    links = link_table(_pages_spark(spark, SF_DIR),
                       carry=("page_host",))
    assert "Exchange" not in _plan(links)
    exact = _plan(host_stats(links))
    assert exact.count("Exchange hashpartitioning") == 2


def test_html_extraction_zero_shuffle(spark):
    """HTML main-content extraction evaluates inside the scan stage —
    no Exchange, no BatchEvalPython (zero UDF)."""
    from pdf_extraction_spark.operators.html import extract_main_content
    from pdf_extraction_spark.queries_html import _spark_pages

    plan = _plan(extract_main_content(_spark_pages(spark, SF_DIR)))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_pdf_bridge_one_docid_exchange(spark):
    """pdf_to_spans end-to-end: at most ONE hash exchange, keyed on
    doc_id — it gathers each document's stream rows, and tokenize ->
    layout -> offsets run in-process after it.  With ``page_col`` the
    pages lay out separately inside the same per-doc task, so the
    plan keeps the one exchange."""
    import re

    from pdf_extraction_spark.operators.pdfstream import pdf_to_spans
    from pdf_extraction_spark.queries_pdf import _pdf_streams

    streams = _pdf_streams(spark, SF_DIR)
    for df in (pdf_to_spans(streams),
               pdf_to_spans(streams.withColumn("page", F.lit(1)),
                            page_col="page")):
        plan = _plan(df)
        assert plan.count("Exchange") <= 1
        for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),",
                             plan):
            assert m.group(1).startswith("doc_id"), m.group(0)


def test_pdf_file_bridge_is_one_stage(spark):
    """files_to_spans is parse -> tokenize -> layout -> offsets in one
    mapInArrow with no Exchange.  Over landed records dispatch_spans
    has no Exchange at all, on html-only and on mixed WARC files: the
    pdf, docx, pptx, xlsx and image rows take ONE routed mapInArrow,
    and epub_to_spans is map-only too."""
    import re

    from pdf_extraction_spark.operators.epub import (build_epub_files,
                                                     epub_to_spans)
    from pdf_extraction_spark.operators.pdffile import (build_pdf_files,
                                                        files_to_spans)
    from pdf_extraction_spark.operators.warc import (
        _BINARY_MIMES, build_mixed_warc_files, build_warc_files,
        dispatch_spans, records_from_warc)
    from pdf_extraction_spark.queries_html import _media_page_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 8).select("doc_id", "text")
    assert "Exchange" not in _plan(files_to_spans(build_pdf_files(docs)))
    assert "Exchange" not in _plan(epub_to_spans(build_epub_files(docs)))

    pages = docs.select(
        "doc_id", F.coalesce("text", F.lit("")).alias("t")).select(
        "doc_id", F.col("t").alias("text"),
        F.expr(_media_page_expr("CAST(doc_id AS STRING)")).alias("html"))
    assert "Exchange" not in _plan(dispatch_spans(
        records_from_warc(build_warc_files(docs)), dedupe=False))
    plan = _plan(dispatch_spans(records_from_warc(
        build_mixed_warc_files(pages)), dedupe=False))
    assert "Exchange" not in plan
    # the records parse and the epub reader are file passes too; the
    # routed pass is the one that emits spans, over the filter below it
    routed = re.findall(r"MapInArrow _file_pass\(.*spans#.*\n"
                        r"(?:.*\n)*?.*Filter (.*)", plan)
    assert len(routed) == 1, plan
    assert all(m in routed[0] for m in _BINARY_MIMES), routed
    assert "StartsWith(content_type#" in routed[0], routed


def test_ruled_tables_single_scan_single_exchange(spark):
    """detect_ruled_tables is ONE linear tree: the upstream tokenize
    map appears exactly once in the plan (an earlier two-branch join
    formulation re-ran it 3x — column pruning below each branch's
    exchange defeats ReusedExchange), there is exactly one hash
    exchange (the doc_id groupBy), and no join operator at all."""
    import re

    from pdf_extraction_spark.operators.pdfstream import (
        ruled_table_rows)

    df = spark.createDataFrame(
        [("d1", "72 628 420 72 re S BT /F1 10 Tf 76 688 Td (x) Tj ET")],
        "doc_id string, stream string")
    plan = _plan(ruled_table_rows(df))
    assert len(re.findall(r"MapInArrow", plan)) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, \
        plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_corpus_stats_ops_no_cartesian_bounded_exchanges(docs):
    """substring_dup_stats and lexical_commonness are token-linear:
    hash exchanges only (explode -> count -> mark-join -> rollup), no
    cartesian/broadcast-nested-loop, no corpus collect."""
    import re

    from pdf_extraction_spark.operators.dedup import \
        substring_dup_stats
    from pdf_extraction_spark.operators.textstats import \
        lexical_commonness

    for df in (substring_dup_stats(docs, window=10, stride=10),
               lexical_commonness(docs)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoop" not in plan, plan
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex <= 4, plan
