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
            dedup.simhash_pairs(dedup.simhash(docs), max_hamming=3)),
        "all_pairs_topk": _plan(similarity.all_pairs_topk(emb, 64, k=5)),
        "lsh_candidates": _plan(
            similarity.lsh_candidate_pairs(emb, 64, max_bucket=100)),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_fused_extraction_zero_shuffle(spark):
    """The fused extraction kernel is scan -> mapInArrow -> project:
    embarrassingly parallel, no Exchange anywhere (BENCH/BASELINE.md's
    headline 100x-scale property)."""
    from pdf_extraction_spark import corpus
    from pdf_extraction_spark.plans.fused import assemble_fused

    df = assemble_fused(corpus.generate_docs(spark, 50, partitions=2))
    assert "Exchange" not in _plan(df)


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
    plan = _plan(similarity.cosine_topk(emb, q, k=10))
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
    bucketed = similarity.with_lsh_buckets(emb, 64, n_planes=8)
    assert len(_plan(bucketed)) < 20_000
    q = [float(x) for x in emb.select("embedding").head()[0]]
    assert len(_plan(similarity.cosine_topk(emb, q, k=10))) < 20_000


def test_bucketed_stage_join_is_shuffle_free(spark, tmp_path):
    """Stage outputs written bucketed by doc_id join and aggregate with
    ZERO Exchange nodes — the 100 TB stage-handoff property
    (sources/bucketed.py). The same join over plain parquet shuffles
    both sides."""
    from pdf_extraction_spark.sources.bucketed import (read_bucketed,
                                                       write_bucketed)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    stats = docs.select("doc_id", F.length("text").alias("n_chars"))

    write_bucketed(docs, "bt_docs", buckets=4,
                   path=str(tmp_path / "bt_docs"))
    write_bucketed(stats, "bt_stats", buckets=4,
                   path=str(tmp_path / "bt_stats"))
    try:
        a, b = read_bucketed(spark, "bt_docs"), read_bucketed(spark, "bt_stats")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "doc_id")
            assert "Exchange" not in _plan(joined)

            agg = a.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
            assert "Exchange" not in _plan(agg)

            plain = docs.join(stats, "doc_id")
            assert "Exchange" in _plan(plain)  # the shuffle bucketing removes
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_docs")
        spark.sql("DROP TABLE IF EXISTS bt_stats")


def test_ivf_partitioned_probe_prunes_partitions(spark, tmp_path, emb):
    """The IVF cell-partitioned layout turns the nprobe predicate into a
    partition prune (PartitionFilters at the scan, only probed cell
    directories read) and returns exactly what the scan-filter ivf_topk
    returns on the same vectors."""
    from pdf_extraction_spark.operators.similarity import (
        ivf_topk, ivf_topk_partitioned, ivf_write_partitioned)

    path = str(tmp_path / "ivf")
    q = [float(x) for x in emb.select("embedding").head()[0]]
    cents = ivf_write_partitioned(emb, path, dim=64, n_list=8)

    got = ivf_topk_partitioned(spark, path, q, cents, k=10, nprobe=2)
    plan = _plan(got)
    scan = plan[plan.index("FileScan"):].splitlines()[0]
    assert "PartitionFilters: [" in scan and "cell" in scan.split(
        "PartitionFilters:")[1]

    want = [(r["vec_id"], r["cosine"])
            for r in ivf_topk(emb, q, dim=64, k=10, n_list=8,
                              nprobe=2).collect()]
    assert [(r["vec_id"], r["cosine"]) for r in got.collect()] == want


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
    host rollup: exact count-distincts plan as Spark's Expand + two
    exchanges (the gate path); the approx (HLL) 100 TB path is a
    SINGLE hash exchange on host with a map-side partial aggregate
    below it (operators/links.py scale notes)."""
    from pdf_extraction_spark.operators.links import (host_stats,
                                                      link_table)
    from pdf_extraction_spark.queries_links import _pages_spark

    links = link_table(_pages_spark(spark, SF_DIR),
                       carry=("page_host",))
    assert "Exchange" not in _plan(links)
    exact = _plan(host_stats(links))
    assert exact.count("Exchange hashpartitioning") == 2
    approx = _plan(host_stats(links, exact_distinct=False))
    assert approx.count("Exchange hashpartitioning") == 1
    # partial aggregate below the exchange == map-side combine survived
    assert "partial_" in approx


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
    mapInArrow: no Exchange, in its own plan or as dispatch_spans'
    PDF branch (the Union child that filters on application/pdf)."""
    from pdf_extraction_spark.operators.pdffile import (build_pdf_files,
                                                        files_to_spans)
    from pdf_extraction_spark.operators.warc import (
        PDF_MIME, build_mixed_warc_files, dispatch_spans,
        records_from_warc)
    from pdf_extraction_spark.queries_html import _media_page_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .where(F.col("doc_id") < 8).select("doc_id", "text")
    assert "Exchange" not in _plan(files_to_spans(build_pdf_files(docs)))

    pages = docs.select(
        "doc_id", F.coalesce("text", F.lit("")).alias("t")).select(
        "doc_id", F.col("t").alias("text"),
        F.expr(_media_page_expr("CAST(doc_id AS STRING)")).alias("html"))
    recs = records_from_warc(build_mixed_warc_files(pages))
    root = dispatch_spans(recs, dedupe=False)._jdf.queryExecution() \
        .executedPlan().executedPlan()
    union = root
    while union.getClass().getSimpleName() != "UnionExec":
        union = union.children().apply(0)
    branches = [union.children().apply(i).toString()
                for i in range(union.children().size())]
    pdf = [b for b in branches if PDF_MIME in b]
    assert len(pdf) == 1 and "Exchange" not in pdf[0]


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
