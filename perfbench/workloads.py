"""The benchmark workloads.

Each workload lands its seed-made inputs as parquet during set-up and then
runs closed-loop passes of one production chain over them, as a user
calls it.  The warm-up pass runs the same chain and keeps its output for
the correctness checks.  ``layered_pass`` (traced runs only) runs the
chain's layers one at a time, each under its own span and job group, with
each layer's output written at its boundary.
"""

from __future__ import annotations

import inspect
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from pdf_extraction_spark.operators import docx, multimodal, pdffile, pptx, warc
from pdf_extraction_spark.plans import enrichment, fused, salted
from pdf_extraction_spark.sources import checkpoint

import checks
import inputs
from tracing import time_kernel

# assemble_auto's routing, read from its signature so the layered pass
# splits the docs exactly where the production entry point does
_AUTO = inspect.signature(fused.assemble_auto).parameters
GIANT_SPANS = _AUTO["giant_spans"].default
CHUNK_SPANS = _AUTO["chunk_spans"].default


def noop(df: DataFrame, nonempty: Column) -> tuple[int, int]:
    """Run ``df`` into the noop sink; return (rows, rows where ``nonempty``)."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                    F.sum(F.when(nonempty, 1).otherwise(0)).alias("ok"))
    df.write.format("noop").mode("overwrite").save()
    m = obs.get
    return int(m["rows"]), int(m["ok"] or 0)


def materialize(df: DataFrame, path: str) -> int:
    """Write ``df`` to parquet at ``path``; return its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")) \
        .write.mode("overwrite").parquet(path)
    return int(obs.get["rows"])


def failed_docs(expected: int, rows: int, ok: int) -> int:
    """Documents without a correct, non-empty output row in one pass
    (a missing or empty row each count one, and so does an extra row)."""
    return min(expected, max(0, expected - ok) + max(0, rows - expected))


def span_counts(table: pa.Table) -> np.ndarray:
    return pc.list_value_length(table.column("spans")).to_numpy(
        zero_copy_only=False)


def _fingerprints(df: DataFrame, plan: str) -> DataFrame:
    """(plan, doc_id, md5 of the whole output row) per document."""
    return df.select(F.lit(plan).alias("plan"), "doc_id",
                     F.md5(F.to_json(F.struct(*df.columns))).alias("md5"))


def _prefixed(prefix: str, timings: dict[str, float]) -> dict[str, float]:
    return {f"{prefix}.{k}": v for k, v in timings.items()}


class Workload:
    """One workload: its inputs, its timed pass, its checks and its
    traced pass.  Subclasses fill in every method that raises."""

    name = ""
    giant_spans = GIANT_SPANS     # assemble_auto's routing threshold
    chunk_spans = CHUNK_SPANS     # and the salted plan's chunk size
    n_files = 4                   # parquet files landed = scan partitions

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.input_dir = os.path.join(work, "input")

    def read(self, path: str | None = None) -> DataFrame:
        return self.spark.read.parquet(path or self.input_dir)

    @property
    def offered(self) -> int:
        """Input documents one pass offers (the docs_per_s numerator)."""
        return self.n_docs

    @property
    def traced_rows(self) -> int:
        """Rows the traced pass's last layer must output."""
        return self.offered

    def build(self) -> str:
        """Generate and land the inputs; return their digest."""
        raise NotImplementedError

    def warmup(self, out: str) -> None:
        """The discarded pass(es), with outputs kept for ``verify``."""
        raise NotImplementedError

    def verify(self, out: str) -> list[str]:
        """Errors in the warm-up outputs."""
        raise NotImplementedError

    def before_pass(self) -> None:
        """Untimed work before each timed pass."""

    def timed_pass(self) -> int:
        """One pass of the production chain; returns its failed documents."""
        raise NotImplementedError

    def after_pass(self) -> None:
        """Untimed work after each timed pass."""

    def layered_pass(self, tracer, out: str) -> int:
        """The chain layer by layer (traced run); returns the last layer's rows."""
        raise NotImplementedError

    def kernels(self) -> dict[str, float]:
        """In-process kernel timings on a fixed slice of the inputs."""
        raise NotImplementedError

    def ratios(self) -> dict[str, float]:
        """Per-layer ratios and counts of the traced pass."""
        raise NotImplementedError

    def auto(self, docs: DataFrame) -> DataFrame:
        return fused.assemble_auto(docs, giant_spans=self.giant_spans,
                                   chunk_spans=self.chunk_spans)

    def extract_layers(self, tracer, docs: DataFrame, out: str
                       ) -> tuple[DataFrame, int]:
        """``assemble_auto`` as its two routed branches, each one layer
        (a branch with no docs is skipped).  Returns the union of both
        outputs and its row count."""
        n = F.coalesce(F.size("spans"), F.lit(0))
        sizes = [r[0] for r in docs.select(n).collect()]
        self.route = {"fused": sum(s <= self.giant_spans for s in sizes),
                      "salted": sum(s > self.giant_spans for s in sizes)}
        plans = {
            "fused": lambda: fused.assemble_fused(
                docs.where(n <= self.giant_spans)),
            "salted": lambda: salted.assemble_salted(
                docs.where(n > self.giant_spans), self.chunk_spans)}
        parts, total = [], 0
        for layer, plan in plans.items():
            if not self.route[layer]:
                continue
            with tracer.span(layer) as sp:
                sp["rows_in"] = self.route[layer]
                sp["rows_out"] = materialize(plan(), f"{out}/{layer}")
            total += sp["rows_out"]
            parts.append(self.read(f"{out}/{layer}"))
        extracted = parts[0]
        for p in parts[1:]:
            extracted = extracted.unionByName(p)
        return extracted, total

    def route_counts(self) -> dict[str, float]:
        return {"route.fused_docs": self.route["fused"],
                "route.salted_docs": self.route["salted"]}


class Reports(Workload):
    """The paper's core job: inspection-report span docs -> extraction
    -> enrichment, over the first ``n_docs`` docs of the canonical report
    corpus without its giant tail (``giant_every=0``)."""

    name = "reports"
    n_docs = 1000
    giant_tail = 996
    # enrichment memoizes per Python worker, down to description pairs,
    # and passes keep getting faster until each worker has seen about
    # 4,000 docs (README.md, noise controls)
    warmup_passes = 2
    kernel_docs = 200

    def build(self) -> str:
        self.table = inputs.report_docs(self.n_docs, self.seed, giant_every=0)
        inputs.land(self.table, self.input_dir, self.n_files)
        # the golden sample adds the first giant-tail doc of the
        # giant_every=997 corpus, kept out of the timed input: its size
        # varies with the seed, and as a pass's straggler task it would
        # carry that into every pass
        tail = inputs.report_docs(self.giant_tail + 1, self.seed, giant_every=997)
        self.golden = pa.concat_tables([self.table.slice(0, 12),
                                        tail.slice(self.giant_tail, 1)])
        inputs.land(self.golden, os.path.join(self.work, "golden"), 1)
        return inputs.digest(self.table)

    def chain(self) -> DataFrame:
        return enrichment.enrich_extracted(self.auto(self.read()))

    def timed_pass(self) -> int:
        return failed_docs(self.offered, *noop(
            self.chain(), F.col("summary").isNotNull()))

    def warmup(self, out: str) -> None:
        materialize(self.chain(), out)
        for _ in range(self.warmup_passes - 1):
            self.timed_pass()

    def verify(self, out: str) -> list[str]:
        got = {r.doc_id: r.asDict(recursive=True)["spans"] for r in self.auto(
            self.read(os.path.join(self.work, "golden"))).collect()}
        want = dict(zip(self.golden.column("doc_id").to_pylist(),
                        self.golden.column("spans").to_pylist()))
        rows = self.read(out).select(
            "doc_id", F.col("summary").isNotNull().alias("ok")).collect()
        ids = self.table.column("doc_id").to_pylist()
        return (checks.check_golden(want, got)
                + checks.check_ids("reports output", ids, (r.doc_id for r in rows))
                + checks.check_count("reports rows with a summary", len(ids),
                                     sum(r.ok for r in rows)))

    def layered_pass(self, tracer, out: str) -> int:
        extracted, rows = self.extract_layers(tracer, self.read(), out)
        with tracer.span("enrich") as sp:
            sp["rows_in"] = rows
            sp["rows_out"] = materialize(
                enrichment.enrich_extracted(extracted), f"{out}/enrich")
        return sp["rows_out"]

    def kernels(self) -> dict[str, float]:
        sl = self.table.slice(0, self.kernel_docs)
        batch = sl.combine_chunks().to_batches()[0]
        t = time_kernel(fused.extract_record_batch, [batch])
        res = _prefixed("fused.extract_record_batch", t)
        res["fused.spans_per_s"] = span_counts(sl).sum() / t["warm_s"]
        issues = fused.extract_record_batch(batch).to_pandas()[["doc_id", "issues"]]
        t = time_kernel(enrichment.enrich_batch, [issues])
        res |= _prefixed("enrich.enrich_batch", t)
        res["enrich.issues_per_s"] = issues["issues"].map(len).sum() / t["warm_s"]
        return res

    def ratios(self) -> dict[str, float]:
        return self.route_counts()


class Crawl(Workload):
    """Incremental re-crawl: a mixed WARC segment (html, pdf, docx and
    pptx responses, png resources) of ``documents`` text in which a share
    of the URIs is re-captured with new content in second files, ingested
    through the checkpoint into a store seeded from the first crawl.  A
    pass parses the containers, dedupes the captures, dispatches the
    families, then hashes the docs, anti-joins them against the processed
    keys, extracts the changed pages and appends data, metrics and keys."""

    name = "crawl"
    n_docs = 300
    recapture_share = 0.2
    # the giant page is the only doc above the threshold, and the salted
    # plan splits it into several chunks: all three scaled down from the
    # production 500k-span threshold and 16k-span chunks (README.md)
    giant_blocks = 1_200
    giant_spans = 1_000
    chunk_spans = 250
    kernel_files = 160

    def build(self) -> str:
        pages, self.again = inputs.crawl_pages(
            self.n_docs, self.seed, self.recapture_share, self.giant_blocks)
        self.warcs = inputs.crawl_files(self.spark, pages)
        inputs.land(self.warcs, self.input_dir, self.n_files)
        self.first_dir = os.path.join(self.work, "first")
        inputs.land(self.warcs.slice(0, self.n_docs + 1), self.first_dir,
                    self.n_files)
        docs = range(self.n_docs + 1)
        self.uris = sorted({inputs.crawl_uri(d) for d in docs}
                           | {inputs.crawl_uri(d) + "/logo.png" for d in docs[::5]})
        self.store0 = os.path.join(self.work, "store0")
        self.store = os.path.join(self.work, "store")
        return inputs.digest(self.warcs)

    @property
    def offered(self) -> int:
        """Distinct URIs: a re-capture is not another document."""
        return len(self.uris)

    @property
    def traced_rows(self) -> int:
        return len(self.again)

    def ingest(self, files: DataFrame, store: str) -> int:
        """``run_incremental`` the dispatched ``files`` into ``store``;
        returns the docs processed."""
        self.result = checkpoint.run_incremental(
            self.spark, warc.warc_dispatch_spans(files), store, plan=self.auto)
        return self.result["processed"]

    def before_pass(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.store0, self.store)

    def after_pass(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)

    def timed_pass(self) -> int:
        done = self.ingest(self.read(), self.store)
        return min(self.offered, abs(done - len(self.again)))

    def warmup(self, out: str) -> None:
        """Seed the store with the first crawl: the same chain into an
        empty store, so every page is processed."""
        self.seeded = self.ingest(self.read(self.first_dir), self.store0)

    def verify(self, out: str) -> list[str]:
        kept = [(r.target_uri, r.warc_id) for r in warc.dedupe_captures(
            warc.records_from_warc(self.read())).select(
                "target_uri", "warc_id").collect()]
        again = ({inputs.crawl_uri(d) for d in self.again}
                 | {inputs.crawl_uri(d) + "/logo.png" for d in self.again if d % 5 == 0})
        stored = checkpoint.read_output(self.spark, self.store0)
        giant = inputs.crawl_uri(self.n_docs)
        giant_spans = warc.warc_dispatch_spans(self.read(self.first_dir).where(
            F.col("warc_id") == f"crawl1-{self.n_docs:06d}")).where(
                F.col("doc_id") == giant).localCheckpoint()
        size = giant_spans.select(F.size("spans")).first()[0]
        chunks = salted.split_docs(giant_spans, self.chunk_spans).count()
        return (checks.check_salted_route(size, self.giant_spans, chunks)
                + checks.check_dedupe(set(self.uris), again, kept)
                + checks.check_count("first-crawl pages processed",
                                     len(self.uris), self.seeded)
                + checks.check_ids("stored URIs", self.uris, [
                    r.doc_id for r in stored.select("doc_id").collect()])
                + self.check_salted(giant_spans,
                                    stored.where(F.col("doc_id") == giant)))

    def check_salted(self, docs: DataFrame, routed: DataFrame) -> list[str]:
        """``routed`` (the giant through ``assemble_auto``'s salted route)
        equals the fused plan on the same ``docs``, row for row."""
        ref = fused.assemble_fused(docs)
        rows = _fingerprints(ref, "fused").unionByName(
            _fingerprints(routed.select(*ref.columns), "auto")).collect()
        prints = {p: {r.doc_id: r.md5 for r in rows if r.plan == p}
                  for p in ("fused", "auto")}
        return checks.check_same("salted vs fused plan", prints["fused"],
                                 prints["auto"])

    def layered_pass(self, tracer, out: str) -> int:
        # warc_dispatch_spans split at its landing step: the container
        # parse and capture dedupe land the records, dispatch reads them
        with tracer.span("warc") as sp:
            obs = Observation()
            recs = warc.records_from_warc(self.read()).observe(
                obs, F.count(F.lit(1)).alias("rows"))
            sp["rows_in"] = self.warcs.num_rows
            sp["rows_out"] = kept = materialize(warc.dedupe_captures(recs),
                                                f"{out}/records")
        self.kept = kept / int(obs.get["rows"])
        with tracer.span("dispatch") as sp:
            sp["rows_in"] = kept
            sp["rows_out"] = docs = materialize(
                warc.dispatch_spans(self.read(f"{out}/records"), dedupe=False),
                f"{out}/spans")

        def plan(todo: DataFrame) -> DataFrame:
            materialize(todo, f"{out}/todo")     # content hash + anti-join
            return self.extract_layers(tracer, self.read(f"{out}/todo"), out)[0]

        self.before_pass()
        with tracer.span("sources") as sp:
            sp["rows_in"] = docs
            self.result = checkpoint.run_incremental(
                self.spark, self.read(f"{out}/spans"), self.store, plan=plan)
            sp["rows_out"] = self.result["processed"]
        self.after_pass()
        return sp["rows_out"]

    def kernels(self) -> dict[str, float]:
        blobs = [(f["warc_id"], f["warc"])
                 for f in self.warcs.slice(0, self.kernel_files).to_pylist()]
        t = time_kernel(lambda b: warc.flatten_records(*b), blobs)
        res = _prefixed("warc.flatten_records", t)
        res["warc.mb_per_s"] = sum(len(b) for _, b in blobs) / 1e6 / t["warm_s"]
        payloads: dict[str, list[bytes]] = {}
        for b in blobs:
            for r in warc.flatten_records(*b):   # RECORDS_SCHEMA order
                payloads.setdefault(r[5], []).append(r[11])
        for name, fn, ctype in (
                ("pdffile.extract_pages", pdffile.extract_pages, warc.PDF_MIME),
                ("docx.parse_docx", docx.parse_docx, warc.DOCX_MIME),
                ("pptx.parse_pptx", pptx.parse_pptx, warc.PPTX_MIME),
                ("multimodal.sniff_image", multimodal.sniff_image, "image/png")):
            res |= _prefixed(name, time_kernel(fn, payloads.get(ctype, [])))
        return res

    def ratios(self) -> dict[str, float]:
        return {"dedupe.kept_ratio": self.kept,
                "checkpoint.skip_ratio":
                    (self.offered - self.result["processed"]) / self.offered,
                **self.route_counts()}


WORKLOADS = {w.name: w for w in (Reports, Crawl)}
