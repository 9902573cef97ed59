"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run starts ``local[nproc]`` through
``session.get_spark``, lands the workload's seed-made inputs, runs the
warm-up pass(es) and checks their outputs, then runs back-to-back timed
passes for ``--seconds`` (at least three).  With
``--trace 1`` it also runs one traced pass and the single-threaded kernel
timings, prints the per-layer metrics instead of the end-to-end ones, and
writes the spans to ``.perfbench/traces/``.
Everything it writes stays under ``.perfbench/`` in the repository root.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# timed passes per run, however long --seconds is: the first pass of a
# run is often its slowest, and the median of three sets it aside
MIN_PASSES = 3

END_TO_END = {"docs_per_s": "docs/s", "cpu_s_per_kdoc": "s", "setup_s": "s",
              "worker_rss_mb.max": "MB", "ok_share": "ratio"}

KERNELS = ("fused.extract_record_batch", "enrich.enrich_batch",
           "warc.flatten_records", "pdffile.extract_pages", "docx.parse_docx",
           "pptx.parse_pptx", "multimodal.sniff_image")


def per_layer_units() -> dict[str, str]:
    from tracing import LAYER_FIELDS, LAYERS
    units = {f"{layer}.{f}": u for layer in LAYERS
             for f, u in LAYER_FIELDS.items()}
    units |= {f"{k}.{f}": u for k in KERNELS
              for f, u in (("cold_s", "s"), ("warm_s", "s"), ("raised", "count"))}
    units |= {"fused.spans_per_s": "1/s", "enrich.issues_per_s": "1/s",
              "warc.mb_per_s": "MB/s", "dedupe.kept_ratio": "ratio",
              "route.fused_docs": "count", "route.salted_docs": "count",
              "checkpoint.skip_ratio": "ratio", "trace.overhead_ratio": "ratio"}
    return units


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["reports", "crawl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], units: dict[str, str]) -> str:
    """The final stdout line: every metric of ``units``, a missing value
    (a layer or kernel the workload does not run) as 0."""
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()}})


def measure_pass(w, me: int) -> dict:
    import hostprobe
    w.before_pass()
    cpu0, st0 = hostprobe.tree_cpu_s(me), hostprobe.cpu_times()
    t0 = time.monotonic()
    failed = w.timed_pass()
    wall = time.monotonic() - t0
    cpu = hostprobe.tree_cpu_s(me) - cpu0
    steal = hostprobe.steal_share(st0, hostprobe.cpu_times())
    w.after_pass()
    return {"wall_s": wall, "cpu_s": cpu, "steal": steal, "failed": failed,
            "rss_mb": hostprobe.python_worker_hwm_mb(me)}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    import hostprobe
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while hostprobe.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in hostprobe.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(args, work: str) -> int:
    import hostprobe
    import pyarrow
    import pyspark

    import checks
    from pdf_extraction_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS

    me = os.getpid()
    nproc = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    phases = {}
    t = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=nproc)
    phases["session_s"] = time.monotonic() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # one scan partition per landed parquet file: the file count is
        # part of each workload's definition
        spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
        w = WORKLOADS[args.workload](spark, args.seed, work)
        warm = os.path.join(work, "warm")

        def phase(name, fn):
            t = time.monotonic()
            out = fn()
            phases[name] = time.monotonic() - t
            return out

        digest = phase("build_s", w.build)
        phase("warmup_s", lambda: w.warmup(warm))
        errors = phase("verify_s", lambda: w.verify(warm))
        setup_s = hostprobe.seconds_since_start()

        budget = args.seconds / 2 if args.trace else args.seconds
        passes, t0 = [], time.monotonic()
        while len(passes) < MIN_PASSES or time.monotonic() - t0 < budget:
            passes.append(measure_pass(w, me))
        walls = [p["wall_s"] for p in passes]
        failed = sum(p["failed"] for p in passes)
        attempted = w.offered * len(passes)
        context = {
            "workload": args.workload, "seed": args.seed,
            "input_digest": digest, "docs_per_pass": w.offered,
            "nproc": nproc, "spark_cores": spark.sparkContext.defaultParallelism,
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "pass_walls_s": walls, "pass_steal_share": [p["steal"] for p in passes],
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "setup_phases_s": phases,
        }
        if args.trace:
            tracer = Tracer(spark)
            t = time.monotonic()
            rows = w.layered_pass(tracer, os.path.join(work, "traced"))
            traced_wall = time.monotonic() - t
            errors += checks.check_count("traced pass rows", w.traced_rows, rows)
            layers = tracer.layer_table()
            values = {f"{layer}.{f}": v for layer, row in layers.items()
                      for f, v in row.items()}
            values |= w.kernels() | w.ratios()
            values["trace.overhead_ratio"] = traced_wall / statistics.median(walls)
            units = per_layer_units()
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"context": context, "spans": tracer.spans,
                           "layers": layers, "metrics": values}, f, indent=1)
            context["trace_file"] = os.path.relpath(path, ROOT)
        else:
            values = {
                "docs_per_s": statistics.median(w.offered / x for x in walls),
                "cpu_s_per_kdoc": statistics.median(
                    1000 * p["cpu_s"] / w.offered for p in passes),
                "setup_s": setup_s,
                "worker_rss_mb.max": max(p["rss_mb"] for p in passes),
                "ok_share": 1 - failed / attempted,
            }
            units = END_TO_END
        context["errors"] = errors
        correct = not errors and failed == 0
        print("# context " + json.dumps(context))
        print(result_line(correct, attempted, failed, values, units))
        return 0 if correct else 1
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdf_extraction_spark")):
        print("perfbench: no pdf_extraction_spark package beside perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sys.path[:0] = [ROOT, HERE]
    # Python workers import the package from the checkout; all scratch
    # (Spark local dirs, JVM and Python temp files) stays under `work`
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata file either: the JVM writes it under /tmp regardless
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work}/tmp "
                                       "-XX:-UsePerfData")
    cwd = os.getcwd()
    os.chdir(work)
    try:
        return run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
