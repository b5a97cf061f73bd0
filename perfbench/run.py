#!/usr/bin/env python3
"""Benchmark of the linguistjs_spark quality-filter engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload web_filter --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed and the oracle's label for
every input row, starts one Spark session at local[nproc], sets up (first
metadata load, then each input once as a timed job runs it, its label rows
checked against the oracle), then runs fresh jobs back to back for
``--seconds`` and checks each job's output. The last line of
stdout is one JSON object: end-to-end metrics with ``--trace 0``; per-layer
metrics with ``--trace 1``, a run that also keeps spans, captures every
executed plan and writes Spark's event log. See perfbench/README.md for the
workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "job_s_p50": "s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "keep_f1": "ratio",
}

PER_LAYER = {
    "pipeline.build_s": "s", "pipeline.optimize_s": "s", "pipeline.exec_s": "s",
    "pipeline.plan_nodes": "count", "pipeline.exchanges": "count",
    "pipeline.python_evals": "count",
    "metadata.load_s": "s",
    "sources.scan_rows": "count", "sources.scan_bytes": "B", "sources.scan_ms": "ms",
    "sources.warc_chunks": "count", "sources.warc_bytes": "B",
    "sources.warc_records": "count", "sources.warc_python_ms": "ms",
    "sources.write_rows": "count", "sources.write_files": "count",
    "sources.write_bytes": "B", "sources.write_commit_ms": "ms",
    "udf.rows": "count", "udf.python_ms": "ms", "udf.boot_ms": "ms", "udf.init_ms": "ms",
    "udf.bytes_sent": "B", "udf.bytes_received": "B",
    "udf.bytes_sent_per_text_byte": "ratio",
    "classify.kernel_docs_per_s": "1/s", "perplexity.kernel_docs_per_s": "1/s",
    "codegen.pre_udf_ms": "ms", "codegen.post_udf_ms": "ms",
    "rollup.agg_ms": "ms", "rollup.peak_mem_bytes": "B", "rollup.spill_bytes": "B",
    "exchange.count": "count", "exchange.bytes": "B", "exchange.records": "count",
    "exchange.write_ms": "ms",
    "resume.run_s": "s", "resume.skip_s": "s", "resume.read_s": "s",
    "resume.buckets_processed": "count", "resume.buckets_skipped": "count",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.task_run_ms": "ms", "engine.task_cpu_ms": "ms", "engine.gc_ms": "ms",
    "engine.sched_delay_ms": "ms", "engine.task_skew": "ratio",
    "host.cores": "count", "host.steal_pct": "%", "host.sys_pct": "%",
    "trace.docs_per_s": "1/s", "trace.overhead_frac": "ratio",
    "scale.eff": "ratio", "scale.t1_s": "s", "scale.tn_s": "s",
}

# Why a per-layer metric reads 0 on a workload: the layer is not on its path
_NO_WARC = "no WARC input on this workload"
_NO_WRITE = "this workload writes nothing"
_NO_RESUME = "this workload does not use streaming.resume"
_NO_SCALE = "the local[1] scaling leg runs on web_filter only"
ABSENT = {
    "web_filter": {
        **{k: _NO_WARC for k in ("sources.warc_chunks", "sources.warc_bytes",
                                 "sources.warc_records", "sources.warc_python_ms")},
        **{k: _NO_WRITE for k in ("sources.write_rows", "sources.write_files",
                                  "sources.write_bytes", "sources.write_commit_ms")},
        **{k: _NO_RESUME for k in ("resume.run_s", "resume.skip_s", "resume.read_s",
                                   "resume.buckets_processed", "resume.buckets_skipped")},
    },
    "crawl_resume": {
        "pipeline.build_s": "run_pipeline is called inside resumable_run",
        "pipeline.optimize_s": "run_pipeline is called inside resumable_run",
        **{k: _NO_SCALE for k in ("scale.eff", "scale.t1_s", "scale.tn_s")},
    },
}
ABSENT["repo_scan"] = {
    **ABSENT["web_filter"],
    **{k: _NO_SCALE for k in ("scale.eff", "scale.t1_s", "scale.tn_s")},
}

MIN_JOBS = 3
# The traced run alternates traced (T) and untraced (U) jobs after job 0 as
# T U U T T U U T ..., so a warm-up trend across the window weighs on both
# halves alike; job 0, the slowest, is left out of the comparison.
TRACED_MIN_JOBS = 5
KERNEL_ROWS = 2000
KERNEL_REPEATS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["web_filter", "repo_scan", "crawl_resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Environment the JVM and the Python workers inherit: they must import
    the program from this checkout and keep every file inside it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def make_spark(cores: int, work: str, heap_mb: int, event_dir: str | None):
    """A session sized for this host: ``cores`` task threads, a Spark
    driver heap that fits in the memory the host has free, and the CLI's
    settings."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .config("spark.eventLog.enabled", "true" if event_dir else "false")
        # one plain JSON-lines file the parser can read as it is
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
    )
    if event_dir:
        os.makedirs(event_dir)
        b = b.config("spark.eventLog.dir", "file://" + event_dir)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the active session, then the JVM it started, and wait until the
    JVM and the Python workers it forked have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from host import process_tree

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def fresh_metadata_load_s() -> float:
    """Import + first ``load_metadata()`` in a fresh interpreter, median of 3."""
    code = ("import time; t = time.perf_counter()\n"
            "from linguistjs_spark.metadata import load_metadata\n"
            "load_metadata(); print(time.perf_counter() - t)")
    runs = [
        float(subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                             capture_output=True, text=True, timeout=60).stdout)
        for _ in range(3)
    ]
    return statistics.median(runs)


def kernel_rates(wl) -> dict[str, float]:
    """Single-threaded docs/s of the classify and perplexity batch kernels
    on the workload's own rows, median of a few repeats."""
    from linguistjs_spark.operators.classify import classify_batch
    from linguistjs_spark.perplexity import _logp, perplexity_batch_with_table

    path, text = wl.kernel_rows()
    path, text = path[:KERNEL_ROWS], text[:KERNEL_ROWS]
    table = _logp()
    out = {}
    for name, fn in (
        ("classify.kernel_docs_per_s", lambda: classify_batch(path, text, wl.cfg)),
        ("perplexity.kernel_docs_per_s", lambda: perplexity_batch_with_table(table, text)),
    ):
        fn()  # first call builds the kernel's cached state
        walls = []
        for _ in range(KERNEL_REPEATS):
            t = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t)
        out[name] = len(path) / statistics.median(walls)
    return out


class Run:
    """One benchmark run: inputs, set-up, the timed window, the metrics."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.errors: list[str] = []
        self.info: list[str] = []  # human-readable lines printed before the JSON

    def run(self) -> dict:
        from host import (cpu_times, host_cores, host_pcts, mem_available_mb,
                          tree_cpu_s, tree_peak_rss_mb)
        from spans import QueryCapture, Tracer

        args, trace = self.args, bool(self.args.trace)
        os.makedirs(self.work)
        prepare_env(self.work)
        from workloads import WORKLOADS, CheckFailed

        cores = host_cores()
        heap_mb = max(512, min(1024, mem_available_mb() // 4))
        tracer = Tracer(trace)
        wl = WORKLOADS[args.workload](None, self.work, args.seed, tracer)
        t = time.perf_counter()
        wl.generate(cores)
        self.info.append(f"host: local[{cores}], Spark driver heap {heap_mb} MB, "
                         f"{len(wl.rows)} input docs, seed {args.seed}; inputs and "
                         f"oracle labels took {time.perf_counter() - t:.1f} s")

        # -- set-up: session, first metadata load, untimed run of every input
        t0 = time.perf_counter()
        event_dir = os.path.join(self.work, "events") if trace else None
        with tracer.span("setup.session"):
            spark = make_spark(cores, self.work, heap_mb, event_dir)
        wl.spark = spark
        with tracer.span("metadata.load_metadata"):
            from linguistjs_spark.metadata import load_metadata

            load_metadata()
        with tracer.span("setup.warm_up"):
            keep_f1 = wl.warm_up()
        setup_s = time.perf_counter() - t0
        self.info.append(f"set-up: {setup_s:.1f} s; untimed job, label read (s): " + ", ".join(
            f"{j:.2f} {r:.2f}" for j, r in wl.warm_walls) + "".join(
            f"; extra untimed job {w:.2f} s" for w in wl.extra_warm_walls))
        capture = QueryCapture(spark) if trace else None

        # -- timed window: fresh jobs back to back, one client
        sc = spark.sparkContext
        results, summaries, traced_ids = [], [], []
        attempted = failed = 0
        cpu0, host0 = tree_cpu_s(os.getpid()), cpu_times()
        end = time.perf_counter() + args.seconds
        # whole cycles over the inputs, so every run times the same job mix
        min_jobs = TRACED_MIN_JOBS if trace else MIN_JOBS
        while (time.perf_counter() < end or attempted < min_jobs
               or attempted % len(wl.inputs)):
            i = attempted
            attempted += 1
            traced_job = trace and i > 0 and i % 4 in (0, 1)
            tracer.enabled, tracer.job = traced_job, f"job-{i}"
            sc.setLocalProperty("perfbench.job", f"job-{i}")
            if traced_job:
                capture.attach()
            try:
                res = wl.job(i)
            except CheckFailed as e:
                failed += 1
                self.errors.append(f"job {i}: check failed: {e}")
                continue
            except Exception:  # a failed job is counted, not fatal
                failed += 1
                self.errors.append(f"job {i}: {traceback.format_exc()}")
                continue
            finally:
                plans = capture.detach() if traced_job else None
            results.append((res, traced_job, i))
            if traced_job:
                from plan_metrics import plan_tree, summarize

                summaries.append(summarize([plan_tree(p) for p in plans]))
                traced_ids.append(f"job-{i}")
        tracer.enabled = trace
        cpu1, host1 = tree_cpu_s(os.getpid()), cpu_times()
        peak_rss = tree_peak_rss_mb(os.getpid())
        hp = host_pcts(host0, host1)

        self.attempted, self.failed = attempted, failed
        if not results or (trace and not (summaries and len(summaries) < len(results) - 1)):
            raise RuntimeError("too few jobs finished: " + "; ".join(self.errors))
        walls = [r.wall_s for r, _, _ in results]
        docs = sum(r.docs for r, _, _ in results)
        e2e = {
            "setup_s": setup_s,
            "docs_per_s": docs / sum(walls),
            "job_s_p50": statistics.median(walls),
            "cpu_s_per_kdoc": (cpu1 - cpu0) / (docs / 1000),
            "peak_rss_mb": peak_rss,
            "keep_f1": keep_f1,
        }
        self._describe(wl, results, attempted, failed, hp)
        if not trace:
            shutdown_jvm()
            return e2e

        layers = self._layers(wl, results, summaries, traced_ids, cores, hp)
        for n, s in enumerate(summaries):
            if s["exchange.count"] < 1 or s["exchange.empty"]:
                self.errors.append(
                    f"{traced_ids[n]}: an exchange wrote no shuffle records "
                    "(the job did not pay its full cost)")
        if args.workload == "web_filter":
            layers.update(self._scale(wl, cores, heap_mb, results))
        shutdown_jvm()
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                 f"{args.workload}-{args.seed}.spans.jsonl"))
        from eventlog import engine_metrics, read_events

        (log,) = os.listdir(event_dir)  # one application, one log
        engine = engine_metrics(read_events(os.path.join(event_dir, log)),
                                set(traced_ids))
        for k, v in engine.items():  # per job, like the plan metrics
            layers[k] = v if k == "engine.task_skew" else v / len(traced_ids)
        layers["metadata.load_s"] = fresh_metadata_load_s()
        for k, why in ABSENT.get(args.workload, {}).items():
            if layers.get(k, 0) == 0:
                self.info.append(f"absent: {k}: {why}")
        return {k: layers.get(k, 0.0) for k in PER_LAYER}

    def _describe(self, wl, results, attempted, failed, hp) -> None:
        """Human-readable end-to-end figures that are not in the JSON."""
        from stats import tail_percentile

        walls = [r.wall_s for r, _, _ in results]
        self.info.append("job walls (s): " + " ".join(f"{w:.3f}" for w in walls))
        tail = tail_percentile(walls)
        if tail:
            p, v, beyond = tail
            self.info.append(f"job_s_tail: {v:.4f} s = p{p:.1f} of {len(walls)} jobs "
                             f"({beyond} beyond it)")
        else:
            self.info.append(f"job_s_tail: n/a: {len(walls)} jobs; the rule needs at "
                             "least 11 (10 beyond the percentile)")
        self.info.append(f"failed_frac: {failed / attempted:.4f} ({failed} of "
                         f"{attempted} jobs failed or gave wrong output)")
        skips = [r.parts["resume.skip_s"] for r, _, _ in results if "resume.skip_s" in r.parts]
        if skips:
            self.info.append(f"resume_s: {statistics.median(skips):.4f} s "
                             f"(median no-op re-run over {len(skips)} jobs)")
        if hasattr(wl, "snapshots"):
            self.info.append("input snapshot ids: " + " ".join(sorted(wl.snapshots)))
        self.info.append(f"host: steal {hp['host.steal_pct']:.2f}%, "
                         f"sys {hp['host.sys_pct']:.2f}% during the timed window")

    def _layers(self, wl, results, summaries, traced_ids, cores, hp) -> dict:
        traced = [r for r, t, _ in results if t]
        untraced = [r for r, t, i in results if not t and i > 0]
        n = len(traced)
        out: dict[str, float] = {}
        for k in summaries[0]:
            out[k] = sum(s[k] for s in summaries) / n
        out["rollup.peak_mem_bytes"] = max(s["rollup.peak_mem_bytes"] for s in summaries)
        out["udf.bytes_sent_per_text_byte"] = (
            sum(s["udf.bytes_sent"] for s in summaries) / sum(r.text_bytes for r in traced))
        if hasattr(wl, "warc_bytes"):
            out["sources.warc_bytes"] = wl.warc_bytes
        for key in ("resume.run_s", "resume.skip_s", "resume.read_s",
                    "resume.buckets_processed", "resume.buckets_skipped"):
            out[key] = sum(r.parts.get(key, 0.0) for r in traced) / n
        spans_by = {}
        for sp in wl.tr.spans:
            if sp.job in traced_ids:
                spans_by[sp.name] = spans_by.get(sp.name, 0.0) + sp.dur
        for key, span in (("pipeline.build_s", "pipeline.build"),
                          ("pipeline.optimize_s", "pipeline.optimize"),
                          ("pipeline.exec_s", "pipeline.exec")):
            out[key] = spans_by.get(span, 0.0) / n
        out.update(kernel_rates(wl))
        out["host.cores"] = float(cores)
        out.update(hp)
        dps_t = sum(r.docs for r in traced) / sum(r.wall_s for r in traced)
        dps_u = sum(r.docs for r in untraced) / sum(r.wall_s for r in untraced)
        out["trace.docs_per_s"] = dps_t
        out["trace.overhead_frac"] = (dps_u - dps_t) / dps_u
        return out

    def _scale(self, wl, cores, heap_mb, results) -> dict:
        """T(local[1]) / (cores x T(local[cores])) on the same job: the
        untraced jobs of the window after job 0 give T(local[cores]); a
        local[1] session in the same JVM runs one warm-up job and one timed
        job."""
        tn = statistics.median([r.wall_s for r, t, i in results if not t and i > 0])
        wl.spark.stop()
        wl.tr.enabled = False
        wl.spark = make_spark(1, self.work, heap_mb, None)
        wl.job(0)
        t1 = wl.job(0).wall_s
        wl.spark.stop()
        return {"scale.eff": t1 / (cores * tn), "scale.t1_s": t1, "scale.tn_s": tn}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "linguistjs_spark")):
        print(f"error: no linguistjs_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from stats import range_violations

    run = Run(args)
    try:
        metrics = run.run()
    finally:
        if "pyspark" in sys.modules:  # also after a failure: stop the JVM
            shutdown_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    for line in run.info:
        print(line)
    for e in run.errors:
        print("error:", e, file=sys.stderr)
    bad = range_violations(metrics)
    if bad:
        for b in bad:
            print("implausible:", b, file=sys.stderr)
        return 1
    units = PER_LAYER if args.trace else E2E
    for k, v in metrics.items():
        print(f"{k}: {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not run.errors else 1


if __name__ == "__main__":
    sys.exit(main())
