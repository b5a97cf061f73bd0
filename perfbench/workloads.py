"""The three benchmark workloads.

Each workload generates its inputs from the seed, then runs jobs through the
program's public entry points only. A job always builds a fresh DataFrame:
re-collecting a frame would reuse its shuffle files and skip most of the
work. Every job's output is checked before it counts as done: its rollup
must equal a reference built from label rows that were checked, row by
row, against the oracle.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from linguistjs_spark.config import REFERENCE_PARITY_CONFIG, QualityFilterConfig
from linguistjs_spark.metadata import load_metadata
from linguistjs_spark.operators.rollup import language_rollup
from linguistjs_spark.oracle import analyse_document, path_of_url
from linguistjs_spark.pipeline import run_pipeline
from linguistjs_spark.sources.warc import pages_from_warc_chunks, warc_chunks_for_dir
from linguistjs_spark.streaming.resume import read_labels, resumable_run

import gen
from stats import f1

# Input sizes: as large as the run time of a benchmark round allows. A job
# has a large fixed cost (plan build, scheduling, Python worker start);
# per-document work is about a third of a web_filter job (README, Sizes).
# Spark packs the 16 files into about one scan task per core; gen.deal
# gives the files, and so the tasks, near-equal bytes.
WEB_DOCS, WEB_FILES = 3000, 16
# files per repository: fixed sizes, so that every seed gives the same mix
# of small and large jobs; the seed picks their order and content
REPO_FILES = (150, 300, 600, 1200)
CRAWL_DOCS, CRAWL_SEGMENTS, CRAWL_BUCKETS = 1000, 4, 4
MIN_KEEP_F1 = 0.99
# The label columns the checks read, with the line counts flattened
LABEL_COLS = ["url", "keep", "scrubbed_text", "lang", "bytes",
              "lines.total AS lines_total", "lines.content AS lines_content",
              "lines.code AS lines_code"]

# The CLI's corpus configuration: defaults plus --max-perplexity
WEB_CFG = QualityFilterConfig(compute_perplexity=True, max_perplexity=300.0)
# The CLI's crawl configuration: --warc implies extract_html
CRAWL_CFG = QualityFilterConfig(extract_html=True)


class CheckFailed(Exception):
    """A job produced output that fails a correctness check."""


@dataclass
class JobResult:
    docs: int
    wall_s: float
    text_bytes: int
    parts: dict = field(default_factory=dict)  # named sub-timings, seconds


def rollup_digest(rows: list[dict]) -> str:
    canon = sorted(json.dumps(r, sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _sql_sum(a, b):
    """SUM as SQL adds: nulls are skipped, and a sum of nulls is null."""
    return b if a is None else a if b is None else a + b


def python_rollup(labels) -> list[dict]:
    """``language_rollup`` restated over collected label rows: kept docs
    with a language, summed per language, decorated from the metadata."""
    sums = ("bytes", "lines_total", "lines_content", "lines_code")
    acc: dict[str, dict] = {}
    for r in labels:
        if r["keep"] and r["lang"] is not None:
            a = acc.setdefault(r["lang"], {k: None for k in sums} | {"n_docs": 0})
            for k in sums:
                a[k] = _sql_sum(a[k], r[k])
            a["n_docs"] += 1
    langs = load_metadata().languages
    return [{"lang": lang, **a, "type": langs.get(lang, {}).get("type"),
             "color": langs.get(lang, {}).get("color") or None}
            for lang, a in acc.items()]


def _analyse(job) -> tuple[str, bool, str | None]:
    url, text, html, cfg = job
    r = analyse_document(url, text, html, cfg)
    return url, r.keep, r.scrubbed_text


def oracle_labels(jobs: list[tuple], procs: int) -> dict[str, tuple]:
    """``url -> (keep, scrubbed_text)`` from ``oracle.analyse_document`` for
    every ``(url, text, html, cfg)``, over ``procs`` forked processes."""
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        out = pool.map(_analyse, jobs, chunksize=max(1, len(jobs) // (4 * procs)))
    return {url: (keep, scrubbed) for url, keep, scrubbed in out}


def funnel(labels):
    """Observe the label funnel in the same job that consumes the labels."""
    obs = Observation("perfbench_funnel")
    observed = labels.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count("keep_reason").alias("with_reason"),
        F.sum((F.col("keep") & F.col("lang").isNotNull()).cast("long")).alias("kept_lang"),
    )
    return observed, obs


def check_conservation(obs: dict, rollup_rows, n_input: int) -> None:
    if obs["rows"] != n_input:
        raise CheckFailed(f"{obs['rows']} label rows for {n_input} input docs")
    if obs["with_reason"] != obs["rows"]:
        raise CheckFailed(
            f"{obs['rows'] - obs['with_reason']} label rows without a keep_reason")
    rolled = sum(r["n_docs"] for r in rollup_rows)
    if rolled != (obs["kept_lang"] or 0):
        raise CheckFailed(f"rollup counts {rolled} docs, labels keep {obs['kept_lang']}")


class Workload:
    """Shared job pieces; subclasses define the inputs and one job.

    ``inputs`` lists ``(input path, docs, text bytes)``; timed job ``i``
    runs on ``inputs[i % len(inputs)]``.
    """

    name = ""
    cfg: QualityFilterConfig
    # untimed jobs over every input after the checked first pass, so that
    # the timed window starts past the steepest part of the warm-up
    extra_warm_jobs = 0

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.reference: dict[str, str] = {}  # input path -> verified rollup digest
        self.warm_walls: list[tuple] = []  # per input: (job, label read) seconds
        self.extra_warm_walls: list[float] = []  # the extra untimed jobs
        self.rows: list[tuple] = []  # every generated input row
        self.inputs: list[tuple[str, int, int]] = []

    # -- inputs ---------------------------------------------------------
    def generate(self, procs: int) -> None:
        """Write the inputs, then compute the oracle's label for every row."""
        self.make_inputs()
        self.expected = oracle_labels(
            [(r[0], *self.oracle_args(r), self.cfg) for r in self.rows], procs)

    def make_inputs(self) -> None:
        raise NotImplementedError

    def oracle_args(self, row) -> tuple:
        """The (text, html) the oracle sees for an input row, as the job
        reads it."""
        return row[3], row[2]

    def kernel_rows(self) -> tuple[pd.Series, pd.Series]:
        """(path, text) of the workload's own rows, for kernel timings."""
        return (pd.Series([path_of_url(r[0]) for r in self.rows]),
                pd.Series([r[3] for r in self.rows]))

    # -- jobs -----------------------------------------------------------
    def warm_up(self) -> float:
        """Set-up work after the session starts: each input once, untimed,
        as a timed job runs it, then that input's label rows, so the timed
        window starts warm. The label rows are checked against the oracle,
        and the rollup restated over those checked rows becomes the
        reference that the untimed jobs and every timed job must equal.
        Then ``extra_warm_jobs`` more untimed jobs over every input.
        Returns keep_f1 over all inputs."""
        tp = fp = fn = 0
        for src, n, text_bytes in self.inputs:
            res, rows = self.run_job(src, n, text_bytes)
            t = time.perf_counter()
            labels = self.label_rows(src)
            self.warm_walls.append((res.wall_s, time.perf_counter() - t))
            counts = self.oracle_check(labels, n)
            tp, fp, fn = tp + counts[0], fp + counts[1], fn + counts[2]
            self.reference[src] = rollup_digest(python_rollup(labels))
            self.check_digest(src, rows)
        for _ in range(self.extra_warm_jobs):
            for src, n, text_bytes in self.inputs:
                res, rows = self.run_job(src, n, text_bytes)
                self.check_digest(src, rows)
                self.extra_warm_walls.append(res.wall_s)
        score = f1(tp, fp, fn)
        if score < MIN_KEEP_F1:
            raise CheckFailed(f"keep_f1 {score:.4f} < {MIN_KEEP_F1}")
        return score

    def job(self, i: int) -> JobResult:
        src, n, text_bytes = self.inputs[i % len(self.inputs)]
        res, rows = self.run_job(src, n, text_bytes)
        self.check_digest(src, rows)
        return res

    def run_job(self, src: str, n: int, text_bytes: int) -> tuple[JobResult, list]:
        """One job on one input: its timings and its rollup rows, after the
        conservation check."""
        raise NotImplementedError

    def label_rows(self, src: str) -> list:
        """The program's label rows (``LABEL_COLS``) for one input, after
        a job on it."""
        raise NotImplementedError

    def _rollup_job(self, src: str, n_input: int) -> list:
        """Read a pages table, run the pipeline and the rollup as one action."""
        tr = self.tr
        with tr.span("sources.read"):
            pages = self.spark.read.parquet(src)
        with tr.span("pipeline.build"):
            labels = run_pipeline(self.spark, pages, self.cfg)
        labels, obs = funnel(labels)
        roll = language_rollup(labels)
        if tr.enabled:
            with tr.span("pipeline.optimize"):
                roll._jdf.queryExecution().executedPlan()
        with tr.span("pipeline.exec"):
            rows = roll.collect()
        check_conservation(obs.get, rows, n_input)
        return rows

    def check_digest(self, src: str, rows) -> None:
        d = rollup_digest([r.asDict(recursive=True) for r in rows])
        if d != self.reference[src]:
            raise CheckFailed(f"rollup of {src} differs from the verified reference: "
                              f"{d[:12]} != {self.reference[src][:12]}")

    # -- oracle ---------------------------------------------------------
    def oracle_check(self, labels, n_input: int) -> tuple[int, int, int]:
        """Keep/drop of every label row against ``oracle.analyse_document``;
        scrubbed text must match byte for byte where both keep the doc.
        Returns the (tp, fp, fn) counts."""
        got = {r["url"]: r for r in labels}
        if len(labels) != n_input or len(got) != n_input:
            raise CheckFailed(f"{len(labels)} label rows ({len(got)} urls) "
                              f"for {n_input} input docs")
        tp = fp = fn = 0
        for url, r in got.items():
            if url not in self.expected:
                raise CheckFailed(f"label row for a url not in the input: {url}")
            want_keep, want_scrubbed = self.expected[url]
            keep = r["keep"]
            tp += keep and want_keep
            fp += keep and not want_keep
            fn += want_keep and not keep
            if keep and want_keep and r["scrubbed_text"] != want_scrubbed:
                raise CheckFailed(f"scrubbed_text differs from the oracle for {url}")
        return tp, fp, fn


def _text_bytes(rows) -> int:
    return sum(len(r[3].encode()) for r in rows)


class WebFilter(Workload):
    """One large corpus job per repetition over Common-Crawl-shaped pages."""

    name = "web_filter"
    cfg = WEB_CFG

    def make_inputs(self) -> None:
        self.rows = gen.web_pages(self.seed, WEB_DOCS)
        src = self.write(self.rows, os.path.join(self.work, "web"), WEB_FILES)
        self.inputs = [(src, len(self.rows), _text_bytes(self.rows))]

    def write(self, rows, dest, files=1):
        os.makedirs(dest)
        for k, part in enumerate(gen.deal(rows, files)):
            gen.write_pages(part, os.path.join(dest, f"part-{k:03d}.parquet"))
        return dest

    def run_job(self, src, n, text_bytes):
        t = time.perf_counter()
        rows = self._rollup_job(src, n)
        return JobResult(n, time.perf_counter() - t, text_bytes), rows

    def label_rows(self, src):
        """A second pipeline run on the job's input files, collected."""
        pages = self.spark.read.parquet(src)
        return run_pipeline(self.spark, pages, self.cfg).selectExpr(*LABEL_COLS).collect()


class RepoScan(WebFilter):
    """A closed loop, one client: small per-repository jobs back to back."""

    name = "repo_scan"
    cfg = REFERENCE_PARITY_CONFIG

    def make_inputs(self) -> None:
        sizes = list(REPO_FILES)
        random.Random(self.seed).shuffle(sizes)
        for r, n in enumerate(sizes):
            rows = gen.repo_files(self.seed, r, n)
            src = self.write(rows, os.path.join(self.work, f"repo-{r}"))
            self.inputs.append((src, len(rows), _text_bytes(rows)))
            self.rows.extend(rows)


class CrawlResume(Workload):
    """The production crawl path: WARC segments -> resumable labels write,
    a no-op resume of the same input, then read-back and rollup."""

    name = "crawl_resume"
    cfg = CRAWL_CFG
    # reading the written labels back is no second pass through the
    # pipeline, so the first warm crawl job is still far from steady
    extra_warm_jobs = 1

    def make_inputs(self) -> None:
        self.rows = gen.web_pages(self.seed, CRAWL_DOCS)
        src = os.path.join(self.work, "warc")
        gen.write_warc_dir(self.rows, src, CRAWL_SEGMENTS)
        # the HTML bodies as the WARC records carry them
        self.html = {u: h for u, _, h in map(gen.html_page, self.rows)}
        self.warc_bytes = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))
        self.inputs = [(src, len(self.rows), sum(len(h) for h in self.html.values()))]
        self.jobs = 0
        self.last_out = ""  # the last job's output dir, kept for label_rows
        self.snapshots: set[str] = set()  # see README, known issues

    def _pages(self, src):
        with self.tr.span("sources.warc_chunks_for_dir"):
            chunks = warc_chunks_for_dir(self.spark, src)
        with self.tr.span("sources.pages_from_warc_chunks"):
            return pages_from_warc_chunks(chunks)

    def run_job(self, src, n, text_bytes):
        tr = self.tr
        self.jobs += 1
        out = os.path.join(self.work, "out", f"job-{self.jobs}")
        t0 = time.perf_counter()
        with tr.span("resume.run"):
            first = resumable_run(self.spark, self._pages(src), out, self.cfg,
                                  num_buckets=CRAWL_BUCKETS)
        t1 = time.perf_counter()
        with tr.span("resume.skip"):
            again = resumable_run(self.spark, self._pages(src), out, self.cfg,
                                  num_buckets=CRAWL_BUCKETS)
        t2 = time.perf_counter()
        with tr.span("resume.read"):
            labels, obs = funnel(read_labels(self.spark, out))
            with tr.span("pipeline.exec"):
                rows = language_rollup(labels).collect()
        t3 = time.perf_counter()
        everything = list(range(CRAWL_BUCKETS))
        if sorted(first["processed"]) != everything:
            raise CheckFailed(f"first run processed buckets {first['processed']}")
        if again["processed"] or sorted(again["skipped"]) != everything:
            raise CheckFailed(
                f"re-run processed {again['processed']}, skipped {again['skipped']}")
        check_conservation(obs.get, rows, n)
        self.snapshots.add(first["snapshot"])
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return JobResult(n, t3 - t0, text_bytes, {
            "resume.run_s": t1 - t0, "resume.skip_s": t2 - t1, "resume.read_s": t3 - t2,
            "resume.buckets_processed": len(first["processed"]),
            "resume.buckets_skipped": len(again["skipped"]),
        }), rows

    def label_rows(self, src):
        """The labels the last job wrote, read back as a crawl operator would."""
        return read_labels(self.spark, self.last_out).selectExpr(*LABEL_COLS).collect()

    def oracle_args(self, row):
        # the crawl reads the HTML body its WARC record carries
        return None, self.html[row[0]]


WORKLOADS = {w.name: w for w in (WebFilter, RepoScan, CrawlResume)}
