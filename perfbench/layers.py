"""Per-layer measurements for the traced run (``--trace 1``).

Every layer is timed from outside, around calls into the package's public
functions; no package code is instrumented. Spans (name, start, end,
parent) are kept in memory and written to one JSON file when the
benchmark ends. The layer -> end-to-end mapping is in ``README.md``.

Per-document ``_us`` metrics are single-thread timings in the benchmark
process over a fixed seeded sample of pending docs. Job and task counts
come from ``statusTracker()`` and are read after the timer stops.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pii_detector_spark.config import DEFAULT_CONFIG
from pii_detector_spark.functions.langmodels import lang_and_perplexity
from pii_detector_spark.functions.textnorm import extract_text_from_html
from pii_detector_spark.operators.fused import process_document
from pii_detector_spark.operators.scrub import (
    build_findings,
    detect,
    is_phi,
    scrub_text,
)
from pii_detector_spark.plans import checkpoint
from pii_detector_spark.plans.pipeline import (
    heal_uncommitted_runs,
    transform_web_pages,
    write_run_outputs,
)
from pii_detector_spark.plans.snapshots import (
    catch_up_snapshots,
    commit_run_snapshot,
    current_snapshot_id,
)
from pii_detector_spark.sources.web_pages import apply_prefilters, read_web_pages

PV = DEFAULT_CONFIG.pattern_version
PROBE_REPS = 2  # each Spark probe runs this often; its median is reported
DOC_SAMPLE = 300  # docs in the single-thread per-document sample
DOC_PASSES = 3  # passes over the sample; the fastest is reported

# metric -> (unit, better); the traced run reports exactly these
PER_LAYER = {
    "peak_rss_mb": ("MB", "lower"),
    "web_pages.scan_s": ("s", "lower"),
    "web_pages.rows_in": ("count", "higher"),
    "web_pages.rows_out": ("count", "higher"),
    "arrow.roundtrip_s": ("s", "lower"),
    "arrow.payload_bytes": ("bytes", "lower"),
    "fused.transform_s": ("s", "lower"),
    "fused.compute_s": ("s", "lower"),
    "fused.process_document_us": ("us", "lower"),
    "fused.other_us": ("us", "lower"),
    "fused.kept_frac": ("ratio", "higher"),
    "textnorm.extract_us": ("us", "lower"),
    "langmodels.lang_ppl_us": ("us", "lower"),
    "scrub.detect_us": ("us", "lower"),
    "scrub.scrub_text_us": ("us", "lower"),
    "scrub.build_findings_us": ("us", "lower"),
    "scrub.is_phi_us": ("us", "lower"),
    "scrub.matches_per_kept_doc": ("count", "higher"),
    "scrub.hit_doc_frac": ("ratio", "higher"),
    "pipeline.write_run_outputs_s": ("s", "lower"),
    "pipeline.write_run_outputs_jobs": ("count", "lower"),
    "pipeline.files_written": ("count", "lower"),
    "pipeline.bytes_written": ("bytes", "lower"),
    "pipeline.jobs_per_run": ("count", "lower"),
    "pipeline.tasks_per_run": ("count", "lower"),
    "pipeline.heal_s": ("s", "lower"),
    "snapshots.catch_up_s": ("s", "lower"),
    "snapshots.commit_s": ("s", "lower"),
    "snapshots.versions": ("count", "higher"),
    "checkpoint.antijoin_s": ("s", "lower"),
    "checkpoint.lineage_rows": ("count", "higher"),
    "checkpoint.pending_rows": ("count", "higher"),
    "trace.run_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.explained_frac": ("ratio", "higher"),
}


class Tracer:
    def __init__(self) -> None:
        self._t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()

    def median_s(self, name: str) -> float:
        return statistics.median(
            s["end"] - s["start"] for s in self.spans if s["name"] == name
        )

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**meta, "spans": self.spans}, fh, indent=1)


class JobCount:
    """Spark jobs, and their completed tasks, started since construction."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._before = set(self._tracker.getJobIdsForGroup(None))

    def read(self) -> tuple[int, int]:
        # listener events arrive asynchronously: drain them before reading
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        new = set(self._tracker.getJobIdsForGroup(None)) - self._before
        tasks = 0
        for job_id in new:
            job = self._tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = self._tracker.getStageInfo(stage_id)
                tasks += stage.numCompletedTasks if stage else 0
        return len(new), tasks


def traced_pipeline(spark, tracer: Tracer, input_path: str, out: str,
                    run_id: str, resume: bool) -> int:
    """``run_pipeline``'s steps, called one by one under spans."""
    with tracer.span("run"):
        with tracer.span("pipeline.heal"):
            heal_uncommitted_runs(spark, out)
        with tracer.span("snapshots.catch_up"):
            catch_up_snapshots(out)
        with tracer.span("plan"):
            pending = apply_prefilters(read_web_pages(spark, input_path))
            if resume:
                pending = checkpoint.anti_join_completed(
                    pending, checkpoint.read_lineage(spark, out), PV
                )
            docs = transform_web_pages(pending, DEFAULT_CONFIG, prefilter=False)
        with tracer.span("pipeline.write_run_outputs"):
            return write_run_outputs(spark, docs, out, run_id, PV)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_udf():
    # the fused UDF's argument shape (url, html, text-when-html-is-null);
    # returns its first argument, so only the boundary is paid
    return F.pandas_udf(lambda url, html, text: url, StringType())


def _text_arg():
    return F.when(F.col("html").isNull(), F.col("text")).otherwise(
        F.lit(None).cast("string")
    )


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def spark_layers(spark, tracer: Tracer, input_path: str, base_dir: str | None,
                 work: str) -> dict:
    """Scan, resume anti-join, Arrow boundary, fused transform and sinks,
    each timed alone over this workload's input (the delta's, on resume)."""
    m: dict[str, float] = {}

    def probe(name: str, fn):
        for _ in range(PROBE_REPS):
            with tracer.span(name):
                fn()
        return tracer.median_s(name)

    raw = read_web_pages(spark, input_path)
    scanned = apply_prefilters(raw)
    m["web_pages.scan_s"] = probe("web_pages.scan", lambda: _noop(scanned))
    m["web_pages.rows_in"] = raw.count()
    m["web_pages.rows_out"] = scanned.count()

    lineage = checkpoint.read_lineage(spark, base_dir) if base_dir else None
    pending = checkpoint.anti_join_completed(scanned, lineage, PV)
    m["checkpoint.antijoin_s"] = probe("checkpoint.antijoin", pending.count)
    m["checkpoint.lineage_rows"] = lineage.count() if lineage is not None else 0
    m["checkpoint.pending_rows"] = pending.count()

    args = (F.col("url"), F.col("html"), _text_arg())
    boundary = pending.select(_identity_udf()(*args).alias("u"))
    m["arrow.roundtrip_s"] = probe("arrow.roundtrip", lambda: _noop(boundary))
    m["arrow.payload_bytes"] = pending.select(
        F.sum(F.coalesce(F.octet_length(args[0]), F.lit(0))
              + F.coalesce(F.length(args[1]), F.lit(0))
              + F.coalesce(F.octet_length(args[2]), F.lit(0)))
    ).first()[0] or 0

    fused = transform_web_pages(pending, DEFAULT_CONFIG, prefilter=False)
    m["fused.transform_s"] = probe("fused.transform", lambda: _noop(fused))
    m["fused.compute_s"] = m["fused.transform_s"] - m["arrow.roundtrip_s"]

    # the sinks over a staged, already-materialized fused output: no UDF runs
    stage = os.path.join(work, "stage")
    fused.write.parquet(stage)
    staged = spark.read.parquet(stage)
    jobs = []
    for i in range(PROBE_REPS):
        sink_dir = os.path.join(work, f"sinks-{i}")
        count = JobCount(spark.sparkContext)
        with tracer.span("pipeline.write_run_outputs.staged"):
            write_run_outputs(spark, staged, sink_dir, "sink-probe", PV)
        jobs.append(count.read()[0])
    m["pipeline.write_run_outputs_s"] = tracer.median_s(
        "pipeline.write_run_outputs.staged")
    m["pipeline.write_run_outputs_jobs"] = statistics.median(jobs)
    m["pipeline.files_written"], m["pipeline.bytes_written"] = _tree_size(sink_dir)
    return m


def _best_us(fn, items) -> float:
    """Fastest of DOC_PASSES passes, in microseconds per item."""
    best = float("inf")
    for _ in range(DOC_PASSES):
        t = time.perf_counter_ns()
        for it in items:
            fn(*it)
        best = min(best, time.perf_counter_ns() - t)
    return best / 1_000 / max(len(items), 1)


def per_doc_layers(tracer: Tracer, docs, seed: int) -> dict:
    """Single-thread per-document costs of the fused UDF's steps."""
    t = DEFAULT_CONFIG.quality
    sample = random.Random(seed).sample(docs, min(DOC_SAMPLE, len(docs)))
    for d in sample:  # compile regexes and load models before timing
        process_document(d.url, d.text, t)
        extract_text_from_html(d.html)
    kept = [d for d in sample if process_document(d.url, d.text, t)["keep"]]
    matches = [detect(d.text, include_person=True) for d in kept]
    m: dict[str, float] = {}
    with tracer.span("per_doc"):
        m["textnorm.extract_us"] = _best_us(
            extract_text_from_html, [(d.html,) for d in sample])
        m["langmodels.lang_ppl_us"] = _best_us(
            lang_and_perplexity, [(d.text,) for d in sample])
        m["fused.process_document_us"] = _best_us(
            process_document, [(d.url, d.text, t) for d in sample])
        m["scrub.is_phi_us"] = _best_us(is_phi, [(d.url, d.text) for d in sample])
        m["scrub.detect_us"] = _best_us(
            lambda text: detect(text, include_person=True),
            [(d.text,) for d in kept])
        m["scrub.scrub_text_us"] = _best_us(
            scrub_text, [(d.text, ms) for d, ms in zip(kept, matches)])
        m["scrub.build_findings_us"] = _best_us(
            build_findings, [(d.url, ms) for d, ms in zip(kept, matches)])
    kept_frac = len(kept) / len(sample)
    m["fused.other_us"] = (
        m["fused.process_document_us"]
        - m["langmodels.lang_ppl_us"]
        - m["scrub.is_phi_us"]
        - kept_frac * (m["scrub.detect_us"] + m["scrub.scrub_text_us"]
                       + m["scrub.build_findings_us"])
    )
    m["scrub.matches_per_kept_doc"] = sum(map(len, matches)) / max(len(kept), 1)
    return m


def snapshot_layers(tracer: Tracer, out: str) -> dict:
    """Snapshot versions of a committed output dir, then the time of
    ``commit_run_snapshot`` on it."""
    m = {"snapshots.versions": current_snapshot_id(out) or 0}
    for i in range(3):
        with tracer.span("snapshots.commit"):
            commit_run_snapshot(out, f"commit-probe-{i}")
    m["snapshots.commit_s"] = tracer.median_s("snapshots.commit")
    return m
