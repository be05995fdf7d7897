"""Pipeline benchmark: the quality-filter + PII-scrub job end to end.

    python3 perfbench/run.py --workload fresh_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py [--seed 1 --seconds 10 --trace 0]   # every workload

Run from the repository root. Each workload is a closed loop: one
``run_pipeline`` call at a time, the next starting only after the previous
one finished and its output check passed. Inputs come from ``corpus.py``,
seeded by ``--seed``. After ``WARMUP_RUNS`` untimed runs, timed runs
repeat for ``--seconds`` (at least ``MIN_REPS`` of them) and the median is
reported.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer ones with ``--trace 1``). The line before it holds the run's
detail: corpus stats, every timed run, load averages. Without
``--workload`` every workload runs in its own process and a summary,
including ``scaling_eff``, follows.

Everything the benchmark writes stays under ``.perfbench_work/`` in the
repository: Spark's local and temp dirs, run outputs (removed on exit) and
the ``--trace 1`` span files (kept, in ``.perfbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WARMUP_RUNS = 1
MIN_REPS = 3
TRACED_RUNS = 2


@dataclass(frozen=True)
class Workload:
    cpus: int  # local[cpus]
    resume: bool  # timed runs resume over a committed base state


WORKLOADS = {
    # the users' main batch job: a full-size docs table through the fused UDF
    "fresh_mix": Workload(cpus=4, resume=False),
    # the same input and job single-threaded: the N -> 4N scaling baseline.
    # Not in BENCHMARK.json: its processes take twice as long as the others'
    # (see README.md)
    "fresh_mix_serial": Workload(cpus=1, resume=False),
    # the incremental rescan: 5% new urls over a base committed in 3 runs
    "resume_delta": Workload(cpus=4, resume=True),
}

END_TO_END = {
    "run_s": "s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
}


def isolate(work: str) -> None:
    """Point every temp, spill and worker path of this process and the JVM
    it starts under ``work``; must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_session(cpus: int, work: str):
    from pii_detector_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            # bench.py's split conf, so fresh_mix is its pipeline leaf's job
            "spark.sql.files.maxPartitionBytes": "393216",
            "spark.sql.files.openCostInBytes": "65536",
            "spark.driver.memory": "2g",
            # a heap sized up front: left to grow, it grew differently in
            # each JVM, and resume_delta's run_s spread twice as wide
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def bench_workload(name: str, seed: int, seconds: float, trace: bool,
                   work: str) -> tuple[dict, dict]:
    from checks import check_run, oracle_truth
    from corpus import write_corpus
    from procs import PeakRss, load1, stop_spark

    from pii_detector_spark.plans.pipeline import run_pipeline

    wl = WORKLOADS[name]
    corpus = write_corpus(os.path.join(work, "input"), seed)
    pending = corpus.delta_urls if wl.resume else corpus.base_urls | corpus.delta_urls
    truth = oracle_truth(ROOT, corpus.docs, pending, seed)
    base = os.path.join(work, "base")

    def prepare(tag: str) -> str:
        out = os.path.join(work, f"out-{tag}")
        if wl.resume:  # restore the committed base state, untimed
            shutil.copytree(base, out)
        return out

    def run(out: str, run_id: str) -> None:
        run_pipeline(spark, corpus.input_dir, out, run_id=run_id, resume=wl.resume)

    def checked(run_id: str, call) -> tuple[dict, str]:
        """One timed ``call(out, run_id)`` and its output check."""
        out = prepare(run_id)
        rep = {"run_id": run_id, "load1_start": load1()}
        t = time.perf_counter()
        try:
            call(out, run_id)
        except Exception:
            rep["problems"] = [traceback.format_exc(limit=3)]
        rep["run_s"] = time.perf_counter() - t
        rep["load1_end"] = load1()
        if rep.get("problems"):
            rep.update(docs=0, kept=0, hit_docs=0)
        else:
            rep["problems"], counts = check_run(out, run_id, pending, truth)
            rep.update(counts)
        return rep, out

    t0 = time.perf_counter()
    spark = start_session(wl.cpus, work)
    try:
        # setup: session start, the cold first run and, on resume, the
        # committed base state (one run per base chunk)
        if wl.resume:
            for k, chunk in enumerate(corpus.base_chunks):
                run_pipeline(spark, chunk, base, run_id=f"base-{k}", resume=True)
        else:
            run(prepare("cold"), "cold")
        setup_s = time.perf_counter() - t0

        # runs keep speeding up for a few runs after the cold one, while the
        # JVM's JIT and the Python workers warm; these are checked, not timed
        warm = []
        for k in range(WARMUP_RUNS):
            rep, out = checked(f"warm-{k}", run)
            warm.append(rep)
            shutil.rmtree(out)

        reps = []
        with PeakRss() if trace else contextlib.nullcontext() as rss:
            start = time.monotonic()
            while len(reps) < MIN_REPS or time.monotonic() - start < seconds:
                rep, out = checked(f"rep-{len(reps)}", run)
                reps.append(rep)
                shutil.rmtree(out)
        run_s = statistics.median(r["run_s"] for r in reps)
        metrics = {
            "run_s": run_s,
            "docs_per_s": len(pending) / run_s,
            "setup_s": setup_s,
        }
        if trace:
            metrics, traced, trace_file = trace_layers(
                spark, name, corpus, pending, checked, base, run_s, seed, work)
            metrics["peak_rss_mb"] = rss.peak_mb
            reps += traced
    finally:
        stop_spark(spark)

    runs = warm + reps
    for r in runs:
        for p in r["problems"]:
            print(f"{name} {r['run_id']}: {p}", file=sys.stderr)
    failed = sum(1 for r in runs if r["problems"])
    detail = {
        "workload": name,
        "seed": seed,
        "local": wl.cpus,
        "cores_available": len(os.sched_getaffinity(0)),
        "corpus": {
            **corpus.stats,
            "pending_docs": len(pending),
            "kept_frac": reps[-1]["kept"] / max(reps[-1]["docs"], 1),
        },
        "setup_s": setup_s,
        "failed_run_frac": failed / len(runs),
        "warmup": warm,
        "reps": reps,
    }
    if trace:
        detail["trace_file"] = trace_file
    return detail, {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": metrics,
    }


def trace_layers(spark, name, corpus, pending, checked, base, untraced_run_s,
                 seed, work) -> tuple[dict, list[dict], str]:
    """Traced runs, then each layer on its own (see ``layers.py``).
    Returns the per-layer metrics, the traced runs and the span file."""
    from layers import (
        JobCount,
        Tracer,
        per_doc_layers,
        snapshot_layers,
        spark_layers,
        traced_pipeline,
    )

    wl = WORKLOADS[name]
    tracer = Tracer()

    def traced_run(out: str, run_id: str) -> None:
        traced_pipeline(spark, tracer, corpus.input_dir, out, run_id, wl.resume)

    traced = []
    for j in range(TRACED_RUNS):
        count = JobCount(spark.sparkContext)
        rep, out = checked(f"traced-{j}", traced_run)
        rep["jobs"], rep["tasks"] = count.read()
        traced.append(rep)
        if j < TRACED_RUNS - 1:
            shutil.rmtree(out)
    m = {
        "trace.run_s": tracer.median_s("run"),
        "pipeline.heal_s": tracer.median_s("pipeline.heal"),
        "snapshots.catch_up_s": tracer.median_s("snapshots.catch_up"),
        "pipeline.jobs_per_run": statistics.median(r["jobs"] for r in traced),
        "pipeline.tasks_per_run": statistics.median(r["tasks"] for r in traced),
        "fused.kept_frac": rep["kept"] / max(rep["docs"], 1),
        "scrub.hit_doc_frac": rep["hit_docs"] / max(rep["docs"], 1),
        **snapshot_layers(tracer, out),
    }
    shutil.rmtree(out)
    m["trace.overhead_s"] = m["trace.run_s"] - untraced_run_s
    m["trace.explained_frac"] = statistics.median(
        sum(c["end"] - c["start"] for c in tracer.spans if c["parent"] == r["id"])
        / (r["end"] - r["start"])
        for r in tracer.spans
        if r["name"] == "run"
    )
    m.update(spark_layers(spark, tracer, corpus.input_dir,
                          base if wl.resume else None, work))
    m.update(per_doc_layers(
        tracer, [d for d in corpus.docs if d.url in pending], seed))

    path = os.path.join(WORK_ROOT, "traces",
                        f"{name}-seed{seed}-{os.getpid()}.json")
    tracer.dump(path, {"workload": name, "seed": seed})
    return m, traced, os.path.relpath(path, ROOT)


def run_all(args) -> int:
    """Every workload in its own process, then one summary."""
    results = {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr)
            print(f"{name}: failed with exit code {proc.returncode}", file=sys.stderr)
            return 1
        results[name] = json.loads(lines[-1])
        detail = json.loads(lines[-2])
        print(f"{name}: {results[name]['attempted']} runs")
        for metric, v in results[name]["metrics"].items():
            print(f"  {metric:34s} {v['value']:14.6g} {v['unit']}")
        print(f"  {'failed_run_frac':34s} {detail['failed_run_frac']:14.6g} ratio")
    summary = {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()},
    }
    if not args.trace:
        eff = (summary["metrics"]["fresh_mix.docs_per_s"]["value"]
               / (4 * summary["metrics"]["fresh_mix_serial.docs_per_s"]["value"]))
        summary["metrics"]["scaling_eff"] = {"value": eff, "unit": "ratio"}
        print(f"scaling_eff (fresh_mix vs 4 x fresh_mix_serial) {eff:.4f} ratio")
    print(json.dumps(summary))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload is None:
        return run_all(args)
    if not all(os.path.isfile(os.path.join(ROOT, p)) for p in (
            os.path.join("pii_detector_spark", "__init__.py"),
            os.path.join("tests", "oracle.py"))):
        print(f"perfbench: {ROOT} is not a checkout of the repository "
              "(pii_detector_spark/ and tests/oracle.py are missing)",
              file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        detail, result = bench_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        from layers import PER_LAYER

        units = {k: unit for k, (unit, _better) in PER_LAYER.items()}
    else:
        units = END_TO_END
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u}
                         for k, u in units.items()}
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
