"""Interleaved A/B runs of the pipeline benchmark in two checkouts.

    python3 scripts/ab_perfbench.py PARENT_DIR CHANGE_DIR --workload resume_delta --pairs 10 --seed 100

Pair ``i`` runs ``perfbench/run.py --workload W --seed S+i --trace 0`` once
in each checkout, the parent first on even pairs and the change first on odd
ones, so drift on a shared host falls on both sides alike. Every run records
the cores available (``nproc``) and the 1-minute load average at its start
and end, and goes to stderr as it finishes. The last stdout line is one JSON
object: for each side and end-to-end metric (from ``BENCHMARK.json``) the
median and quartiles, the pairs the change won per metric, the failed run
counts, and every run. A run whose process fails counts as one failed run.
Stdlib only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def run_once(checkout: str, workload: str, seed: int) -> dict:
    rec = {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "load1_start": os.getloadavg()[0],
    }
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=1200,
    )
    rec["load1_end"] = os.getloadavg()[0]
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        rec.update(attempted=1, failed=1, metrics={},
                   error=proc.stderr.strip().splitlines()[-3:])
        return rec
    result = json.loads(lines[-1])
    rec.update(
        attempted=result["attempted"],
        failed=result["failed"],
        metrics={k: v["value"] for k, v in result["metrics"].items()},
    )
    return rec


def summarize(values: list[float]) -> dict:
    if len(values) < 2:
        q1 = med = q3 = values[0] if values else None
    else:
        q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    dirs = dict(zip(SIDES, (os.path.abspath(args.parent_dir),
                            os.path.abspath(args.change_dir))))
    with open(os.path.join(dirs["parent"], "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}

    runs: dict[str, list[dict]] = {side: [] for side in SIDES}
    for i in range(args.pairs):
        for side in SIDES if i % 2 == 0 else SIDES[::-1]:
            rec = run_once(dirs[side], args.workload, args.seed + i)
            rec["pair"] = i
            runs[side].append(rec)
            print(json.dumps({"side": side, **rec}), file=sys.stderr, flush=True)

    summary = {}
    wins = {}
    for metric, direction in better.items():
        summary[metric] = {
            side: summarize([r["metrics"][metric] for r in runs[side]
                             if metric in r["metrics"]])
            for side in SIDES
        }
        sign = -1 if direction == "lower" else 1
        wins[metric] = sum(
            1
            for p, c in zip(runs["parent"], runs["change"])
            if metric in p["metrics"] and metric in c["metrics"]
            and sign * (c["metrics"][metric] - p["metrics"][metric]) > 0
        )
    print(json.dumps({
        "workload": args.workload,
        "pairs": args.pairs,
        "seeds": [args.seed, args.seed + args.pairs - 1],
        "metrics": summary,
        "change_wins": wins,
        "failed": {side: sum(r["failed"] for r in runs[side]) for side in SIDES},
        "attempted": {side: sum(r["attempted"] for r in runs[side])
                      for side in SIDES},
        "runs": runs,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
