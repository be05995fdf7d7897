"""Where ``scrub.detect()`` spends its time, category by category.

    python3 scripts/detect_ledger.py --seed 1 --docs 12600

Builds the perfbench corpus rows for ``--seed`` (``generate_rows``, the
web_pages prefilters, html extracted as the fused row loop does), keeps the
documents ``process_document`` keeps, and runs ``detect(text,
include_person=True)`` over them single-threaded. For every battery
category it prints microseconds per kept document, split into the gates
(``guard``), scans that found a match (``scan_hit``) and scans that found
none (``scan_miss``), plus how many documents were scanned and matched.
``doc_facts`` is the once-per-document lowering and digit/capital checks;
``PERSON`` is the name detector. ``detect()`` is then timed whole (best of
``--reps`` passes), so the ledger's sum can be checked against it.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.corpus import survives_prefilters  # noqa: E402
from pii_detector_spark.config import DEFAULT_CONFIG  # noqa: E402
from pii_detector_spark.functions.person import detect_person  # noqa: E402
from pii_detector_spark.functions.textnorm import (  # noqa: E402
    extract_text_from_html,
)
from pii_detector_spark.operators.fused import process_document  # noqa: E402
from pii_detector_spark.operators.scrub import (  # noqa: E402
    _battery_plan,
    _doc_facts,
    _may_match,
    _scan,
    detect,
)
from pii_detector_spark.sources.datagen import generate_rows  # noqa: E402


def kept_texts(seed: int, n_docs: int) -> list[str]:
    thresholds = DEFAULT_CONFIG.quality
    out = []
    for url, _ts, html, text, _lang in generate_rows(n_docs, seed):
        if not survives_prefilters(url, html, text):
            continue
        t = extract_text_from_html(html) if html is not None else (text or "")
        if process_document(url, t, thresholds)["keep"]:
            out.append(t)
    return out


def ledger(texts: list[str]) -> dict[str, list[float]]:
    """name -> [guard_ns, hit_ns, miss_ns, scanned, matched]."""
    clock = time.perf_counter_ns
    rows: dict[str, list[float]] = {
        n: [0, 0, 0, 0, 0] for n in ("doc_facts", "PERSON")
    }
    plan = _battery_plan()
    for e in plan:
        rows[e.name] = [0, 0, 0, 0, 0]
    for text in texts:
        t0 = clock()
        found = detect_person(text)
        t1 = clock()
        person = rows["PERSON"]
        person[1 if found else 2] += t1 - t0
        person[3] += 1
        person[4] += bool(found)
        facts = _doc_facts(text)
        rows["doc_facts"][0] += clock() - t1
        for e in plan:
            row = rows[e.name]
            t0 = clock()
            ok = _may_match(e, text, *facts)
            t1 = clock()
            row[0] += t1 - t0
            if not ok:
                continue
            found = _scan(e, text, facts[0])
            row[1 if found else 2] += clock() - t1
            row[3] += 1
            row[4] += bool(found)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=12_600)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    texts = kept_texts(args.seed, args.docs)
    for text in texts:  # compile and warm before timing
        detect(text, include_person=True)
    rows = ledger(texts)
    k = max(len(texts), 1)
    print(f"seed {args.seed}: {len(texts)} kept docs of {args.docs} rows")
    print(f"{'category':<24}{'guard':>9}{'scan_hit':>10}{'scan_miss':>10}"
          f"{'total':>9}{'scanned':>9}{'matched':>9}   (us per kept doc)")
    total = 0.0
    for name, (g, hit, miss, scanned, matched) in sorted(
        rows.items(), key=lambda kv: -sum(kv[1][:3])
    ):
        us = [x / 1_000 / k for x in (g, hit, miss)]
        total += sum(us)
        print(f"{name:<24}{us[0]:>9.1f}{us[1]:>10.1f}{us[2]:>10.1f}"
              f"{sum(us):>9.1f}{scanned:>9}{matched:>9}")
    print(f"{'ledger sum':<24}{total:>47.1f}")
    best = float("inf")
    for _ in range(args.reps):
        t0 = time.perf_counter_ns()
        for text in texts:
            detect(text, include_person=True)
        best = min(best, time.perf_counter_ns() - t0)
    print(f"{'detect() whole':<24}{best / 1_000 / k:>47.1f}")


if __name__ == "__main__":
    main()
