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

    python3 scripts/detect_ledger.py --row-loop --seed 1 --docs 12600

``--row-loop`` instead times the whole fused row loop
(``operators/fused.py::fused_columns``) over every page that survives
the prefilters, in 2,000-row batches as a run's Arrow batches come, and
prints microseconds per page for each step: html extraction, the batch
scoring (language, perplexity, word statistics), the words/lines/rules
block, ``detect()``, scrub + findings, ``is_phi`` and the md5.  The last
four are timed again on their own beside each row's ``_document`` call,
and the rules block is that call's time minus them.  Best of ``--reps``
passes per step.
"""

from __future__ import annotations

import argparse
import hashlib
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
from pii_detector_spark.functions.langmodels import (  # noqa: E402
    lang_and_perplexity_batch,
)
from pii_detector_spark.operators.fused import (  # noqa: E402
    _document,
    _word_char_stats_batch,
    process_document,
)
from pii_detector_spark.operators.scrub import (  # noqa: E402
    _battery_plan,
    _doc_facts,
    _may_match,
    _scan,
    build_findings,
    detect,
    is_phi,
    scrub_text,
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


ROW_BATCH = 2_000  # build_session's default Arrow batch rows
ROW_STEPS = (
    "extract",
    "batch scoring",
    "words/lines/rules",
    "detect",
    "scrub+findings",
    "is_phi",
    "md5",
)


def row_loop(pages: list[tuple], reps: int) -> dict:
    """step -> best-of-``reps`` ns over ``pages`` (url, html, text)."""
    clock = time.perf_counter_ns
    thresholds = DEFAULT_CONFIG.quality
    best = dict.fromkeys(ROW_STEPS, float("inf"))
    for _ in range(reps):
        ns = dict.fromkeys(ROW_STEPS, 0)
        for lo in range(0, len(pages), ROW_BATCH):
            urls, htmls, texts = zip(*pages[lo : lo + ROW_BATCH])
            t0 = clock()
            docs = [
                extract_text_from_html(h) if h is not None else (t or "")
                for h, t in zip(htmls, texts)
            ]
            t1 = clock()
            langs, ppls = lang_and_perplexity_batch(docs)
            chars, alpha = _word_char_stats_batch(docs)
            ns["extract"] += t1 - t0
            ns["batch scoring"] += clock() - t1
            for url, text, *scores in zip(urls, docs, langs, ppls, chars, alpha):
                t0 = clock()
                d = _document(url, text, *scores, thresholds)
                t1 = clock()
                if d["keep"]:
                    matches = detect(text, include_person=True)
                    t2 = clock()
                    scrub_text(text, matches)
                    build_findings(url, matches)
                    t3 = clock()
                    ns["detect"] += t2 - t1
                    ns["scrub+findings"] += t3 - t2
                t3 = clock()
                is_phi(url, text)
                t4 = clock()
                hashlib.md5(text.encode("utf-8")).hexdigest()
                t5 = clock()
                ns["is_phi"] += t4 - t3
                ns["md5"] += t5 - t4
                ns["words/lines/rules"] += (t1 - t0) - (t5 - t1)
        best = {k: min(best[k], ns[k]) for k in ROW_STEPS}
    return best


def main_row_loop(args) -> None:
    pages = [
        (url, html, text)
        for url, _ts, html, text, _lang in generate_rows(args.docs, args.seed)
        if survives_prefilters(url, html, text)
    ]
    row_loop(pages[:ROW_BATCH], 1)  # compile and load before timing
    ns = row_loop(pages, args.reps)
    k = max(len(pages), 1)
    print(f"seed {args.seed}: {len(pages)} pending pages of {args.docs} rows")
    print(f"{'step':<24}{'us per page':>12}")
    for step in ROW_STEPS:
        print(f"{step:<24}{ns[step] / 1_000 / k:>12.1f}")
    print(f"{'row loop':<24}{sum(ns.values()) / 1_000 / k:>12.1f}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=12_600)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--row-loop", action="store_true",
                    help="time the fused row loop's steps instead")
    args = ap.parse_args()
    if args.row_loop:
        main_row_loop(args)
        return

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
