"""Output check for one committed pipeline run, read back with pyarrow.

Runs after every timed run, outside the timer. A run passes when:

* its docs rows are exactly the expected pending urls (for resume_delta,
  exactly the delta), and its lineage has as many rows;
* its metrics rows add up to the docs table (scanned, kept) and the
  findings table (PII hits);
* its ``_commits`` marker exists and the current snapshot lists it;
* on a seeded url sample, ``keep``, ``drop_reason`` and ``scrubbed_text``
  equal ``tests/oracle.py``'s independent ``oracle_decide``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import sys
from urllib.parse import quote

import pyarrow.parquet as pq

from pii_detector_spark.plans.snapshots import current_snapshot_id, load_snapshot

ORACLE_SAMPLE = 32
ORACLE_FIELDS = ("keep", "drop_reason", "scrubbed_text")


def _load_oracle(root: str):
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve types through it
    spec.loader.exec_module(mod)
    return mod.oracle_decide


def oracle_truth(root: str, docs, urls, seed: int) -> dict[str, tuple]:
    """``oracle_decide`` on a seeded sample of ``urls``; computed once per
    benchmark process, since every timed run processes the same urls."""
    oracle_decide = _load_oracle(root)
    by_url = {d.url: d for d in docs}
    sample = random.Random(seed).sample(sorted(urls), min(ORACLE_SAMPLE, len(urls)))
    truth = {}
    for url in sample:
        o = oracle_decide(url, by_url[url].text)
        truth[url] = (o.keep, o.drop_reason, o.scrubbed_text)
    return truth


def _partition(out_dir: str, table: str, run_id: str, columns: list[str]):
    path = os.path.join(out_dir, table, f"run_id={run_id}")
    if not os.path.isdir(path):  # a sink with no rows writes no partition
        return None
    return pq.read_table(path, columns=columns)


def check_run(
    out_dir: str, run_id: str, expected_urls: frozenset[str], truth: dict
) -> tuple[list[str], dict]:
    """Problems found in the run's outputs (none when the run is correct),
    and the run's docs / kept / PII-hit doc counts."""
    problems = []
    docs = _partition(
        out_dir, "docs", run_id, ["url", "n_findings", *ORACLE_FIELDS]
    )
    docs_rows = docs.to_pylist() if docs is not None else []
    urls = [r["url"] for r in docs_rows]
    if len(urls) != len(expected_urls) or set(urls) != expected_urls:
        problems.append(
            f"docs: {len(urls)} rows ({len(set(urls))} urls), "
            f"expected the {len(expected_urls)} pending urls"
        )

    lineage = _partition(out_dir, "lineage", run_id, ["url"])
    lineage_rows = lineage.num_rows if lineage is not None else 0
    if lineage_rows != len(urls):
        problems.append(f"lineage: {lineage_rows} rows != {len(urls)} docs rows")

    findings = _partition(out_dir, "findings", run_id, ["url"])
    findings_rows = findings.num_rows if findings is not None else 0
    metrics = _partition(
        out_dir, "metrics", run_id, ["docs_scanned", "docs_kept", "pii_hits"]
    )
    m_rows = metrics.to_pylist() if metrics is not None else []
    scanned = sum(r["docs_scanned"] for r in m_rows)
    kept = sum(r["docs_kept"] for r in m_rows)
    hits = sum(n for r in m_rows for _cat, n in (r["pii_hits"] or []))
    docs_kept = sum(1 for r in docs_rows if r["keep"])
    if scanned != len(urls) or kept != docs_kept:
        problems.append(
            f"metrics: scanned {scanned} / kept {kept}, "
            f"docs table has {len(urls)} / {docs_kept}"
        )
    if hits != findings_rows:
        problems.append(f"metrics: {hits} pii hits != {findings_rows} findings rows")

    if not os.path.exists(os.path.join(out_dir, "_commits", quote(run_id, safe=""))):
        problems.append("no _commits marker")
    sid = current_snapshot_id(out_dir)
    if sid is None or run_id not in load_snapshot(out_dir, sid).run_ids:
        problems.append(f"current snapshot {sid} does not list the run")

    got = {r["url"]: tuple(r[f] for f in ORACLE_FIELDS) for r in docs_rows}
    wrong = [u for u, want in truth.items() if got.get(u) != want]
    if wrong:
        problems.append(
            f"{len(wrong)}/{len(truth)} sampled docs differ from the oracle, "
            f"e.g. {wrong[0]}"
        )
    counts = {
        "docs": len(urls),
        "kept": docs_kept,
        "hit_docs": sum(1 for r in docs_rows if r["n_findings"]),
    }
    return problems, counts
