"""Seeded load generator: base chunks plus a delta, from ONE datagen stream.

``generate_rows(BASE_DOCS + DELTA_DOCS, seed)`` is cut into ``BASE_CHUNKS``
base files and one delta file. datagen urls are keyed by row index
(``/{cls}/{i:08d}.html``), so drawing the delta from a second seed would
repeat base urls instead of adding new ones.

Every workload reads the same input directory (all base chunks plus the
delta). ``resume_delta`` first commits the base chunks as successive runs,
so its timed run has exactly the delta pending.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pii_detector_spark.sources.datagen import WEB_PAGES_PA_SCHEMA, generate_rows
from pii_detector_spark.sources.web_pages import (
    BLOCKED_EXT_RX,
    LOG_PATH_RX,
    MAX_HTML_BYTES,
)

BASE_DOCS = 12_000
DELTA_DOCS = 600  # 5% new urls on top of the base
BASE_CHUNKS = 3  # the base is committed as this many successive runs
# as bench.py: small row groups, so the scan splits into several tasks/core
ROW_GROUP = 250

_BLOCKED = re.compile(BLOCKED_EXT_RX)
_LOG = re.compile(LOG_PATH_RX)
_CLASS = re.compile(r"^https://[^/]+/([a-z_]+)/\d{8}\.html$")


@dataclass(frozen=True)
class Doc:
    url: str
    html: bytes
    text: str


@dataclass
class Corpus:
    input_dir: str  # every base chunk plus the delta
    base_chunks: list[str]  # one parquet file per base history run
    docs: list[Doc]  # generation order; the delta is the tail
    base_urls: frozenset[str]  # base urls that survive the prefilters
    delta_urls: frozenset[str]  # delta urls that survive the prefilters
    stats: dict


def survives_prefilters(url: str, html: bytes | None, text: str | None) -> bool:
    """The web_pages prefilters, restated in Python from the same patterns
    (Spark ``rlike`` is an unanchored search, like ``re.search``)."""
    if _BLOCKED.search(url) or _LOG.search(url):
        return False
    if html is None and text is None:
        return False
    return html is None or len(html) <= MAX_HTML_BYTES


def _write(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, WEB_PAGES_PA_SCHEMA)],
        schema=WEB_PAGES_PA_SCHEMA,
    )
    pq.write_table(table, path, compression="snappy", row_group_size=ROW_GROUP)


def write_corpus(input_dir: str, seed: int) -> Corpus:
    rows = list(generate_rows(BASE_DOCS + DELTA_DOCS, seed))
    os.makedirs(input_dir)
    step = -(-BASE_DOCS // BASE_CHUNKS)
    chunks = []
    for k, lo in enumerate(range(0, BASE_DOCS, step)):
        path = os.path.join(input_dir, f"base-{k}.parquet")
        _write(path, rows[lo : min(lo + step, BASE_DOCS)])
        chunks.append(path)
    _write(os.path.join(input_dir, "delta.parquet"), rows[BASE_DOCS:])

    survivors = [
        i for i, (url, _ts, html, text, _lang) in enumerate(rows)
        if survives_prefilters(url, html, text)
    ]
    classes = Counter(
        m.group(1) if (m := _CLASS.match(rows[i][0])) else "other"
        for i in survivors
    )
    stats = {
        "seed": seed,
        "rows": len(rows),
        "base_rows": BASE_DOCS,
        "delta_rows": DELTA_DOCS,
        "prefilter_drops": len(rows) - len(survivors),
        "class_mix": dict(sorted(classes.items())),
    }
    return Corpus(
        input_dir=input_dir,
        base_chunks=chunks,
        docs=[Doc(url, html, text) for url, _ts, html, text, _lang in rows],
        base_urls=frozenset(rows[i][0] for i in survivors if i < BASE_DOCS),
        delta_urls=frozenset(rows[i][0] for i in survivors if i >= BASE_DOCS),
        stats=stats,
    )
