"""PII/credential detection + scrub — the engine's core operator.

Reference behavior reproduced (see SURVEY.md §2.3):

* one detection pass over the 28-category battery (``patterns.ALL_PATTERNS``)
  — the Spark-first analogue of the reference's Hyperscan/RE2/re cascade
  (``app/services/data_analysis_service.py:50-66``), with patterns compiled
  once per executor process instead of once per chunk
  (fixes ``worker_tasks/multiprocessing_tasks.py:34``).
* credential false-positive suppression on the matched span
  (``app/services/hyperscan_service.py:57-60``).
* finding post-processing: region tag, SHA-384 hash, mask, default score
  0.8, custom-vs-system flag (``data_analysis_service.py:197-226``).
* PHI flag over url + content (``data_analysis_service.py:86-100``).

Deterministic scrub spec (the reference masks only the extracted values; the
north rule additionally requires a scrubbed *document*):

1. Collect all matches of every category, in canonical category order.
2. Sort candidates by (start asc, span length desc, category index asc).
3. Greedily keep candidates that do not overlap an already-kept span
   (mirrors Hyperscan's longest-match-per-(id,start) dedup at
   ``hyperscan_service.py:62``, generalized across categories).
4. Replace each kept span with ``mask_value(category, span)``.

Findings are emitted for **all** matches (the reference emits every engine
match, overlapping or not); the non-overlap selection governs only the
rewritten text. Finding ids are deterministic: ``sha384(url|start|end|cat)``
prefixes instead of the reference's ``uuid4`` (reproducibility).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache, partial
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pii_detector_spark.functions.masking import (
    DEFAULT_SCORE,
    hash_value,
    is_custom_entity,
    mask_value,
    region_of,
)
from pii_detector_spark.functions.person import (
    PERSON_ENTITY,
    SCORE_FULL_NAME,
    detect_person,
)
from pii_detector_spark.patterns import (
    compiled_battery,
    compiled_phi,
    compiled_secret_exclude,
)

# (category_index, name, start, end, value)
Match = tuple[int, str, int, int, str]

# PERSON precedes the battery: the reference emits NER findings first
# (data_analysis_service.py:52-54, recognizer id 0 → analyzer.py:27), so the
# PERSON pseudo-category sorts before every battery index in the canonical
# order and in the scrub tie-break.
PERSON_CATEGORY_INDEX = -1


_DIGIT_RX = re.compile(r"\d")
# the code points (?i) matches to an ASCII letter that str.lower() does not
# lower to it (see patterns.PatternSpec)
_CASEFOLD = str.maketrans({"İ": "i", "ı": "i", "ſ": "s"})


@dataclass(frozen=True, slots=True)
class _Entry:
    """One battery category's gates and scan, compiled from its spec."""

    idx: int
    name: str
    needs_digit: bool
    guards_all: tuple[str, ...]
    guards: tuple[str, ...]
    guard: "re.Pattern[str] | None"
    guard_lowered: "re.Pattern[str] | None"
    is_cred: bool
    rx: "re.Pattern[str]"
    anchor: "re.Pattern[str] | None"


def _anchored_finditer(
    rx: "re.Pattern[str]", anchor: "re.Pattern[str]", text: str, lowered: str
) -> Iterator["re.Match[str]"]:
    """``rx.finditer(text)`` for a pattern whose matches start with
    whitespace then a keyword (``PatternSpec.anchor_rx``): one ``match``
    attempt per keyword start in ``lowered``, at the first position of the
    whitespace run before it that lies at or past the previous match's
    end."""
    end = 0
    k = anchor.search(lowered)
    while k is not None:
        p = k.start()
        if p >= end:
            while p > end and text[p - 1].isspace():
                p -= 1
            m = rx.match(text, p)
            if m is not None:
                end = m.end()
                yield m
        k = anchor.search(lowered, k.start() + 1)


def _compile(rx: str) -> "re.Pattern[str] | None":
    return re.compile(rx) if rx else None


@lru_cache(maxsize=1)
def _battery_plan() -> tuple[_Entry, ...]:
    """Per-spec gates and scans, compiled once per process."""
    plan = []
    for idx, (spec, rx) in enumerate(compiled_battery()):
        plan.append(
            _Entry(
                idx,
                spec.name,
                spec.needs_digit,
                spec.guards_all,
                spec.guards,
                _compile(spec.guard_rx),
                _compile(spec.guard_rx_lowered),
                spec.kind == "credential",
                rx,
                _compile(spec.anchor_rx),
            )
        )
    return tuple(plan)


def _doc_facts(text: str) -> tuple[str, bool]:
    """What the gates read, computed once per document: the text lowered
    with the case folds ``str.lower()`` misses (same length as ``text``),
    and whether it has a digit."""
    folded = text
    if "İ" in text or "ı" in text or "ſ" in text:
        folded = text.translate(_CASEFOLD)
    return folded.lower(), _DIGIT_RX.search(text) is not None


def _may_match(e: _Entry, text: str, lowered: str, has_digit: bool) -> bool:
    """False when a gate proves ``e`` cannot match ``text``."""
    if e.needs_digit and not has_digit:
        return False
    if e.guards_all and not all(g in lowered for g in e.guards_all):
        return False
    if e.guards and not any(g in lowered for g in e.guards):
        return False
    if e.guard is not None and e.guard.search(text) is None:
        return False
    if e.guard_lowered is not None and e.guard_lowered.search(lowered) is None:
        return False
    return True


def _finditer(e: _Entry, text: str, lowered: str) -> Iterator["re.Match[str]"]:
    """``e``'s regex matches, as ``finditer`` over its regex returns them."""
    if e.anchor is None:
        return e.rx.finditer(text)
    return _anchored_finditer(e.rx, e.anchor, text, lowered)


def _scan(e: _Entry, text: str, lowered: str) -> list[Match]:
    """``e``'s matches: non-empty, and credential values that look like
    code suppressed."""
    exclude = compiled_secret_exclude().search
    out = []
    for m in _finditer(e, text, lowered):
        value = m.group()
        if value and not (e.is_cred and exclude(value)):
            out.append((e.idx, e.name, m.start(), m.end(), value))
    return out


def detect(text: str, include_person: bool = False) -> list[Match]:
    """All matches in canonical category order (PERSON first when enabled,
    then the battery). ``include_person=False`` mirrors the reference's
    rescan mode, which skips NER (data_analysis_service.py:47)."""
    if not text:
        return []
    out: list[Match] = []
    if include_person:
        for value, start, end, _score in detect_person(text):
            out.append((PERSON_CATEGORY_INDEX, PERSON_ENTITY, start, end, value))
    lowered, has_digit = _doc_facts(text)
    for e in _battery_plan():
        if _may_match(e, text, lowered, has_digit):
            out += _scan(e, text, lowered)
    return out


def select_scrub_spans(matches: list[Match]) -> list[Match]:
    """Non-overlapping span selection: start asc, longest first, category
    order as tie-break."""
    chosen: list[Match] = []
    last_end = -1
    for m in sorted(matches, key=lambda m: (m[2], -(m[3] - m[2]), m[0])):
        if m[2] >= last_end:
            chosen.append(m)
            last_end = m[3]
    return chosen


def scrub_text(text: str, matches: list[Match] | None = None) -> str:
    """Rewrite text with every selected span replaced by its masked form."""
    if not text:
        return text
    if matches is None:
        matches = detect(text)
    spans = select_scrub_spans(matches)
    if not spans:
        return text
    parts: list[str] = []
    pos = 0
    for _, name, start, end, value in spans:
        parts.append(text[pos:start])
        parts.append(mask_value(name, value))
        pos = end
    parts.append(text[pos:])
    return "".join(parts)


def build_findings(url: str, matches: list[Match]) -> list[dict]:
    """Reference FileData records (``app/schemas/file_data.py:96-122``).

    Scores: regex findings default to 0.8 (data_analysis_service.py:205's
    no-score fallback); PERSON findings carry the detector's rounded model
    score, which after the >=0.8 floor is always SCORE_FULL_NAME (0.9) in
    the deterministic detector. PERSON is also is_custom_regex=True via
    is_custom_entity — the reference omits 'PERSON' from system_entities
    (regex_patterns.py:214-217), a quirk kept for parity."""
    recs = []
    for _, name, start, end, value in matches:
        recs.append(
            {
                "id": hash_value(f"{url}|{start}|{end}|{name}")[:32],
                "pii_type": name,
                "pii_region": region_of(name),
                "score": SCORE_FULL_NAME if name == PERSON_ENTITY else DEFAULT_SCORE,
                "is_custom_regex": is_custom_entity(name),
                "pii_hash": hash_value(value),
                "pii_data": mask_value(name, value),
                "start": start,
                "end": end,
            }
        )
    return recs


# every alternation branch of PHI_PATTERN requires one of these literal
# stems, so a document containing none of them cannot match — the plain
# substring screen (C-level str.__contains__) skips the slow alternation
# regex on the overwhelmingly common PHI-free path (~3x on the fused UDF's
# is_phi share; semantics pinned by the scrub_documents oracle)
_PHI_STEMS = (
    "health", "medical", "immun", "pharmacy", "disease", "patient",
    "insura", "rh", "mrn", "phi",
)


def _phi_screen(s: str) -> bool:
    low = s.lower()
    return any(stem in low for stem in _PHI_STEMS)


def is_phi(url: str, text: str) -> bool:
    rx = compiled_phi()
    u, t = url or "", text or ""
    if not (_phi_screen(u) or _phi_screen(t)):
        return False
    return bool(rx.search(u) or rx.search(t))


FINDING_TYPE = StructType(
    [
        StructField("id", StringType()),
        StructField("pii_type", StringType()),
        StructField("pii_region", StringType()),
        StructField("score", DoubleType()),
        StructField("is_custom_regex", BooleanType()),
        StructField("pii_hash", StringType()),
        StructField("pii_data", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
    ]
)

SCRUB_RESULT_TYPE = StructType(
    [
        StructField("scrubbed_text", StringType()),
        StructField("findings", ArrayType(FINDING_TYPE)),
        StructField("is_phi", BooleanType()),
    ]
)


def with_detector_scrub(
    df, detector, url_col: str = "url", text_col: str = "text"
):
    """Attach scrubbed_text / findings / is_phi columns to a documents df,
    the matches of each text found by ``detector(text)``, in one
    Arrow-batched scalar pandas UDF (each Arrow batch is one call)."""

    def _scrub_batch(urls: pd.Series, texts: pd.Series) -> pd.DataFrame:
        scrubbed: list[str] = []
        findings: list[list[dict]] = []
        phi: list[bool] = []
        for url, text in zip(urls, texts):
            t = text or ""
            matches = detector(t)
            scrubbed.append(scrub_text(t, matches))
            findings.append(build_findings(url or "", matches))
            phi.append(is_phi(url or "", t))
        return pd.DataFrame(
            {"scrubbed_text": scrubbed, "findings": findings, "is_phi": phi}
        )

    udf = F.pandas_udf(
        _scrub_batch, returnType=SCRUB_RESULT_TYPE
    ).asNondeterministic()
    res = udf(F.col(url_col), F.col(text_col))
    return (
        df.withColumn("_scrub", res)
        .withColumn("scrubbed_text", F.col("_scrub.scrubbed_text"))
        .withColumn("findings", F.col("_scrub.findings"))
        .withColumn("is_phi", F.col("_scrub.is_phi"))
        .drop("_scrub")
    )


def with_scrub(
    df,
    url_col: str = "url",
    text_col: str = "text",
    include_person: bool = False,
):
    """Attach scrubbed_text / findings / is_phi columns to a documents df.

    ``include_person=True`` adds the NER-analogue PERSON detector (P4/F13)
    ahead of the battery, as the reference does on first scans.  The
    battery compiles lazily once per executor (lru_cache in patterns.py)."""
    detector = partial(detect, include_person=include_person)
    return with_detector_scrub(df, detector, url_col, text_col)


# findings-table column names that differ from the FINDING_TYPE field's
FINDINGS_RENAMES = {"id": "finding_id", "pii_data": "pii_masked"}


def findings_table(docs: pa.RecordBatch) -> pa.RecordBatch:
    """Explode a batch of documents' findings into flat findings-table rows
    (reference sink K1 shape, ``base_scan_service.py:930-941``): the
    document's url, then each FINDING_TYPE field, ``FINDINGS_RENAMES``
    applied.  Documents with no findings list contribute no rows."""
    findings = docs.column("findings")
    flat = pc.list_flatten(findings)
    urls = docs.column("url").take(pc.list_parent_indices(findings))
    return pa.RecordBatch.from_arrays(
        [urls, *flat.flatten()],
        names=["url", *[FINDINGS_RENAMES.get(f.name, f.name) for f in flat.type]],
    )
