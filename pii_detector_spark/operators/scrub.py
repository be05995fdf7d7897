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
    compiled_guards,
    compiled_guards_lowered,
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
_UPPER_RX = re.compile(r"[A-Z]")

_BATTERY_PLAN = None


def _battery_plan():
    """Per-spec dispatch tuples hoisted out of the per-document loop:
    attribute lookups on 28 PatternSpec objects per document measurably
    add up in the fused hot path; the compiled artifacts are identical."""
    global _BATTERY_PLAN
    if _BATTERY_PLAN is None:
        guards = compiled_guards()
        guards_low = compiled_guards_lowered()
        _BATTERY_PLAN = [
            (
                idx,
                spec.name,
                spec.needs_digit,
                spec.needs_digit_or_upper,
                spec.guards_all,
                spec.guards,
                guards[idx],
                guards_low[idx],
                spec.kind == "credential",
                rx.finditer,
            )
            for idx, (spec, rx) in enumerate(compiled_battery())
        ]
    return _BATTERY_PLAN


def detect(text: str, include_person: bool = False) -> list[Match]:
    """All matches in canonical category order (PERSON first when enabled,
    then the battery). ``include_person=False`` mirrors the reference's
    rescan mode, which skips NER (data_analysis_service.py:47)."""
    if not text:
        return []
    out: list[Match] = []
    lowered = text.lower()
    has_digit = _DIGIT_RX.search(text) is not None
    has_upper = _UPPER_RX.search(text) is not None
    if include_person and has_upper:  # names require a capital letter
        for value, start, end, _score in detect_person(text):
            out.append((PERSON_CATEGORY_INDEX, PERSON_ENTITY, start, end, value))
    exclude_search = compiled_secret_exclude().search
    for (
        idx,
        name,
        needs_digit,
        needs_du,
        guards_all,
        guards_any,
        guard,
        guard_low,
        is_cred,
        finditer,
    ) in _battery_plan():
        if needs_digit and not has_digit:
            continue
        if needs_du and not (has_digit or has_upper):
            continue
        if guards_all and not all(g in lowered for g in guards_all):
            continue
        if guards_any and not any(g in lowered for g in guards_any):
            continue
        if guard is not None and guard.search(text) is None:
            continue
        if guard_low is not None and guard_low.search(lowered) is None:
            continue
        for m in finditer(text):
            value = m.group()
            if not value:
                continue
            if is_cred and exclude_search(value):
                continue
            out.append((idx, name, m.start(), m.end(), value))
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


def _make_scrub_batch(include_person: bool):
    def _scrub_batch(urls: pd.Series, texts: pd.Series) -> pd.DataFrame:
        scrubbed: list[str] = []
        findings: list[list[dict]] = []
        phi: list[bool] = []
        for url, text in zip(urls, texts):
            t = text or ""
            matches = detect(t, include_person=include_person)
            scrubbed.append(scrub_text(t, matches))
            findings.append(build_findings(url or "", matches))
            phi.append(is_phi(url or "", t))
        return pd.DataFrame(
            {"scrubbed_text": scrubbed, "findings": findings, "is_phi": phi}
        )

    return _scrub_batch


# Arrow-batched scalar pandas UDFs: the battery compiles lazily once per
# executor (lru_cache in patterns.py); each Arrow batch is one call.
scrub_udf = F.pandas_udf(
    _make_scrub_batch(include_person=False), returnType=SCRUB_RESULT_TYPE
).asNondeterministic()

scrub_person_udf = F.pandas_udf(
    _make_scrub_batch(include_person=True), returnType=SCRUB_RESULT_TYPE
).asNondeterministic()


def with_scrub(
    df,
    url_col: str = "url",
    text_col: str = "text",
    include_person: bool = False,
):
    """Attach scrubbed_text / findings / is_phi columns to a documents df.

    ``include_person=True`` adds the NER-analogue PERSON detector (P4/F13)
    ahead of the battery, as the reference does on first scans."""
    udf = scrub_person_udf if include_person else scrub_udf
    res = udf(F.col(url_col), F.col(text_col))
    return (
        df.withColumn("_scrub", res)
        .withColumn("scrubbed_text", F.col("_scrub.scrubbed_text"))
        .withColumn("findings", F.col("_scrub.findings"))
        .withColumn("is_phi", F.col("_scrub.is_phi"))
        .drop("_scrub")
    )


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
