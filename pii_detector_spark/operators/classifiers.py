"""User-defined classifiers — the reference's extensibility surface.

Reproduces the DataClassifiers model (``app/schemas/data_classifiers.py:91-164``)
Spark-first:

* **custom content patterns** extend the detection battery at runtime: a
  ``CustomClassifier`` carries named regexes, a sensitivity level, and
  labels. The reference routes them to Hyperscan/RE2/re per classifier
  (``base_scan_service.py:93-149``); we compile everything into the single
  per-executor battery pass, and findings report
  ``is_custom_regex = name not in system entities``
  (``data_analysis_service.py:214``).
* **filename include/exclude classifiers** (``base_scan_service.py:565-619``):
  regex lists over the object name; exclude wins; include attaches labels.
  Expressed as plain ``rlike`` predicates + a label array column so Catalyst
  pushes the filters into the scan.

Sensitivity weights mirror ``data_classifiers.py:20-23``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_detector_spark.operators.scrub import (
    Match,
    compiled_secret_exclude,
    detect,
    with_detector_scrub,
)
from pii_detector_spark.patterns import ALL_PATTERNS, PatternSpec


@dataclass(frozen=True)
class CustomClassifier:
    """One user-defined content classifier (DataClassifiers analogue)."""

    name: str
    patterns: tuple[str, ...]
    sensitivity: str = "medium"  # low | medium | high | critical
    labels: tuple[str, ...] = field(default=())
    is_credential: bool = False  # route through SECRET_EXCLUDE suppression


def custom_battery(
    customs: tuple[CustomClassifier, ...]
) -> tuple[tuple[PatternSpec, "re.Pattern[str]"], ...]:
    """The custom classifiers' patterns, compiled, in declaration order."""
    return tuple(
        (
            PatternSpec(
                name=c.name,
                regex=p,
                kind="credential" if c.is_credential else "pii",
            ),
            re.compile(p),
        )
        for c in customs
        for p in c.patterns
    )


def detect_with_customs(
    text: str, customs: tuple[tuple[PatternSpec, "re.Pattern[str]"], ...]
) -> list[Match]:
    """The system battery (``scrub.detect``), then every custom pattern,
    indexed after the system categories (the scrub tie-break order).
    Custom patterns carry no gates: each is scanned in full."""
    if not text:
        return []
    out = detect(text)
    exclude = compiled_secret_exclude()
    for idx, (spec, rx) in enumerate(customs, start=len(ALL_PATTERNS)):
        is_cred = spec.kind == "credential"
        for m in rx.finditer(text):
            value = m.group()
            if not value:
                continue
            if is_cred and exclude.search(value):
                continue
            out.append((idx, spec.name, m.start(), m.end(), value))
    return out


def with_custom_scrub(
    df: DataFrame,
    customs: tuple[CustomClassifier, ...],
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Scrub with the battery extended by custom classifiers. The custom
    patterns compile once per executor (closure capture; lazy init)."""
    state: dict = {}

    def _detect(text: str) -> list[Match]:
        if "battery" not in state:
            state["battery"] = custom_battery(customs)
        return detect_with_customs(text, state["battery"])

    return with_detector_scrub(df, _detect, url_col, text_col)


# --- filename include/exclude classifiers (F3) ------------------------------

@dataclass(frozen=True)
class FilenameClassifier:
    """Regex lists over the object name; exclude wins; include attaches
    labels (``base_scan_service.py:565-619``)."""

    include: tuple[str, ...] = field(default=())
    exclude: tuple[str, ...] = field(default=())
    labels: tuple[str, ...] = field(default=())


def _any_rlike(col: Column, patterns: tuple[str, ...]) -> Column:
    out = F.lit(False)
    for p in patterns:
        out = out | col.rlike(p)
    return out


def apply_filename_classifiers(
    df: DataFrame,
    classifiers: tuple[FilenameClassifier, ...],
    url_col: str = "url",
) -> DataFrame:
    """Drop excluded urls; attach a ``labels`` array from matching includes.
    Exclude wins over include (reference semantics). Pure predicates —
    pushed into the scan."""
    url = F.col(url_col)
    for c in classifiers:
        if c.exclude:
            df = df.filter(~_any_rlike(url, c.exclude))
    label_arrays = [
        F.when(
            _any_rlike(url, c.include),
            F.array(*[F.lit(x) for x in c.labels]),
        ).otherwise(F.array().cast("array<string>"))
        for c in classifiers
        if c.include
    ]
    if label_arrays:
        labels = label_arrays[0]
        for arr in label_arrays[1:]:
            labels = F.concat(labels, arr)
        df = df.withColumn("labels", F.array_distinct(labels))
    else:
        df = df.withColumn("labels", F.array().cast("array<string>"))
    return df
