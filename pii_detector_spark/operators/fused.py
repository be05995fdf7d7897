"""Single-pass fused document processor — the pipeline's hot path.

One row loop (``fused_columns``) computes, per document: HTML text
extraction, quality metrics, language-ID + perplexity, the
first-failing-rule keep/drop decision, and the gated PII scrub.  A
pipeline run calls it inside its write task's ``mapInArrow``, which also
writes the files; ``with_fused_processing`` wraps the same loop in an
Arrow-batched pandas UDF for plans that want the columns.  Rationale at
scale:

* one JVM→Python trip per batch for the whole chain (the text column is
  the wide payload; shipping it across Arrow once matters), and in a run
  the output never comes back: the task writes it where it was computed,
* one Python worker per task, so at N cores the job runs a few threads
  per core, which is what lets N→4N scaling efficiency hold on a
  fixed-size machine,
* zero per-row Python on the Spark side (north-rule), all artifacts
  (regex battery, language models) compiled once per executor process.

Semantics are identical to the composable operators (``operators/quality``,
``operators/langid``, ``operators/scrub``) and are pinned three ways: the
pure-Python oracle in ``tests/oracle.py`` (independent reimplementation),
the JVM expression implementation (driver-query oracle vs DuckDB), and the
unit suites. Metric definitions follow quality.py's documented tokenization
spec (reference behavior citations in scrub.py / patterns.py).
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pii_detector_spark.config import QualityThresholds
from pii_detector_spark.functions.langmodels import lang_and_perplexity
from pii_detector_spark.functions.textnorm import extract_text_from_html
from pii_detector_spark.functions.toxicity import TOXIC_SET
from pii_detector_spark.operators.quality import (
    BULLET_PREFIXES,
    ELLIPSIS_SUFFIXES,
    STOPWORDS,
)
from pii_detector_spark.operators.scrub import (
    FINDING_TYPE,
    build_findings,
    detect,
    is_phi,
    scrub_text,
)

_WS = re.compile(r"[ \t\n\r\f\x0b]+")
_STOPSET = set(STOPWORDS)


def _char_tables():
    """(is_alpha, is_ws) full-Unicode lookup tables for the vectorized
    word metrics below — the ord-table pattern of the langid scorer.
    ``chr(cp).isalpha()`` is the exact Java ``\\p{L}`` analogue the JVM
    metrics use. The 1.1M-codepoint build costs ~0.9 s, so the table is
    cached to a machine-local file (atomic rename): the first python
    worker on a machine builds it, every later worker loads in ~1 ms —
    otherwise each of N task workers would pay the build inside its first
    Arrow batch."""
    global _ALPHA_TAB, _WS_TAB
    import numpy as np

    if "_ALPHA_TAB" in globals():
        return _ALPHA_TAB, _WS_TAB
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), "pii_detector_spark_alpha_tab_v1.npy"
    )
    alpha = None
    if os.path.exists(path):
        try:
            alpha = np.load(path)
            if alpha.shape != (0x110000,) or alpha.dtype != np.bool_:
                alpha = None
        except Exception:
            alpha = None
    if alpha is None:
        alpha = np.zeros(0x110000, dtype=bool)
        for cp in range(0x110000):
            if chr(cp).isalpha():
                alpha[cp] = True
        try:
            tmp = f"{path}.{os.getpid()}.tmp"
            np.save(tmp, alpha)
            os.replace(f"{tmp}.npy" if os.path.exists(f"{tmp}.npy") else tmp, path)
        except Exception:
            pass  # cache is best-effort; the in-process table is correct
    ws = np.zeros(0x110000, dtype=bool)
    for c in " \t\n\r\f\x0b":
        ws[ord(c)] = True
    _ALPHA_TAB, _WS_TAB = alpha, ws
    return alpha, ws


def _word_char_stats(text: str) -> tuple[int, int]:
    """(total word chars, words containing >=1 letter) in one vectorized
    pass — replaces the per-char ``any(c.isalpha() ...)`` Python loop that
    dominated the metric block (same trick as the langid numpy scorer;
    lone surrogates encode to '?', which is non-ws non-alpha exactly like
    the surrogate itself, so word structure is unchanged)."""
    import numpy as np

    alpha_tab, ws_tab = _char_tables()
    codes = np.frombuffer(
        text.encode("utf-32-le", "replace"), dtype="<u4"
    ).astype(np.int64)
    ws = ws_tab[codes]
    nonws = ~ws
    starts = nonws.copy()
    starts[1:] &= ws[:-1]
    letters = alpha_tab[codes]
    word_id = np.cumsum(starts)
    w = word_id[letters]
    # w is nondecreasing, so "distinct word ids" = nonzero first differences
    alpha_words = int(np.count_nonzero(np.diff(w))) + 1 if w.size else 0
    return int(np.count_nonzero(nonws)), alpha_words


def process_document(url: str, text: str, t: QualityThresholds) -> dict:
    """Full per-document decision + scrub (pure function; one doc)."""
    # One C-level lower of the whole doc replaces a .lower() per word:
    # case mapping never produces or consumes the whitespace chars in _WS
    # (and Python's final-sigma context is the same at a word end as at a
    # string end), so the split structure and the lowered-word set are
    # identical to splitting first and lowering each word.
    words = [w for w in _WS.split(text.lower()) if w]
    lines = [ln for ln in text.split("\n") if ln]
    nw, nl = len(words), len(lines)

    char_sum, alpha_words = _word_char_stats(text) if nw else (0, 0)
    mean_wl = (char_sum / nw) if nw else 0.0
    symbol_ratio = (
        (text.count("#") + text.count("…") + text.count("...")) / nw
        if nw
        else 0.0
    )
    bullet = (
        sum(1 for ln in lines if ln.startswith(BULLET_PREFIXES)) / nl
        if nl
        else 0.0
    )
    ellipsis = (
        sum(1 for ln in lines if ln.endswith(ELLIPSIS_SUFFIXES)) / nl
        if nl
        else 0.0
    )
    alpha = (alpha_words / nw) if nw else 0.0
    dup = (1.0 - len(set(lines)) / nl) if nl else 0.0
    lowered = set(words)
    stop_hits = len(lowered & _STOPSET)
    toxic = not lowered.isdisjoint(TOXIC_SET)
    lang, ppl = lang_and_perplexity(text)
    ppl = min(ppl, 1e9)

    reason = None
    if nw == 0:
        reason = "empty"
    elif nw < t.min_words:
        reason = "too_short"
    elif nw > t.max_words:
        reason = "too_long"
    elif mean_wl < t.min_mean_word_len or mean_wl > t.max_mean_word_len:
        reason = "word_length"
    elif symbol_ratio > t.max_symbol_ratio:
        reason = "symbol_ratio"
    elif bullet > t.max_bullet_line_frac:
        reason = "bullet_lines"
    elif ellipsis > t.max_ellipsis_line_frac:
        reason = "ellipsis_lines"
    elif alpha < t.min_alpha_word_frac:
        reason = "low_alpha"
    elif dup > t.max_dup_line_frac:
        reason = "repetition"
    elif lang not in t.allowed_langs:
        reason = "language"
    elif stop_hits < t.min_stopword_hits:
        reason = "stopwords"
    elif ppl > t.max_perplexity:
        reason = "perplexity"
    elif toxic:
        reason = "toxicity"

    keep = reason is None
    if keep:
        # include_person: first scans run the NER analogue, like the
        # reference's MITIE pass (data_analysis_service.py:47-54)
        matches = detect(text, include_person=True)
        scrubbed = scrub_text(text, matches)
        findings = build_findings(url, matches)
    else:
        scrubbed = None
        findings = None

    return {
        "lang_pred": lang,
        "perplexity": ppl,
        "n_words": nw,
        "n_lines": nl,
        "n_chars": len(text),
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "bullet_line_frac": bullet,
        "ellipsis_line_frac": ellipsis,
        "alpha_word_frac": alpha,
        "dup_line_frac": dup,
        "stopword_hits": stop_hits,
        "has_toxic_word": toxic,
        "keep": keep,
        "drop_reason": reason,
        "is_phi": is_phi(url, text),
        "scrubbed_text": scrubbed,
        "findings": findings,
        "content_md5": hashlib.md5(text.encode("utf-8")).hexdigest(),
    }


# NOTE: the extracted text itself is deliberately NOT in the result struct:
# a UDF's output struct is Arrow-serialized whole (Catalyst cannot prune
# struct fields out of a Python runner), and no sink consumes the raw text —
# content_md5 and scrubbed_text carry everything downstream needs.
FUSED_RESULT_TYPE = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("perplexity", DoubleType()),
        StructField("n_words", LongType()),
        StructField("n_lines", LongType()),
        StructField("n_chars", LongType()),
        StructField("mean_word_len", DoubleType()),
        StructField("symbol_ratio", DoubleType()),
        StructField("bullet_line_frac", DoubleType()),
        StructField("ellipsis_line_frac", DoubleType()),
        StructField("alpha_word_frac", DoubleType()),
        StructField("dup_line_frac", DoubleType()),
        StructField("stopword_hits", LongType()),
        StructField("has_toxic_word", BooleanType()),
        StructField("keep", BooleanType()),
        StructField("drop_reason", StringType()),
        StructField("is_phi", BooleanType()),
        StructField("scrubbed_text", StringType()),
        StructField("findings", ArrayType(FINDING_TYPE)),
        StructField("content_md5", StringType()),
        StructField("n_findings", LongType()),
    ]
)


def fused_columns(urls, htmls, texts, thresholds: QualityThresholds) -> dict:
    """The per-row loop of every fused pass: one list per
    ``FUSED_RESULT_TYPE`` field (columnar assembly; pandas row-dict
    inference costs ~20% of a batch at this width).  A row's text is its
    extracted html, or its ``text`` when the html is null."""
    names = [f.name for f in FUSED_RESULT_TYPE.fields]
    cols: dict[str, list] = {n: [] for n in names}
    for url, h, t in zip(urls, htmls, texts):
        d = process_document(
            url or "",
            extract_text_from_html(h) if h is not None else (t or ""),
            thresholds,
        )
        d["n_findings"] = len(d["findings"]) if d["findings"] is not None else 0
        for n in names:
            cols[n].append(d[n])
    return cols


def text_fallback():
    """The ``text`` argument of a fused pass: ``text`` only where ``html``
    is null.  The pass reads text ONLY then, so the redundant copy never
    crosses the Arrow boundary (guide §4.1: control the columns, and the
    bytes, that cross)."""
    return (
        F.when(F.col("html").isNull(), F.col("text"))
        .otherwise(F.lit(None).cast("string"))
        .alias("text")
    )


def make_fused_udf(thresholds: QualityThresholds):
    """Build the fused UDF.  The thresholds ship in its closure; the regex
    battery and language models are module-level ``lru_cache`` artifacts
    that compile lazily once per executor Python worker."""

    def _fused_batch(
        urls: pd.Series, htmls: pd.Series, texts: pd.Series
    ) -> pd.DataFrame:
        return pd.DataFrame(fused_columns(urls, htmls, texts, thresholds))

    return F.pandas_udf(_fused_batch, returnType=FUSED_RESULT_TYPE).asNondeterministic()


def with_fused_processing(
    df: DataFrame, thresholds: QualityThresholds | None = None
) -> DataFrame:
    """Attach every pipeline output column in one UDF pass. Expects
    (url, html, text) columns; html may be null (text fallback)."""
    udf = make_fused_udf(thresholds or QualityThresholds())
    # ONE projection: each withColumn would re-run the analyzer over the
    # whole plan, 20 times per run; and "_d.*" expands the struct's fields
    # in order on the JVM side, where 20 aliased Columns each cost a py4j
    # round trip
    out = df.withColumn("_d", udf(F.col("url"), F.col("html"), text_fallback()))
    fused = [f.name for f in FUSED_RESULT_TYPE.fields]
    replaced = {"html", "text", "_d", *fused}
    return out.select(*[c for c in df.columns if c not in replaced], "_d.*")
