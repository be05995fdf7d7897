"""Single-pass fused document processor — the pipeline's hot path.

One row loop (``fused_columns``) computes, per document: HTML text
extraction, quality metrics, language-ID + perplexity, the
first-failing-rule keep/drop decision, and the gated PII scrub.  Both
plans run it per Arrow batch inside one ``mapInArrow``
(``plans/pipeline.py``'s ``_page_processor``): a pipeline run's write
tasks, which also write the files, and ``transform_web_pages``, which
returns the docs columns.  Rationale at scale:

* one JVM→Python trip per batch for the whole chain (the text column is
  the wide payload; shipping it across Arrow once matters), and in a run
  the output never comes back: the task writes it where it was computed,
* one Python worker per task, so at N cores the job runs a few threads
  per core, which is what lets N→4N scaling efficiency hold on a
  fixed-size machine,
* zero per-row Python on the Spark side (north-rule), all artifacts
  (regex battery, language models) compiled once per executor process.

This is the only implementation of the quality rules.  Its semantics are
pinned three ways: the pure-Python oracle in ``tests/oracle.py``
(independent reimplementation), the DuckDB oracle, which checks this pass
itself through the declared ``quality_metrics`` and ``quality_keep``
queries (both run ``transform_web_pages``), and the unit suites. Metric
definitions follow quality.py's documented tokenization spec (reference
behavior citations in scrub.py / patterns.py).
"""

from __future__ import annotations

import hashlib
import re
from functools import lru_cache

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
from pii_detector_spark.functions.langmodels import (
    codepoint_slices,
    codepoints_left,
    lang_and_perplexity_batch,
)
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
# what ``str.split()`` splits at besides ``_WS``'s six
_OTHER_SPACE = re.compile(
    "[\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)
_STOPSET = set(STOPWORDS)


@lru_cache(maxsize=1)
def _char_classes():
    """Class of every code point for the vectorized word metrics below:
    1 whitespace (``_WS``'s six), 2 letter (``str.isalpha``, the
    ``\\p{L}`` analogue the oracle SQL uses), 0 anything else.  The
    letters are what ``\\w`` keeps after ``\\d`` and '_' (every letter,
    plus about a thousand numeric signs ``isalpha`` then drops), found by
    one regex pass over all code points."""
    import numpy as np

    classes = np.zeros(0x110000, dtype=np.uint8)
    letters = codepoints_left(r"[\W\d_]+")
    classes[letters] = 2
    classes[[cp for cp in letters.tolist() if not chr(cp).isalpha()]] = 0
    classes[[ord(c) for c in " \t\n\r\f\x0b"]] = 1
    return classes


def _word_char_stats_batch(texts: list[str]) -> tuple[list[int], list[int]]:
    """Per text: (non-whitespace chars, words containing >=1 letter), a
    slice of texts at a time.  A slice joins its texts with one space, so
    no word crosses a text boundary; the words are numbered by one cumsum
    over the word starts, and each text's counts are differences of
    prefix counts at its bounds, exact integers.  Lone surrogates encode
    to '?', which is non-ws non-letter exactly like the surrogate itself,
    so word structure is unchanged."""
    import numpy as np

    classes = _char_classes()
    chars: list[int] = []
    alpha_words: list[int] = []
    for lo, hi in codepoint_slices([len(t) + 1 for t in texts]):
        codes = np.frombuffer(
            " ".join(texts[lo:hi]).encode("utf-32-le", "replace"), dtype="<u4"
        ).astype(np.intp)
        cls = classes[codes]
        nonws = cls != 1
        starts = nonws.copy()
        starts[1:] &= ~nonws[:-1]
        word_id = np.cumsum(starts)
        letters = np.flatnonzero(cls == 2)
        w = word_id[letters]
        # w is nondecreasing: a word's first letter is where w steps up
        first = letters[np.flatnonzero(np.diff(w, prepend=0))]
        lens = np.fromiter((len(t) for t in texts[lo:hi]), np.intp, hi - lo)
        bounds = np.empty(2 * len(lens), dtype=np.intp)
        bounds[1::2] = np.cumsum(lens + 1) - 1  # end of each text
        bounds[0::2] = bounds[1::2] - lens
        spaces = np.diff(np.searchsorted(np.flatnonzero(~nonws), bounds))
        chars += (lens - spaces[0::2]).tolist()
        alpha_words += np.diff(np.searchsorted(first, bounds))[0::2].tolist()
    return chars, alpha_words


def _document(
    url: str,
    text: str,
    lang: str,
    ppl: float,
    char_sum: int,
    alpha_words: int,
    t: QualityThresholds,
) -> dict:
    """The per-document rules, decision and gated scrub, given the text's
    batch-computed language, perplexity and word statistics."""
    # One C-level lower of the whole doc replaces a .lower() per word:
    # case mapping never produces or consumes the whitespace chars in _WS
    # (and Python's final-sigma context is the same at a word end as at a
    # string end), so the split structure and the lowered-word set are
    # identical to splitting first and lowering each word.  Where the doc
    # holds no space ``_WS`` leaves alone, ``str.split()`` is the same
    # split at a third of the regex's cost.
    lowered = text.lower()
    if _OTHER_SPACE.search(lowered) is None:
        words = lowered.split()
    else:
        words = [w for w in _WS.split(lowered) if w]
    lines = [ln for ln in text.split("\n") if ln]
    nw, nl = len(words), len(lines)

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
    distinct = set(words)
    stop_hits = len(distinct & _STOPSET)
    toxic = not distinct.isdisjoint(TOXIC_SET)
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
        "n_findings": len(findings) if findings is not None else 0,
    }


def process_document(url: str, text: str, t: QualityThresholds) -> dict:
    """Full per-document decision + scrub (pure function; one doc): the
    fused row loop over a batch of one."""
    return {k: v[0] for k, v in fused_columns([url], [None], [text], t).items()}


# NOTE: the extracted text itself is deliberately NOT a result column: a
# Python pass's output is Arrow-serialized whole (Catalyst cannot prune
# columns out of a Python runner), and no sink consumes the raw text —
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
    """The row loop of every fused pass: one list per
    ``FUSED_RESULT_TYPE`` field, each of which becomes one Arrow array
    (columnar assembly; row dicts cost more at this width).  A row's text
    is its extracted html, or its ``text`` when the html is null.  Language,
    perplexity and the word statistics are computed for the whole batch
    first (one numpy pass each, not ~15 small calls per document)."""
    docs = [
        extract_text_from_html(h) if h is not None else (t or "")
        for h, t in zip(htmls, texts)
    ]
    langs, ppls = lang_and_perplexity_batch(docs)
    chars, alpha_words = _word_char_stats_batch(docs)
    names = [f.name for f in FUSED_RESULT_TYPE.fields]
    cols: dict[str, list] = {n: [] for n in names}
    for url, text, lang, ppl, n_chars, n_alpha in zip(
        urls, docs, langs, ppls, chars, alpha_words
    ):
        d = _document(url or "", text, lang, ppl, n_chars, n_alpha, thresholds)
        for n in names:
            cols[n].append(d[n])
    return cols
