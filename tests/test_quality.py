"""Quality-metric regressions: CRLF line semantics and letterless blobs.

The fused pass (operators/fused.py), the one implementation of the quality
rules, and the pure-Python oracle (tests/oracle.py) must agree on every
metric, including texts the sf corpora never contain: CRLF line endings,
Unicode line separators, and long letterless runs.
"""

from __future__ import annotations

import math
import time

from pii_detector_spark.config import QualityThresholds
from pii_detector_spark.functions.langmodels import LANGS
from pii_detector_spark.operators.fused import fused_columns, process_document
from tests.oracle import oracle_decide

METRIC_COLS = (
    "n_words",
    "n_lines",
    "mean_word_len",
    "symbol_ratio",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "alpha_word_frac",
    "dup_line_frac",
    "stopword_hits",
    "has_toxic_word",
)

NASTY_TEXTS = (
    # CRLF: '\r' must not anchor ^/$ — 'foo...\r' is NOT an ellipsis line and
    # '\r- x' is NOT a bullet line under the split('\n') spec
    "foo...\r\nbar\r\n- item\r\nplain",
    "- real bullet\r\nreal ellipsis...\nmixed…\r\n* second",
    # Unicode line separators (NEL / LS / PS): plain chars, not line breaks
    "a...b  - c d ...",
    # line-separator chars adjacent to bullet/ellipsis markers
    "  line sep...  - x",
    # CR-only line endings
    "one...\rtwo...\r- three",
    # empty / whitespace-only
    "",
    "\r\n\r\n",
    # ordinary mixed content
    "- b1\n* b2\nplain...\nend…\nnormal line",
)


def test_quality_metrics_crlf_parity():
    n = len(NASTY_TEXTS)
    cols = fused_columns(
        [f"u{i}" for i in range(n)], [None] * n, list(NASTY_TEXTS),
        QualityThresholds(),
    )
    for i, text in enumerate(NASTY_TEXTS):
        exp = oracle_decide(f"u{i}", text).metrics
        for c in METRIC_COLS:
            g, e = cols[c][i], exp[c]
            if isinstance(e, float):
                assert abs(g - e) < 1e-9, (i, c, g, e, text)
            else:
                assert g == e, (i, c, g, e, text)


def test_keep_decision_crlf_parity():
    """CRLF text must reach the same keep/drop as the oracle's rules."""
    # the language and perplexity rules are off: every label allowed, no
    # perplexity too high
    t = QualityThresholds(allowed_langs=(*LANGS, "unk"), max_perplexity=math.inf)
    # ellipsis-heavy CRLF doc: under \n-split semantics the '...' lines end
    # with '\r' so they are NOT ellipsis lines; the doc must not be dropped
    # for ellipsis_lines
    text = ("the words be to of and a in that have it with more padding "
            "line one...\r\nline two...\r\nline three...\r\n") * 3
    row = process_document("u1", text, t)
    exp = oracle_decide("u1", text)
    assert row["drop_reason"] != "ellipsis_lines"
    assert row["ellipsis_line_frac"] == 0.0
    assert (row["drop_reason"] or None) == (
        exp.drop_reason if exp.drop_reason not in ("language", "perplexity") else None
    )


def test_alpha_word_frac_letterless_blob_linear():
    """A multi-hundred-KB letterless word must not stall the pass (a
    per-word letter search must stay linear in the word's length)."""
    blob = "1234567890;:-+" * 30000  # ~420 KB, no letters
    t0 = time.time()
    row = process_document("u0", f"word {blob} word", QualityThresholds())
    assert time.time() - t0 < 30.0
    assert row["n_words"] == 3
    assert abs(row["alpha_word_frac"] - 2 / 3) < 1e-9
