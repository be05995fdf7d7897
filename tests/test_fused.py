"""Pure-Python parity: the fused per-document processor must agree with the
independent oracle on every field, for every document class the generator
produces — no Spark session needed, so this is the fastest full-semantics
regression."""

from __future__ import annotations

import math
import re

from pii_detector_spark.config import QualityThresholds
from pii_detector_spark.operators.fused import process_document
from pii_detector_spark.sources.datagen import generate_rows
from tests.oracle import oracle_decide, oracle_scrub


def test_fused_matches_oracle_on_generated_corpus():
    t = QualityThresholds()
    n_checked = 0
    for url, _ts, _html, text, _lang in generate_rows(400, seed=7):
        got = process_document(url, text, t)
        want = oracle_decide(url, text, t)
        assert got["keep"] == want.keep, url
        assert got["drop_reason"] == want.drop_reason, url
        assert got["lang_pred"] == want.lang_pred, url
        assert got["is_phi"] == want.is_phi, url
        assert got["scrubbed_text"] == want.scrubbed_text, url
        for k, v in want.metrics.items():
            g = got[k]
            if isinstance(v, float):
                assert math.isclose(g, v, rel_tol=1e-12), (url, k, g, v)
            else:
                assert g == v, (url, k, g, v)
        n_checked += 1
    assert n_checked == 400


def test_fused_findings_match_oracle_scrub():
    t = QualityThresholds()
    for url, _ts, _html, text, _lang in generate_rows(150, seed=11):
        got = process_document(url, text, t)
        if not got["keep"]:
            assert got["findings"] is None
            continue
        _scrubbed, want = oracle_scrub(text)
        assert len(got["findings"]) == len(want)
        for g, w in zip(
            sorted(got["findings"], key=lambda f: (f["start"], f["end"], f["pii_type"])),
            sorted(want, key=lambda f: (f["start"], f["end"], f["pii_type"])),
        ):
            assert g["pii_type"] == w["pii_type"]
            assert g["pii_data"] == w["pii_masked"]
            assert g["pii_hash"] == w["pii_hash"]
            assert (g["start"], g["end"]) == (w["start"], w["end"])


def test_empty_and_edge_documents():
    t = QualityThresholds()
    for text, reason in [("", "empty"), ("   ", "empty"), ("one two", "too_short")]:
        got = process_document("u", text, t)
        assert got["keep"] is False
        assert got["drop_reason"] == reason
        assert got["scrubbed_text"] is None


def test_fused_columns_equal_one_doc_calls():
    """The batch row loop over 2,000 datagen pages (html extracted, text
    fallback) gives every column ``repr``-equal to ``process_document``
    on each page alone, a batch of one."""
    from pii_detector_spark.functions.textnorm import extract_text_from_html
    from pii_detector_spark.operators.fused import (
        FUSED_RESULT_TYPE,
        fused_columns,
    )

    t = QualityThresholds()
    rows = list(generate_rows(2000, seed=17))
    urls, htmls, texts = ([r[i] for r in rows] for i in (0, 2, 3))
    fallback = [x if h is None else None for h, x in zip(htmls, texts)]
    cols = fused_columns(urls, htmls, fallback, t)
    names = [f.name for f in FUSED_RESULT_TYPE.fields]
    assert list(cols) == names
    for i, (url, h, x) in enumerate(zip(urls, htmls, texts)):
        text = extract_text_from_html(h) if h is not None else (x or "")
        one = process_document(url, text, t)
        for n in names:
            assert repr(cols[n][i]) == repr(one[n]), (url, n)


_WS_RX = re.compile(r"[ \t\n\r\f\x0b]+")


def _word_char_stats_naive(text: str) -> tuple[int, int]:
    """The per-character loop the vectorized word metrics replace."""
    words = [w for w in _WS_RX.split(text) if w]
    return sum(map(len, words)), sum(any(c.isalpha() for c in w) for w in words)


def test_word_char_stats_batch_matches_loop():
    from pii_detector_spark.operators.fused import _word_char_stats_batch
    from tests.test_langid import _EDGE_DOCS

    docs = _EDGE_DOCS + ["x\x1cy z w", "a1 22 b_c ½ ²x", " lead trail "]
    chars, alpha = _word_char_stats_batch(docs)
    assert list(zip(chars, alpha)) == [_word_char_stats_naive(d) for d in docs]


def test_char_tables_match_str_predicates():
    """The regex-built class table equals ``str.isalpha`` and ``_WS`` on
    every code point, and ``_OTHER_SPACE`` is exactly what ``str.split()``
    splits at besides ``_WS``."""
    from pii_detector_spark.operators.fused import _OTHER_SPACE, _char_classes

    classes = _char_classes().tolist()
    for cp in range(0x110000):
        c = chr(cp)
        ws = c in " \t\n\r\f\x0b"
        want = 1 if ws else 2 if c.isalpha() else 0
        assert classes[cp] == want, hex(cp)
        assert bool(_OTHER_SPACE.match(c)) == (c.isspace() and not ws), hex(cp)


def test_words_split_at_ws_only():
    """Docs with spaces ``_WS`` does not split at (no-break, ideographic,
    file separator) count words as the ``_WS`` split does."""
    from pii_detector_spark.operators.fused import _STOPSET as STOPSET

    t = QualityThresholds()
    for text in ["a\xa0b c d", "x\u3000y\x1cz w", "plain words only", "Σ\u2009ΣΣ a"]:
        want = [w for w in _WS_RX.split(text.lower()) if w]
        got = process_document("u", text, t)
        assert got["n_words"] == len(want), repr(text)
        assert got["stopword_hits"] == len(set(want) & STOPSET), repr(text)
