"""Pure-Python single-process oracle (FIXTURES.md §2).

Independently reimplements the engine's *decision semantics* — detection
loop, SECRET_EXCLUDE suppression, masking tiers, span selection, scrub
rebuild, quality metrics, and the first-failing-rule keep/drop — sharing
only declared *data artifacts* with the engine:

* the regex battery pattern strings (``patterns.ALL_PATTERNS``)
* the langid/perplexity model functions (``functions/langmodels.py``) —
  model scores are artifacts like the patterns; the oracle re-decides the
  rules on top of them
* the stopword / toxic word / bullet constant lists

Everything else here is written from the documented spec, not from the
engine's code, so a Spark-side implementation bug cannot self-certify.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from pii_detector_spark.config import QualityThresholds
from pii_detector_spark.functions.langmodels import perplexity, predict_lang
from pii_detector_spark.functions.person import (
    FIRST_NAMES,
    MIN_PERSON_SCORE,
    SCORE_FULL_NAME,
    SCORE_LONE_FIRST_NAME,
)
from pii_detector_spark.functions.toxicity import TOXIC_SET
from pii_detector_spark.operators.quality import (
    BULLET_PREFIXES,
    ELLIPSIS_SUFFIXES,
    STOPWORDS,
)
from pii_detector_spark.patterns import (
    ALL_PATTERNS,
    PHI_PATTERN,
    SECRET_EXCLUDE,
)

_WS = re.compile(r"[ \t\n\r\f\x0b]+")
_EXCL = re.compile(SECRET_EXCLUDE, re.IGNORECASE)
_PHI = re.compile(PHI_PATTERN, re.IGNORECASE)
_ALNUM = re.compile(r"[A-Za-z0-9]")
_ALPHA = re.compile(r"[^\W\d_]", re.UNICODE)

_COMPILED = [(i, p.name, p.kind, re.compile(p.regex)) for i, p in enumerate(ALL_PATTERNS)]


def oracle_mask(entity: str, value: str) -> str:
    if value == "":
        return ""
    stars = lambda s: _ALNUM.sub("*", s)  # noqa: E731
    if "EMAIL" in entity and "@" in value:
        pieces = value.split("@")
        if len(pieces) != 2:
            return value  # reference swallows the unpack error
        domain = pieces[1]
        if entity == "EMAIL_ADDRESS":
            keep_tail = domain.rsplit(".", 1)[-1]
            head = 1
        else:
            keep_tail = domain
            head = 2
        cut = len(value) - len(keep_tail)
        return value[:head] + stars(value[head:cut]) + keep_tail
    if entity in ("US_SSN", "PERSON"):
        if len(value) <= 4:
            return value[0] + stars(value[1:])
        if len(value) <= 6:
            return value[:2] + stars(value[2:])
        return value[:2] + stars(value[2:-2]) + value[-2:]
    return stars(value)


# optional title + name token(s) (the PERSON candidate
# shape; FIRST_NAMES / score constants are shared data artifacts like the
# regex strings — the decision loop below is independent)
_O_NAME = r"[A-ZÀ-ÖØ-Þ][a-zß-öø-ÿ]+(?:-[A-ZÀ-ÖØ-Þ][a-zß-öø-ÿ]+)*"
_CAPRUN = re.compile(
    r"(?:\b(Dr|Mr|Mrs|Ms|Prof|Rev|Sir)\.?[ \t]+)?"
    rf"\b({_O_NAME})((?:[ \t]+{_O_NAME})?)"
)


def oracle_person(text: str) -> list[tuple[int, str, int, int, str]]:
    found = []
    for m in _CAPRUN.finditer(text):
        if m.group(1):
            score = SCORE_FULL_NAME
        else:
            if m.group(2).split("-", 1)[0] not in FIRST_NAMES:
                continue
            score = SCORE_FULL_NAME if m.group(3) else SCORE_LONE_FIRST_NAME
        if round(score, 1) < MIN_PERSON_SCORE:
            continue
        found.append(
            (-1, "PERSON", m.start(2), m.end(), text[m.start(2) : m.end()])
        )
    return found


def oracle_detect(
    text: str, include_person: bool = False
) -> list[tuple[int, str, int, int, str]]:
    found = []
    if include_person:
        found.extend(oracle_person(text))
    for idx, name, kind, rx in _COMPILED:
        for m in rx.finditer(text):
            v = m.group(0)
            if v == "":
                continue
            if kind == "credential" and _EXCL.search(v):
                continue
            found.append((idx, name, m.start(), m.end(), v))
    return found


def oracle_scrub(
    text: str, include_person: bool = False
) -> tuple[str, list[dict]]:
    matches = oracle_detect(text, include_person=include_person)
    findings = [
        {
            "pii_type": name,
            "pii_region": (
                "USA" if name[:2] == "US" else "India" if name[:2] == "IN" else "All"
            ),
            "score": SCORE_FULL_NAME if name == "PERSON" else 0.8,
            "pii_hash": hashlib.sha384(v.encode("utf-8")).hexdigest(),
            "pii_masked": oracle_mask(name, v),
            "start": s,
            "end": e,
        }
        for _, name, s, e, v in matches
    ]
    # span selection: start asc, longest first, category order tie-break
    ordered = sorted(matches, key=lambda t: (t[2], t[2] - t[3], t[0]))
    pieces = []
    cursor = 0
    taken_end = -1
    for idx, name, s, e, v in ordered:
        if s < taken_end:
            continue
        pieces.append(text[cursor:s])
        pieces.append(oracle_mask(name, v))
        cursor = e
        taken_end = e
    pieces.append(text[cursor:])
    return "".join(pieces), findings


def oracle_is_phi(url: str, text: str) -> bool:
    return bool(_PHI.search(url) or _PHI.search(text))


@dataclass
class OracleDoc:
    url: str
    keep: bool
    drop_reason: str | None
    lang_pred: str
    scrubbed_text: str | None
    findings: list[dict] = field(default_factory=list)
    is_phi: bool = False
    metrics: dict = field(default_factory=dict)


def oracle_decide(
    url: str, text: str, t: QualityThresholds = QualityThresholds()
) -> OracleDoc:
    words = [w for w in _WS.split(text) if w]
    lines = [ln for ln in text.split("\n") if ln]
    nw, nl = len(words), len(lines)

    mean_wl = (sum(len(w) for w in words) / nw) if nw else 0.0
    symbols = text.count("#") + text.count("…") + text.count("...")
    symbol_ratio = (symbols / nw) if nw else 0.0
    bullet_frac = (
        sum(1 for ln in lines if ln.startswith(BULLET_PREFIXES)) / nl if nl else 0.0
    )
    ellipsis_frac = (
        sum(1 for ln in lines if ln.endswith(ELLIPSIS_SUFFIXES)) / nl if nl else 0.0
    )
    alpha_frac = (
        sum(1 for w in words if _ALPHA.search(w)) / nw if nw else 0.0
    )
    dup_frac = (1.0 - len(set(lines)) / nl) if nl else 0.0
    lowered = {w.lower() for w in words}
    stop_hits = len(lowered & set(STOPWORDS))
    toxic = bool(lowered & TOXIC_SET)
    lang = predict_lang(text)
    ppl = min(perplexity(text), 1e9)

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
    elif bullet_frac > t.max_bullet_line_frac:
        reason = "bullet_lines"
    elif ellipsis_frac > t.max_ellipsis_line_frac:
        reason = "ellipsis_lines"
    elif alpha_frac < t.min_alpha_word_frac:
        reason = "low_alpha"
    elif dup_frac > t.max_dup_line_frac:
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
    # include_person: mirrors the engine's first-scan NER pass (fused.py)
    scrubbed, findings = (
        oracle_scrub(text, include_person=True) if keep else (None, [])
    )
    return OracleDoc(
        url=url,
        keep=keep,
        drop_reason=reason,
        lang_pred=lang,
        scrubbed_text=scrubbed,
        findings=findings,
        is_phi=oracle_is_phi(url, text),
        metrics={
            "n_words": nw,
            "n_lines": nl,
            "mean_word_len": mean_wl,
            "symbol_ratio": symbol_ratio,
            "bullet_line_frac": bullet_frac,
            "ellipsis_line_frac": ellipsis_frac,
            "alpha_word_frac": alpha_frac,
            "dup_line_frac": dup_frac,
            "stopword_hits": stop_hits,
            "has_toxic_word": toxic,
            "perplexity": ppl,
        },
    )


def oracle_shingles(text: str | None) -> set[str]:
    """Distinct word 5-grams of the whitespace-normalized text, each
    joined by one space (the spec ``dedup.shingles_col`` implements)."""
    words = [w for w in _WS.split(text or "") if w]
    return {" ".join(words[i : i + 5]) for i in range(len(words) - 4)}


def oracle_near_dedup(
    texts: dict[str, str | None],
) -> dict[str, tuple[str, bool]]:
    """Keep-one near-dup over ``{url: scrubbed_text}``: 5-word shingles,
    12 MinHash minima ``min(md5(f"{i}:{shingle}"))``, candidates sharing
    any of 4 bands of 3 minima, verified at raw-shingle Jaccard ≥ 0.7;
    clusters by union-find, the min url canonical.
    Returns ``{url: (component, is_canonical)}``, component = min url."""
    sh = {u: oracle_shingles(t) for u, t in texts.items()}
    buckets: dict[tuple, list[str]] = {}
    for u, s in sh.items():
        if not s:
            continue
        mh = [
            min(hashlib.md5(f"{i}:{x}".encode()).hexdigest() for x in s)
            for i in range(12)
        ]
        for b in range(4):
            buckets.setdefault((b, *mh[3 * b : 3 * b + 3]), []).append(u)

    parent = {u: u for u in texts}

    def find(u: str) -> str:
        while parent[u] != u:
            u = parent[u]
        return u

    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                inter = len(sh[a] & sh[b])
                if inter / (len(sh[a]) + len(sh[b]) - inter) >= 0.7:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    return {u: (find(u), find(u) == u) for u in texts}
