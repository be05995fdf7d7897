"""PII / credential regex battery — the semantic payload of the engine.

The pattern *strings* reproduce the reference battery (behavioral parity is a
hard requirement; these are data, not code):

* 13 PII patterns    — reference ``app/core/regex_patterns.py:196-212``
* 15 credential sets — reference ``app/core/regex_patterns.py:175-193``
* SECRET_EXCLUDE false-positive suppressor — ``app/core/regex_patterns.py:127``
* PHI heuristic      — ``app/services/data_analysis_service.py:38-41``

Engine note: the reference routes patterns across Hyperscan / RE2 / Python
``re`` (``app/services/base_scan_service.py:93-149``). We standardize on
Python ``re`` inside Arrow-batched pandas UDFs — a feature superset of what
these patterns need — and our oracle uses the same engine, so the suite is
self-consistent.  One dialect fix was required: Python 3.11 rejects a global
inline ``(?i)`` that is not at the start of the expression (US_PASSPORT), so
that flag is rewritten as the scoped, semantically-equivalent ``(?i:...)``.

Category ORDER below is canonical: detection, finding emission, and the
scrub overlap-resolution tie-break all use it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache


@dataclass(frozen=True)
class PatternSpec:
    r"""One battery category: the reference's pattern string plus the
    necessary conditions ``scrub.detect()`` checks before, or uses for,
    the full scan.  Every gate is implied by every possible match, so a
    gated scan returns exactly what ``finditer`` over the bare regex
    returns; ``tests/test_scrub.py`` pins that spec by spec against the
    ungated compile and the guard-free oracle.

    **Case folding.**  ``guards``, ``guards_all``, ``guard_rx_lowered``
    and ``anchor_rx`` read a lowered copy of the text, but ``(?i)``
    matches more than ``str.lower()`` gives: ``ı`` (U+0131) and ``İ``
    (U+0130) match ``i``, and ``ſ`` (U+017F) matches ``s``, while
    ``lower()`` keeps ``ı`` and ``ſ`` and turns ``İ`` into ``i`` plus
    U+0307.  So ``detect()`` maps ``İ``/``ı``→``i`` and ``ſ``→``s``
    before lowering, whenever one of them occurs.  Over every code point,
    these are the only ones where ``(?i)`` and ``lower()`` disagree on an
    ASCII letter (the Kelvin sign lowers to ``k``), and ``İ`` is the only
    one ``lower()`` lengthens; so afterwards the copy has the text's
    length, and its char at ``p`` is an ASCII letter exactly when the
    text's char at ``p`` matches that letter under ``(?i)``.

    **Anchored scan.**  ``anchor_rx`` is a lowercase keyword alternation.
    Instead of trying every position, ``detect()`` finds each keyword
    start in the lowered copy, steps back over the whitespace run before
    it (never past the end of the previous match; ``str.isspace()`` is
    ``\s`` on every code point) and calls ``regex.match`` there.  This is
    exact for a pattern whose every branch is ``\s*`` or ``\s+`` then one
    of the keywords, that cannot match the empty string, and that has no
    ``\b``, ``^`` or lookbehind: a match at a later position of the same
    whitespace run implies one at its first position, which ``finditer``
    would try first.
    """

    name: str
    regex: str
    kind: str  # "pii" | "credential"
    # any-of substring guard over the folded lowered text (see above).
    # Empty tuple = always scan.
    guards: tuple[str, ...] = field(default=())
    # every possible match contains a digit, so a document with no digits
    # skips the pattern (one C-level scan amortized over the battery)
    needs_digit: bool = False
    # all-of substring guard over the folded lowered text, e.g. the
    # mandatory '=' of an assignment-shaped credential
    guards_all: tuple[str, ...] = field(default=())
    # regex-valued guard searched against the text: a substring every
    # branch of the pattern must contain. Start it with ONE class or
    # literal (``[0-9][0-9]{3}``, not ``[0-9]{4}``; every branch of an
    # alternation a literal): only then does ``re`` skip to candidate
    # positions at C speed, 2-3x faster on prose. Scoped ``(?i:...)``
    # where the pattern is caseless, so the guard folds exactly as the
    # pattern does. Empty = no regex guard.
    guard_rx: str = ""
    # like guard_rx, but searched against the folded lowered text, so a
    # guard for a caseless pattern can drop (?i) and keep the engine's
    # literal-prefix skip.
    guard_rx_lowered: str = ""
    # first-character class of every possible match (e.g. "[0-9]"):
    # compiled_battery wraps the unchanged regex as (?=first_rx)(?:regex),
    # one class test per position instead of entering every branch. Only
    # worth it when the class is RARE in prose (digits/uppercase) — a
    # letter-class gate is true at most positions and just adds overhead.
    first_rx: str = ""
    # keywords for the anchored scan (see above), searched against the
    # folded lowered text. Empty = finditer over every position.
    anchor_rx: str = ""


def _gated_regex(spec: "PatternSpec") -> str:
    """The compile-time source for a spec: regex wrapped with its
    ``first_rx`` gate (leading global-flag groups like ``(?i)`` must stay
    at the expression start, so they are peeled outside the wrap)."""
    if not spec.first_rx:
        return spec.regex
    m = re.match(r"^(\(\?[aiLmsux]+\))", spec.regex)
    if m:
        return f"{m.group(1)}(?={spec.first_rx})(?:{spec.regex[m.end():]})"
    return f"(?={spec.first_rx})(?:{spec.regex})"


# --- 13 PII patterns (reference regex_patterns.py:5-52, order :196-212) ----

_PII: list[PatternSpec] = [
    PatternSpec(
        "IN_PAN",
        r"(?i)[A-Z]{3}[ABCFGHLJPTF]{1}[A-Z]{1}[0-9]{4}[A-Z]{1}",
        "pii",
        needs_digit=True,
        guard_rx=r"[0-9][0-9]{3}(?i:[A-Z])",
    ),
    PatternSpec(
        "IN_AADHAR",
        r"[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}",
        "pii",
        needs_digit=True,
    ),
    PatternSpec(
        "CREDIT_CARD",
        r"\b((4\d{3})|(5[0-5]\d{2})|(6\d{3})|(1\d{3})|(3\d{3}))[- ]?(\d{3,4})[- ]?(\d{3,4})[- ]?(\d{3,5})\b",
        "pii",
        needs_digit=True,
        first_rx="[0-9]",
    ),
    PatternSpec(
        "EMAIL_ADDRESS",
        r"(?i)\b((([!#$%&*+\-/=?^_`{|}~\w][!#$%&'*+\-/=?^_`{|}~\.\w]{0,}[!#$%&'*+\-/=?^_`"
        r"{|}~\w]))[@]\w+([-.]\w+)*\.\w+([-.]\w+)*)\b",
        "pii",
        guards=("@",),
    ),
    PatternSpec(
        "IBAN_CODE",
        r"(?i)\b([A-Z]{2}[ \-]?[0-9]{2})((?:[ \-]?[A-Z0-9]{3,5}){2,6})([ \-]?[A-Z0-9]{1,3})?\b",
        "pii",
        needs_digit=True,
        # the check digits, then the first BBAN group's first 3 chars
        guard_rx=r"[0-9][0-9](?i:[ \-]?[A-Z0-9]{3})",
    ),
    PatternSpec(
        "CRYPTO",
        r"(?i)\b[13][a-km-zA-HJ-NP-Z1-9]{26,33}\b",
        "pii",
        needs_digit=True,
        guard_rx=r"[13](?i:[a-km-zA-HJ-NP-Z1-9]{26})",
    ),
    PatternSpec(
        "US_SSN",
        r"\b([0-9]{3})[-.]?([0-9]{2})[-.]?([0-9]{4})\b",
        "pii",
        needs_digit=True,
        first_rx="[0-9]",
    ),
    PatternSpec(
        "UK_NHS",
        r"\b([0-9]{3})[- ]?([0-9]{3})[- ]?([0-9]{4})\b",
        "pii",
        needs_digit=True,
        first_rx="[0-9]",
    ),
    PatternSpec(
        "US_ITIN",
        r"\b9\d{2}[- ]?(5\d|6[0-5]|7\d|8[0-8]|9([0-2]|[4-9]))[- ]?\d{4}\b",
        "pii",
        needs_digit=True,
        first_rx="[0-9]",
    ),
    # NOTE: the literal spaces around `|` and the mid-pattern (?i) are the
    # reference's (regex_patterns.py:25); (?i) rewritten scoped for py3.11.
    PatternSpec(
        "US_PASSPORT",
        r"(\b[0-9]{9}\b) | (?i:(\b[A-Z][0-9]{8}\b))",
        "pii",
        needs_digit=True,
        guard_rx=r"[0-9][0-9]{7}",
    ),
    PatternSpec(
        "US_DRIVER_LICENSE",
        r"(\b([A-Z][A-Z0-9*]{11})\b)|"
        r"(\b([A-Z][0-9]{3,6}|[A-Z][0-9]{5,9}|[A-Z][0-9]{6,8}|[A-Z][0-9]{4,8}|[A-Z][0-9]{9,11}|[A-Z]{1,2}[0-9]{5,6}|"
        r"H[0-9]{8}|V[0-9]{6}|X[0-9]{8}|A-Z]{2}[0-9]{2,5}|[A-Z]{2}[0-9]{3,7}|[0-9]{2}[A-Z]{3}[0-9]{5,6}|[A-Z][0-9]"
        r"{13,14}|[A-Z][0-9]{18}|[A-Z][0-9]{6}R|[A-Z][0-9]{9}|[A-Z][0-9]{1,12}|[0-9]{9}[A-Z]|[A-Z]{2}[0-9]{6}[A-Z]|"
        r"[0-9]{8}[A-Z]{2}|[0-9]{3}[A-Z]{2}[0-9]{4}|[A-Z][0-9][A-Z][0-9][A-Z]|[0-9]{7,8}[A-Z])\b)|"
        r"(\b([0-9]{6,14}|[0-9]{16})\b)",
        "pii",
        # every alternative starts with two chars of [A-Z0-9] then
        # [A-Z0-9*], or (the "A-Z]{2}" typo) holds two digits
        guard_rx=r"[A-Z0-9][A-Z0-9*]",
        # every alternative starts [A-Z], a letter literal (H/V/X/A), or a
        # digit ('*' only ever appears after the first char)
        first_rx="[A-Z0-9]",
    ),
    PatternSpec(
        "MEDICAL_LICENSE",
        r"(?i)[abcdefghjklmprstuxABCDEFGHJKLMPRSTUX]{1}[a-zA-Z]{1}\d{7}|"
        r"[abcdefghjklmprstuxABCDEFGHJKLMPRSTUX]{1}9\d{7}",
        "pii",
        needs_digit=True,
        guard_rx=r"\d\d{6}",
    ),
    PatternSpec(
        "US_BANK_NUMBER",
        r"\b[0-9]{8,17}\b",
        "pii",
        needs_digit=True,
        first_rx="[0-9]",
    ),
]

# --- 15 credential pattern sets (reference regex_patterns.py:54-136, order
# :175-193). Credential matches are suppressed when the matched span looks
# like code (SECRET_EXCLUDE), mirroring hyperscan_service.py:57-60. ---------

_CREDENTIALS: list[PatternSpec] = [
    PatternSpec(
        "AWS_CREDENTIALS",
        r"(?i)((\s*(aws|aws(_?)secret(_?)access(_?)key(?:(_?)id)?|sha)\s*=\s*)([0-9a-zA-Z/+]{40})(\s*|$))|"
        r"((\s*(aws|aws(_?)access(?:(_?)key|(_?)key(_?)id))\s*=\s*)(AKIA[0-9A-Z]{16})(\s*|$))|"
        r"(\s*(aws(_?)security(_?)token|aws(_?)session(_?)token)\s*=\s*)([A-Za-z0-9+/]{342}\.[A-Za-z0-9+/]{4}\.)"
        r"([A-Za-z0-9+/]{30})(\s*|$)",
        "credential",
        guards=("aws", "sha"),
        guards_all=("=",),
    ),
    PatternSpec(
        "AZURE_CREDENTIALS",
        r"(?i)((\s*(azure(_?)storage(_?)account(_?)key)\s*=\s*)([A-Za-z0-9+/]{86}==|[A-Za-z0-9+/]{87}=|"
        r"[A-Za-z0-9+/]{88})(\s*|$))|"
        r"((\s*(azure(_?)ad(_?)client(_?)secret)\s*=\s*)([a-zA-Z0-9~!@#$%^&*()-=_+{}\[\];:"
        r"'\",.<>?]{32,})(\s*|$))|"
        r"((\s*(azure(_?)client(_?)id)\s*=\s*)([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})(\s*|$))|"
        r"((\s*(azure(_?)secret(?:(_?)key)?)\s*=\s*)([a-zA-Z0-9~!@#$%^&*()-=_+{}\[\];:'\",.<>?]{32,35})(\s*|$))|"
        r"((\s*(azure(_?)access(?:(_?)key)?)\s*=\s*)\S{3,})|"
        r"((\s*(azure(_?)ad(_?)client(_?)secret)\s*=\s*)([a-zA-Z0-9~!@#$%^&*()-=_+{}\[\];:'\",.<>?]{32,})(\s*|$))",
        "credential",
        guards=("azure",),
        guards_all=("=",),
    ),
    PatternSpec(
        "STRIPE_CREDENTIALS",
        r"(?i)((\s*stripe(_?)secret\s*=\s*)([a-zA-Z0-9]{24}\.[a-zA-Z0-9]{32})(\s*|$))|"
        r"((\s*stripe(_?)public(_?)key\s*=\s*)(pk_test_[a-zA-Z0-9]{24})(\s*|$))",
        "credential",
        guards=("stripe",),
        guards_all=("=",),
    ),
    PatternSpec(
        "SSH_KEYS",
        r"(?i)(\s*(ssh(-?)rsa|ssh(-?)dsa|ssh(-?)ecdsa|ssh(-?)ed25519|ecdsa(-?)sha2(-?)nistp[0-9]{3})\s*=?\s*)"
        r"((?:AAAA[0-9A-Za-z+/]+[=]{0,3})(?: [^@\s]+@[^@\s]+)?)(\s*|$)",
        "credential",
        guards=("ssh", "ecdsa"),
    ),
    PatternSpec(
        "TWILIO_CREDENTIALS",
        r"(?i)\s*(twilio_?account_?sid|twilio_?auth_?token)\s*=\s*([a-zA-Z0-9]{32})\s*",
        "credential",
        guards=("twilio",),
        guards_all=("=",),
    ),
    PatternSpec(
        "CELERY_CREDENTIALS",
        r"(?i)(\s*(celery(_?)broker(_?)url)\s*=\s*)(amqp[s]?://[a-zA-Z0-9_]+:[a-zA-Z0-9_]+@[a-zA-Z0-9_.]+:"
        r"[0-9]+/[a-zA-Z0-9_]+)(\s*|$)",
        "credential",
        guards=("celery",),
        guards_all=("=",),
    ),
    PatternSpec(
        "SENDGRID_CREDENTIALS",
        r"(?i)(\s*(send(_?)grid(_?)key|send(_?)grid(_?)pass(?:word))\s*=\s*)"
        r"(SG\.[a-zA-Z0-9_]{22}\.[a-zA-Z0-9_]{43})(\s*|$)",
        "credential",
        guards=("grid",),
        guards_all=("=",),
    ),
    PatternSpec(
        "GCP_CREDENTIALS",
        r"(?i)(\s*((google|gcp).{0,20}?)\s*=\s*)(AIza[a-zA-Z0-9]{35})(\s*|$)|"
        r"(\s*((google|gcp).{3}?(oauth|auth).{3}?(token|password))\s*=\s*)([a-zA-Z0-9-_.]{40,255})(\s*|$)|"
        r"(\s*((google|gcp).{0,20}?)\s*=\s*)\S{3,}(\s*|$)",
        "credential",
        guards=("google", "gcp"),
        guards_all=("=",),
    ),
    PatternSpec(
        "AUTH0_CREDENTIALS",
        r"(?i)(\s*(auth0.{0,20}?)\s*=\s*)([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})(\s*|$)",
        "credential",
        guards=("auth0",),
        guards_all=("=",),
    ),
    PatternSpec(
        "SNOWFLAKE_CREDENTIALS",
        r"(?i)(\s*(snowflake.{0,20}?)\s*=\s*)\S{3,}(\s*|$)",
        "credential",
        guards=("snowflake",),
        guards_all=("=",),
    ),
    PatternSpec(
        "PRIVATE_CREDENTIALS",
        r"(?i)(\s*(cognitive.{0,20}?)\s*=\s*)([a-zA-Z0-9]{32})(\s*|$)|"
        r"(\s*(service_?bus_?sas_?key)\s*=\s*)([a-zA-Z0-9~!@#$%^&*()-=_+{}\[\];:"
        r"'\",.<>?]{32,})(\s*|$)|"
        r"(\s*(project.{0,8}id)\s*=\s*)([a-z][-a-z0-9]{0,28}[a-z0-9])(\s*|$)|"
        r"(\s*(private.{0,20}?)\s*=\s*)([a-zA-Z0-9_-]+)(\s*|$)|"
        r"(\s*((client|user|account|login).{0,20}?)\s*=\s*)([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})(\s*|$)|"
        r"(\s*((client|user|account|login).{0,20}?)\s*=\s*)(4[0-9]{20})(\s*|$)|"
        r"(\s*(sha.{0,20}?)\s*=\s*)([0-9a-zA-Z/+]{0,})(\s*|$)|"
        r"(\s*(auth.{0,20}?)\s*=\s*)(https://accounts.google.com/o/oauth2/auth.*)(\s*|$)|"
        r"(\s*(token.{0,20}?)\s*=\s*)(https://oauth2.googleapis.com/token.*)(\s*|$)|"
        r"(\s*(client_?x509_?cert_?url|auth_?provider_?x509_?cert_?url)\s*=\s*)(https://www\.googleapis\.com/.+)(\s*|$)|"
        r"(\s*(tenant.{0,20}?)\s*=\s*)([a-zA-Z0-9]{3,})(\s*|$)|"
        r"(\s*(service_?bus_?sas_?key)\s*=\s*)([a-zA-Z0-9~!@#$%^&*()-=_+{}\[\];:'\"\.<>?]{44})(\s*|$)|"
        r"(\s+(secret_?token|api_?id|api_?key|secret(?:_key)?|auth_?token|pwd|"
        r"username|secretkey|token|database_?pass(?:word)?|db_?pass(?:word).{0,20}?)\s*=\s*)\S{3,}(\s*|$)",
        "credential",
        guards=(
            "cognitive", "service_bus", "servicebus", "project", "private",
            "client", "user", "account", "login", "sha", "auth", "token",
            "tenant", "secret", "api", "pwd", "username", "pass",
        ),
        guards_all=("=",),
        # necessary condition: every alternative above is keyword +
        # (lazy gap of <=20 non-newline chars) + \s* + '='. The caseless
        # form scanned over text.lower() keeps the engine's alternation
        # first-char skip ([cspualtd]); the gap is widened to {0,60} to
        # absorb lower()'s rare one-to-many char expansions.
        guard_rx_lowered=(
            r"(?:cognitive|service_?bus|project|private|client|user|account"
            r"|login|sha|auth|token|tenant|secret|api|pwd|username"
            r"|database_?pass|db_?pass).{0,60}\s*="
        ),
        # every branch is \s* (or \s+) then one of these keywords: the
        # anchored scan tries a match only at their starts
        anchor_rx=(
            r"cognitive|service_?bus|project|private|client|user|account"
            r"|login|sha|auth|token|tenant|secret|api|pwd|database_?pass"
            r"|db_?pass"
        ),
    ),
    PatternSpec(
        "OPENAI_KEY",
        r"(?i)(\s*(open_ai|open_?ai_?key|open_?ai_?api_?key)\s*=?\s*)([a-zA-Z0-9]{32})(\s*|$)",
        "credential",
        guards=("openai", "open_ai"),
    ),
    PatternSpec(
        "GITHUB_CREDENTIALS",
        r"(?i)(\s*(github(_?)token|github(_?)access(_?)token|github(_?)token|"
        r"github(_?)personal(_?)access(_?)token|github(_?)sha)\s*=\s*)([0-9a-zA-Z/+]{40})(\s*|$)",
        "credential",
        guards=("github",),
        guards_all=("=",),
    ),
    PatternSpec(
        "IP_ADDRESSES",
        r"(\b(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.(?:25[0-5]|2[0-4][0-9]"
        r"|[01]?[0-9][0-9]?)\.(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b)|"
        r"(\b(([0-9a-fA-F]{1,4}:){7,7}[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,7}:|([0-9a-fA-F]{1,4}:){1,6}:"
        r"[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,5}(:[0-9a-fA-F]{1,4}){1,2}|([0-9a-fA-F]{1,4}:){1,4}"
        r"(:[0-9a-fA-F]{1,4}){1,3}|([0-9a-fA-F]{1,4}:){1,3}(:[0-9a-fA-F]{1,4}){1,4}|([0-9a-fA-F]{1,4}:){1,2}"
        r"(:[0-9a-fA-F]{1,4}){1,5}|[0-9a-fA-F]{1,4}:((:[0-9a-fA-F]{1,4}){1,6})|:((:[0-9a-fA-F]{1,4}){1,7}|:)|fe80:"
        r"(:[0-9a-fA-F]{0,4}){0,4}%[0-9a-zA-Z]{1,}|::(ffff(:0{1,4}){0,1}:){0,1}((25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9]"
        r")\.){3,3}(25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9])|([0-9a-fA-F]{1,4}:){1,4}:((25[0-5]|(2[0-4]|1{0,1}[0-9])"
        r"{0,1}[0-9])\.){3,3}(25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9]))\b)",
        "credential",
        # necessary condition, branch by branch: every IPv4 form contains
        # .digits.digits.digit (ASCII digits); every IPv6 alternative
        # contains "::" or hex:hex, and the zone-id form "fe80:" then ":"
        # or "%", so a ':' followed by hex, ':' or '%' covers all of IPv6.
        # Both branches start with a literal, so the guard skips plain
        # prose at C speed — the full alternation above costs ~150 us/doc
        # and fires on <2% of web docs.
        guard_rx=r"\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]|:[0-9a-fA-F:%]",
    ),
    PatternSpec(
        "INSURANCE_INFORMATION",
        r"(?i)(\s*(blue(?:_?shield)?(?:_?member)?(?:_?id)?|member_?id)\s*=?\s*)"
        r"(([A-Z]{3}(\d|[A-Z]){8,12})"
        r"|(R(\d|[A-Z]){8,12}))(\s*|$)|"
        r"(\s*)RxBIN\s*=?\s*\d{6}(\s*|$)|"
        r"(\s*)RxPCN\s*=?\s*\[A-Za-z0-9]{1,10}(\s*|$)|"
        r"(\s*)Rx(Grp|\sGroup)\s*=?\s*[A-Za-z0-9\-]{1,15}(\s*|$)",
        "credential",
        guards=("blue", "member", "rx"),
    ),
]

# Canonical ordered battery: PII first, then credentials (reference emits
# hyperscan(=default)/re2/re findings in engine order; our single-engine
# ordering is the documented deterministic equivalent).
ALL_PATTERNS: tuple[PatternSpec, ...] = tuple(_PII + _CREDENTIALS)

PII_NAMES: tuple[str, ...] = tuple(p.name for p in _PII)
CREDENTIAL_NAMES: tuple[str, ...] = tuple(p.name for p in _CREDENTIALS)
SYSTEM_ENTITIES: frozenset[str] = frozenset(PII_NAMES) | frozenset(CREDENTIAL_NAMES)

# matched credential spans that look like code are suppressed
# (reference regex_patterns.py:127 + hyperscan_service.py:57-60)
SECRET_EXCLUDE = r"(?i)(\(.*\))|(=\s*get)"

# PHI heuristic over file-name + content (data_analysis_service.py:38-41);
# applied with re.IGNORECASE (:97-99)
PHI_PATTERN = (
    r"(\b|_)(health)(\b|_)|medical|immun|pharmacy|disease|patient|insura|"
    r"(\b|_)(Rh)(\b|_)|MRN|(\b|_)(phi)(\b|_)"
)


@lru_cache(maxsize=1)
def compiled_battery() -> tuple[tuple[PatternSpec, "re.Pattern[str]"], ...]:
    """Compile the battery once per process (≈ once per Spark executor).
    Pattern STRINGS are the reference's verbatim; specs with a
    ``first_rx`` compile with the zero-width first-char gate wrapped
    around the unchanged regex (see ``_gated_regex``)."""
    return tuple((spec, re.compile(_gated_regex(spec))) for spec in ALL_PATTERNS)


@lru_cache(maxsize=1)
def compiled_secret_exclude() -> "re.Pattern[str]":
    return re.compile(SECRET_EXCLUDE, re.IGNORECASE)


@lru_cache(maxsize=1)
def compiled_phi() -> "re.Pattern[str]":
    return re.compile(PHI_PATTERN, re.IGNORECASE)
