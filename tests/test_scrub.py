"""Detection + scrub parity: engine pure functions vs the independent
oracle, per planted category and property-based on fuzzed text."""

from __future__ import annotations

import random
import re as _re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pii_detector_spark.operators.scrub import (
    _battery_plan,
    _doc_facts,
    _finditer,
    _may_match,
    build_findings,
    detect,
    is_phi,
    scrub_text,
)
from pii_detector_spark.patterns import ALL_PATTERNS
from pii_detector_spark.sources.datagen import pii_plants
from tests.oracle import oracle_detect, oracle_is_phi, oracle_scrub


def _norm(matches):
    return sorted((m[1], m[2], m[3], m[4]) for m in matches)


def test_every_planted_category_fires():
    rng = random.Random(7)
    for _ in range(25):
        for cat, line in pii_plants(rng):
            names = {m[1] for m in detect(line)}
            if cat == "__DECOY__":
                assert "AWS_CREDENTIALS" not in names, line
            else:
                assert cat in names, (cat, line, names)


def test_detect_matches_oracle_on_planted_docs():
    rng = random.Random(13)
    for _ in range(40):
        lines = [line for _, line in pii_plants(rng)]
        rng.shuffle(lines)
        doc = "\n".join(lines)
        assert _norm(detect(doc)) == _norm(oracle_detect(doc))
        assert scrub_text(doc) == oracle_scrub(doc)[0]


def test_findings_fields():
    text = "Contact jwhite@domain.com, SSN 172-32-1176."
    fs = build_findings("https://h.com/x.html", detect(text))
    by_type = {f["pii_type"]: f for f in fs}
    email = by_type["EMAIL_ADDRESS"]
    assert email["pii_data"] == "j*****@******.com"
    assert email["pii_region"] == "All"
    assert email["score"] == 0.8
    assert email["is_custom_regex"] is False
    assert len(email["pii_hash"]) == 96
    ssn = by_type["US_SSN"]
    assert ssn["pii_region"] == "USA"
    assert ssn["pii_data"] == "17*-**-**76"


def test_scrub_leaves_clean_text_untouched():
    text = "the quiet streets of the old town were empty that morning"
    assert detect(text) == []
    assert scrub_text(text) == text


def test_secret_exclude_suppression():
    # span contains '= get…' → suppressed (hyperscan_service.py:57-60)
    doc = "aws = getAAAABBBBCCCCDDDDEEEEFFFFGGGG12345"
    assert all(m[1] != "AWS_CREDENTIALS" for m in detect(doc))


def test_phi_flag():
    assert is_phi("https://h.com/medical/records.html", "hello")
    assert is_phi("https://h.com/a.html", "the patient was discharged")
    assert is_phi("https://h.com/a.html", "MRN 2362324")
    assert not is_phi("https://h.com/a.html", "the sopranos are great")
    for url, text in [
        ("https://h.com/medical/x.html", "a"),
        ("https://h.com/a.html", "insurance claim"),
        ("https://h.com/a.html", "plain text"),
    ]:
        assert is_phi(url, text) == oracle_is_phi(url, text)


class TestPersonNER:
    """P4/F13 analogue: deterministic PERSON detector + score floor + the
    US_SSN/PERSON mask tier (reference mitie_service.py:15-34,
    data_analysis_service.py:140-147)."""

    def test_full_name_detected_lone_name_filtered(self):
        text = "please ask Alice Walker or Joe about the Meeting Notes"
        persons = [m for m in detect(text, include_person=True) if m[1] == "PERSON"]
        # 'Alice Walker' scores 0.9 (kept); lone 'Joe' scores 0.7 → dropped
        # by the round(score,1) >= 0.8 floor; 'Meeting Notes' is capitalized
        # but not gazetteer-led
        assert [(m[4]) for m in persons] == ["Alice Walker"]
        # battery-only mode emits nothing here
        assert detect(text) == []

    def test_person_finding_fields_and_mask_tier(self):
        text = "handover from Alice Walker today"
        fs = build_findings("u", detect(text, include_person=True))
        assert len(fs) == 1
        f = fs[0]
        assert f["pii_type"] == "PERSON"
        assert f["score"] == 0.9  # rounded model score, not the 0.8 default
        # reference quirk: PERSON is missing from system_entities, so NER
        # findings are flagged custom (regex_patterns.py:214-217)
        assert f["is_custom_regex"] is True
        assert f["pii_region"] == "All"
        # len > 6 → first2 + starred middle (space kept) + last2
        assert f["pii_data"] == "Al*** ****er"
        assert scrub_text(text, detect(text, include_person=True)) == (
            "handover from Al*** ****er today"
        )

    def test_short_name_mask_tiers(self):
        # the PERSON tier shares US_SSN's length cutoffs
        from pii_detector_spark.functions.masking import mask_value

        assert mask_value("PERSON", "Joe") == "J**"            # <=4
        assert mask_value("PERSON", "Joe Xu") == "Jo* **"      # <=6
        assert mask_value("PERSON", "Alice Walker") == "Al*** ****er"

    def test_person_parity_with_oracle(self):
        docs = [
            "please ask Alice Walker or Joe about the Meeting Notes",
            "Emails: jwhite@domain.com from David Brooks, SSN 172-32-1176",
            "JAMES SHOUTS and james whispers but James Whisper walks",
            "Maria\nCarter split across lines stays two candidates",
            "Jose  Morgan has two spaces; Walter\tTurner has a tab",
        ]
        for doc in docs:
            assert _norm(detect(doc, include_person=True)) == _norm(
                oracle_detect(doc, include_person=True)
            ), doc
            assert scrub_text(doc, detect(doc, include_person=True)) == (
                oracle_scrub(doc, include_person=True)[0]
            ), doc

    def test_person_recall_hardened_corpus(self):
        """r4 recall hardening: titles, hyphenated and non-ASCII names,
        and sentence-initial ambiguity. Reports recall over the planted
        positives and demands zero hits on the ambiguity negatives."""
        from pii_detector_spark.functions.person import detect_person

        # (text, expected detected value) — one planted person each
        positives = [
            ("please contact Alice Walker today", "Alice Walker"),
            ("appointment with Dr. Navarro at noon", "Navarro"),
            ("Dr Sarah Smith will attend", "Sarah Smith"),
            ("ask Prof Wei about the draft", "Wei"),
            ("Mrs. Thompson agreed to the terms", "Thompson"),
            ("Sir Lancelot rides at dawn", "Lancelot"),
            ("Mary-Jane Watson arrived early", "Mary-Jane Watson"),
            ("met Sarah Smith-Jones yesterday", "Sarah Smith-Jones"),
            ("Jean-Paul Sartre wrote it", "Jean-Paul Sartre"),
            ("José García signed the form", "José García"),
            ("Jürgen Müller called back", "Jürgen Müller"),
            ("Zoë Quinn replied at once", "Zoë Quinn"),
            ("François Dubois approved", "François Dubois"),
            # sentence-initial genuine person (full name disambiguates)
            ("Mark Harrison opened the meeting", "Mark Harrison"),
        ]
        negatives = [  # must emit nothing (lone firsts / non-name caps)
            "Mark the date on the calendar",
            "Grace under pressure is rare",
            "Will this be enough for the demo",
            "the Meeting Notes were long",
            "Frank discussion followed the Standard Procedure",
        ]
        hits = 0
        misses = []
        for text, want in positives:
            got = [v for v, *_ in detect_person(text)]
            if want in got:
                hits += 1
            else:
                misses.append((text, got))
        recall = hits / len(positives)
        assert recall == 1.0, f"recall={recall:.2f}, misses={misses}"
        for text in negatives:
            assert detect_person(text) == [], text
        # parity: the independent oracle agrees on every hardened doc
        for text, _want in positives:
            assert _norm(detect(text, include_person=True)) == _norm(
                oracle_detect(text, include_person=True)
            ), text

    def test_fused_pipeline_emits_person(self):
        from pii_detector_spark.config import QualityThresholds
        from pii_detector_spark.operators.fused import process_document

        filler = (
            "the team spent a long while reviewing the open items and it "
            "was a productive day for everyone involved in that effort "
        )
        text = (
            "the team met with Alice Walker to plan the release today "
            + filler * 3
        )
        d = process_document("u", text, QualityThresholds())
        assert d["keep"] is True
        types = {f["pii_type"] for f in d["findings"]}
        assert "PERSON" in types
        assert "Al*** ****er" in d["scrubbed_text"]


@settings(max_examples=150, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            codec="utf-8", categories=("L", "N", "P", "S", "Z")
        ),
        max_size=400,
    )
)
def test_property_engine_equals_oracle(text):
    assert _norm(detect(text)) == _norm(oracle_detect(text))
    assert scrub_text(text) == oracle_scrub(text)[0]
    m_p = detect(text, include_person=True)
    assert _norm(m_p) == _norm(oracle_detect(text, include_person=True))
    assert scrub_text(text, m_p) == oracle_scrub(text, include_person=True)[0]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.sampled_from([ln for _, ln in pii_plants(random.Random(3))] + [
    "plain filler line with the usual words",
    "192.168.1.1 and 10.0.0.1",
    "aws = getZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZ",
]), min_size=1, max_size=12))
def test_property_planted_lines(lines):
    doc = " ".join(lines)
    assert _norm(detect(doc)) == _norm(oracle_detect(doc))
    assert scrub_text(doc) == oracle_scrub(doc)[0]


# Every IPv6 alternation branch of the battery pattern, plus near-miss and
# hostile-soup forms: the guard_rx doc-level gate (patterns.PatternSpec.
# guard_rx) must never suppress a match the guard-free oracle finds.
_GUARD_ADVERSARIAL = [
    "1:2:3:4:5:6:7:8",                       # full 8-group
    "1::",                                    # compressed tail
    "1::8", "1:2::8",                        # single/multi group + tail
    "1:2:3:4:5::7:8",                        # 5 groups + 2
    "1:2:3:4::6:7:8",
    "1:2:3::5:6:7:8",
    "1:2::4:5:6:7:8",
    "1::3:4:5:6:7:8",
    "::2:3:4:5:6:7:8", "::",                 # leading compress / bare
    "fe80::7:8%eth0", "fe80:%1",             # zone-id forms
    "::255.255.255.255", "::ffff:10.0.0.1",  # v4-mapped
    "2001:db8:3:4::192.0.2.33",              # groups + v4 tail
    "192.168.0.1 plain v4", "0.0.0.0", "255.255.255.255",
    "1.2.3.4.5 overlong", "999.999.999.999 out of range",
    "deadbeef:cafe words that are hex", "face:b00c",
    "a:b c:d e:f",                           # single-hex pairs
    "time 12:30 and 4:5",                    # clock-ish
    "1.2 version, 3.4.5 semver, 1.2.3.4",
    "::ffff:0:255.255.255.255",
    "no address here at all",
]


def test_guard_rx_soundness_adversarial():
    for doc in _GUARD_ADVERSARIAL:
        assert _norm(detect(doc)) == _norm(oracle_detect(doc)), doc
    joined = "  ".join(_GUARD_ADVERSARIAL)
    assert _norm(detect(joined)) == _norm(oracle_detect(joined))


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="0123456789abcdefABCDEF:.%x ", max_size=60))
def test_guard_rx_soundness_fuzz(text):
    # hex/colon/dot soup is exactly the space where an unsound IP guard
    # would diverge from the guard-free oracle
    assert _norm(detect(text)) == _norm(oracle_detect(text))


def test_guard_rx_declared_patterns_still_fire():
    # the guarded pattern still matches when a real address is present
    names4 = {m[1] for m in detect("server at 10.1.2.3 port 80")}
    names6 = {m[1] for m in detect("peer 2001:db8::ff00:42:8329 up")}
    assert "IP_ADDRESSES" in names4
    assert "IP_ADDRESSES" in names6


# Branch-by-branch positives + near-misses for the PRIVATE_CREDENTIALS
# lowered-guard (guard_rx_lowered): the guard must pass every string the
# full pattern matches, including odd spacing, newline-spanning \s*, and
# uppercase keywords.
_PC_ADVERSARIAL = [
    "cognitive services key = abcdefghij0123456789abcdefghij12",
    "SERVICE_BUS_SAS_KEY=AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA",
    "servicebussaskey = AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA",
    "project config id = my-project-id9",
    "private rsa part = QUJDREVGR0g",
    "client contact here = someone@example.com",
    "USER primary address = person@host.org",
    "account main card = 412345678901234567890",
    "sha of build  =  0123abcd",
    "sha =",                                     # empty value branch
    "auth redirect = https://accounts.google.com/o/oauth2/auth?x=1",
    "token endpoint = https://oauth2.googleapis.com/token?y=2",
    "client_x509_cert_url = https://www.googleapis.com/robot/v1",
    "tenant primary = abc123",
    " secret_token = topsecret",
    " api_key = k3yv4lu3",
    " pwd = hunter22",
    " username = jdoe42",
    " database_password = passw0rd!",
    " db_pass = shortpw1",
    "keyword far from equals sign" + " x" * 30 + " = value",  # gap > 20
    "tenant primary such that the gap exceeds twenty characters = abc123",
    "no assignment operator at all tenant abc123",
    "= tenant abc123 reversed order",
    "USER name\n\t = person@host.org",            # \s* spans newline
]


def test_pc_guard_soundness_adversarial():
    for doc in _PC_ADVERSARIAL:
        assert _norm(detect(doc)) == _norm(oracle_detect(doc)), doc
    joined = "\n".join(_PC_ADVERSARIAL)
    assert _norm(detect(joined)) == _norm(oracle_detect(joined))


@settings(max_examples=150, deadline=None)
@given(st.lists(st.sampled_from(
    ["user", "TOKEN", "secret", "api", "pwd", "tenant", "sha", "=", " = ",
     "a@b.co", "x" * 25, " ", "\n", "\t", "value123"]), min_size=1, max_size=10))
def test_pc_guard_soundness_fuzz(parts):
    doc = "".join(parts)
    assert _norm(detect(doc)) == _norm(oracle_detect(doc))


def test_first_rx_gate_equivalence():
    """Every ``first_rx``-gated pattern matches EXACTLY what its ungated
    compile matches (the gate is a zero-width necessary condition): spans
    compared on adversarial digit/upper soup, every guard corpus, and
    deterministic fuzz."""
    import random
    import re as _re

    from pii_detector_spark.patterns import ALL_PATTERNS, _gated_regex

    gated_specs = [s for s in ALL_PATTERNS if s.first_rx]
    assert gated_specs, "expected at least one first_rx-gated pattern"
    rng = random.Random(1234)
    corpora = list(_GUARD_ADVERSARIAL) + [
        "A1", "zz A1b2C3d4E5F* yy", "123456 A-Z]]123", "9" * 20,
        "AB*CDEFGHIJK", "A" * 12, " 4111-1111-1111-1111 ",
        "H12345678 V123456 X12345678", "A123456R end", "12ABC34567",
        "900-70-1234 123-45-6789 987 65 4321", "12345678901234567",
    ] + [
        "".join(
            rng.choice(" aA0-.$#\n\t19zZ*]R457") for _ in range(90)
        )
        for _ in range(1500)
    ]
    for spec in gated_specs:
        plain = _re.compile(spec.regex)
        gated = _re.compile(_gated_regex(spec))
        for doc in corpora:
            m1 = [(m.start(), m.end(), m.group()) for m in plain.finditer(doc)]
            m2 = [(m.start(), m.end(), m.group()) for m in gated.finditer(doc)]
            assert m1 == m2, (spec.name, doc)


# --- gated scans: guards, anchors and case folding --------------------------

# every keyword a substring guard or an anchor reads, so each can be spelled
# with the code points (?i) matches but str.lower() does not give
_KEYWORDS = sorted(
    {g for s in ALL_PATTERNS for g in s.guards}
    | {
        kw.replace("_?", sep)
        for s in ALL_PATTERNS
        if s.anchor_rx
        for kw in s.anchor_rx.split("|")
        for sep in ("", "_")
    }
)


def _fold_variants(s: str) -> list[str]:
    """``s`` with every i spelled ı and İ, every s spelled ſ, every k
    spelled as the Kelvin sign, and all of it uppercased."""
    return [
        s.replace("i", "ı"),
        s.replace("i", "İ").replace("I", "İ"),
        s.replace("s", "ſ").replace("S", "ſ"),
        s.replace("k", "K"),
        s.upper(),
    ]


_CASEFOLD_CORPUS = [
    v
    for kw in _KEYWORDS
    for line in (
        f" {kw} = topsecret",
        f"{kw}_key = {'a' * 32}",
        f"the {kw} field=abc123 here",
    )
    for v in _fold_variants(line)
] + [
    v
    for _, line in pii_plants(random.Random(5))
    for v in _fold_variants(line)
]

# the anchored scan steps back over whitespace runs: every kind of space,
# runs that start at the previous match's end, matches back to back, and
# keywords that overlap or nest ("shauth", "usertoken")
_WHITESPACE_CORPUS = [
    "\tsecret =\tabc",
    "\n\n pwd =\nhunter22\n",
    "\xa0\xa0token = abcdef",
    " 　api_key = zzz\x1c\x1d",
    "pwd = abc pwd = def",
    "pwd = abcpwd = def",
    " secret = a  secret = bb\tsecret = ccc",
    "shauth token = x",
    "shauth token = https://accounts.google.com/o/oauth2/auth",
    # "sha" is too far from "=", the "auth" inside it is not
    "shauth" + "x" * 19 + " = https://accounts.google.com/o/oauth2/auth",
    "usertoken = abcdef",
    "xuser primary = a@b.co",
    "tenant=  tenant = abc123 tenant = def456",
    "private key = value_1",
    "  \t  ",
    "sha",
    " sha =",
]


def _gated_spans(e, text):
    """``e``'s non-empty match spans through detect()'s gates and scan."""
    lowered, has_digit = _doc_facts(text)
    if not _may_match(e, text, lowered, has_digit):
        return []
    return [(m.start(), m.end()) for m in _finditer(e, text, lowered) if m.group()]


def _fuzz_corpus(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    parts = _KEYWORDS + [
        "=", " = ", " ", "\t", "\n", "\xa0", "ı", "İ", "ſ", "K", "_",
        "a@b.co", "x" * 25, "value123", "4" + "0" * 20, "AKIA", "9", "1.2",
        ":", "::", "fe80:", "%", ".", "-", "DE12 3456", "ABCPE1234F",
        "H12345678", "https://", "get", "(x)", "shauth", "x" * 17,
    ]
    return [
        "".join(rng.choice(parts) for _ in range(rng.randint(1, 14)))
        for _ in range(n)
    ]


def test_gated_scan_equivalence():
    """Every spec with a regex guard, a lowered guard, an anchor or a
    first-char gate matches, through detect()'s gates and scan, EXACTLY
    the spans its bare regex's ``finditer`` matches: on the guard, case-fold
    and whitespace corpora, the planted lines and a seeded fuzz."""
    gated = [
        e
        for s, e in zip(ALL_PATTERNS, _battery_plan())
        if s.guard_rx or s.guard_rx_lowered or s.anchor_rx or s.first_rx
    ]
    assert {e.name for e in gated} >= {
        "PRIVATE_CREDENTIALS", "IP_ADDRESSES", "MEDICAL_LICENSE", "IN_PAN",
        "US_PASSPORT", "IBAN_CODE", "CRYPTO", "US_DRIVER_LICENSE",
    }
    corpora = (
        _GUARD_ADVERSARIAL
        + _PC_ADVERSARIAL
        + _CASEFOLD_CORPUS
        + _WHITESPACE_CORPUS
        + [line for _, line in pii_plants(random.Random(11))]
        + _fuzz_corpus(3000, 99)
    )
    for e in gated:
        plain = _re.compile(ALL_PATTERNS[e.idx].regex)
        for doc in corpora:
            want = [(m.start(), m.end()) for m in plain.finditer(doc) if m.group()]
            assert _gated_spans(e, doc) == want, (e.name, doc)


def test_casefold_and_whitespace_corpora_match_oracle():
    for doc in _CASEFOLD_CORPUS + _WHITESPACE_CORPUS:
        assert _norm(detect(doc)) == _norm(oracle_detect(doc)), doc


def test_casefold_guard_bugs():
    """(?i) matches ı and İ for i and ſ for s, which str.lower() does not
    give: the substring guards must still let these through."""
    cases = {
        " ſecret = topsecret": "PRIVATE_CREDENTIALS",
        "TWİLIO_AUTH_TOKEN = " + "a" * 32: "TWILIO_CREDENTIALS",
        "twılio_auth_token = " + "a" * 32: "TWILIO_CREDENTIALS",
    }
    for doc, name in cases.items():
        got = detect(doc)
        assert name in {m[1] for m in got}, doc
        assert _norm(got) == _norm(oracle_detect(doc)), doc


def test_person_non_ascii_capitals():
    """Names whose capital is outside A-Z are found like any other."""
    for doc, want in [
        ("we met Óscar Álvarez today", "Óscar Álvarez"),
        ("we met Åsa Öberg today", "Åsa Öberg"),
    ]:
        got = detect(doc, include_person=True)
        assert [m[4] for m in got if m[1] == "PERSON"] == [want], doc
        assert _norm(got) == _norm(oracle_detect(doc, include_person=True))


def test_person_first_char_gate_equivalence():
    """The PERSON tokenizer's first-char gate changes no match."""
    from pii_detector_spark.functions.person import _CAP_RUN, _UC

    prefix = f"(?=[{_UC}])(?:"
    assert _CAP_RUN.pattern.startswith(prefix)
    plain = _re.compile(_CAP_RUN.pattern[len(prefix):-1])
    rng = random.Random(3)
    docs = [
        "Dr. Smith and Mr Jones met Óscar Álvarez, Åsa Öberg and Zoë Quinn",
        "Sir  Lancelot\tDu Lac; Prof.\tWei; Mary-Jane Watson-Parker",
    ] + [
        "".join(rng.choice(["Dr", "Mr.", " ", "\t", "Ann", "é", "-", "Ö",
                            "Smith", "x", "\n", "Øre", "ÞÞ", "_"])
                for _ in range(12))
        for _ in range(2000)
    ]
    for doc in docs:
        assert [m.span() + m.groups() for m in _CAP_RUN.finditer(doc)] == [
            m.span() + m.groups() for m in plain.finditer(doc)
        ], doc


def test_detect_equals_oracle_on_datagen_docs():
    """detect() equals the guard-free oracle, with and without PERSON, on
    2,000 seeded datagen docs: web text where the PRIVATE_CREDENTIALS
    guard often passes and the pattern matches nothing."""
    from pii_detector_spark.functions.textnorm import extract_text_from_html
    from pii_detector_spark.sources.datagen import generate_rows

    for _url, _ts, html, text, _lang in generate_rows(2000, 4242):
        doc = extract_text_from_html(html) if html is not None else (text or "")
        for person in (False, True):
            assert _norm(detect(doc, include_person=person)) == _norm(
                oracle_detect(doc, include_person=person)
            ), doc


def test_detect_with_customs_appends_after_the_battery():
    from pii_detector_spark.operators.classifiers import (
        CustomClassifier,
        custom_battery,
        detect_with_customs,
    )

    customs = custom_battery((
        CustomClassifier(name="TICKET_ID", patterns=(r"TICKET-[0-9]+",)),
        CustomClassifier(
            name="SECRETISH", patterns=(r"sk_[a-z]+", r"\(sk_x\)"),
            is_credential=True,
        ),
    ))
    doc = " ſecret = s3 ref TICKET-42 sk_abc (sk_x) jwhite@domain.com"
    got = detect_with_customs(doc, customs)
    n = len(ALL_PATTERNS)
    assert got[: len(detect(doc))] == detect(doc)
    assert got[len(detect(doc)):] == [
        (n, "TICKET_ID", 17, 26, "TICKET-42"),
        (n + 1, "SECRETISH", 27, 33, "sk_abc"),
        (n + 1, "SECRETISH", 35, 39, "sk_x"),
    ]
