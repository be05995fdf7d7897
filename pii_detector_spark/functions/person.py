"""Deterministic PERSON detector — the engine's NER analogue (P4 + F13).

The reference extracts PERSON entities with a MITIE NER model and keeps
those with ``round(score, 1) >= 0.8``
(``app/services/mitie_service.py:15-34``); PERSON findings are emitted
*before* the regex battery (``data_analysis_service.py:52-54``, recognizer
id 0 → ``schemas/analyzer.py:27``), carry the rounded model score
(``data_analysis_service.py:205``), are flagged ``is_custom_regex=True``
because 'PERSON' is absent from ``system_entities``
(``regex_patterns.py:214-217`` — the "todo add … person" comment), and are
masked with the US_SSN length tiers (``data_analysis_service.py:140-147``).

The MITIE model artifact cannot be downloaded in this environment, so the
detector here is a deterministic, in-repo stand-in with the same contract:

* candidate = a capitalized token run ``First [Last]`` where ``First`` is in
  a common-first-name gazetteer (public knowledge) and ``Last`` is any
  capitalized word;
* score     = 0.9 for a two-token candidate (first name + surname), 0.7 for
  a lone first name — so the reference's ``round(score,1) >= 0.8`` floor
  (F13) keeps full names and drops bare first names, the same shape as
  MITIE's confidence behavior;
* emission  = (value, start, end, rounded_score), non-overlapping,
  left-to-right.

The scan is linear: one capitalized-bigram regex pass, then an O(1)
frozenset membership test per candidate — no per-name alternation.
"""

from __future__ import annotations

import re

PERSON_ENTITY = "PERSON"

# F13: findings below this (after round(·,1)) are discarded
# (mitie_service.py:22-23)
MIN_PERSON_SCORE = 0.8

SCORE_FULL_NAME = 0.9
SCORE_LONE_FIRST_NAME = 0.7

# Common English first names (public knowledge; capitalized exactly as they
# must appear — detection is case-sensitive like any NER over web text).
FIRST_NAMES: frozenset[str] = frozenset(
    {
        "Aaron", "Adam", "Alan", "Albert", "Alex", "Alexander", "Alice",
        "Amanda", "Amber", "Amy", "Andrea", "Andrew", "Angela", "Ann",
        "Anna", "Anthony", "Arthur", "Ashley", "Austin", "Barbara",
        "Benjamin", "Betty", "Beverly", "Billy", "Bobby", "Bradley",
        "Brandon", "Brenda", "Brian", "Bruce", "Bryan", "Carl", "Carol",
        "Carolyn", "Catherine", "Charles", "Charlotte", "Cheryl",
        "Christian", "Christina", "Christine", "Christopher", "Cynthia",
        "Daniel", "Danielle", "David", "Deborah", "Debra", "Denise",
        "Dennis", "Diana", "Diane", "Donald", "Donna", "Doris", "Dorothy",
        "Douglas", "Dylan", "Edward", "Elizabeth", "Emily", "Emma", "Eric",
        "Ethan", "Eugene", "Evelyn", "Frances", "Frank", "Gabriel", "Gary",
        "George", "Gerald", "Gloria", "Grace", "Gregory", "Hannah",
        "Harold", "Harry", "Heather", "Helen", "Henry", "Howard", "Jack",
        "Jacob", "Jacqueline", "James", "Janet", "Janice", "Jason", "Jean",
        "Jeffrey", "Jennifer", "Jeremy", "Jerry", "Jesse", "Jessica",
        "Joan", "Joe", "John", "Johnny", "Jonathan", "Jordan", "Jose",
        "Joseph", "Joshua", "Joyce", "Juan", "Judith", "Judy", "Julia",
        "Julie", "Justin", "Karen", "Katherine", "Kathleen", "Kathryn",
        "Kayla", "Keith", "Kelly", "Kenneth", "Kevin", "Kimberly", "Kyle",
        "Larry", "Laura", "Lauren", "Lawrence", "Linda", "Lisa", "Logan",
        "Louis", "Madison", "Margaret", "Maria", "Marie", "Marilyn",
        "Mark", "Martha", "Mary", "Matthew", "Megan", "Melissa", "Michael",
        "Michelle", "Nancy", "Natalie", "Nathan", "Nicholas", "Nicole",
        "Noah", "Olivia", "Pamela", "Patricia", "Patrick", "Paul", "Peter",
        "Philip", "Rachel", "Ralph", "Randy", "Raymond", "Rebecca",
        "Richard", "Robert", "Roger", "Ronald", "Rose", "Roy", "Russell",
        "Ruth", "Ryan", "Samantha", "Samuel", "Sandra", "Sara", "Sarah",
        "Scott", "Sean", "Sharon", "Shirley", "Sophia", "Stephanie",
        "Stephen", "Steven", "Susan", "Teresa", "Terry", "Theresa",
        "Thomas", "Timothy", "Tyler", "Victoria", "Vincent", "Virginia",
        "Walter", "Wayne", "William", "Willie", "Zachary",
        # common non-ASCII Latin given names (r4 recall hardening; kept
        # within the Latin-1 ranges the name tokenizer covers)
        "José", "María", "André", "François", "Jürgen", "Søren", "Zoë",
        "René", "Björn", "Inés", "Óscar", "Åsa",
    }
)

# Name-token character classes: ASCII plus the Latin-1 letter ranges, so
# José / Müller / Søren tokenize as one name token instead of stopping at
# the first accented letter (r4 recall hardening).
_UC = "A-ZÀ-ÖØ-Þ"
_LC = "a-zß-öø-ÿ"
#: one name token: capitalized word, optionally hyphen-joined capitalized
#: components (Mary-Jane, Smith-Jones)
_NAME = rf"[{_UC}][{_LC}]+(?:-[{_UC}][{_LC}]+)*"

#: honorific evidence — a title before a capitalized token is full-name-
#: strength evidence even without a gazetteer hit ("Dr. Smith"); the title
#: itself is NOT part of the entity span
TITLES = ("Dr", "Mr", "Mrs", "Ms", "Prof", "Rev", "Sir")

# optional title, then a name token, optionally one more on the same line
# (single spaces/tabs between) — the MITIE-tokenizer analogue. Every match
# starts with a title's or a name token's capital, so the zero-width
# first-char gate skips every other position without entering the
# alternation; it changes no match.
_CAP_RUN = re.compile(
    rf"(?=[{_UC}])(?:(?:\b({'|'.join(TITLES)})\.?[ \t]+)?"
    rf"\b({_NAME})((?:[ \t]+{_NAME})?))"
)


def detect_person(text: str) -> list[tuple[str, int, int, float]]:
    """All PERSON entities passing the score floor, left-to-right,
    non-overlapping: [(value, start, end, rounded_score), ...].

    Evidence rules (each mirrored verbatim in ``tests/oracle.py``):

    * title + name token(s)      → SCORE_FULL_NAME (span excludes title)
    * gazetteer first + surname  → SCORE_FULL_NAME (first component of a
      hyphenated given name carries the gazetteer hit)
    * lone gazetteer first name  → SCORE_LONE_FIRST_NAME — below the F13
      floor, so sentence-initial ambiguity ("Mark the date", "Grace under
      pressure") never emits a finding
    """
    if not text:
        return []
    out: list[tuple[str, int, int, float]] = []
    for m in _CAP_RUN.finditer(text):
        title, first_tok, rest = m.group(1), m.group(2), m.group(3)
        if title:
            score = SCORE_FULL_NAME
        else:
            if first_tok.split("-", 1)[0] not in FIRST_NAMES:
                continue
            score = SCORE_FULL_NAME if rest else SCORE_LONE_FIRST_NAME
        score = round(score, 1)
        if score < MIN_PERSON_SCORE:
            continue
        out.append(
            (text[m.start(2) : m.end()], m.start(2), m.end(), score)
        )
    return out
