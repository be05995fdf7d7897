"""Deterministic language-ID + perplexity model artifacts.

The north star calls for fastText-style language ID (CCNet) and KenLM-style
perplexity scoring (see PAPERS.md). No model downloads are possible in this
environment, so both are small, real models built deterministically at
import time from an embedded seed corpus — the public *method* (character
n-gram profiles for langid, Cavnar & Trenkle 1994 / fastText's char-ngram
features; smoothed n-gram LM perplexity, CCNet §3.2) with in-repo data.

Both the Spark pandas-UDF operator and the test oracle call these exact
functions, so scores are bit-identical by construction; the oracle
independently reimplements the *decision* layers (rules, masks, scrub).

Scale note: the profile dicts are tiny (<100 KB) and are shipped to
executors via closure capture + lazy module import — the same broadcast
pattern as the regex battery.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

# digits are sparsity bombs for char n-grams; both models normalize them to
# '0' at train and score time (CCNet applies the same trick via SentencePiece
# number bucketing)
_DIGITS = re.compile(r"\d")

# ~10 seed sentences per language, written for trigram coverage of common
# function words. en profile doubles as the perplexity LM training corpus.
SEED_CORPUS: dict[str, list[str]] = {
    "en": [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "it was the best of times and it was the worst of times for all of us",
        "she said that they would have been there if the weather had been better",
        "a government of the people by the people and for the people shall not perish",
        "there are many things in life that we cannot explain with simple words",
        "the company reported strong growth in the first quarter of this year",
        "children often ask questions about the world and how things work",
        "we should always try to be kind to other people and to ourselves",
        "the history of science is full of surprising discoveries and mistakes",
        "please read the instructions carefully before you start the machine",
        "most of the houses in the old town were built more than a century ago",
        "he walked slowly through the quiet streets thinking about the future",
        "call us at 000 000-0000 or visit room 000 before 00:00 on 0000-00-00",
        "contact john at jsmith@example.com with your account number 0000 0000",
        "the order total was 00.00 dollars including 0.00 tax on 00/00/0000",
    ],
    "de": [
        "der schnelle braune fuchs springt über den faulen hund am fluss",
        "es war einmal ein kleines mädchen das in einem großen wald wohnte",
        "die regierung hat heute neue maßnahmen für die wirtschaft beschlossen",
        "wir sollten immer versuchen freundlich zu anderen menschen zu sein",
        "die geschichte der wissenschaft ist voller überraschender entdeckungen",
        "bitte lesen sie die anweisungen sorgfältig bevor sie die maschine starten",
        "die meisten häuser in der altstadt wurden vor über hundert jahren gebaut",
        "er ging langsam durch die ruhigen straßen und dachte an die zukunft",
        "kinder stellen oft fragen über die welt und wie die dinge funktionieren",
        "das unternehmen meldete ein starkes wachstum im ersten quartal des jahres",
    ],
    "fr": [
        "le renard brun rapide saute par dessus le chien paresseux près de la rivière",
        "il était une fois une petite fille qui vivait dans une grande forêt",
        "le gouvernement a annoncé aujourd'hui de nouvelles mesures pour l'économie",
        "nous devrions toujours essayer d'être gentils avec les autres personnes",
        "l'histoire de la science est pleine de découvertes surprenantes",
        "veuillez lire attentivement les instructions avant de démarrer la machine",
        "la plupart des maisons de la vieille ville ont été construites il y a un siècle",
        "il marchait lentement dans les rues calmes en pensant à l'avenir",
        "les enfants posent souvent des questions sur le monde et son fonctionnement",
        "l'entreprise a annoncé une forte croissance au premier trimestre de l'année",
    ],
    "es": [
        "el rápido zorro marrón salta sobre el perro perezoso cerca del río",
        "había una vez una niña pequeña que vivía en un gran bosque",
        "el gobierno anunció hoy nuevas medidas para la economía del país",
        "siempre deberíamos intentar ser amables con las demás personas",
        "la historia de la ciencia está llena de descubrimientos sorprendentes",
        "por favor lea las instrucciones cuidadosamente antes de encender la máquina",
        "la mayoría de las casas del casco antiguo fueron construidas hace más de un siglo",
        "caminaba lentamente por las calles tranquilas pensando en el futuro",
        "los niños hacen muchas preguntas sobre el mundo y cómo funcionan las cosas",
        "la empresa reportó un fuerte crecimiento en el primer trimestre del año",
    ],
    "ru": [
        "быстрая коричневая лиса прыгает через ленивую собаку у реки",
        "жила была маленькая девочка которая жила в большом лесу",
        "правительство сегодня объявило о новых мерах для экономики страны",
        "мы всегда должны стараться быть добрыми к другим людям",
        "история науки полна удивительных открытий и ошибок",
        "пожалуйста внимательно прочитайте инструкцию перед запуском машины",
        "большинство домов в старом городе были построены более ста лет назад",
        "он медленно шел по тихим улицам думая о будущем",
        "дети часто задают вопросы о мире и о том как все устроено",
        "компания сообщила о сильном росте в первом квартале этого года",
    ],
}

LANGS: tuple[str, ...] = tuple(sorted(SEED_CORPUS))

_MAX_DOC_CHARS = 2000  # score at most this many chars per doc (CCNet-style cap)


def _trigrams(s: str):
    s = " " + _DIGITS.sub("0", s.lower()) + " "
    for i in range(len(s) - 2):
        yield s[i : i + 3]


@lru_cache(maxsize=1)
def langid_profiles() -> dict[str, dict[str, float]]:
    """Per-language char-trigram log-prob profiles (add-one smoothed)."""
    profiles: dict[str, dict[str, float]] = {}
    for lang, sentences in SEED_CORPUS.items():
        counts: dict[str, int] = {}
        total = 0
        for s in sentences:
            for tri in _trigrams(s):
                counts[tri] = counts.get(tri, 0) + 1
                total += 1
        vocab = len(counts) + 1
        denom = math.log(total + vocab)
        profiles[lang] = {t: math.log(c + 1) - denom for t, c in counts.items()}
        # unseen-trigram floor, stored under a key no trigram can collide with
        profiles[lang]["\x00floor"] = -denom
    return profiles


@lru_cache(maxsize=1)
def _combined_profile():
    """trigram → row index into a (|tris|+1, |langs|) log-prob matrix; row 0
    is the per-language floor vector. One dict lookup per trigram + one
    vectorized column sum replaces a per-language Python loop — same scores
    up to float association (argmax decisions verified identical by the
    engine-vs-oracle parity suites, which call this very function on both
    sides)."""
    import numpy as np

    profiles = langid_profiles()
    floors = [profiles[lang]["\x00floor"] for lang in LANGS]
    all_tris = sorted(
        {k for lang in LANGS for k in profiles[lang] if k != "\x00floor"}
    )
    mat = np.empty((len(all_tris) + 1, len(LANGS)), dtype=np.float64)
    mat[0] = floors
    index: dict[str, int] = {}
    for row, tri in enumerate(all_tris, start=1):
        index[tri] = row
        for i, lang in enumerate(LANGS):
            mat[row, i] = profiles[lang].get(tri, floors[i])
    return index, mat


@lru_cache(maxsize=1)
def _fast_scorer():
    """Vectorized trigram scorer, numerically identical to the dict path.

    * char → small id via a dense ord→id table over the full Unicode range
      (1 MB int8-ish gather, exact: every unknown codepoint maps to OOV 0),
    * trigram id = ((a*K)+b)*K+c looked up in a dense int32 table whose
      unfilled entries are 0 — exactly ``index.get(tri, 0)``, because a
      trigram containing any OOV char can never equal a profile trigram's
      id (profile ids never use 0 in any position),
    * the per-language sum stays ``mat[rows].sum(axis=0)`` in document
      order, so scores are bit-identical to the per-trigram dict loop
      (pinned by tests/test_langid.py::test_fast_scorer_matches_dict_path).

    ~3 MB of tables per executor; built once per process (lru_cache).
    """
    import numpy as np

    index, mat = _combined_profile()
    chars = sorted({c for tri in index for c in tri})
    K = len(chars) + 1  # id 0 = OOV
    char_table = np.zeros(0x110000, dtype=np.int32)
    for i, c in enumerate(chars):
        char_table[ord(c)] = i + 1
    char_id = {c: i + 1 for i, c in enumerate(chars)}
    lookup = np.zeros(K * K * K, dtype=np.int32)
    for tri, row in index.items():
        a, b, c = (char_id[x] for x in tri)
        lookup[(a * K + b) * K + c] = row
    return char_table, K, lookup, mat


def predict_lang(text: str) -> str:
    """argmax language by mean trigram log-prob; 'unk' for tiny docs."""
    if not text:
        return "unk"
    import numpy as np

    char_table, K, lookup, mat = _fast_scorer()
    s = " " + _DIGITS.sub("0", text[:_MAX_DOC_CHARS].lower()) + " "
    if len(s) - 2 < 5:
        return "unk"
    # errors="replace": lone surrogates become '?', which is not a profile
    # character, so such trigrams hit OOV row 0 — same as the dict path
    codes = np.frombuffer(
        s.encode("utf-32-le", "replace"), dtype="<u4"
    ).astype(np.int64)
    ids = char_table[codes]
    rows = lookup[(ids[:-2] * K + ids[1:-1]) * K + ids[2:]]
    scores = mat[rows].sum(axis=0)
    return LANGS[int(scores.argmax())]


@lru_cache(maxsize=1)
def _bigram_lm() -> tuple[dict[str, float], dict[str, float], float]:
    """Char-bigram LM over the English seed corpus (add-one smoothing).

    Returns (bigram log-probs, per-context floor log-probs, global floor).
    """
    bi: dict[str, int] = {}
    uni: dict[str, int] = {}
    for s in SEED_CORPUS["en"]:
        s = " " + _DIGITS.sub("0", s.lower()) + " "
        for i in range(len(s) - 1):
            uni[s[i]] = uni.get(s[i], 0) + 1
            bi[s[i : i + 2]] = bi.get(s[i : i + 2], 0) + 1
    alphabet = len(uni) + 1
    logp = {
        pair: math.log(c + 1) - math.log(uni[pair[0]] + alphabet)
        for pair, c in bi.items()
    }
    floors = {c: -math.log(n + alphabet) for c, n in uni.items()}
    global_floor = -math.log(alphabet)
    return logp, floors, global_floor


@lru_cache(maxsize=1)
def _fast_lm():
    """Dense (K×K) bigram log-prob table with the fallback chain baked in:
    cell (a,b) = logp(ab) if seen, else floor(a), else global floor; OOV
    chars map to id 0 whose whole row is the global floor. Every cell
    equals what the dict-get chain returns for that pair, so only the
    float summation order differs from the old loop (pairwise vs
    sequential — same single implementation is used engine- and
    oracle-side, so no cross-implementation drift exists)."""
    import numpy as np

    logp, floors, global_floor = _bigram_lm()
    chars = sorted({c for pair in logp for c in pair} | set(floors))
    K = len(chars) + 1  # id 0 = OOV
    char_id = {c: i + 1 for i, c in enumerate(chars)}
    char_table = np.zeros(0x110000, dtype=np.int32)
    for c, i in char_id.items():
        char_table[ord(c)] = i
    table = np.full((K, K), global_floor, dtype=np.float64)
    for c, f in floors.items():
        table[char_id[c], :] = f
    for pair, lp in logp.items():
        table[char_id[pair[0]], char_id[pair[1]]] = lp
    return char_table, K, table


# --- word-level LM (KenLM/CCNet-style token n-gram) ------------------------
# The char-bigram LM above catches gibberish; CCNet's quality signal is a
# TOKEN n-gram LM with backoff (Wenzek et al. 2019 §3.2; PAPERS.md). This is
# the same method at the smallest honest size: a trigram model with
# stupid-backoff scoring (Brants et al. 2007 — the web-scale backoff KenLM
# practice uses when Kneser-Ney counts are overkill), trained on the seed
# corpus. Same deterministic-artifact/broadcast pattern as everything else
# in this module.

_MAX_DOC_TOKENS = 400


def _word_tokens(s: str) -> list[str]:
    return _DIGITS.sub("0", s.lower()).split()


_SB_ALPHA = 0.4  # stupid-backoff discount (Brants et al. 2007, "Large LMs")


@lru_cache(maxsize=1)
def _word_backoff_lm():
    """Stupid-backoff TRIGRAM tables (KenLM-practice backoff scoring, vs
    the interpolated bigram of ``_word_bigram_lm``):

        S(w | h2 h1) = c3/c(h2 h1)          if the trigram was seen
                     = α · S(w | h1)         otherwise
        S(w | h1)    = c2/c(h1)              if the bigram was seen
                     = α · S_uni(w)          otherwise  (add-1 unigram, OOV floor)

    Dense numpy scoring artifacts: ``B[K, K]`` holds S(w|h1) for every
    (h1, w); seen-trigram contexts (a few hundred) live in ``T[C, K]``
    (0 = unseen → back off), addressed via a sorted packed-key array and
    ``searchsorted`` — no per-token Python in the hot loop. ~K²+CK floats
    per executor (K ≈ 200), broadcast once like every other artifact.
    """
    import numpy as np

    uni: dict[str, int] = {}
    big: dict[tuple[str, str], int] = {}
    tri: dict[tuple[str, str, str], int] = {}
    n_targets = 0
    for s in SEED_CORPUS["en"]:
        seq = ["<s>", "<s>", *_word_tokens(s), "</s>"]
        for w in seq[2:]:
            uni[w] = uni.get(w, 0) + 1
            n_targets += 1
        for a, b in zip(seq[1:], seq[2:]):
            big[(a, b)] = big.get((a, b), 0) + 1
        for a, b, c in zip(seq, seq[1:], seq[2:]):
            tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
    vocab = sorted({w for pair in big for w in pair} | set(uni))
    V = len(vocab) + 1
    word_id = {w: i + 1 for i, w in enumerate(vocab)}
    K = V
    s_uni = np.full(K, 1.0 / (n_targets + V), dtype=np.float64)
    for w, c in uni.items():
        s_uni[word_id[w]] = (c + 1.0) / (n_targets + V)

    ctx1 = {}  # c(h1) over bigram events
    for (a, _b), c in big.items():
        ctx1[a] = ctx1.get(a, 0) + c
    B = np.repeat((_SB_ALPHA * s_uni)[None, :], K, axis=0)
    for (a, b), c in big.items():
        B[word_id[a], word_id[b]] = c / ctx1[a]

    ctx2 = {}  # c(h2 h1) over trigram events
    for (a, b, _c), c in tri.items():
        ctx2[(a, b)] = ctx2.get((a, b), 0) + c
    ctx_list = sorted(
        (word_id[a] * K + word_id[b], (a, b)) for (a, b) in ctx2
    )
    ctx_keys = np.array([k for k, _ in ctx_list], dtype=np.int64)
    row_of = {pair: r for r, (_k, pair) in enumerate(ctx_list)}
    T = np.zeros((len(ctx_list) + 1, K), dtype=np.float64)
    for (a, b, c), n in tri.items():
        T[row_of[(a, b)], word_id[c]] = n / ctx2[(a, b)]
    return word_id, K, s_uni, B, ctx_keys, T


def word_perplexity(text: str) -> float:
    """Word-trigram stupid-backoff perplexity vs the English seed LM
    (<s> <s> w1 … wn </s>; ppl over the n+1 scored transitions). inf for
    token-free docs."""
    if not text:
        return float("inf")
    import numpy as np

    word_id, K, _s_uni, B, ctx_keys, T = _word_backoff_lm()
    toks = _word_tokens(text[: _MAX_DOC_CHARS * 4])[:_MAX_DOC_TOKENS]
    if not toks:
        return float("inf")
    seq = ["<s>", "<s>", *toks, "</s>"]
    ids = np.fromiter(
        (word_id.get(w, 0) for w in seq), dtype=np.int64, count=len(seq)
    )
    h2, h1, w = ids[:-2], ids[1:-1], ids[2:]
    packed = h2 * K + h1
    pos = np.minimum(
        np.searchsorted(ctx_keys, packed), len(ctx_keys) - 1
    )
    seen_ctx = ctx_keys[pos] == packed
    rows = np.where(seen_ctx, pos, len(ctx_keys))  # sentinel all-zero row
    tri_p = T[rows, w]
    p = np.where(tri_p > 0.0, tri_p, _SB_ALPHA * B[h1, w])
    lps = np.log(p)
    return math.exp(-float(lps.sum()) / len(lps))


def perplexity(text: str) -> float:
    """Char-bigram perplexity of the doc vs the English seed LM."""
    if not text or len(text) < 2:
        return float("inf")
    import numpy as np

    char_table, K, table = _fast_lm()
    s = _DIGITS.sub("0", text[:_MAX_DOC_CHARS].lower())
    codes = np.frombuffer(
        s.encode("utf-32-le", "replace"), dtype="<u4"
    ).astype(np.int64)
    ids = char_table[codes]
    lps = table[ids[:-1], ids[1:]]
    return math.exp(-float(lps.sum()) / len(lps))


# Code points per batch-scoring slice.  A slice's numpy temporaries are a
# fixed multiple of its code points (about 120 B each at most), so this
# bounds a worker's scoring memory whatever the batch holds; one document
# over the budget is a slice of its own.
SLICE_CODEPOINTS = 1 << 17


def codepoint_slices(lengths: list[int]):
    """``(lo, hi)`` runs of consecutive documents whose lengths sum to at
    most ``SLICE_CODEPOINTS``, or one document longer than that."""
    lo, size = 0, 0
    for i, n in enumerate(lengths):
        if i > lo and size + n > SLICE_CODEPOINTS:
            yield lo, i
            lo, size = i, 0
        size += n
    if lo < len(lengths):
        yield lo, len(lengths)


def codepoints_left(strip_rx: str):
    """The code points, surrogates included, that ``re.sub(strip_rx, "")``
    keeps of all of Unicode, as a uint32 array: one C-speed regex pass
    over the 1.1M code points instead of a Python predicate call on each
    (20-40 ms per process, where an ``isalpha`` loop took ~0.9 s)."""
    import numpy as np

    kept = []
    for lo in range(0, 0x110000, 0x10000):  # a plane at a time: ~1 MB
        block = np.arange(lo, lo + 0x10000, dtype="<u4").tobytes()
        chars = block.decode("utf-32-le", "surrogatepass")
        kept.append(re.sub(strip_rx, "", chars))
    return np.frombuffer(
        "".join(kept).encode("utf-32-le", "surrogatepass"), dtype="<u4"
    )


@lru_cache(maxsize=1)
def _batch_tables():
    """``_fast_scorer``'s and ``_fast_lm``'s tables for batch scoring.  The
    char→id tables shrink to uint8 and fold in the digit normalization:
    every ``\\d`` code point (exactly the ``str.isdecimal`` ones) takes
    '0''s id, which is what ``_DIGITS.sub("0", ...)`` then the lookup
    gives.  The trigram matrix is stored transposed, one row per
    language, with a zero at the end of each row to pad with."""
    import numpy as np

    digits = codepoints_left(r"\D+")

    def folded(char_table, K):
        ids = char_table.astype(np.min_scalar_type(K - 1))
        ids[digits] = ids[ord("0")]
        return ids

    tri_ids, K3, lookup, mat = _fast_scorer()
    bi_ids, K2, table = _fast_lm()
    # one contiguous row per language, so a gather from it is 1-D
    lang_rows = np.vstack([mat, np.zeros((1, mat.shape[1]))]).T.copy()
    return (
        folded(tri_ids, K3), K3, lookup, lang_rows,
        folded(bi_ids, K2), K2, table.ravel(),
    )


def lang_and_perplexity_batch(texts: list[str]) -> tuple[list[str], list[float]]:
    """``(predict_lang(t), perplexity(t))`` for every text, bit-equal to
    the per-document functions, scored a slice at a time.

    Each text's ``[:_MAX_DOC_CHARS]`` is lowered (which can lengthen it:
    'İ' lowers to two code points, so offsets come from the lowered
    lengths); a slice joins them with one space, pads both ends with one
    and encodes once.  So the space padding ``predict_lang`` puts around
    a doc is its neighbours' separators, every bigram and trigram of a doc
    sits at fixed offsets in the slice's one lookup array, and digit
    normalization is a table lookup (``_batch_tables``).

    The sums keep the per-document order, so the floats are identical,
    not close.  A doc's perplexity sums its own contiguous run of bigram
    log-probs with ``.sum()`` (numpy's pairwise sum, as
    ``perplexity``).  Language scores are ``mat[rows].sum(axis=0)``
    in ``predict_lang``, which adds row after row; here docs of similar
    length are stacked position-major, ``(positions, docs)`` per language,
    short docs padded with zeros, and summed over axis 0: the same
    row-after-row sums (``x + 0.0 == x``) for a whole group in one call.
    Grouping by length octave bounds the padding to under 2x."""
    import numpy as np

    tri_ids, K3, lookup, lang_rows, bi_ids, K2, bigram = _batch_tables()
    pad = lang_rows.shape[1] - 1
    lows = [t[:_MAX_DOC_CHARS].lower() for t in texts]
    langs = ["unk"] * len(texts)
    ppls = [float("inf")] * len(texts)
    for lo, hi in codepoint_slices([len(s) + 1 for s in lows]):
        joined = " " + " ".join(lows[lo:hi]) + " "
        codes = np.frombuffer(
            joined.encode("utf-32-le", "replace"), dtype="<u4"
        ).astype(np.intp)
        lens = np.fromiter((len(s) for s in lows[lo:hi]), np.intp, hi - lo)
        starts = np.cumsum(lens + 1) - lens  # first char of each doc
        ids = bi_ids[codes].astype(np.intp)
        lps = bigram[ids[:-1] * K2 + ids[1:]]  # bigram at p is (p, p+1)
        for i, (a, n) in enumerate(zip(starts.tolist(), lens.tolist())):
            if len(texts[lo + i]) >= 2:
                total = float(lps[a : a + n - 1].sum())
                ppls[lo + i] = math.exp(-total / (n - 1))
        ids = tri_ids[codes].astype(np.intp)
        rows = lookup[(ids[:-2] * K3 + ids[1:-1]) * K3 + ids[2:]]
        rows = np.append(rows, pad)  # trigram at p is (p, p+1, p+2)
        scored = np.flatnonzero(lens >= 5)
        octave = np.frexp(lens[scored])[1]
        for e in np.unique(octave):
            docs = scored[octave == e]
            steps = np.arange(lens[docs].max())[:, None]
            at = rows[
                np.where(steps < lens[docs], starts[docs] - 1 + steps, -1)
            ]
            scores = [row[at].sum(axis=0) for row in lang_rows]
            for d, b in zip(docs.tolist(), np.argmax(scores, axis=0).tolist()):
                langs[lo + d] = LANGS[b]
    return langs, ppls


def lang_and_perplexity(text: str) -> tuple[str, float]:
    """``(predict_lang(text), perplexity(text))`` for one document: a batch
    of one through ``lang_and_perplexity_batch``."""
    langs, ppls = lang_and_perplexity_batch([text])
    return langs[0], ppls[0]
