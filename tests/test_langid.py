"""Language-ID model checks, including the planted-corpus invariant the
driver oracle `langid_planted` depends on."""

from __future__ import annotations

from pii_detector_spark.functions.langmodels import LANGS, predict_lang


def test_planted_sentences_predict_their_language():
    # must stay in sync with __spark_entry__._LANG_PLANTS: the DuckDB oracle
    # hardcodes these labels, so the model must actually produce them
    from __spark_entry__ import _LANG_PLANTS

    assert tuple(lang for lang, _ in _LANG_PLANTS) == LANGS
    for lang, sentence in _LANG_PLANTS:
        assert predict_lang(sentence) == lang, (lang, sentence)


def test_seed_language_separation():
    from pii_detector_spark.functions.langmodels import SEED_CORPUS

    for lang, sents in SEED_CORPUS.items():
        for s in sents:
            assert predict_lang(s) == lang, (lang, s)


def _predict_lang_naive(text: str) -> str:
    """The pre-vectorization reference loop: per-trigram dict lookups.
    The fast scorer must reproduce it exactly (same gather order → same
    float sums → same argmax)."""
    import numpy as np

    from pii_detector_spark.functions.langmodels import (
        _combined_profile,
        _trigrams,
    )

    if not text:
        return "unk"
    tris = list(_trigrams(text[:2000]))
    if len(tris) < 5:
        return "unk"
    index, mat = _combined_profile()
    rows = np.fromiter(
        (index.get(t, 0) for t in tris), dtype=np.int64, count=len(tris)
    )
    return LANGS[int(mat[rows].sum(axis=0).argmax())]


def test_fast_scorer_matches_dict_path():
    import random

    from pii_detector_spark.functions.langmodels import SEED_CORPUS

    rng = random.Random(11)
    samples = [s for ss in SEED_CORPUS.values() for s in ss]
    # fuzz: seed sentences, mixed-language mashups, digits, unknown chars,
    # unicode oddities, '?' aliasing probe, short strings
    docs = list(samples)
    for _ in range(200):
        parts = rng.sample(samples, k=rng.randint(1, 3))
        docs.append(" ".join(p[: rng.randint(5, 60)] for p in parts))
    docs += [
        "12345 67890 000",
        "¿dónde está la biblioteca? ¡hola!",
        "文字化けテスト 中文 字符",
        "mixed English و العربية text",
        "question? marks? everywhere???",
        "\x01\x02 control chars the and of",
        "tiny",
        " ",
    ]
    for d in docs:
        assert predict_lang(d) == _predict_lang_naive(d), repr(d)


def _perplexity_naive(text: str) -> float:
    """Pre-vectorization reference loop (sequential dict-get chain)."""
    import math

    from pii_detector_spark.functions.langmodels import _DIGITS, _bigram_lm

    if not text or len(text) < 2:
        return float("inf")
    logp, floors, global_floor = _bigram_lm()
    s = _DIGITS.sub("0", text[:2000].lower())
    total, n = 0.0, 0
    for i in range(len(s) - 1):
        pair = s[i : i + 2]
        lp = logp.get(pair)
        if lp is None:
            lp = floors.get(pair[0], global_floor)
        total += lp
        n += 1
    return math.exp(-total / n)


def test_fast_perplexity_matches_dict_path():
    import random

    from pii_detector_spark.functions.langmodels import (
        SEED_CORPUS,
        perplexity,
    )

    rng = random.Random(23)
    samples = [s for ss in SEED_CORPUS.values() for s in ss]
    docs = list(samples) + [
        "12345 67890", "¿hola? 文字 test", "xy", "\x01\x02 ab the of",
    ]
    for _ in range(100):
        docs.append(" ".join(rng.sample(samples, k=2))[: rng.randint(3, 150)])
    for d in docs:
        a, b = perplexity(d), _perplexity_naive(d)
        # identical per-pair values; only float summation order differs
        assert abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0), repr(d)


def test_empty_and_numeric_fall_back_deterministically():
    # empty → 'unk' sentinel; letterless text falls back deterministically
    assert predict_lang("") == "unk"
    assert predict_lang("12345 67890") == predict_lang("12345 67890")
    assert predict_lang("12345 67890") in LANGS + ("unk",)


def _word_ppl_naive(text: str) -> float:
    """Independent dict-based reimplementation of the stupid-backoff
    trigram LM (same training spec and backoff chain, no numpy tables)."""
    import math as _math

    from pii_detector_spark.functions.langmodels import (
        _MAX_DOC_CHARS,
        _MAX_DOC_TOKENS,
        _SB_ALPHA,
        _word_tokens,
        SEED_CORPUS,
    )

    uni, big, tri = {}, {}, {}
    n = 0
    for s in SEED_CORPUS["en"]:
        seq = ["<s>", "<s>", *_word_tokens(s), "</s>"]
        for w in seq[2:]:
            uni[w] = uni.get(w, 0) + 1
            n += 1
        for a, b in zip(seq[1:], seq[2:]):
            big[(a, b)] = big.get((a, b), 0) + 1
        for a, b, c in zip(seq, seq[1:], seq[2:]):
            tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
    vocab = {w for pair in big for w in pair} | set(uni)
    V = len(vocab) + 1
    ctx1, ctx2 = {}, {}
    for (a, _b), c in big.items():
        ctx1[a] = ctx1.get(a, 0) + c
    for (a, b, _c), c in tri.items():
        ctx2[(a, b)] = ctx2.get((a, b), 0) + c

    def s_uni(w):
        return (uni.get(w, 0) + 1.0) / (n + V)

    def s2(h1, w):
        if (h1, w) in big:
            return big[(h1, w)] / ctx1[h1]
        return _SB_ALPHA * s_uni(w)

    def s3(h2, h1, w):
        if (h2, h1, w) in tri:
            return tri[(h2, h1, w)] / ctx2[(h2, h1)]
        return _SB_ALPHA * s2(h1, w)

    toks = _word_tokens(text[: _MAX_DOC_CHARS * 4])[:_MAX_DOC_TOKENS]
    if not toks:
        return float("inf")
    seq = ["<s>", "<s>", *toks, "</s>"]
    # OOV words collapse to the shared OOV id in the table form
    seq = [w if w in vocab else "\x00OOV" for w in seq[:2]] + [
        w if w in vocab else "\x00OOV" for w in seq[2:]
    ]
    total = 0.0
    for h2, h1, w in zip(seq, seq[1:], seq[2:]):
        total += _math.log(s3(h2, h1, w))
    return _math.exp(-total / (len(seq) - 2))


def test_word_perplexity_matches_naive_and_orders_fluency():
    import random

    from pii_detector_spark.functions.langmodels import (
        SEED_CORPUS,
        word_perplexity,
    )

    rng = random.Random(7)
    samples = [s for ss in SEED_CORPUS.values() for s in ss]
    docs = list(samples) + ["", "zq xv gkh", "the the the", "12345 the"]
    for _ in range(50):
        docs.append(" ".join(rng.sample(samples, k=2))[: rng.randint(3, 120)])
    for d in docs:
        a, b = word_perplexity(d), _word_ppl_naive(d)
        if a == float("inf"):
            assert b == float("inf")
            continue
        assert abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0), repr(d)
    # fluency ordering: in-domain English << OOV-heavy foreign text
    assert word_perplexity(SEED_CORPUS["en"][0]) < 10
    assert word_perplexity(SEED_CORPUS["de"][0]) > 500


def test_with_word_perplexity_column(spark):
    from pii_detector_spark.functions.langmodels import word_perplexity
    from pii_detector_spark.operators.langid import with_word_perplexity

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["word_ppl"]
        for r in with_word_perplexity(df).collect()
    }
    want = word_perplexity("the quick brown fox jumps over the lazy dog")
    assert abs(got[1] - want) < 1e-9
    assert got[2] == 1e9  # null text → capped sentinel


# one batch that crosses every edge of the batch scorer: empty and tiny
# docs (no perplexity, 'unk'), whitespace only, lone surrogates, 'İ'
# (lowers to two code points) at the 2,000-char cut, non-ASCII decimal
# digits, a doc over the cut and one over a whole scoring slice
_EDGE_DOCS = [
    "",
    "a",
    "ab",
    "abcd",
    "abcde",
    "   ",
    "\t \n\x0b",
    "İ",
    "lone \ud800 surrogates \udfff here ?",
    "x" * 1999 + "İ" + "tail of the doc",
    "İ" * 2500,
    "٣ ४ ٣٤٥ digits ४५६ 12 and the rest of it",
    "the quick brown fox " * 150,
    "der alte mann und das meer " * 6000,
    "\ud800",
    "ok",
]


def test_batch_scorer_equals_one_doc_calls():
    from pii_detector_spark.functions.langmodels import (
        SLICE_CODEPOINTS,
        lang_and_perplexity,
        lang_and_perplexity_batch,
        perplexity,
    )

    assert max(map(len, _EDGE_DOCS)) > SLICE_CODEPOINTS
    langs, ppls = lang_and_perplexity_batch(_EDGE_DOCS)
    for d, lang, ppl in zip(_EDGE_DOCS, langs, ppls):
        want = (predict_lang(d), perplexity(d))
        assert (lang, repr(ppl)) == (want[0], repr(want[1])), repr(d[:30])
        assert lang_and_perplexity(d) == (lang, ppl)
        assert lang == _predict_lang_naive(d), repr(d[:30])


def test_digit_fold_is_the_decimal_code_points():
    """``_batch_tables`` folds ``codepoints_left(r"\\D+")`` into '0': that
    must be exactly the code points ``\\d`` matches, ``str.isdecimal``."""
    from pii_detector_spark.functions.langmodels import codepoints_left

    want = [cp for cp in range(0x110000) if chr(cp).isdecimal()]
    assert codepoints_left(r"\D+").tolist() == want


def test_langid_documents_values_match_dict_path(spark):
    """The declared ``langid_documents`` query at sf0.01, value by value:
    every ``lang_pred`` equals the per-trigram dict loop's, and every
    rounded perplexity the sequential dict-get chain's (the two sums
    differ only in float order, far below the 4th decimal)."""
    import os

    import pyarrow.parquet as pq

    from __spark_entry__ import q_langid_documents
    from tests.test_bpe import SF as SF_SMALL

    sf = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")
    texts = dict(
        zip(
            *pq.read_table(
                f"{sf}/documents.parquet", columns=["doc_id", "text"]
            ).to_pydict().values()
        )
    )
    rows = q_langid_documents(spark, sf).collect()
    assert len(rows) == len(texts) > 0
    for r in rows:
        text = texts[r["doc_id"]] or ""
        assert r["lang_pred"] == _predict_lang_naive(text), r["doc_id"]
        want = min(_perplexity_naive(text), 1e9)
        assert abs(r["perplexity"] - want) <= 0.5e-4 + 1e-9 * want, r["doc_id"]


def test_batch_scoring_memory_is_bounded_by_the_slice():
    """200 docs of 100 KB among small ones: the scorers' temporaries are
    bounded by a slice's code points (about 120 B each at most), not by
    the batch's 20 MB of text, which one whole-batch pass would turn into
    hundreds of MB."""
    import tracemalloc

    from pii_detector_spark.functions.langmodels import (
        SLICE_CODEPOINTS,
        lang_and_perplexity_batch,
    )
    from pii_detector_spark.operators.fused import _word_char_stats_batch

    big = ("the quick brown fox jumps over the lazy dog " * 2400)[:100_000]
    texts = []
    for i in range(200):
        texts += [f"{i} {big}", "a short one", ""]
    lang_and_perplexity_batch(texts[:3])  # tables built outside the trace
    _word_char_stats_batch(texts[:3])
    tracemalloc.start()
    try:
        lang_and_perplexity_batch(texts)
        _word_char_stats_batch(texts)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 120 * SLICE_CODEPOINTS, peak
