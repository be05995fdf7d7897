"""Dedup operator tests: constructed corpora with known duplicate structure
plus sf0.001 documents testdata."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a + " extra"
    c = "completely different content about spark partitions and shuffles here"
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=a),
            Row(doc_id=2, text=a),          # exact dup of 1
            Row(doc_id=3, text=b),          # near dup of 1/2
            Row(doc_id=4, text=c),
            Row(doc_id=5, text=""),
        ]
    )


def test_exact_dedup(docs):
    from pii_detector_spark.operators.dedup import exact_dedup

    out = {r["canonical_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert out[1] == 2
    assert out[3] == 1
    assert out[4] == 1


def test_minhash_lsh_finds_near_dups(docs):
    from pii_detector_spark.operators.delta_dedup import (
        minhash_pairs_delta,
        minhash_signatures,
    )

    sig = minhash_signatures(docs, shingle_n=3)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_pairs_delta(sig, sig, jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all(4 not in p for p in pairs)


def test_ngram_jaccard_pairs(docs):
    from pii_detector_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_ngram_jaccard_cap_drops_boilerplate_only_pairs(spark):
    from pii_detector_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "accept all cookies to continue"
    rows = [
        Row(doc_id=1, text=f"{boiler} unique alpha text one two"),
        Row(doc_id=2, text=f"{boiler} other beta content three four"),
        Row(doc_id=3, text=f"{boiler} unique alpha text one two"),  # dup of 1
        Row(doc_id=4, text=f"{boiler} gamma delta epsilon five six"),
    ]
    df = spark.createDataFrame(rows)
    # cap=2: the boilerplate shingles (df=4) are excluded from candidate
    # generation, so pairs sharing ONLY boilerplate disappear; the true dup
    # pair (1,3) still surfaces through its unique shingles and is verified
    # with full exact jaccard (=1.0)
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, shingle_n=3, threshold=0.2, max_docs_per_shingle=2
        ).collect()
    }
    assert capped[(1, 3)] == 1.0
    assert (1, 2) not in capped and (2, 4) not in capped
    # exact mode keeps the boilerplate-only pairs
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, shingle_n=3, threshold=0.2, max_docs_per_shingle=None
        ).collect()
    }
    assert (1, 2) in exact and (1, 3) in exact


def test_simhash_similarity(docs):
    from pii_detector_spark.operators.dedup import simhash64

    sims = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert sims[1] == sims[2]  # identical text → identical simhash
    # near dup differs in few bits; unrelated differs in many
    ham_near = bin(sims[1] ^ sims[3]).count("1")
    ham_far = bin(sims[1] ^ sims[4]).count("1")
    assert ham_near < ham_far
    assert sims[5] == 0


def test_exact_dedup_on_testdata(spark):
    from pii_detector_spark.operators.dedup import exact_dedup

    df = spark.read.parquet(f"{SF}/documents.parquet")
    out = exact_dedup(df)
    # sf0.001 documents are all distinct
    assert out.count() == df.count()
    assert out.agg({"dup_count": "sum"}).collect()[0][0] == df.count()


def test_shingles_expression(spark):
    from pii_detector_spark.operators.dedup import shingles_col

    df = spark.createDataFrame([Row(text="a b c d"), Row(text="a"), Row(text="")])
    rows = df.select(shingles_col(2).alias("s")).collect()
    assert sorted(rows[0]["s"]) == ["a b", "b c", "c d"]
    assert rows[1]["s"] == []
    assert rows[2]["s"] == []


def test_boilerplate_shingles(spark):
    from pii_detector_spark.operators.dedup import boilerplate_shingles

    boiler = "accept all cookies to continue browsing"
    rows = [
        Row(doc_id=1, text=f"{boiler} unique alpha text one"),
        Row(doc_id=2, text=f"{boiler} other beta content two"),
        Row(doc_id=3, text="entirely unrelated content about spark plans"),
    ]
    out = boilerplate_shingles(
        spark.createDataFrame(rows), shingle_n=3, min_doc_freq=2
    ).collect()
    # the boilerplate prefix yields 4 shared trigrams; each seen in docs 1+2
    assert len(out) == 4
    assert all(r["doc_freq"] == 2 and r["first_doc_id"] == 1 for r in out)


def test_remove_boilerplate_lines(spark):
    from pii_detector_spark.operators.dedup import remove_boilerplate_lines

    rows = [
        Row(doc_id=1, text="cookie banner\nreal content one\n\nfooter legal"),
        Row(doc_id=2, text="cookie banner\nreal content two\nfooter legal"),
        Row(doc_id=3, text="cookie banner\nonly boilerplate here\nfooter legal"),
        Row(doc_id=4, text="standalone document with its own text"),
        Row(doc_id=5, text=""),
    ]
    out = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate_lines(
            spark.createDataFrame(rows), min_doc_freq=2
        ).collect()
    }
    # repeated lines removed everywhere; unique lines survive in order;
    # empty lines are structure and disappear
    assert out[1] == "real content one"
    assert out[2] == "real content two"
    assert out[3] == "only boilerplate here"
    assert out[4] == "standalone document with its own text"
    assert out[5] == ""


def _py_simhash128(words):
    """Pure-Python replica of operators.dedup.simhash128 (two 60-bit
    words from the full md5 of each distinct token)."""
    import hashlib as _hl

    vl, vh = [0] * 60, [0] * 60
    for w in set(words):
        hx = _hl.md5(w.encode()).hexdigest()
        lo, hi = int(hx[0:15], 16), int(hx[16:31], 16)
        for i in range(60):
            vl[i] += 1 if (lo >> i) & 1 else -1
            vh[i] += 1 if (hi >> i) & 1 else -1
    return (
        sum(1 << i for i in range(60) if vh[i] > 0),
        sum(1 << i for i in range(60) if vl[i] > 0),
    )


def _py_hamming128(a, b):
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def test_simhash_pairs_banding_and_hamming_verify(spark):
    """Manku-banded Hamming join: identical texts pair at hamming 0; a
    searched one-word variant with a KNOWN small hamming (computed by a
    pure-Python 120-bit replica) is found via the pigeonhole banding; far
    texts are excluded; max_hamming >= blocks raises."""
    import pytest as _pytest

    from pii_detector_spark.operators.dedup import simhash_pairs

    base_words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()

    ref = _py_simhash128(base_words + ["anchor"])
    near_word, near_h = None, None
    for cand in (f"w{i}" for i in range(3000)):
        h = _py_hamming128(ref, _py_simhash128(base_words + [cand]))
        if 1 <= h <= 3:
            near_word, near_h = cand, h
            break
    assert near_word is not None, "no close variant found in search space"

    far_text = "totally disjoint vocabulary set one two three four five six"
    rows = [
        (1, " ".join(base_words + ["anchor"])),
        (2, " ".join(base_words + ["anchor"])),   # identical → hamming 0
        (3, " ".join(base_words + [near_word])),  # known small hamming
        (4, far_text),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == near_h and got[(2, 3)] == near_h
    assert not any(4 in k for k in got)

    with _pytest.raises(ValueError, match="blocks - 1"):
        simhash_pairs(df, max_hamming=6, blocks=6)


def test_simhash_pairs_brute_force_parity(spark):
    """Recall AND precision vs ground truth: banded pairs == every pair
    with 120-bit Hamming <= max_hamming, computed brute-force in Python
    over a corpus of overlapping token sets."""
    from pii_detector_spark.operators.dedup import simhash_pairs

    vocab = [f"tok{i}" for i in range(40)]
    rows = []
    for d in range(50):
        # sliding windows of the vocabulary → a spread of pairwise
        # distances around the <=3 gate
        words = vocab[(d % 20):(d % 20) + 20] + [f"extra{d % 5}"]
        rows.append((d, " ".join(words)))
    fps = {d: _py_simhash128(t.split()) for d, t in rows}
    want = {
        (a, b): _py_hamming128(fps[a], fps[b])
        for a in fps
        for b in fps
        if a < b and _py_hamming128(fps[a], fps[b]) <= 3
    }
    assert want, "planted corpus produced no near pairs — bad fixture"
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    assert got == want


def test_simhash_pairs_no_word_docs_never_band(spark):
    """k empty/whitespace docs must produce ZERO pairs (NULL fingerprints
    are excluded from banding) instead of a k^2 Hamming-0 bucket."""
    from pii_detector_spark.operators.dedup import simhash128, simhash_pairs

    rows = [(i, "   \t  " if i % 2 else "") for i in range(10)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert simhash_pairs(df, max_hamming=3).count() == 0
    # and the fingerprint itself marks them NULL, not 0
    fp = {r["doc_id"]: r["sim_lo"] for r in simhash128(df).collect()}
    assert fp[0] is None and fp[1] is None and fp[100] is not None


def test_simhash_pairs_candidates_subquadratic(spark):
    """The 60-bit table keys must not detonate: n distinct docs produce
    far fewer banded candidates than n^2/2 (with 4x15-bit banding, random
    collisions at this n were already observable; at web scale they are
    fatal). Candidates here = pairs sharing any of the C(6,3)=20 keys."""
    from pii_detector_spark.operators import dedup as _dd

    n = 200
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(25))) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # rebuild the banding exactly as simhash_pairs does, but count
    # candidates BEFORE the Hamming verify
    from pyspark.sql import functions as F

    width = _dd.SIMHASH_BITS // 6
    mask = (1 << width) - 1
    half = 60 // width

    def _block(j):
        src, off = ("sim_lo", j) if j < half else ("sim_hi", j - half)
        return F.shiftrightunsigned(src, off * width).bitwiseAND(F.lit(mask))

    keys = []
    for t, combo in enumerate(_dd._block_combinations(6, 3)):
        packed = None
        for j in combo:
            b = _block(j)
            packed = b if packed is None else F.shiftleft(packed, width) + b
        keys.append(F.xxhash64(F.lit(t), packed))
    sh = _dd.simhash128(df).filter(F.col("sim_lo").isNotNull())
    banded = sh.select("doc_id", F.explode(F.array(*keys)).alias("band_key"))
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert cands < n  # vs C(200,2) = 19,900 all-pairs


class TestDecontaminate:
    """Benchmark n-gram decontamination (training-data hygiene)."""

    def test_flags_and_counts_overlapping_docs(self, spark):
        from pii_detector_spark.operators.decontaminate import (
            ngram_decontaminate,
        )

        bench_text = "the capital of france is paris and the capital of italy is rome"
        docs = spark.createDataFrame(
            [
                # contains 'the capital of france is paris' → many 5-gram hits
                (1, "quiz answer the capital of france is paris obviously"),
                # clean doc, no 5-gram overlap
                (2, "completely unrelated text about gardening and tomato plants in summer"),
                # contains a single overlapping 5-gram window region
                (3, "trivia the capital of italy is rome fact"),
                # too short for any 5-gram
                (4, "tiny doc"),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")
        out = {
            r["doc_id"]: (r["n_hit_grams"], r["is_contaminated"])
            for r in ngram_decontaminate(docs, bench, n=5).collect()
        }
        # doc 1: windows of 'the capital of france is paris' = 2 5-grams
        assert out[1] == (2, True)
        assert out[2] == (0, False)
        # doc 3: 'the capital of italy is rome' = 2 5-grams
        assert out[3] == (2, True)
        assert out[4] == (0, False)

    def test_benchmark_side_is_broadcast(self, spark):
        """The contamination join must broadcast the (small) benchmark
        gram set — no shuffle of the corpus gram stream."""
        from pii_detector_spark.operators.decontaminate import (
            ngram_decontaminate,
        )

        docs = spark.createDataFrame(
            [(i, f"w{i} " * 20) for i in range(50)], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(0, "w1 " * 20)], "doc_id long, text string"
        )
        out = ngram_decontaminate(docs, bench, n=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
