"""DSIR importance weights: a python re-derivation oracle, partitioning
invariance, the scorer's plan shape (no join, no shuffle), and sign
semantics."""

from __future__ import annotations

import hashlib
import math

import pytest

from pii_detector_spark.operators.dsir import dsir_weights, train_dsir

SF = "/root/testdata/sf0.001"


def _py_weights(target_texts, raw_texts, doc_texts, nmax=2, b_hex=2):
    """Independent python re-derivation of the whole operator."""
    B = 16**b_hex

    def grams(t):
        words = [w for w in t.split(" ") if w]
        out = []
        for n in range(1, nmax + 1):
            for i in range(len(words) - n + 1):
                out.append(" ".join(words[i : i + n]))
        return out

    def bucket(g):
        return hashlib.md5(g.encode()).hexdigest()[:b_hex]

    ct: dict[str, int] = {}
    cr: dict[str, int] = {}
    for t in target_texts:
        for g in grams(t):
            ct[bucket(g)] = ct.get(bucket(g), 0) + 1
    for t in raw_texts:
        for g in grams(t):
            cr[bucket(g)] = cr.get(bucket(g), 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())

    def w(b):
        return round(
            1e6
            * (
                math.log((ct.get(b, 0) + 1) / (tt + B))
                - math.log((cr.get(b, 0) + 1) / (tr + B))
            )
        )

    return {
        i: sum(w(bucket(g)) for g in grams(t))
        for i, t in enumerate(doc_texts)
    }


def test_weights_match_python_oracle_with_bigrams(spark):
    target = ["good clean prose here", "clean prose wins again"]
    raw = ["spam spam buy now", "buy now good spam", "now now now"]
    docs = ["clean prose", "spam buy now", "", "totally unseen tokens"]
    tdf = spark.createDataFrame([(t,) for t in target], "text string")
    rdf = spark.createDataFrame([(t,) for t in raw], "text string")
    ddf = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    m = train_dsir(tdf, rdf, ngram_max=2)
    got = {
        r["doc_id"]: r["dsir_weight_fp"]
        for r in dsir_weights(ddf, m).collect()
    }
    want = _py_weights(target, raw, docs)
    assert got == want
    # target-like text scores above raw-like text
    assert got[0] > got[1]
    assert got[2] == 0  # gramless doc: neutral weight, present in output


def test_weights_partitioning_invariant(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    from pyspark.sql import functions as F

    t = docs.filter(F.col("doc_id") % 7 == 0)
    r = docs.filter(F.col("doc_id") % 7 != 0)
    m1 = train_dsir(t, r, ngram_max=1)
    m2 = train_dsir(t.repartition(5), r.repartition(3), ngram_max=1)
    w1 = sorted(map(tuple, dsir_weights(docs, m1).collect()))
    w2 = sorted(map(tuple, dsir_weights(docs.repartition(9), m2).collect()))
    assert w1 == w2  # integer micro-nats: exact under any partitioning


def test_empty_sample_raises(spark):
    e = spark.createDataFrame([], "text string")
    d = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError, match="non-empty"):
        train_dsir(e, d)
    with pytest.raises(ValueError, match="non-empty"):
        train_dsir(d, e)


def test_score_plan_has_no_join_or_shuffle(spark):
    """Scale-shape pin: the B-entry weight dict ships with the UDF, so the
    corpus is never joined or shuffled by bucket."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    from pyspark.sql import functions as F

    m = train_dsir(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        ngram_max=1,
    )
    plan = (
        dsir_weights(docs, m)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "Exchange" not in plan
