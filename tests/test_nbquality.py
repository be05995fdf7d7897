"""Naive-Bayes quality classifier: training parity vs a pure-Python
reference, the scorer's plan shape (no join, no shuffle), and decision
quality on a planted corpus."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pii_detector_spark.operators.nbquality import (
    NBModel,
    score_nb,
    train_nb,
)

_FP = 1_000_000


def _py_nb(rows):
    """Independent reference implementation (plain dicts + math.log)."""
    c_pos, c_neg = {}, {}
    t_pos = t_neg = n_pos = n_neg = 0
    for lab, text in rows:
        if lab:
            n_pos += 1
        else:
            n_neg += 1
        for tok in text.split(" "):
            if not tok:
                continue
            if lab:
                c_pos[tok] = c_pos.get(tok, 0) + 1
                t_pos += 1
            else:
                c_neg[tok] = c_neg.get(tok, 0) + 1
                t_neg += 1
    vocab = set(c_pos) | set(c_neg)
    v = len(vocab)
    w = {
        tok: round(
            _FP
            * (
                math.log((c_pos.get(tok, 0) + 1) / (t_pos + v))
                - math.log((c_neg.get(tok, 0) + 1) / (t_neg + v))
            )
        )
        for tok in vocab
    }
    dflt = round(_FP * (math.log(1 / (t_pos + v)) - math.log(1 / (t_neg + v))))
    bias = round(_FP * math.log(n_pos / n_neg))
    return w, dflt, bias


_ROWS = [
    (True, "the quick brown fox jumps over the lazy dog"),
    (True, "a well written article about science and nature"),
    (True, "the article explains the experiment in detail"),
    (False, "buy cheap pills now click here free offer"),
    (False, "click click free free offer offer now now"),
    (False, "cheap viagra casino jackpot winner click"),
]


@pytest.fixture(scope="module")
def model(spark):
    df = spark.createDataFrame(_ROWS, "label boolean, text string")
    return train_nb(df)


def test_train_matches_python_reference(model):
    w, dflt, bias = _py_nb(_ROWS)
    got = model.weights
    assert got == w
    assert model.default_fp == dflt
    assert model.bias_fp == bias


def test_planted_decisions(spark, model):
    docs = spark.createDataFrame(
        [
            (1, "a well written article about the experiment"),
            (2, "click here for a free cheap offer now now now"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["nb_keep"] for r in score_nb(docs, model).collect()}
    assert got == {1: True, 2: False}


def test_empty_doc_scores_bias_only(spark, model):
    docs = spark.createDataFrame([(9, "")], "doc_id long, text string")
    row = score_nb(docs, model).collect()[0]
    assert row["nb_score_fp"] == model.bias_fp


def test_single_class_training_raises(spark):
    df = spark.createDataFrame(
        [(True, "only one class here")], "label boolean, text string"
    )
    with pytest.raises(ValueError):
        train_nb(df)


def test_score_plan_has_no_join_or_shuffle(spark, model):
    docs = spark.createDataFrame(
        [(1, "the quick article")], "doc_id long, text string"
    )
    plan = score_nb(docs, model)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan
