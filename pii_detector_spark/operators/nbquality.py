"""Model-based quality classifier: multinomial Naive Bayes over tokens.

The public LLM-data-pipeline recipe (CCNet / GPT-3 / fastText-supervised
"quality classifier") trains a cheap linear model on labeled documents
(curated = positive, raw crawl = negative) and keeps documents the model
scores positive. The reference engine has no trained classifier (its
keep/drop battery is rule-based; SURVEY.md §2.4), so this operator is part
of the beyond-reference training-data toolkit, built Spark-first:

* **training** is one token-level word count — ``split`` + ``explode`` +
  ``groupBy(token)`` with conditional sums per class (a single shuffle of
  8-byte-count rows, the classic map-side-combined word count). The
  labeled set in this recipe is a curated *sample* (thousands to millions
  of docs), never the 100-TB corpus itself, so the aggregate is small.
* **model** = per-token fixed-point log-likelihood-ratio weights.
  Weights are BIGINT micro-nats (``round(1e6 * llr)``): summing integers
  is exact and associative, so scores are bit-identical across engines,
  partitionings, and row orders — which is what lets the DuckDB oracle
  hash-match the distributed Spark computation (and what makes the
  keep/drop decision reproducible at any cluster size).
* **scoring** (``score_nb``): the weight dict, collected once at training,
  is shipped once per executor via ``SparkContext.broadcast`` and applied
  in one Arrow-batched pandas UDF: **zero shuffle**, no join and no
  explode blow-up of the corpus, the shape you want when the corpus side
  is 10^12 documents.  The job's ``--nb-labels`` and the declared
  ``nb_quality`` query both run it, so the DuckDB oracle checks the
  scorer the job runs.

Smoothing is add-one over the joint vocabulary; the class prior enters as
a constant bias. Unseen tokens at scoring time get the per-class floor
weight (``default_fp``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_FP = 1_000_000  # fixed-point scale: micro-nats per weight unit


@dataclass(frozen=True)
class NBModel:
    """Trained classifier: a small weight dict + three scalars."""

    weights: dict[str, int]  # tok -> w_fp
    default_fp: int  # weight for tokens unseen in training
    bias_fp: int  # class-prior log-odds
    n_vocab: int
    n_pos_tokens: int
    n_neg_tokens: int


def _tokens(df: DataFrame, text_col: str, sep: str) -> DataFrame:
    return df.withColumn("tok", F.explode(F.split(F.col(text_col), sep))).where(
        F.col("tok") != ""
    )


def train_nb(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    sep: str = " ",
) -> NBModel:
    """Train on a labeled sample. One shuffle (token word-count); the
    totals row and vocabulary size are a single driver-side scalar fetch,
    and the weight table one collect (model data bounded by the training
    vocabulary — the labeled set is a curated sample)."""
    toks = _tokens(
        labeled.select(F.col(label_col).cast("boolean").alias("lab"), text_col),
        text_col,
        sep,
    )
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("lab"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_pos"),
        F.sum(F.when(~F.col("lab"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_neg"),
    )
    counts = counts.persist()
    tot = counts.agg(
        F.sum("c_pos").cast("long").alias("t_pos"),
        F.sum("c_neg").cast("long").alias("t_neg"),
        F.count(F.lit(1)).cast("long").alias("v"),
    ).collect()[0]
    t_pos, t_neg, v = int(tot["t_pos"] or 0), int(tot["t_neg"] or 0), int(tot["v"])
    docs = labeled.groupBy().agg(
        F.sum(F.when(F.col(label_col).cast("boolean"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(~F.col(label_col).cast("boolean"), 1).otherwise(0)).alias("nn"),
    ).collect()[0]
    n_pos, n_neg = int(docs["np"] or 0), int(docs["nn"] or 0)
    if n_pos == 0 or n_neg == 0:
        raise ValueError("train_nb needs at least one doc of each class")

    # w(tok) = ln((c_pos+1)/(t_pos+v)) - ln((c_neg+1)/(t_neg+v)), in
    # micro-nats. The same expression shape (two ln's of a double
    # division) is used by the SQL oracle so both engines feed identical
    # doubles to libm.
    w = F.log((F.col("c_pos") + 1).cast("double") / F.lit(float(t_pos + v))) - F.log(
        (F.col("c_neg") + 1).cast("double") / F.lit(float(t_neg + v))
    )
    # ln still evaluates JVM-side (the oracle's identical-doubles-into-libm
    # contract); the cached counts are released once the weights are in
    weights = {
        r["tok"]: r["w_fp"]
        for r in counts.select(
            "tok", F.round(w * _FP, 0).cast("long").alias("w_fp")
        ).collect()
    }
    counts.unpersist()
    default_fp = round(
        _FP * (math.log(1.0 / (t_pos + v)) - math.log(1.0 / (t_neg + v)))
    )
    bias_fp = round(_FP * math.log(float(n_pos) / float(n_neg)))
    return NBModel(weights, default_fp, bias_fp, v, t_pos, t_neg)


def score_nb(
    docs: DataFrame,
    model: NBModel,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
) -> DataFrame:
    """(id_col, nb_score_fp, nb_keep): the weights broadcast once per
    executor, one Arrow-batched pandas UDF, zero shuffle, no token-row
    blow-up of the corpus. Integer weights sum exactly in any order, so
    the score is the same under any partitioning."""
    bc = docs.sparkSession.sparkContext.broadcast(
        (model.weights, model.default_fp, model.bias_fp)
    )

    def _score(texts: pd.Series) -> pd.Series:
        w, dflt, bias = bc.value
        out = []
        for t in texts:
            s = bias
            if t:
                for tok in t.split(sep):
                    if tok:
                        s += w.get(tok, dflt)
            out.append(s)
        return pd.Series(out)

    udf = F.pandas_udf(_score, returnType=LongType())
    score = udf(F.col(text_col))
    return docs.select(
        F.col(id_col),
        score.alias("nb_score_fp"),
        (score >= 0).alias("nb_keep"),
    )
