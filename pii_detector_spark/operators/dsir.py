"""DSIR: data selection via importance resampling over hashed n-grams.

The public recipe (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling") scores every raw document with an importance
weight — the log-likelihood ratio of a *target-domain* bag-of-hashed-
n-grams model over a *raw-corpus* model — and resamples the corpus
toward the target distribution.  Unlike a trained classifier
(``operators/nbquality``), both models are plain smoothed count tables
over a FIXED feature space: word n-grams hashed into B buckets, so the
model artifact is O(B) regardless of vocabulary (the paper uses 10k
buckets over uni+bigrams).

Engine-portable feature hash: bucket = the first ``b_hex`` hex chars of
``md5(gram)`` (16^b_hex buckets, string-keyed).  Every SQL engine with
``md5`` reproduces the exact bucketing — no engine-specific ``hash()``
— which is what lets the DuckDB oracle retrain the identical model and
hash-match per-document weights.

Cross-engine exact arithmetic: per-bucket weights are BIGINT micro-nats
(``round(1e6 * llr)``), same recipe as ``nbquality`` — integer sums are
associative, so document weights are bit-identical across engines,
partitionings, and row orders.

Spark shapes:

* **training** (``train_dsir``): one gram-level count per side — explode
  + groupBy(bucket), a single map-side-combined shuffle of 8-byte count
  rows; totals are one scalar fetch.  Target and raw inputs are
  *samples* (the paper uses held-out samples for both), never the
  100-TB corpus.
* **scoring** (``dsir_weights``): the B-entry weight dict, collected once
  at training, ships once per executor and one Arrow-batched pandas UDF
  emits each document's weight: **zero shuffle**, no join and no corpus
  explode.  The job's ``--dsir-target`` and the declared ``nb_quality``
  query both run it, so the DuckDB oracle checks the scorer the job runs.
* **selection**: compose with the existing samplers — threshold /
  ``ccnet.rank_buckets`` for top-fraction, or ``sampling.sample_flag``
  against a weight-derived rate for the paper's stochastic variant.

No reference analogue (SURVEY.md §2.4 is rule-based) — part of the
beyond-reference training-data toolkit alongside [[nbquality]] and
[[ccnet]].
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_FP = 1_000_000  # micro-nats per weight unit (same scale as nbquality)


@dataclass(frozen=True)
class DSIRModel:
    """Importance-weight artifact: a B-entry bucket dict + scalars."""

    weights: dict[str, int]  # bucket -> w_fp
    default_fp: int  # weight of a bucket unseen in BOTH samples
    n_buckets: int
    n_target_grams: int
    n_raw_grams: int
    ngram_max: int
    b_hex: int


def _gram_col(text_col: str, n: int) -> Column:
    """ALL overlapping word n-grams (multiset, document order) via the
    codegen zero-width-lookahead extraction — the same whole-stage-
    codegen shape as ``dedup.shingles_col`` (minus its distinct; DSIR
    counts gram OCCURRENCES).  The earlier transform/slice/element_at
    form was interpreted per element and re-split the text per gram
    position — the exact HOF trap BENCH/PLANS.md documents."""
    norm = F.trim(
        F.regexp_replace(F.col(text_col), "[ \\t\\n\\r\\f\\u000B]+", " ")
    )
    body = " ".join(["[^ ]+"] * n)
    rx = f"(?<![^ ])(?=({body}))"
    return F.regexp_extract_all(norm, F.lit(rx), F.lit(1))


def _grams(df: DataFrame, text_col: str, ngram_max: int) -> DataFrame:
    """Explode word 1..n-grams of ``text_col`` into a ``gram`` column.
    Whitespace-class tokenization (runs of blank chars = one separator),
    matching ``textstats``/``dedup``."""
    cols = [_gram_col(text_col, n) for n in range(1, ngram_max + 1)]
    arr = cols[0] if len(cols) == 1 else F.concat(*cols)
    return df.withColumn("gram", F.explode(arr))


def _bucket(gram: Column, b_hex: int) -> Column:
    return F.substring(F.md5(gram), 1, b_hex)


def train_dsir(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    ngram_max: int = 2,
    b_hex: int = 2,
) -> DSIRModel:
    """Fit both hashed-n-gram models and return the per-bucket LLR table.

    w(b) = ln((c_t(b)+1)/(T_t+B)) - ln((c_r(b)+1)/(T_r+B)) in micro-nats
    (add-one smoothing over the B-bucket space; same expression shape on
    the SQL-oracle side so both engines feed identical doubles to ln)."""
    B = 16**b_hex
    tg = _grams(target.select(text_col), text_col, ngram_max).select(
        _bucket(F.col("gram"), b_hex).alias("bucket")
    )
    rg = _grams(raw.select(text_col), text_col, ngram_max).select(
        _bucket(F.col("gram"), b_hex).alias("bucket")
    )
    counts = (
        tg.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c_t"))
        .join(
            rg.groupBy("bucket").agg(
                F.count(F.lit(1)).cast("long").alias("c_r")
            ),
            "bucket",
            "full_outer",
        )
        .select(
            "bucket",
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
            F.coalesce("c_r", F.lit(0)).alias("c_r"),
        )
        .persist()
    )
    tot = counts.agg(
        F.sum("c_t").cast("long").alias("tt"),
        F.sum("c_r").cast("long").alias("tr"),
    ).collect()[0]
    t_t, t_r = int(tot["tt"] or 0), int(tot["tr"] or 0)
    if t_t == 0 or t_r == 0:
        raise ValueError("train_dsir needs non-empty target and raw samples")
    w = F.log((F.col("c_t") + 1).cast("double") / F.lit(float(t_t + B))) - F.log(
        (F.col("c_r") + 1).cast("double") / F.lit(float(t_r + B))
    )
    # collect the (≤B-entry) weight dict and release the cached counts
    # — the model artifact must not pin executor storage for the rest of
    # the application (ln still evaluates JVM-side, preserving the
    # oracle's identical-doubles-into-libm contract)
    weights = {
        r["bucket"]: r["w_fp"]
        for r in counts.select(
            "bucket", F.round(w * _FP, 0).cast("long").alias("w_fp")
        ).collect()
    }
    counts.unpersist()
    default_fp = round(
        _FP * (math.log(1.0 / (t_t + B)) - math.log(1.0 / (t_r + B)))
    )
    return DSIRModel(weights, default_fp, B, t_t, t_r, ngram_max, b_hex)


def dsir_weights(
    docs: DataFrame,
    model: DSIRModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, dsir_weight_fp): the B-entry weight dict ships once per
    executor; one Arrow-batched pandas UDF emits the integer weight, with
    zero shuffle.  Documents with zero grams weigh 0 (the neutral
    log-ratio), not NULL."""
    import hashlib

    bc = docs.sparkSession.sparkContext.broadcast(
        (model.weights, model.default_fp, model.ngram_max, model.b_hex)
    )

    @F.pandas_udf(LongType())
    def weigh(texts: pd.Series) -> pd.Series:
        import re

        wm, dflt, nmax, bh = bc.value
        ws_re = re.compile("[ \\t\\n\\r\\f\\u000B]+")

        def one(t: str) -> int:
            words = [w for w in ws_re.split(t or "") if w]
            total = 0
            for n in range(1, nmax + 1):
                for i in range(len(words) - n + 1):
                    gram = " ".join(words[i : i + n])
                    b = hashlib.md5(gram.encode("utf-8")).hexdigest()[:bh]
                    total += wm.get(b, dflt)
            return total

        return texts.map(one)

    return docs.select(id_col, text_col).select(
        id_col, weigh(F.col(text_col)).alias("dsir_weight_fp")
    )
