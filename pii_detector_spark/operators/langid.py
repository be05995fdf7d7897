"""Language-ID + perplexity operator — one Arrow-batched pandas UDF.

Model artifacts (char-trigram profiles, char-bigram LM) build lazily once
per executor process via ``lru_cache`` in ``functions/langmodels.py`` — the
broadcast-compiled-artifact pattern (SURVEY.md §4), same as the regex
battery. Two scores per document, one UDF call: fusing them halves Arrow
serialization vs separate UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from pii_detector_spark.functions.langmodels import word_perplexity

LANG_RESULT_TYPE = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("perplexity", DoubleType()),
    ]
)


def _langid_batch(texts: pd.Series) -> pd.DataFrame:
    from pii_detector_spark.functions.langmodels import (
        lang_and_perplexity_batch,
    )

    langs, ppls = lang_and_perplexity_batch([t or "" for t in texts])
    # Arrow chokes on inf in some writers; cap to a large sentinel that
    # still fails every threshold
    return pd.DataFrame(
        {"lang_pred": langs, "perplexity": [min(p, 1e9) for p in ppls]}
    )


# nondeterministic marker keeps the UDF as its own projection layer (stops
# CollapseProject from duplicating it into consumer expressions); the
# function is pure
langid_udf = F.pandas_udf(
    _langid_batch, returnType=LANG_RESULT_TYPE
).asNondeterministic()


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    res = langid_udf(F.col(text_col))
    return (
        df.withColumn("_lm", res)
        .withColumn("lang_pred", F.col("_lm.lang_pred"))
        .withColumn("perplexity", F.col("_lm.perplexity"))
        .drop("_lm")
    )


def _word_ppl_batch(texts: pd.Series) -> pd.Series:
    return pd.Series(
        [min(word_perplexity(t or ""), 1e9) for t in texts],
        dtype="float64",
    )


word_ppl_udf = F.pandas_udf(
    _word_ppl_batch, returnType=DoubleType()
).asNondeterministic()


def with_word_perplexity(df: DataFrame, text_col: str = "text") -> DataFrame:
    """KenLM-style TOKEN-bigram perplexity (functions/langmodels.py
    ``word_perplexity``) as a column — the CCNet quality signal
    complementing the char-bigram ``perplexity``."""
    return df.withColumn("word_ppl", word_ppl_udf(F.col(text_col)))
