"""Benchmark n-gram decontamination: flag training documents that overlap
an evaluation/benchmark set.

The standard training-data hygiene step for LLM corpora (the public
GPT-3/PaLM recipe: a training doc is contaminated when it shares any
13-gram — any n-gram — with a benchmark document): without it, eval
numbers measure memorization. The reference engine has no analogue; this
is part of the large-scale-training-pipeline surface the repo adds on top
of reference parity.

Spark-first shape, at 100 TB:

* both sides shingle with the codegen n-gram extractor
  (``dedup.shingles_col`` — no interpreted higher-order functions) and
  ship only 8-byte xxhash64 gram digests, never text;
* the benchmark side is SMALL by definition (eval sets: 10^3-10^6 grams)
  → its distinct gram set BROADCASTS; the contamination check is a
  map-side broadcast join inside the scan stage of the corpus — the only
  shuffle is the per-doc hit aggregation, on (8-byte doc id, 8-byte gram)
  rows;
* output covers EVERY corpus doc (zero-hit docs included) so the keep
  decision composes with the quality gates downstream.

Collision note: two different grams colliding under xxhash64 could flag a
clean doc with p ≈ |bench_grams| · |doc_grams| / 2^64 — at 10^6 bench
grams and 10^4 grams/doc that is ~5·10^-9 per doc, the accepted trade for
never shuffling gram text (same digest discipline as the MinHash path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_detector_spark.operators.dedup import shingles_col


def _gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    # id column keeps its input type (long doc ids and string urls both
    # key the hit aggregation fine)
    return df.select(
        id_col,
        F.explode(shingles_col(n, text_col)).alias("g"),
    ).select(id_col, F.xxhash64("g").alias("gh"))


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    min_hits: int = 1,
) -> DataFrame:
    """(doc_id, n_hit_grams, is_contaminated) for EVERY doc in ``docs``.

    ``n_hit_grams`` counts the DISTINCT benchmark n-grams found in the
    doc; ``is_contaminated`` is ``n_hit_grams >= min_hits`` (the public
    recipes use 1 for 13-grams; a higher floor tolerates short-gram
    noise). The benchmark gram set is broadcast — keep it eval-set sized.
    """
    bench = (
        benchmark.select(
            F.explode(shingles_col(n, bench_text_col)).alias("g")
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    hits = (
        _gram_hashes(docs, id_col, text_col, n)
        # docs-side grams are distinct per doc (shingles_col dedups), so
        # a plain count after the semi-ish inner join is count(DISTINCT)
        .join(F.broadcast(bench), "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    ids = docs.select(id_col)
    return ids.join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
        (F.coalesce("n_hit_grams", F.lit(0)) >= min_hits).alias(
            "is_contaminated"
        ),
    )
