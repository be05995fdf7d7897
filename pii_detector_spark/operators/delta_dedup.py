"""Incremental (delta-mode) MinHash near-dup over a persisted signature table.

The 100-TB operational gap with ``dedup_near=True``: every pipeline run
re-shingles and re-minhashes the WHOLE docs table even when 99% of it was
already processed. Reference analogue: F8 incremental recompute — only
changed chunks are re-hashed and re-scanned
(``app/services/base_scan_service.py:643-731``), applied here to dedup.

Delta contract:

* ``minhash_signatures`` computes, for the NEW docs only, the same
  signature relation the full path builds internally
  (``operators/dedup.py:minhash_lsh_pairs``): per-doc minwise hashes
  ``mh_0..mh_{k-1}`` = min(md5('<seed>:' || shingle)) — bit-identical to the
  full path — plus the distinct shingle set as 8-byte ``xxhash64`` values
  (for the exact-Jaccard verify; hashed Jaccard == raw-shingle Jaccard
  barring 2^-64 collisions, and 8-byte longs shuffle 4-30x cheaper than
  raw shingles).
* The signature table is a pipeline output (append-only, run_id-keyed,
  deduped on read by id) — new runs append ONLY their delta.
* ``minhash_pairs_delta`` band-joins the new signatures against the FULL
  stored table (new x all, never all x all): old x old pairs were emitted
  by the runs that introduced them, so the accumulated pairs table equals
  the full-recompute pair set exactly (pinned by the ``minhash_delta``
  oracle and the pipeline parity pytest).
* Components/canonical are recomputed from the accumulated PAIRS (metadata-
  sized: near-dup pairs, not docs), never from text.

Scale shape: the delta join shuffles (doc_id, 32-B band_key) for new + all
rows; at 10^12 docs the all-side scan is the floor. Verify joins ship the
8-byte shingle hashes only for candidate ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_detector_spark.plans.partitioning import ensure_min_parallelism


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    num_hashes: int = 12,
) -> DataFrame:
    """(doc_id, shingle_hashes: array<long>, mh_0..mh_{k-1}: string) for
    every doc with ≥1 shingle. ``doc_id`` keeps the input id type (urls
    work directly — no surrogate mapping needed, components are
    id-type-agnostic). The mh_i values are bit-identical to the full
    path's (same md5 family, same seeds)."""
    from pii_detector_spark.operators.dedup import shingles_col

    slim = ensure_min_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")),
        "doc_id",
    )
    base = slim.select(
        "doc_id", shingles_col(shingle_n, "_text").alias("shingles")
    ).filter(F.size("shingles") > 0)
    # explode+groupBy: shingling runs once, k min-aggregates in one codegen
    # pass with map-side partials (same rationale as minhash_lsh_pairs)
    ex = base.select("doc_id", F.explode("shingles").alias("s"))
    return ex.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
        F.collect_set(F.xxhash64("s")).alias("shingle_hashes"),
    )


def banded_keys(
    sig: DataFrame, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """(doc_id, band_key) — band_key = md5('<band_id>|' || the band's
    minhashes joined with '|').

    The band id is FOLDED INTO the hash (vs the full path's separate
    (band_id, band_key) pair): candidate semantics are identical — two
    docs collide on band b iff their b-th minhash slices are equal — while
    the join runs on ONE key.
    """
    per = num_hashes // bands
    band_keys = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh_{b * per + j}") for j in range(per)],
            )
        )
        for b in range(bands)
    ]
    # tombstone rows (empty shingle set, null minhashes — see
    # plans/pipeline.incremental_near_dedup) must never band: their null
    # mh columns would all hash to the same key and self-join O(n²)
    return sig.filter(F.size("shingle_hashes") > 0).select(
        "doc_id", F.explode(F.array(*band_keys)).alias("band_key")
    )


def _candidates(banded_new: DataFrame, banded_all: DataFrame) -> DataFrame:
    """Distinct canonical-ordered candidate pairs from a band equi-join."""
    return (
        banded_new.alias("a")
        .join(
            banded_all.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _verify_pairs(
    cand: DataFrame, all_sigs: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Exact-Jaccard verification over the stored shingle hashes."""
    sh_a = all_sigs.select(
        F.col("doc_id").alias("id_a"), F.col("shingle_hashes").alias("sh_a")
    )
    sh_b = all_sigs.select(
        F.col("doc_id").alias("id_b"), F.col("shingle_hashes").alias("sh_b")
    )
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("intersect_n", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "union_n", F.size("sh_a") + F.size("sh_b") - F.col("intersect_n")
        )
        .withColumn("jaccard", F.col("intersect_n") / F.col("union_n"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_pairs_delta(
    all_sigs: DataFrame,
    new_sigs: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard) where at least one side is a
    NEW doc: band-join new x all, canonical-order, dedupe, exact-Jaccard
    verify over the stored shingle hashes.

    ``all_sigs`` must already contain ``new_sigs`` (append-then-read).
    First run: pass the same relation for both — delta(new=all) == the full
    pair set (a new x new pair surfaces in both orders and dedupes)."""
    banded_all = banded_keys(all_sigs, num_hashes, bands)
    banded_new = banded_keys(new_sigs, num_hashes, bands)
    cand = _candidates(banded_new, banded_all)
    return _verify_pairs(cand, all_sigs, jaccard_threshold)

