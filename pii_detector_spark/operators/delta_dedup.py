"""MinHash-LSH near-dup pairs over a persisted signature table, and the
pipeline's keep-one near-dup pass (``run_pipeline(dedup_near=True)``, the
job's ``--dedup-near``) built on them.

Each run shingles and minhashes only the docs it has not signed yet.
Reference analogue: F8 incremental recompute — only changed chunks are
re-hashed and re-scanned (``app/services/base_scan_service.py:643-731``),
applied here to dedup.

Delta contract:

* ``minhash_signatures`` computes per-doc minwise hashes ``mh_0..mh_{k-1}``
  = min(md5('<seed>:' || shingle)) — the md5 family the ``minhash_lsh``
  oracle SQL uses — plus the distinct shingle set as 8-byte ``xxhash64``
  values (for the exact-Jaccard verify; hashed Jaccard == raw-shingle
  Jaccard barring 2^-64 collisions, and 8-byte longs shuffle 4-30x cheaper
  than raw shingles).
* The signature table is a pipeline output (append-only, run_id-keyed,
  deduped on read by id) — new runs append ONLY their delta.
* ``minhash_pairs_delta`` band-joins the new signatures against the FULL
  stored table (new x all, never all x all): old x old pairs were emitted
  by the runs that introduced them, so the accumulated pairs table equals
  the full pair set exactly. With new = all it IS the full pair set: the
  ``minhash_lsh`` query runs it that way, and the ``minhash_delta`` query
  pins the split-run parity against the same oracle SQL.
* Components/canonical are recomputed from the accumulated PAIRS (metadata-
  sized: near-dup pairs, not docs), never from text.

Scale shape: the delta join shuffles (doc_id, 32-B band_key) for new + all
rows; at 10^12 docs the all-side scan is the floor. Verify joins ship the
8-byte shingle hashes only for candidate ids.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_detector_spark.plans import tables
from pii_detector_spark.plans.partitioning import ensure_min_parallelism

# the keep-one pass's fixed parameters: shingles of the scrubbed text,
# 12 minhashes in 4 bands of 3, pairs verified at raw-shingle Jaccard ≥ 0.7
TEXT_COL = "scrubbed_text"
SHINGLE_N = 5
THRESHOLD = 0.7
NUM_HASHES = 12
BANDS = 4


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
    id-type-agnostic)."""
    from pii_detector_spark.operators.dedup import shingles_col

    slim = ensure_min_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")),
        "doc_id",
    )
    base = slim.select(
        "doc_id", shingles_col(shingle_n, "_text").alias("shingles")
    ).filter(F.size("shingles") > 0)
    # explode+groupBy: the shingle construction runs exactly once, and the
    # k min-aggregates are a single whole-stage-codegen pass with map-side
    # partial aggregation (vs k× interpreted array scans as per-row array
    # expressions — CollapseProject inlines the shingling into each)
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

    The band id is FOLDED INTO the hash, so the join runs on ONE key: two
    docs collide on band b iff their b-th minhash slices are equal.
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
    # incremental_near_dedup) must never band: their null mh columns would
    # all hash to the same key and self-join O(n²)
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


_SIG_DDL = (
    "doc_id STRING, "
    + "".join(f"mh_{i} STRING, " for i in range(NUM_HASHES))
    + "shingle_hashes ARRAY<BIGINT>, content_md5 STRING, run_id STRING"
)


_PAIRS_DDL = (
    "id_a STRING, id_b STRING, jaccard DOUBLE, md5_a STRING, md5_b STRING, "
    "run_id STRING"
)


_PAIRED_DDL = "url STRING, content_md5 STRING"


def _read_or_empty(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    if os.path.isdir(path):
        return spark.read.schema(ddl).parquet(path)
    return spark.createDataFrame([], ddl)


def incremental_near_dedup(
    written: DataFrame,
    output_dir: str,
    run_id: str,
    max_iter: int = 50,
) -> None:
    """Keep-one near-dedup of the docs table ``written``: shingle/minhash
    ONLY the docs with no CONTENT-VALID signature (anti-join against the
    signature table keyed on (url, content_md5) — this run's docs, pre-flag
    backlog, and any doc whose content changed since it was signed),
    band-join them against the stored signatures (new x all, never all x
    all re-shingling), append the new pairs, and rebuild
    components/canonical from the accumulated (metadata-sized) pair set.
    The url-keyed anti-join is the same cost class as the resume anti-join
    the pipeline already pays. On a fresh output dir every doc is new, so
    the first run computes the full pair set.

    Tables under ``output_dir``:

    * ``signatures``   — append-only (doc_id=url, mh_*, shingle_hashes,
                         content_md5, run_id). Zero-shingle docs (dropped
                         or too short) get TOMBSTONE rows (empty hash set)
                         so the unsigned backlog stays O(delta) instead of
                         re-shingling them every run. Rows whose
                         content_md5 no longer matches the docs table are
                         ignored on read (staleness by construction).
    * ``neardup_pairs`` — append-only (id_a, id_b, jaccard, md5_a, md5_b,
                         run_id); on read, pairs with a stale endpoint are
                         filtered out, and re-signed docs contribute fresh
                         new x all pairs — so the live pair set equals full
                         recompute exactly.
    * ``paired_sigs``  — the PAIRING-COVERAGE snapshot: the (url,
                         content_md5) set that was visible when pairs were
                         last successfully rebuilt, swap-replaced (crash-
                         safe) at the END of each run. A valid signature
                         absent from the snapshot — newly signed, signed
                         during a crash window, or INVISIBLE at the last
                         rebuild (url GC'd then resurrected; content
                         reverted to a previously-signed version) — is
                         re-paired new x all, so coverage is exact at
                         per-signature granularity.
    * ``neardup``      — (url, component, is_canonical) for every doc;
                         component and canonical = the cluster's min url.
    * ``docs_deduped`` — the canonical docs rows, same schema as ``docs``.

    Crash safety: reruns re-append and every read dedupes on key; the
    ``paired_sigs`` snapshot commits only after the pairs append and the
    derived rewrites, so a crash anywhere in between leaves those
    signatures uncovered and the next run recomputes their pairs
    (identical rows, deduped on read).

    Equality with a one-shot pass over the whole corpus is pinned by the
    pipeline pytest (against ``tests/oracle.py``'s pure-Python keep-one)
    and the ``minhash_delta`` oracle; the only divergence channel is an
    xxhash64 shingle collision (~2^-64 per shingle pair).

    Assumes the docs table carries ONE content per url — the resume
    contract guarantees it within a pattern version; after a pattern bump,
    GC the historical rows (or use a fresh output dir) before deduping.
    """
    from pii_detector_spark.operators.clusters import canonicalize

    spark = written.sparkSession
    sig_path = os.path.join(output_dir, "signatures")
    pairs_path = os.path.join(output_dir, "neardup_pairs")
    paired_path = os.path.join(output_dir, "paired_sigs")
    tables.recover(paired_path)

    # cur feeds ~6 joins across 4 independent actions — persist once so
    # each action doesn't re-scan the docs table for the metadata columns
    cur = (
        written.select("url", "content_md5")
        .dropDuplicates()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cur_keyed = cur.select(F.col("url").alias("doc_id"), "content_md5")
    try:

        def valid_sigs(df: DataFrame) -> DataFrame:
            # a signature is live iff the docs table still carries that exact
            # (url, content) — changed/rescanned docs fall back into the
            # unsigned backlog and stale rows become invisible
            return df.join(
                cur_keyed, ["doc_id", "content_md5"], "left_semi"
            ).dropDuplicates(["doc_id"])

        signed = valid_sigs(_read_or_empty(spark, sig_path, _SIG_DDL))
        new_docs = written.join(
            signed.select(F.col("doc_id").alias("url")), "url", "left_anti"
        )
        sig_real = minhash_signatures(
            new_docs,
            id_col="url",
            text_col=TEXT_COL,
            shingle_n=SHINGLE_N,
            num_hashes=NUM_HASHES,
        ).join(cur_keyed, "doc_id")
        # tombstones for zero-shingle docs: signed-with-empty-set, never banded
        tomb = (
            new_docs.join(
                sig_real.select(F.col("doc_id").alias("url")), "url", "left_anti"
            )
            .select(
                F.col("url").alias("doc_id"),
                *[
                    F.lit(None).cast("string").alias(f"mh_{i}")
                    for i in range(NUM_HASHES)
                ],
                F.array().cast("array<long>").alias("shingle_hashes"),
                "content_md5",
            )
            .dropDuplicates(["doc_id"])
        )
        sig_real.unionByName(tomb).withColumn(
            "run_id", F.lit(run_id)
        ).write.mode("append").partitionBy("run_id").parquet(sig_path)

        # pairing coverage at per-signature granularity: any valid signature
        # absent from the last successful run's paired_sigs snapshot needs its
        # new x all pairs — newly signed, signed during a crash window, or
        # invisible at the last rebuild (GC'd-then-resurrected url, content
        # reverted to a previously-signed version)
        paired = _read_or_empty(spark, paired_path, _PAIRED_DDL).select(
            F.col("url").alias("doc_id"), "content_md5"
        )
        all_sigs = valid_sigs(spark.read.schema(_SIG_DDL).parquet(sig_path))
        new_sigs = all_sigs.join(
            paired, ["doc_id", "content_md5"], "left_anti"
        )
        pairs_delta = (
            minhash_pairs_delta(
                all_sigs, new_sigs, NUM_HASHES, BANDS, THRESHOLD
            )
            .join(
                cur.select(F.col("url").alias("id_a"), F.col("content_md5").alias("md5_a")),
                "id_a",
            )
            .join(
                cur.select(F.col("url").alias("id_b"), F.col("content_md5").alias("md5_b")),
                "id_b",
            )
            .withColumn("run_id", F.lit(run_id))
        )
        pairs_delta.write.mode("append").partitionBy("run_id").parquet(pairs_path)

        # live pairs: both endpoints' content must still be current
        all_pairs = (
            spark.read.schema(_PAIRS_DDL)
            .parquet(pairs_path)
            .join(
                cur.select(F.col("url").alias("id_a"), F.col("content_md5").alias("md5_a")),
                ["id_a", "md5_a"],
                "left_semi",
            )
            .join(
                cur.select(F.col("url").alias("id_b"), F.col("content_md5").alias("md5_b")),
                ["id_b", "md5_b"],
                "left_semi",
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        marked = canonicalize(
            written, all_pairs, id_col="url", id_a="id_a", id_b="id_b",
            max_iter=max_iter,
        )
        tables.publish_near_dedup(output_dir, written, marked)
        # commit pairing coverage LAST: the snapshot of every (url, content)
        # visible in this successful rebuild
        tables.replace_dir(
            paired_path,
            all_sigs.select(F.col("doc_id").alias("url"), "content_md5")
            .write.mode("overwrite")
            .parquet,
        )
    finally:
        cur.unpersist()
