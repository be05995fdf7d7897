"""Deduplication operators for training-data pipelines.

All hash functions are md5 hex strings (identical in Spark and DuckDB), so
every operator here is oracle-checkable cross-engine. Lexicographic MIN over
md5 hex == a valid minwise hash family (one permutation per seed prefix).

Scale notes per operator:

* exact_dedup      — one shuffle on the 32-char digest; partial agg makes
                     the hot side tiny.
* shingles         — pure per-row expressions (no shuffle); MinHash-LSH
                     over them lives in ``operators/delta_dedup.py``.
* ngram-jaccard    — explode + equi-join on shingle hash; the candidate
                     generator is bounded by shared-shingle frequency: a
                     stopword-only shingle would explode the join, so
                     shingles use ≥ n words (default 5) which keeps
                     per-shingle doc lists short on natural text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_detector_spark.plans.partitioning import ensure_min_parallelism


def _slim_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id:long, _text) projection, repartitioned only if the scan is
    pathologically under-split (single-row-group parquet → one task): the
    shingling/tokenize stages below are CPU-bound per row and must use
    every core. Well-split inputs pass through with no shuffle."""
    slim = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("_text"),
    )
    return ensure_min_parallelism(slim, "doc_id")


def words_col(text_col: str = "text") -> Column:
    """ASCII-whitespace tokenization, empties dropped (the spec
    operators/quality.py documents for the fused pass's word metrics, and
    the SQL oracles')."""
    return F.filter(
        F.split(F.col(text_col), "[ \\t\\n\\r\\f\\u000B]+"),
        lambda w: w != F.lit(""),
    )


def shingles_col(n: int, text_col: str = "text") -> Column:
    """Distinct word n-gram shingles as an array column (no shuffle).

    Implementation: normalize whitespace runs to single spaces, then pull
    every overlapping n-gram with a zero-width lookahead capture
    (``(?<![^ ])(?=(w w w))`` fires once per word start). This keeps the
    whole computation inside whole-stage codegen — the previous
    ``transform(sequence, slice+array_join)`` form used higher-order array
    functions, which Spark evaluates INTERPRETED per element and which
    dominated the dedup scan (~5x slower end-to-end; same trap as the
    quality_metrics history in BENCH/PLANS.md). Output is identical:
    n-grams joined by single spaces, distinct, document order.
    """
    norm = F.trim(F.regexp_replace(F.col(text_col), "[ \\t\\n\\r\\f\\u000B]+", " "))
    body = " ".join(["[^ ]+"] * n)
    rx = f"(?<![^ ])(?=({body}))"
    return F.array_distinct(F.regexp_extract_all(norm, F.lit(rx), F.lit(1)))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by content digest: canonical (min) id + count.

    Reference analogue: the etag/md5 chunk-hash dedup
    (``base_scan_service.py:233-247,643-731``).
    """
    return (
        df.select(
            F.md5(F.col(text_col)).alias("content_md5"),
            F.col(id_col).cast("long").alias("doc_id"),
        )
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.5,
    max_docs_per_shingle: int | None = 256,
    log_dropped: bool = False,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (no sketching): candidate pairs
    from a shared-shingle equi-join, jaccard from per-doc distinct counts.

    ``max_docs_per_shingle`` is the corpus-scale guard: a shingle shared by
    d documents contributes d² candidate pairs, so one boilerplate shingle
    (cookie banners, license headers) can detonate the join. Capping drops
    shingles with document frequency > cap from *candidate generation only*;
    surviving candidates are then verified with exact Jaccard over the full
    shingle sets — a high-recall approximation in which a missed pair must
    share nothing but boilerplate. The cap defaults ON (256) because the
    uncapped join is a d² scale hazard at corpus size; pass None only where
    a fully exact single-pass count is required (e.g. the DuckDB oracle
    cross-check, which has no cap on its side). ``log_dropped=True`` makes
    truncation visible: one extra narrow aggregation counts the shingles
    the cap removed from candidate generation and logs it (opt-in — the
    count is a job)."""
    base = (
        _slim_docs(df, id_col, text_col)
        .select("doc_id", shingles_col(shingle_n, "_text").alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    sizes = base.select("doc_id", F.size("shingles").alias("n_sh"))
    exploded = base.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).withColumn("shingle_md5", F.md5("shingle")).drop("shingle")
    if max_docs_per_shingle is not None:
        freqs = exploded.groupBy("shingle_md5").agg(
            F.count(F.lit(1)).alias("df")
        )
        if log_dropped:
            import logging

            n_hot = freqs.filter(F.col("df") > max_docs_per_shingle).count()
            if n_hot:
                logging.getLogger(__name__).warning(
                    "ngram_jaccard_pairs: cap %d dropped %d hot shingles "
                    "from candidate generation (results are approximate)",
                    max_docs_per_shingle,
                    n_hot,
                )
        rare = freqs.filter(F.col("df") <= max_docs_per_shingle).select(
            "shingle_md5"
        )
        capped = exploded.join(rare, "shingle_md5", "left_semi")
        a = capped.alias("a")
        b = capped.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.shingle_md5") == F.col("b.shingle_md5"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        sa = base.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
        sb = base.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
        return (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("i_n", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("i_n")
                / (F.size("sh_a") + F.size("sh_b") - F.col("i_n")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    a = exploded.alias("a")
    b = exploded.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle_md5") == F.col("b.shingle_md5"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_n"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared_n") / (F.col("n_a") + F.col("n_b") - F.col("shared_n")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def boilerplate_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Corpus-wide repeated n-gram spans: shingles appearing in >= min_doc_freq
    distinct documents, with document frequency and the first document id.

    The C4/Lee-et-al-style span-dedup primitive (repeated boilerplate —
    cookie banners, license headers — is exactly what detonates naive
    near-dup joins; this surfaces it). One explode + one hash-keyed groupBy
    with map-side partial aggregation; the shuffle carries (32-char md5,
    doc_id), never text. Returns (shingle_md5, doc_freq, first_doc_id).
    """
    base = (
        _slim_docs(df, id_col, text_col)
        .select("doc_id", shingles_col(shingle_n, "_text").alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    ex = base.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.md5("s").alias("shingle_md5")
    )
    return (
        ex.groupBy("shingle_md5")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("doc_freq") >= min_doc_freq)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 2,
) -> DataFrame:
    """C4-style boilerplate-line removal: delete every (non-empty) line
    that appears in >= ``min_doc_freq`` distinct documents; reassemble the
    survivors in original order.

    Returns (doc_id, text) with cleaned text ('' when nothing survives).
    Plan shape: posexplode lines → md5-keyed countDistinct (the hot-line
    shuffle and the anti-join key carry 32-char digests, never raw line
    text — same keying discipline as every other dedup operator here) →
    anti-join hot digests → per-doc ordered reassembly. Nothing is
    collected. Empty lines are treated as structure, not content, and are
    dropped in the output (the quality metrics already ignore them).
    """
    ids = df.select(F.col(id_col).cast("long").alias("doc_id"))
    lines = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .filter(F.col("line") != "")
        .withColumn("line_md5", F.md5("line"))
    )
    hot = (
        lines.groupBy("line_md5")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("line_md5")
    )
    kept = lines.join(hot, "line_md5", "left_anti")
    # ordered reassembly: array_sort on (pos, line) structs sorts by pos;
    # the transform lambda is interpreted but runs over per-doc line counts
    # (tens), not corpus-sized arrays
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text")
    )
    return ids.join(rebuilt, "doc_id", "left").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )


SIMHASH_BITS = 120  # two 60-bit words (top 4 bits of each long unused)


def _md5_bits(start: int) -> Column:
    """60 bits of token ``w``'s md5: 15 hex chars from 1-based ``start``."""
    return F.conv(F.substring(F.md5("w"), start, 15), 16, 10).cast("long")


def _simhash_votes(src: str, tag: str) -> list[Column]:
    """Per-bit vote sums ``v{tag}_{i}`` over the 60 bits of ``src``: +1
    for each token whose bit is set, -1 otherwise."""
    return [
        F.sum(
            F.when(F.shiftright(F.col(src), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{tag}_{i}")
        for i in range(60)
    ]


def _simhash_pack(tag: str) -> Column:
    """The sign vector of the ``v{tag}_{i}`` vote sums packed into a long."""
    packed = None
    for i in range(60):
        term = (
            F.when(F.col(f"v{tag}_{i}") > 0, F.lit(2 ** i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        packed = term if packed is None else packed + term
    return packed


def simhash128(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """120-bit SimHash per document as two longs ``(sim_hi, sim_lo)``,
    same vote aggregation as ``simhash64`` but over the FULL md5 of each
    distinct token (two 15-hex-char halves → 60 bits each).

    Docs with no words get NULL fingerprints (not hash 0): a no-word doc
    carries zero similarity evidence, and mapping them all to one value
    would make every empty-ish pair a Hamming-0 "near-dup" AND form one
    quadratic banding bucket — the same trap ``delta_dedup.banded_keys``
    guards with tombstones. Callers band only non-null rows.
    """
    tok = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.array_distinct(words_col(text_col))).alias("w"),
    ).select("doc_id", _md5_bits(1).alias("h_lo"), _md5_bits(17).alias("h_hi"))
    grouped = tok.groupBy("doc_id").agg(
        *_simhash_votes("h_lo", "l"), *_simhash_votes("h_hi", "h")
    )
    sims = grouped.select(
        "doc_id",
        _simhash_pack("h").alias("sim_hi"),
        _simhash_pack("l").alias("sim_lo"),
    )
    ids = df.select(F.col(id_col).cast("long").alias("doc_id"))
    return ids.join(sims, "doc_id", "left")


def _block_combinations(blocks: int, pick: int) -> list[tuple[int, ...]]:
    from itertools import combinations

    return list(combinations(range(blocks), pick))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 6,
) -> DataFrame:
    """Near-duplicate pairs by Manku-style block-permuted SimHash banding
    (the public near-duplicate-detection-for-web-crawling method): the
    120-bit fingerprint splits into ``blocks`` equal bit-blocks; for every
    combination of ``blocks - max_hamming`` blocks, the concatenation of
    those blocks is one table's key. If two docs differ in ≤ max_hamming
    bits, those bits touch ≤ max_hamming blocks, so at least one
    combination has ALL its blocks identical — perfect recall by
    pigeonhole — and the exact two-word Hamming distance then verifies.

    Why not the simple bands=4 slicing of a 60-bit hash: 15-bit band keys
    collide between UNRELATED docs at p ≈ 4/2^15, which at 10^9+ docs is
    ~10^14 spurious candidate pairs before the verify — a candidate
    detonation. Here each of the C(6,3)=20 tables keys on 3×20 = 60 bits,
    so spurious candidates are ~20·n²/2^61 — ≈10^7 at n=10^12, linear
    work in practice. The trade is a 20× (vs 4×) row explosion of
    (8-byte id, 8-byte key) pairs — still digest-sized, never text.

    No-word docs carry NULL fingerprints (``simhash128``) and are
    excluded from banding entirely, so k empty docs produce 0 candidate
    pairs instead of a k² Hamming-0 bucket.
    """
    if not 1 <= max_hamming < blocks:
        raise ValueError("banding guarantees recall only for "
                         "max_hamming <= blocks - 1")
    if SIMHASH_BITS % blocks:
        raise ValueError(f"blocks must divide {SIMHASH_BITS}")
    width = SIMHASH_BITS // blocks
    mask = (1 << width) - 1
    half = 60 // width  # blocks per 60-bit word

    def _block(j: int):
        src, off = ("sim_lo", j) if j < half else ("sim_hi", j - half)
        return F.shiftrightunsigned(src, off * width).bitwiseAND(F.lit(mask))

    combos = _block_combinations(blocks, blocks - max_hamming)
    # one folded 8-byte key per table: block values packed by arithmetic,
    # then xxhash64 with the table id (fold multi-part join keys into ONE
    # hashed long — narrow shuffle rows, uniform distribution)
    keys = []
    for t, combo in enumerate(combos):
        packed = None
        for j in combo:
            b = _block(j)
            packed = b if packed is None else F.shiftleft(packed, width) + b
        keys.append(F.xxhash64(F.lit(t), packed))

    sh = simhash128(df, id_col, text_col).filter(F.col("sim_lo").isNotNull())
    banded = sh.select(
        "doc_id",
        "sim_hi",
        "sim_lo",
        F.explode(F.array(*keys)).alias("band_key"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sim_hi").alias("hi_a"),
            F.col("a.sim_lo").alias("lo_a"),
            F.col("b.sim_hi").alias("hi_b"),
            F.col("b.sim_lo").alias("lo_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash per document (top 4 bits zero), in JVM expressions.

    Token hash = first 15 hex chars of md5 → per-bit ±1 vote summed in one
    grouped aggregation → sign vector packed into a long. The shuffle moves
    only (doc_id, 8-byte hash) rows — never text — and the 60 conditional
    sums are a single aggregation pass (whole-stage codegen).
    """
    # under-split guard (r6): with the plain-key repartition, the grouped
    # vote aggregation reuses the guard's HashPartitioning(doc_id) — so on
    # a pathological input this costs ONE text shuffle and removes both the
    # single-task tokenize/md5 map stage AND the gram-hash shuffle (the r5
    # "pre-shuffle costs more" measurement predates the exchange reuse);
    # well-split inputs pass through untouched as before.
    tok = _slim_docs(df, id_col, text_col).select(
        "doc_id",
        F.explode(F.array_distinct(words_col("_text"))).alias("w"),
    ).select("doc_id", _md5_bits(1).alias("h"))
    grouped = tok.groupBy("doc_id").agg(*_simhash_votes("h", ""))
    sims = grouped.select("doc_id", _simhash_pack("").alias("simhash"))
    ids = df.select(F.col(id_col).cast("long").alias("doc_id"))
    return ids.join(sims, "doc_id", "left").select(
        "doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )
