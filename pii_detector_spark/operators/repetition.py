"""Gopher repetition rules: top-n-gram and duplicated-n-gram character
fractions (Rae et al. 2021 §A1.1; PAPERS.md).

Complements the fused pass's quality rules (``operators/fused.py``, which
computes the line-level ``dup_line_frac``): Gopher additionally gates on

* the fraction of characters inside the MOST COMMON word {2,3,4}-gram, and
* the fraction of characters inside duplicated (count ≥ 2) word
  {5..10}-grams.

Shared cross-engine semantics (pinned by the ``repetition_metrics``
oracle):

* words = ASCII-whitespace runs (the corpus-wide tokenization spec);
  n-grams are the overlapping word n-grams of the single-space-normalized
  text, one per word start.
* gram char length = its normalized string length (words + single
  separating spaces); denominators are ``length(text)`` of the RAW text.
* "most common" ties break to the longer gram (max char fraction) — a
  deterministic refinement of the paper's unspecified tie.
* duplicated-gram fractions count every occurrence (``cnt × len``) without
  overlap correction — deterministic and cheap in both engines; the paper's
  span-marking variant differs only on pathological self-overlapping text.

Scale shape: one shuffle-free ``mapInArrow`` pass over rolling-hash n-gram
keys (see ``with_repetition_metrics``).

The thresholds are ``TOP_NGRAM_MAX_FRAC`` / ``DUP_NGRAM_MAX_FRAC`` below
(Gopher's published values); ``apply_repetition_rules`` applies them (or
caller overrides) and emits the first-failing-rule drop reason. They are a
separate batch operator, not part of the fused pipeline UDF's fixed metric
set — callers opt in per-corpus (the documented Gopher practice of tuning
repetition gates per source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Gopher §A1.1 published thresholds
TOP_NGRAM_MAX_FRAC: dict[int, float] = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_MAX_FRAC: dict[int, float] = {
    5: 0.15,
    6: 0.14,
    7: 0.13,
    8: 0.12,
    9: 0.11,
    10: 0.10,
}


def with_repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """(doc_id, n_chars, top_{n}gram_char_frac…, dup_{n}gram_char_frac…).

    Docs with no qualifying grams (or empty text) get 0.0 fractions.

    Shape (r6): every metric is a pure function of ONE document, so the
    whole computation runs inside the scan stage as a single
    ``mapInArrow`` pass — ZERO shuffles (the r5 form exploded ~9× word
    count gram rows into a corpus-wide groupBy; the fused 9-regex codegen
    projection it used also JIT-warmed so slowly that the first post-warm
    run still paid 3×). Per batch: one whitespace split per doc, word
    hashes once, then per n a vectorized rolling-hash gram key + length
    (numpy) and a unique/count per doc — guide §4.2, whole batches to
    vectorized native code. Gram identity uses 64-bit hashing exactly like
    the r5 xxhash64 keying (collisions WITHIN one (doc, n) are the only
    ones that matter: ~2⁻⁶⁴·grams² per doc — negligible).
    """
    from pii_detector_spark.plans.partitioning import ensure_min_parallelism

    # CPU-bound per-row work: guard against pathologically under-split
    # scans; well-split inputs pass through untouched
    base = ensure_min_parallelism(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
            F.col(text_col).alias("_text"),
        ),
        "doc_id",
    )
    all_ns = tuple(sorted(set(top_ns) | set(dup_ns)))
    top_set, dup_set = tuple(top_ns), tuple(dup_ns)

    def compute(batches):
        import re

        import numpy as np
        import pyarrow as pa

        ws = re.compile("[ \\t\\n\\r\\f\\u000B]+")
        # gram key K(i,n) = Σ_j h[i+j]·C^j (mod 2^64) with a fixed odd
        # constant C: position-weighted word hashes distinguish grams
        # exactly as well as hashing the joined string (64-bit identity)
        for batch in batches:
            doc_ids = batch["doc_id"].to_numpy(zero_copy_only=False)
            n_chars = batch["n_chars"].to_numpy(zero_copy_only=False)
            texts = batch["_text"].to_pylist()
            m = len(texts)
            out: dict[str, "np.ndarray"] = {
                "doc_id": doc_ids.astype(np.int64),
                "n_chars": n_chars.astype(np.int64),
            }
            tops = {n: np.zeros(m, dtype=np.float64) for n in top_set}
            dups = {n: np.zeros(m, dtype=np.float64) for n in dup_set}
            for r in range(m):
                t = texts[r]
                nc = int(n_chars[r])
                if not t or nc <= 0:
                    continue
                words = [w for w in ws.split(t) if w]
                if len(words) < min(all_ns):
                    continue
                # hash() is salted per process but consistent within one —
                # and gram identity only ever compares within one doc
                h = np.array(
                    [hash(w) & 0xFFFFFFFFFFFFFFFF for w in words],
                    dtype=np.uint64,
                )
                wl = np.array([len(w) for w in words], dtype=np.int64)
                # cumulative normalized length: gram(i, n) length =
                # cum[i+n] - cum[i] - 1 (words + single spaces)
                cum = np.zeros(len(words) + 1, dtype=np.int64)
                np.cumsum(wl + 1, out=cum[1:])
                for n in all_ns:
                    g = len(words) - n + 1
                    if g <= 0:
                        break  # all_ns ascending: larger n can't fit either
                    key = h[:g].copy()
                    mult = 1
                    for j in range(1, n):
                        # python-int modular multiply: numpy SCALAR uint64
                        # overflow warns, vector ops wrap silently
                        mult = (mult * 0x9E3779B97F4A7C15) & (
                            (1 << 64) - 1
                        )
                        key += h[j : j + g] * np.uint64(mult)
                    glen = cum[n:] - cum[:-n] - 1
                    uk, first, cnt = np.unique(
                        key, return_index=True, return_counts=True
                    )
                    ul = glen[first]
                    if n in tops:
                        # most common, ties to the longer gram
                        packed = cnt.astype(np.int64) * (1 << 31) + ul
                        best = int(np.argmax(packed))
                        tops[n][r] = (
                            int(cnt[best]) * int(ul[best])
                        ) / nc
                    if n in dups:
                        dup_mask = cnt >= 2
                        if dup_mask.any():
                            dups[n][r] = int(
                                (cnt[dup_mask] * ul[dup_mask]).sum()
                            ) / nc
            for n in top_set:
                out[f"top_{n}gram_char_frac"] = tops[n]
            for n in dup_set:
                out[f"dup_{n}gram_char_frac"] = dups[n]
            yield pa.RecordBatch.from_pydict(out)

    schema = ", ".join(
        ["doc_id long", "n_chars long"]
        + [f"top_{n}gram_char_frac double" for n in top_set]
        + [f"dup_{n}gram_char_frac double" for n in dup_set]
    )
    return base.mapInArrow(compute, schema=schema)


def apply_repetition_rules(
    metrics: DataFrame,
    top_max: dict[int, float] | None = None,
    dup_max: dict[int, float] | None = None,
) -> DataFrame:
    """First-failing-rule ``rep_drop_reason`` (None = keep) over the
    ``with_repetition_metrics`` output, smallest n first — mirroring the
    fixed rule order of the fused pass's drop_reason."""
    top_max = TOP_NGRAM_MAX_FRAC if top_max is None else top_max
    dup_max = DUP_NGRAM_MAX_FRAC if dup_max is None else dup_max
    reason = None
    for n in sorted(top_max):
        cond = F.col(f"top_{n}gram_char_frac") > top_max[n]
        lit = F.lit(f"top_{n}gram")
        reason = F.when(cond, lit) if reason is None else reason.when(cond, lit)
    for n in sorted(dup_max):
        cond = F.col(f"dup_{n}gram_char_frac") > dup_max[n]
        lit = F.lit(f"dup_{n}gram")
        reason = F.when(cond, lit) if reason is None else reason.when(cond, lit)
    return metrics.withColumn("rep_drop_reason", reason).withColumn(
        "rep_keep", F.col("rep_drop_reason").isNull()
    )
