"""Similarity search over embedding columns (array<float>).

Per-vector math runs in Arrow-batched numpy pandas UDFs, such as
``cosine_pd`` (one einsum per batch) and ``lsh_buckets_udf`` (one matmul
per batch). A zip_with/aggregate JVM expression form is interpreted per
element outside codegen and measured 40x slower (BENCH/PLANS.md).

* ``cosine_topk_bruteforce`` — exact top-k neighbors: broadcast the (small)
  query set against the corpus. At 100 TB the corpus side streams through
  the scan — the only shuffle is the per-query top-k, which AQE keeps tiny.
* ``lsh_bucket_topk`` — the scale path: random-hyperplane LSH signature
  (deterministic planes from ``_plane_matrix``, md5 of the dimension
  index) buckets the corpus; queries search only their bucket. Recall < 1
  by design; bucket count tunes the recall/cost trade.
* ``ivf_topk`` — learned-cell ANN: deterministic k-means cells, queries
  probe their nearest cells.
* ``embedding_neardup_pairs`` — near-duplicate vector pairs within LSH
  buckets (cosine ≥ threshold), the embedding analogue of minhash dedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def _cosine_batch(a, b):
    if not len(a):
        return pd.Series([], dtype="float64")
    X = np.stack(a.map(np.asarray).to_numpy()).astype(np.float64)
    Y = np.stack(b.map(np.asarray).to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", X, Y)
    den = np.sqrt(np.einsum("ij,ij->i", X, X)) * np.sqrt(
        np.einsum("ij,ij->i", Y, Y)
    )
    return pd.Series(num / den)


# Arrow-batched numpy cosine: one vectorized pass per batch instead of
# one interpreted fold per element per row (DataType instance, not a DDL
# string — string forms are parsed eagerly and need an active session)
cosine_pd = F.pandas_udf(_cosine_batch, returnType=DoubleType())


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: one broadcast nested-loop + per-query window."""
    c = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("vec"),
    )
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).alias("qvec"),
    )
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        cosine_pd(F.col("vec"), F.col("qvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _plane_matrix(dim: int, n_planes: int, table: int) -> "np.ndarray":
    """Deterministic ±1 hyperplanes: plane p's weight for dimension d is
    the bit parity of md5(t:p:d) — no model artifact, same planes on every
    executor and in the DuckDB oracle."""
    import hashlib

    return np.array(
        [
            [
                1.0
                if (hashlib.md5(f"{table}:{p}:{d}".encode()).digest()[0] & 1)
                else -1.0
                for d in range(dim)
            ]
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )


def lsh_buckets_udf(dim: int, n_planes: int, n_tables: int):
    """Vectorized multi-table signature: vec -> array<int> of ``n_tables``
    buckets. One (batch × tables·planes·dim) einsum per Arrow batch replaces
    tables × planes interpreted zip_with/aggregate folds per ROW (the
    non-codegen trap that made ann_lsh the slowest bench query)."""
    P = np.stack([_plane_matrix(dim, n_planes, t) for t in range(n_tables)])
    pw = (1 << np.arange(n_planes)).astype(np.int64)

    def fn(vecs):
        if not len(vecs):
            return pd.Series([], dtype="object")
        X = np.stack(vecs.map(np.asarray).to_numpy()).astype(np.float64)
        proj = np.einsum("nd,tpd->ntp", X, P)
        sig = ((proj >= 0).astype(np.int64) * pw).sum(axis=2).astype(np.int32)
        return pd.Series(list(sig))

    return F.pandas_udf(fn, returnType="array<int>")


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH.

    Candidate recall ≈ 1-(1-p^planes)^tables where p = 1-θ/π; more tables
    buy recall, more planes cut candidates per bucket. Only same-bucket
    rows are ever scored — the corpus is never cross-joined.

    Scoring shape: the query side is the small probe set (the operator's
    contract — queries search only their buckets), so it BROADCASTS and
    the candidate join runs map-side inside the corpus scan stage: corpus
    vectors never shuffle at all, and each surviving candidate pair is
    scored by the Arrow-batched numpy cosine in the same stage. The
    earlier cogrouped-``applyInPandas`` form shuffled the whole
    bucket-exploded corpus (vectors included) through TWO exchanges and
    paid per-group pandas conversion for hundreds of groups — measured
    ~2x slower end-to-end at sf1.0. Cross-table duplicates resolve in a
    cheap (query_id, vec_id) max-agg of 8-byte score rows.
    """
    buckets = lsh_buckets_udf(dim, n_planes, n_tables)
    c = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("vec"),
    ).select(
        "vec_id",
        "vec",
        F.posexplode(buckets(F.col("vec"))).alias("table_id", "bucket"),
    )
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).alias("qvec"),
    ).select(
        "query_id",
        "qvec",
        F.posexplode(buckets(F.col("qvec"))).alias("table_id", "bucket"),
    )

    scored = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_pd(F.col("vec"), F.col("qvec")).alias("cosine"),
        )
        # same (query_id, vec_id) found in several tables: identical score,
        # max() dedups without another distinct pass over vectors
        .groupBy("query_id", "vec_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 5,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) cells: deterministic k-means.

    The scale path complementing ``lsh_bucket_topk``: centroids are learned
    (``iters`` Lloyd steps) instead of fixed hyperplanes, so cells adapt to
    the embedding distribution; queries probe their ``n_probe`` nearest
    cells and score only those cells' vectors.

    Determinism (no Date/now, no RNG): seed centroids are the vectors of
    the ``n_cells`` ids with the smallest ``md5(vec_id)``; per-cell means
    sum members in vec_id order. Everything data-sized stays distributed —
    only centroid matrices (n_cells × dim floats) touch the driver.
    Assignment is an Arrow-batched pandas UDF doing one numpy argmin per
    batch (a JVM expression form would be ``n_cells × dim`` interpreted
    higher-order ops per row — the known non-codegen trap).
    """
    centroids = ivf_train_centroids(
        corpus, dim, n_cells, iters, id_col=id_col, vec_col=vec_col
    )
    c = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("vec"),
    )
    assigned = ivf_assign(c, centroids)
    return ivf_query(assigned, queries, centroids, n_probe, k,
                     id_col=id_col, vec_col=vec_col)


def ivf_train_centroids(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Deterministic k-means centroids (see ``ivf_topk``); the (tiny)
    centroid matrix is the persistable index artifact — serialize it with
    ``centroids_to_rows``/``rows_to_centroids`` for the delta path."""

    c = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("vec"),
    )
    seeds = (
        c.withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h")
        .limit(n_cells)
        .collect()
    )
    centroids = np.array([list(r["vec"]) for r in seeds], dtype=np.float64)

    # fixed-point quantization (2^20) makes the distributed per-cell sums
    # integer and therefore associative — identical centroids on every run
    # regardless of partition/merge order (float sums are not)
    Q = 1 << 20
    for _ in range(iters):
        assigned = c.withColumn("cell", _assign_udf(centroids)(F.col("vec")))
        sums = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.round(F.col("x") * Q).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_c = centroids.copy()  # empty cells keep their old centroid
        acc: dict[int, "np.ndarray"] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r["cell"], np.zeros(dim))[r["pos"]] = r["s"]
            cnt[r["cell"]] = r["n"]  # one exploded row per member per pos
        for cell in acc:
            new_c[cell] = acc[cell] / (max(cnt[cell], 1) * Q)
        centroids = new_c
    return centroids


def ivf_assign(c: DataFrame, centroids: "np.ndarray") -> DataFrame:
    """(vec_id, vec) → + cell under FROZEN centroids — the delta-mode
    assignment: new vectors join the stored index without re-clustering
    (centroid drift is a rebuild decision, not an append cost)."""
    return c.withColumn("cell", _assign_udf(centroids)(F.col("vec")))


def centroids_to_rows(centroids: "np.ndarray") -> list[tuple[int, int, float]]:
    """(cell, pos, value) rows for persisting the centroid matrix as a
    (tiny) parquet table."""
    return [
        (int(i), int(j), float(centroids[i, j]))
        for i in range(centroids.shape[0])
        for j in range(centroids.shape[1])
    ]


def rows_to_centroids(rows, n_cells: int, dim: int) -> "np.ndarray":

    cent = np.zeros((n_cells, dim), dtype=np.float64)
    for r in rows:
        cent[r["cell"], r["pos"]] = r["value"]
    return cent


def _assign_udf(cent: "np.ndarray"):

    return F.pandas_udf(
        lambda vecs: pd.Series(
            np.argmin(
                (
                    (np.stack(vecs.map(np.asarray).to_numpy())[:, None, :]
                     - cent[None, :, :]) ** 2
                ).sum(axis=2),
                axis=1,
            ).astype(np.int64)
        ) if len(vecs) else pd.Series([], dtype="int64"),
        returnType="long",
    )


def ivf_query(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: "np.ndarray",
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe/score stage over an (incrementally maintained) assignment
    relation — exactly ``ivf_topk``'s tail, usable with stored
    centroids + appended assignments."""

    def _probe_udf(cent: np.ndarray, p: int):
        def fn(vecs):  # pd.Series -> pd.Series
            if not len(vecs):
                return pd.Series([], dtype="object")
            X = np.stack(vecs.map(np.asarray).to_numpy())
            d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d, axis=1, kind="stable")[:, :p]
            return pd.Series(list(order.astype(np.int64)))

        return F.pandas_udf(fn, returnType="array<long>")

    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).alias("qvec"),
    ).withColumn(
        "cell", F.explode(_probe_udf(centroids, n_probe)(F.col("qvec")))
    )
    cand = (
        assigned.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id", "vec_id", cosine_pd(F.col("vec"), F.col("qvec")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 2048,
) -> DataFrame:
    """Vector near-dup pairs (cosine ≥ threshold) within LSH buckets.

    Shape: bucket each vector (vectorized signature UDF) → ONE bucket-keyed
    shuffle → per-bucket blocked numpy matmul inside ``applyInPandas``.
    Each vector crosses the JVM↔Arrow boundary once per bucket; a
    self-JOIN form ships both vectors once per CANDIDATE PAIR (measured
    3x slower at sf0.1) and its pair rows dominate the shuffle. Per-task
    memory is bucket_size × dim plus a block × bucket_size score tile —
    at corpus scale, ``n_planes`` (buckets = 2^planes) is the knob that
    keeps bucket populations task-sized.
    """
    buckets = lsh_buckets_udf(dim, n_planes, 1)
    base = df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("vec"),
    ).withColumn("bucket", buckets(F.col("vec"))[0])

    def score(pdf):
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        X = np.stack(pdf["vec"].map(np.asarray).to_numpy()).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        a_out: list[np.ndarray] = []
        b_out: list[np.ndarray] = []
        c_out: list[np.ndarray] = []
        for s in range(0, m, block):
            e = min(s + block, m)
            sims = Xn[s:e] @ Xn.T  # (block, m) tile
            ii, jj = np.nonzero(sims >= threshold)
            gi = ii + s
            keep = gi < jj  # strict upper triangle: each pair once, no self
            gi, gj = gi[keep], jj[keep]
            if not len(gi):
                continue
            ia, ib = ids[gi], ids[gj]
            a_out.append(np.minimum(ia, ib))
            b_out.append(np.maximum(ia, ib))
            c_out.append(sims[ii[keep], jj[keep]])
        if not a_out:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(a_out),
                "id_b": np.concatenate(b_out),
                "cosine": np.concatenate(c_out),
            }
        )

    return base.groupBy("bucket").applyInPandas(
        score, schema="id_a long, id_b long, cosine double"
    )
