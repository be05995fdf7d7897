"""Token-budget shard packing: assign documents to fixed-token-budget
shards in a stable global order — the pretraining-data step that turns a
filtered corpus into balanced training shards (sequence packing's
document-level half: every shard carries ≈``budget`` tokens, so data
loaders stream uniform work).

The natural SQL form is a GLOBAL window cumulative sum — which in Spark
executes as a SINGLE partition (one task walks 100 TB: the classic
global-window scale trap). This implements the same semantics as a
distributed prefix sum:

1. deterministic range boundaries from ``approxQuantile`` (a full-pass
   Greenwald-Khanna sketch — NOT row sampling, so both passes below see
   the same bucketing; ``repartitionByRange`` would re-sample per job
   and could desync them);
2. per-bucket totals (a metadata-sized aggregation: one row per bucket)
   collect to the driver, which computes exclusive bucket offsets — the
   standard two-pass scan/prefix-sum construction;
3. the final pass runs the cumulative window INSIDE each bucket (full
   parallelism across buckets) and adds its bucket's offset.

The result is bit-identical to the single-partition window (the oracle
runs exactly that in DuckDB) at full cluster parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _bucket_expr(order_col: str, bounds: list[float]):
    """Deterministic bucket id: count of boundaries strictly below the
    key. O(#buckets) whens — buckets are O(cluster cores), not O(rows)."""
    pid = F.lit(0)
    for b in bounds:
        pid = pid + F.when(F.col(order_col) > F.lit(b), 1).otherwise(0)
    return pid


def with_global_cumsum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Add ``out_col`` = running sum of ``value_col`` in global
    ``order_col`` order (inclusive), without a single-partition window.
    ``order_col`` must be numeric (it defines the global order and the
    range bucketing) and unique — or pass ``tiebreak_col`` to make ties
    deterministic (hash order keys can collide)."""
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    probs = [i / p for i in range(1, p)]
    bounds = sorted(set(
        df.stat.approxQuantile(order_col, probs, 0.001)
    )) if probs else []
    pid = _bucket_expr(order_col, bounds)
    bucketed = df.withColumn("_pid", pid)
    # bucket totals -> exclusive offsets (driver-side: one value per
    # bucket, pure metadata — the one .collect() this operator performs)
    totals = {
        r["_pid"]: r["t"]
        for r in bucketed.groupBy("_pid")
        .agg(F.sum(value_col).alias("t"))
        .collect()
    }
    offsets, acc = {}, 0
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b] or 0
    off_expr = F.element_at(
        F.create_map(
            *[
                x
                for b in sorted(offsets)
                for x in (F.lit(b), F.lit(offsets[b]))
            ]
        ),
        F.col("_pid"),
    ) if offsets else F.lit(0)
    order_keys = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.withColumn(
            out_col,
            (off_expr + F.sum(value_col).over(w)).cast("long"),
        )
        .drop("_pid")
    )


def pack_documents(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    order_col: str | None = None,
) -> DataFrame:
    """(id, n_tokens, cum_tokens, shard_id): shard_id =
    floor(exclusive-cumsum / budget) in global ``order_col`` order —
    each shard accumulates docs until its budget fills; a doc straddling
    a boundary belongs to the shard its first token falls in (the
    standard first-fit-in-order packing; shard totals land within one
    document of the budget)."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    order = order_col or id_col
    out = with_global_cumsum(
        df, count_col, order, out_col="cum_tokens",
        tiebreak_col=id_col if order != id_col else None,
    )
    return out.select(
        id_col,
        F.col(count_col).cast("long").alias(count_col),
        "cum_tokens",
        F.floor(
            (F.col("cum_tokens") - F.col(count_col)) / budget_tokens
        ).cast("long").alias("shard_id"),
    )


def pack_documents_by_url(
    df: DataFrame,
    budget_tokens: int,
    url_col: str = "url",
    count_col: str = "n_tokens",
) -> DataFrame:
    """String-keyed variant: the global order is ``xxhash64(url)`` (any
    STABLE order packs correctly, and hash order needs no string
    quantiles — ``with_global_cumsum``'s range bucketing wants a numeric
    key). Output keeps the url column."""
    keyed = df.withColumn("_ord", F.xxhash64(F.col(url_col)))
    out = pack_documents(
        keyed, budget_tokens, id_col=url_col, count_col=count_col,
        order_col="_ord",
    )
    return out.drop("_ord")



def write_packed_shards(
    docs: DataFrame,
    budget_tokens: int,
    out_dir: str,
    url_col: str = "url",
    count_col: str = "n_tokens",
) -> "tuple[str, str]":
    """Materialize the packing: ``<out_dir>/shard_data`` (doc rows,
    ``partitionBy(shard_id)`` so a loader reads one shard as one
    directory) and ``<out_dir>/shard_manifest`` (shard_id, n_docs,
    n_tokens, n_chars — the loader's index).  Returns both paths.

    The assignment runs over the two packing columns only (the prefix
    sum never shuffles text); doc payloads join back on ``url_col`` —
    one hash shuffle, then the shard_id clustering for the partitioned
    write.  The manifest is computed FROM the written table, so it
    always describes what is actually on disk.  Both tables are replaced
    with ``plans/tables.replace_dir`` (an interrupted rewrite leaves the
    previous version readable).

    Size ``budget_tokens`` for shard counts in the thousands-to-100k
    range at the target corpus (each shard is one output directory;
    millions of partition dirs would stress the file listing, not
    Spark).
    """
    import os

    from pii_detector_spark.plans.tables import replace_dir

    assigned = pack_documents_by_url(
        docs.select(url_col, count_col), budget_tokens,
        url_col=url_col, count_col=count_col,
    )
    extra_cols = [c for c in docs.columns if c not in (url_col, count_col)]
    full = (
        assigned.join(docs.select(url_col, *extra_cols), on=url_col)
        if extra_cols
        else assigned
    )

    data_path = os.path.join(out_dir, "shard_data")
    replace_dir(
        data_path,
        full.repartition(F.col("shard_id"))
        .write.mode("overwrite").partitionBy("shard_id").parquet,
    )

    written = docs.sparkSession.read.parquet(data_path)
    text_cols = [c for c in ("scrubbed_text", "text") if c in written.columns]
    nchar = (
        F.sum(F.length(F.col(text_cols[0]))) if text_cols
        else F.lit(None)
    )
    manifest = written.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(count_col).cast("long").alias("n_tokens"),
        nchar.cast("long").alias("n_chars"),
    )
    man_path = os.path.join(out_dir, "shard_manifest")
    replace_dir(man_path, manifest.write.mode("overwrite").parquet)
    return data_path, man_path
