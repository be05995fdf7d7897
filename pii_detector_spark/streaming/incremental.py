"""Incremental processing via Structured Streaming.

The reference's 15-minute rescan loop (``app/customer_worker.py:73-91``)
maps to ``Trigger.AvailableNow``: each ``incremental_pipeline`` invocation
processes exactly the files that arrived since the last checkpoint through
the batch job's ``write_run_outputs`` sinks, then exits — the
streaming-native version of the batch anti-join resume in
``plans/checkpoint.py`` (batch is the primary path, SURVEY.md §1.5).

``windowed_event_metrics`` shows the watermark + window pattern over the
``events`` table shape for late-data-tolerant rollups.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_detector_spark.config import DEFAULT_CONFIG, EngineConfig
from pii_detector_spark.plans.pipeline import transform_web_pages
from pii_detector_spark.sources.web_pages import WEB_PAGES_SCHEMA


def incremental_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    run_prefix: str = "stream",
    max_files_per_trigger: int = 8,
    dedup_delta: bool = False,
) -> None:
    """The FULL quality-filter + scrub pipeline as a Structured Streaming
    job: every microbatch runs the fused UDF and writes all four sinks
    (docs / findings / lineage / metrics) through the same
    ``write_run_outputs`` path as the batch job, via ``foreachBatch``.

    AvailableNow semantics: each invocation drains exactly the files that
    arrived since the last checkpoint, then exits — the streaming-native
    resume (file-level progress in the checkpoint replaces the batch
    anti-join; both produce identical tables, run_id = ``prefix-batchId``).

    Idempotent under microbatch REPLAY: Structured Streaming is
    at-least-once into a foreachBatch sink — after a failure between sink
    completion and checkpoint commit, the same (deterministic) batch_id is
    re-delivered. The sink therefore skips any batch whose run_id has a
    commit marker (written after ALL four sinks in ``write_run_outputs`` —
    the documented foreachBatch dedup recipe with batchId as the
    transactional key), so a replayed batch appends nothing twice and
    streaming and batch runs produce identical tables. A crash strictly
    inside a first attempt leaves unmarked run_id partitions, which
    ``heal_uncommitted_runs`` removes before the replay writes — every
    crash point leaves readable, consistent tables (the parquet stand-in
    for Iceberg's atomic multi-table commit).
    """
    from pii_detector_spark.plans.pipeline import heal_uncommitted_runs
    from pii_detector_spark.plans.snapshots import catch_up_snapshots

    # heal ONCE at stream start — the only moment an unmarked partial can
    # exist is right after a crash, and per-batch healing would rescan all
    # tables' partition listings on every microbatch (O(batches²) metadata
    # ops over the stream's life). catch_up_snapshots closes the other
    # crash window: a kill between mark_run_committed and
    # commit_run_snapshot leaves a marker-committed batch missing from the
    # snapshot log, and the replay-skip would otherwise return before ever
    # publishing it — later snapshots would permanently omit that batch.
    heal_uncommitted_runs(spark, output_dir)
    catch_up_snapshots(output_dir)

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    docs = transform_web_pages(stream, config)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"{run_prefix}-{batch_id}"
        wrote = idempotent_batch_write(
            spark,
            batch_df,
            output_dir,
            run_id,
            config.pattern_version,
        )
        if wrote and dedup_delta:
            # streaming delta dedup: each microbatch shingles ONLY its own
            # docs and band-joins the persisted signature table — the same
            # incremental path as the batch --dedup-delta flag, so
            # streaming and batch produce identical neardup/docs_deduped
            from pii_detector_spark.plans.pipeline import (
                incremental_near_dedup,
            )

            incremental_near_dedup(spark, output_dir, run_id)

    q = (
        docs.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", os.path.join(output_dir, "_pipeline_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if dedup_delta and os.path.isdir(os.path.join(output_dir, "docs")):
        # closing refresh: a crash between a batch's commit marker and its
        # dedup pass leaves derived tables one batch stale (the replay
        # skips the committed batch entirely) — an empty-delta pass here
        # rebuilds neardup/docs_deduped from the accumulated pairs, so the
        # job always exits with derived tables consistent with docs
        from pii_detector_spark.plans.pipeline import incremental_near_dedup

        incremental_near_dedup(spark, output_dir, f"{run_prefix}-refresh")


def idempotent_batch_write(
    spark: SparkSession,
    batch_df: DataFrame,
    output_dir: str,
    run_id: str,
    pattern_version: int,
) -> bool:
    """foreachBatch body: write the four sinks UNLESS this run_id already
    committed (the ``_commits/<run_id>`` marker lands after all four sinks
    in ``write_run_outputs``, so its presence implies a complete batch).
    Returns True when the batch was written, False on a replay skip."""
    from pii_detector_spark.plans.pipeline import (
        heal_single_run,
        run_committed,
        write_run_outputs,
    )

    if run_committed(output_dir, run_id):
        return False  # replayed microbatch: outputs already committed
    # self-heal THIS run_id only (O(tables), not a full run listing): a
    # replay without a marker means the first attempt crashed mid-write
    # and may have left partial partitions for this batch
    heal_single_run(output_dir, run_id)
    write_run_outputs(spark, batch_df, output_dir, run_id, pattern_version)
    return True


def windowed_event_metrics(events: DataFrame) -> DataFrame:
    """10-minute tumbling-window event counts with a 30-minute watermark
    (batch-compatible: works on a static events DataFrame too)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
