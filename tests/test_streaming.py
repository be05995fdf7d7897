"""Watermarked windowed event rollup (streaming/incremental.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_windowed_event_metrics_batch_equivalence(spark, sf_dir="/root/testdata/sf0.001"):
    from pii_detector_spark.operators.events import windowed_event_metrics

    events = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = windowed_event_metrics(events)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
