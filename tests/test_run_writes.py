"""The run's write protocol (``write_run_outputs``): the write tasks stage
their docs, findings and lineage files, the driver publishes exactly the
files the tasks reported, heal removes whatever a killed run staged, the
files read like Spark-written ones, and a run's counts cover its own docs."""

from __future__ import annotations

import glob
import os
import shutil
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import pii_detector_spark.plans.pipeline as pipemod
from pii_detector_spark.config import DEFAULT_CONFIG
from pii_detector_spark.plans import checkpoint, tables
from pii_detector_spark.plans.pipeline import (
    docs_table_schema,
    heal_uncommitted_runs,
    read_docs_table,
    run_pipeline,
)
from pii_detector_spark.sources.datagen import write_web_pages

PV = DEFAULT_CONFIG.pattern_version


@pytest.fixture(scope="module")
def small_src(tmp_path_factory) -> str:
    path = tmp_path_factory.mktemp("writes_src") / "pages.parquet"
    write_web_pages(str(path), n_rows=120, seed=7)
    return str(path)


@pytest.fixture(scope="module")
def clean_out(spark, small_src, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("writes_clean"))
    run_pipeline(spark, small_src, out, run_id="ok")
    return out


def _rows(spark, out: str, table: str, schema=None) -> list:
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(os.path.join(out, table)).drop("run_id")
    return sorted(map(repr, (r.asDict(recursive=True) for r in df.collect())))


def _sinks(spark, out: str) -> tuple:
    """docs, findings and lineage rows, run_id aside; metrics totals."""
    totals = [0, 0]
    for r in spark.read.parquet(os.path.join(out, "metrics")).collect():
        totals[0] += r["docs_scanned"]
        totals[1] += r["docs_kept"]
    return (
        _rows(spark, out, "docs", docs_table_schema()),
        _rows(spark, out, "findings"),
        _rows(spark, out, "lineage", checkpoint.LINEAGE_SCHEMA),
        totals,
    )


def test_only_the_reported_attempt_is_published(
    spark, clean_out, tmp_path, monkeypatch
):
    """Two attempts of one write task both leave files in staging; the
    publish moves only the files the summary reports, and removes the
    other attempt's with the staging dir."""
    docs = pq.read_table(os.path.join(clean_out, "docs")).drop_columns(
        ["run_id"]
    )
    out, token = str(tmp_path / "out"), "t0"
    writer = pipemod._sink_writer(
        spark, tables.staging_dir(out, token), token, PV
    )
    summaries = {}
    for attempt, rows in ((0, docs.slice(0, 50)), (1, docs)):
        ctx = SimpleNamespace(
            partitionId=lambda: 3, attemptNumber=lambda a=attempt: a
        )
        monkeypatch.setattr(
            "pyspark.TaskContext.get", staticmethod(lambda c=ctx: c)
        )
        (summaries[attempt],) = writer(iter(rows.to_batches()))
    staged = sorted(
        os.path.relpath(f, tables.staging_dir(out, token))
        for f in glob.glob(os.path.join(out, "_staging", token, "*", "*"))
    )
    assert len(staged) == 6, staged  # 3 tables x 2 attempts

    (reported,) = summaries[1].to_pylist()
    assert reported["docs_scanned"] == docs.num_rows
    tables.publish_staged(out, token, "run_id=r", reported["files"])
    for t in tables.STAGED_TABLES:
        (name,) = os.listdir(os.path.join(out, t, "run_id=r"))
        assert name == tables.staged_file_name(3, token, 1)
    got = pq.read_table(os.path.join(out, "docs", "run_id=r"))
    assert got.num_rows == docs.num_rows
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_kill_between_docs_and_lineage_publish_heals(
    spark, small_src, clean_out, tmp_path, monkeypatch
):
    """A kill after the docs are published but before the lineage is:
    staged files stay behind and the docs partition has no marker; heal
    removes both, and the next run's tables equal a never-crashed run's."""
    out = str(tmp_path / "out")
    publish = tables._publish_table

    def killed(src, names, dest):
        if os.path.basename(src) == "lineage":
            raise RuntimeError("injected kill before lineage publish")
        publish(src, names, dest)

    with monkeypatch.context() as mp:
        mp.setattr(tables, "_publish_table", killed)
        with pytest.raises(RuntimeError, match="before lineage publish"):
            run_pipeline(spark, small_src, out, run_id="c1")
    assert os.listdir(os.path.join(out, "_staging"))
    assert os.listdir(os.path.join(out, "docs")) == ["run_id=c1"]
    assert not tables.run_committed(out, "c1")

    healed = heal_uncommitted_runs(spark, out)
    assert healed["docs"] == ["c1"]
    assert not os.path.exists(os.path.join(out, "_staging"))
    run_pipeline(spark, small_src, out, run_id="c2")
    assert _sinks(spark, out) == _sinks(spark, clean_out)


def test_writer_partition_reads_like_spark_partition(spark, clean_out, tmp_path):
    """One partition written by Spark and one by the run's writer read
    identically through Spark with an explicit schema, through Spark's
    inference and through pyarrow on the table dir, timestamps included
    (both INT96, Spark's default ``outputTimestampType``)."""
    out = str(tmp_path / "out")
    shutil.copytree(clean_out, out)
    explicit = {
        "docs": docs_table_schema(),
        "findings": spark.read.parquet(
            os.path.join(out, "findings")
        ).schema,
        "lineage": spark.read.schema(checkpoint.LINEAGE_SCHEMA)
        .parquet(os.path.join(out, "lineage"))
        .schema,
    }
    for t, schema in explicit.items():
        path = os.path.join(out, t)
        spark.read.schema(schema).parquet(path).withColumn(
            "run_id", F.lit("spark")
        ).write.mode("append").partitionBy("run_id").parquet(path)

        def by_run(rows):
            runs: dict[str, list] = {}
            for r in rows:
                r = dict(r)
                runs.setdefault(r.pop("run_id"), []).append(repr(r))
            assert set(runs) == {"ok", "spark"}
            return sorted(runs["ok"]), sorted(runs["spark"])

        for reader in (spark.read.schema(schema), spark.read):
            mine, spark_rows = by_run(
                r.asDict(recursive=True)
                for r in reader.parquet(path).collect()
            )
            assert mine == spark_rows, t
        inferred = [
            spark.read.parquet(os.path.join(path, p)).schema
            for p in ("run_id=ok", "run_id=spark")
        ]
        assert inferred[0] == inferred[1], t
        mine, spark_rows = by_run(pq.read_table(path).to_pylist())
        assert mine == spark_rows, t
    ts = {
        p: pq.ParquetFile(
            glob.glob(os.path.join(out, "docs", p, "*.parquet"))[0]
        ).schema.column(1)
        for p in ("run_id=ok", "run_id=spark")
    }
    assert ts["run_id=ok"].name == "warc_ts"
    assert ts["run_id=ok"].physical_type == ts["run_id=spark"].physical_type
    assert ts["run_id=ok"].physical_type == "INT96"


def test_rerun_under_committed_run_id_counts_only_its_docs(
    spark, corpus_path, tmp_path
):
    """A rerun under a run id already committed appends to that run's
    partitions; its ``docs_written`` and the metrics rows it writes count
    only the rerun's own docs, not the partition's."""
    full = pq.read_table(corpus_path)
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(full.slice(0, 100), str(src / "a.parquet"))
    out = str(tmp_path / "out")
    first = run_pipeline(spark, str(src), out, run_id="run-0")
    metrics_dir = os.path.join(checkpoint.metrics_path(out), "run_id=run-0")
    before = set(os.listdir(metrics_dir))

    b = full.slice(100, 60)
    pq.write_table(b, str(src / "b.parquet"))
    rerun = run_pipeline(spark, str(src), out, run_id="run-0")
    (new_file,) = set(os.listdir(metrics_dir)) - before
    new_rows = pq.read_table(os.path.join(metrics_dir, new_file)).to_pylist()

    b_urls = set(b.column("url").to_pylist())
    docs = [r["url"] for r in read_docs_table(spark, out).collect()]
    assert first.docs_written == sum(u not in b_urls for u in docs) > 0
    assert rerun.docs_written == sum(u in b_urls for u in docs) > 0
    assert sum(r["docs_scanned"] for r in new_rows) == rerun.docs_written
