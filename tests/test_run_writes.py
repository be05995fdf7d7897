"""The run's write protocol (``write_run_outputs``): the write tasks stage
their docs, findings and lineage files, the driver publishes exactly the
files the tasks reported, heal removes whatever a killed run staged, the
files read like Spark-written ones, a run's counts cover its own docs, and
a run is one Python pass per write task whose tables equal the fused
DataFrame's, which ``transform_web_pages`` builds with the same pass."""

from __future__ import annotations

import glob
import os
import re
import shutil
from datetime import datetime
from types import SimpleNamespace

import pyarrow as pa
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
    transform_web_pages,
    write_run_outputs,
)
from pii_detector_spark.sources.datagen import (
    EN_SENTENCES,
    WEB_PAGES_PA_SCHEMA,
    generate_rows,
    write_web_pages,
)
from pii_detector_spark.sources.web_pages import read_web_pages

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


def test_writer_dictionary_encodes_only_repeating_columns(clean_out):
    """The run's writer gives a dictionary only to the columns whose values
    repeat (``pipeline._DICTIONARY_COLUMNS``); urls, texts, md5s and
    finding ids stay PLAIN, as Spark's writer leaves them."""
    for table, listed in pipemod._DICTIONARY_COLUMNS.items():
        files = glob.glob(os.path.join(clean_out, table, "run_id=ok", "*.parquet"))
        assert files, table
        encoded = set()
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    col = md.row_group(rg).column(i)
                    if any("DICTIONARY" in e for e in col.encodings):
                        encoded.add(col.path_in_schema)
        assert encoded <= set(listed), (table, encoded - set(listed))
        assert encoded, table


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


def _table(out: str, t: str) -> tuple:
    """A table's rows, sorted, and its Arrow schema, as pyarrow reads the
    files."""
    table = pq.read_table(os.path.join(out, t))
    return sorted(map(repr, table.to_pylist())), table.schema


def test_run_tables_equal_fused_dataframe_tables(spark, tmp_path):
    """``run_pipeline``'s one-pass write job and ``write_run_outputs`` over
    ``transform_web_pages``' fused DataFrame write the same docs, findings,
    lineage and metrics, row for row and type for type: datagen rows plus
    null html with text, html with null text, empty and whitespace-only
    text and a kept doc with findings, with and without html extraction."""
    ts = datetime(2024, 1, 1)
    kept_pii = " ".join(EN_SENTENCES[:10]) + (
        " Contact john.smith12@mailhost3.com for details."
    )
    edges = [
        ("https://edge.example.com/text-only", ts, None, kept_pii, "en"),
        ("https://edge.example.com/html-only", ts,
         f"<html><body><p>{kept_pii}</p></body></html>".encode(), None, None),
        ("https://edge.example.com/empty", ts, None, "", "en"),
        ("https://edge.example.com/blank", ts, None, " \n\t ", "en"),
        ("https://edge.example.com/both-html-wins", None,
         b"<p>short</p>", kept_pii, "en"),
    ]
    rows = [*generate_rows(150, seed=11), *edges]
    src = str(tmp_path / "src.parquet")
    pq.write_table(
        pa.Table.from_pylist(
            [dict(zip(WEB_PAGES_PA_SCHEMA.names, r)) for r in rows],
            schema=WEB_PAGES_PA_SCHEMA,
        ),
        src,
        row_group_size=40,
    )
    for extract_html in (True, False):
        run_out = str(tmp_path / f"run-{extract_html}")
        df_out = str(tmp_path / f"df-{extract_html}")
        run_pipeline(spark, src, run_out, run_id="r", extract_html=extract_html)
        write_run_outputs(
            spark,
            transform_web_pages(
                read_web_pages(spark, src), extract_html=extract_html
            ),
            df_out,
            "r",
            PV,
        )
        for t in ("docs", "findings", "lineage"):
            assert _table(run_out, t) == _table(df_out, t), (t, extract_html)
        assert _sinks(spark, run_out)[3] == _sinks(spark, df_out)[3]
        docs = {
            r["url"]: r
            for r in pq.read_table(os.path.join(run_out, "docs")).to_pylist()
        }
        assert docs["https://edge.example.com/text-only"]["keep"]
        assert docs["https://edge.example.com/text-only"]["n_findings"] > 0
        assert docs["https://edge.example.com/empty"]["drop_reason"] == "empty"
        assert docs["https://edge.example.com/blank"]["drop_reason"] == "empty"
        assert docs["https://edge.example.com/html-only"]["keep"] is extract_html


# the physical plan nodes that run Python: the pandas/Arrow UDF evaluators
# and the map/cogroup operators
_PYTHON_NODE = re.compile(
    r"^[ |+:-]*\*?\s*(\w*(?:Python|InArrow|InPandas)\w*) \(\d+\)"
)


def _executed_plans(spark, action) -> list[str]:
    """The physical plans of the SQL executions ``action()`` ran, newest
    first, read from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():  # newest first; the store keeps only the latest ones
        execs = store.executionsList()
        return (execs.apply(i) for i in reversed(range(execs.size())))

    last = next((e.executionId() for e in executions()), -1)
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    plans = []
    for e in executions():
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())
    return plans


def _python_nodes(plan: str) -> list[str]:
    """The Python nodes of a plan's operator tree, top down."""
    tree = plan.split("\n\n")[0].splitlines()
    return [m.group(1) for ln in tree if (m := _PYTHON_NODE.match(ln))]


def test_run_write_job_has_one_python_node(spark, small_src, tmp_path):
    """The run's write job is one Python pass per task: its physical plan
    holds exactly one Python node, the ``MapInArrow`` writer, and no
    ``ArrowEvalPython``."""
    out = str(tmp_path / "out")
    plans = _executed_plans(
        spark, lambda: run_pipeline(spark, small_src, out, run_id="r")
    )
    (write_job,) = [p for p in plans if "MapInArrow" in p]
    assert _python_nodes(write_job) == ["MapInArrow"], write_job
    assert "ArrowEvalPython" not in write_job


def test_transform_web_pages_is_the_write_tasks_pass(spark, small_src):
    """``transform_web_pages`` runs the write tasks' per-batch step: its
    plan holds exactly one Python node, a ``MapInArrow``, and no
    ``ArrowEvalPython``, and its columns are the docs table's without
    ``run_id``, by name, type and order."""
    df = transform_web_pages(read_web_pages(spark, small_src))
    want = [(f.name, f.dataType) for f in docs_table_schema().fields[1:]]
    assert [(f.name, f.dataType) for f in df.schema.fields] == want
    (plan,) = _executed_plans(spark, df.collect)
    assert _python_nodes(plan) == ["MapInArrow"], plan
    assert "ArrowEvalPython" not in plan


def test_write_task_releases_each_batch(spark, tmp_path, monkeypatch):
    """A write task keeps no page batch past its write.  Its page batches
    slice one IPC message body apiece, as Spark's Arrow stream hands them
    over, and carry a wide column that is never written; the Arrow memory
    held between batches does not grow with the batches seen."""
    n_batches, rows, pad = 8, 20, 50_000
    schema = WEB_PAGES_PA_SCHEMA.append(pa.field("pad", pa.binary()))
    pages = [
        {**dict(zip(WEB_PAGES_PA_SCHEMA.names, r)), "pad": b"x" * pad}
        for r in generate_rows(n_batches * rows, seed=5)
    ]
    src = str(tmp_path / "pages.arrows")
    with pa.ipc.new_stream(pa.OSFile(src, "wb"), schema) as stream:
        for i in range(n_batches):
            stream.write_batch(
                pa.RecordBatch.from_pylist(
                    pages[i * rows : (i + 1) * rows], schema=schema
                )
            )
    held = []

    def batches():
        with pa.ipc.open_stream(pa.OSFile(src)) as reader:
            for batch in reader:
                yield batch
                held.append(pa.total_allocated_bytes())

    ctx = SimpleNamespace(partitionId=lambda: 0, attemptNumber=lambda: 0)
    monkeypatch.setattr("pyspark.TaskContext.get", staticmethod(lambda: ctx))
    out, token = str(tmp_path / "out"), "t0"
    writer = pipemod._sink_writer(
        spark,
        tables.staging_dir(out, token),
        token,
        PV,
        pipemod._page_processor(DEFAULT_CONFIG.quality),
    )
    (summary,) = writer(batches())
    assert summary.to_pylist()[0]["docs_scanned"] == n_batches * rows
    assert len(held) == n_batches
    assert held[-1] - held[0] < rows * pad, held
