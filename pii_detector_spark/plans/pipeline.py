"""End-to-end quality-filter + scrub pipeline (the reference's §3.1 scan job
as one declarative DataFrame plan).

Stage order and the reasoning at 100 TB:

1. scan + pre-filters     — predicates push into the parquet/Iceberg scan
2. resume skip            — on resume, input files a committed run's
                            covered-file record lists with an unchanged
                            (size, mtime) stamp are pruned from the scan at
                            planning, so splits and tasks cover only new or
                            changed files; then the url anti-join removes
                            already-SCANNED urls from the rest (url-only,
                            no distinct() ahead of it, so it broadcasts
                            while the lineage is under the broadcast
                            threshold)
3. fused processing      — extraction + quality metrics + langid +
                            perplexity + keep/drop + gated scrub, in ONE
                            ``mapInArrow`` over the pending pages
                            (operators/fused.py's row loop), running inside
                            the scan stage at split granularity; the
                            html/text payload never shuffles, crosses the
                            JVM→Python boundary exactly once, and the
                            output never re-enters the JVM
4. sinks                  — the SAME ``mapInArrow`` task writes them: it
                            streams its docs into a staged docs, findings
                            (exploded in Arrow) and lineage file and
                            returns one summary row (its files and metrics
                            counts), so a run is ONE write job with one
                            Python worker per task, and the row loop runs
                            exactly once per document per pattern version.
                            The driver publishes the reported files,
                            writes the few metrics rows as one parquet file
                            (no Spark job), then commits. Output coalesced
                            to ~4 files/core so the driver-serial publish
                            never dominates.

A run has no wide exchange except the resume anti-join's, once the lineage
outgrows the broadcast threshold.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
    _parse_datatype_string,
)

from pii_detector_spark.config import (
    DEFAULT_CONFIG,
    EngineConfig,
    QualityThresholds,
)
from pii_detector_spark.operators.delta_dedup import incremental_near_dedup
from pii_detector_spark.operators.fused import FUSED_RESULT_TYPE, fused_columns
from pii_detector_spark.operators.scrub import findings_table
from pii_detector_spark.plans import checkpoint, tables
from pii_detector_spark.plans.snapshots import (
    catch_up_snapshots,
    commit_run_snapshot,
)
from pii_detector_spark.plans.tables import (
    HEALED_TABLES,
    mark_run_committed,
    run_committed,
)
from pii_detector_spark.sources.web_pages import (
    BLOCKED_EXT_RX,
    LOG_PATH_RX,
    MAX_HTML_BYTES,
    apply_prefilters,
    read_web_pages,
)

# what a covered-file record holds for besides the pattern version: a
# changed prefilter can admit urls of a covered file that no run scanned
PREFILTERS_FINGERPRINT = hashlib.sha256(
    json.dumps([BLOCKED_EXT_RX, LOG_PATH_RX, MAX_HTML_BYTES]).encode()
).hexdigest()[:16]

DOC_COLUMNS = [
    "url",
    "warc_ts",
    "lang",
    "lang_pred",
    "perplexity",
    "n_words",
    "n_lines",
    "n_chars",
    "mean_word_len",
    "symbol_ratio",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "alpha_word_frac",
    "dup_line_frac",
    "stopword_hits",
    "has_toxic_word",
    "keep",
    "drop_reason",
    "is_phi",
    "scrubbed_text",
    "n_findings",
    "content_md5",
]


def transform_web_pages(
    df: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    extract_html: bool = True,
    prefilter: bool = True,
) -> DataFrame:
    """The full logical plan, scan → scrub, as a reusable transformation:
    the docs table's columns without ``run_id`` (``DOC_COLUMNS`` plus
    ``findings``).

    The whole per-document chain (extract → metrics → langid → decide →
    gated scrub) runs as ONE ``mapInArrow`` over the pages, the same
    per-batch step ``run_pipeline``'s write tasks run
    (``_page_processor``): one Arrow round trip and one Python worker per
    task for the whole chain.  The per-stage operators
    (``operators/langid.py``, ``operators/scrub.py``) serve declared
    queries in ``__spark_entry__.py``, not this plan; the quality queries
    run this plan.  ``extract_html=False`` skips HTML extraction (the pass
    reads the text column).
    """
    if prefilter:
        df = apply_prefilters(df)
    return _fused_input(df, extract_html).mapInArrow(
        _docs_batches(_page_processor(config.quality)), _docs_schema()
    )


def _fused_input(df: DataFrame, extract_html: bool) -> DataFrame:
    """A fused pass's input: (url, warc_ts, lang, html, text only where
    html is null).  The pass reads text ONLY then, so the redundant copy
    never crosses the Arrow boundary (guide §4.1: control the columns, and
    the bytes, that cross).  ``extract_html=False`` nulls html, so the
    pass reads text.  SQL text, so building it is one py4j call."""
    if extract_html:
        html, text = "html", "CASE WHEN html IS NULL THEN text END AS text"
    else:
        html, text = "CAST(NULL AS BINARY) AS html", "text"
    return df.selectExpr("url", "warc_ts", "lang", html, text)


def _docs_schema():
    """The docs table's columns without ``run_id`` (``DOC_COLUMNS`` plus
    ``findings``) and their types: what a fused pass returns."""
    types = {f.name: f.dataType for f in FUSED_RESULT_TYPE.fields}
    types.update(url=StringType(), warc_ts=TimestampType(), lang=StringType())
    return StructType(
        [StructField(c, types[c]) for c in (*DOC_COLUMNS, "findings")]
    )


def docs_table_schema():
    """Explicit schema of the ``docs`` output table (run_id + DOC_COLUMNS +
    findings). Every re-read of the partitioned docs table MUST pass this:
    runs that wrote no rows leave a docs dir with no data files, and
    schema inference then fails with UNABLE_TO_INFER_SCHEMA."""
    return StructType(
        [StructField("run_id", StringType()), *_docs_schema().fields]
    )


def read_docs_table(spark: SparkSession, output_dir: str) -> DataFrame:
    """Schema-explicit read of the docs table (see ``docs_table_schema``)."""
    return spark.read.schema(docs_table_schema()).parquet(
        os.path.join(output_dir, "docs")
    )


def heal_uncommitted_runs(
    spark: SparkSession, output_dir: str
) -> dict[str, list[str]]:
    """Remove ``run_id=X`` partition directories whose X has no commit
    marker — the file-level GC that makes every crash point leave readable,
    consistent tables (no row rewrites: each run's rows live only in its
    own partition directory, so deleting a crashed run is an O(files)
    directory remove, valid at any table size).  A deleted-url GC rewrite
    interrupted mid-swap is put right first (``tables.recover``).

    Crash matrix (kill at any point of a run's write and commit):
    * inside the write job — the tasks wrote only under ``_staging/``,
      which is removed here before anything is read; no table changed.
    * after the job, part-way through the docs / findings / lineage
      publishes or before the metrics file or the marker — the run has
      no marker, so every partition dir for it is removed here (with any
      staged files left) and the rerun reprocesses those urls.
    * after the marker — the run is complete; rerun resumes to a no-op.

    A rerun under a run id that is already committed is the exception: a
    kill after its first publish leaves its published files under the
    committed id, and the next rerun scans those urls again beside them.

    Returns {table: [removed run_ids]}.
    """
    tables.drop_staging(output_dir)
    for t in HEALED_TABLES:
        path = os.path.join(output_dir, t)
        tables.recover(path)
        if not os.path.isdir(path):
            continue
        flat = [
            e
            for e in os.listdir(path)
            if not e.startswith(("_", "."))
            and not e.startswith("run_id=")
            and os.path.isfile(os.path.join(path, e))
        ]
        if flat:
            # a pre-r4 flat-layout table: appending run_id= dirs beside
            # root data files would break partition discovery — refuse
            # with a migration recipe instead of corrupting the table
            raise RuntimeError(
                f"table '{t}' at {path} has flat-layout data files "
                f"({flat[:3]}…); migrate once before resuming: read it, "
                f"write.partitionBy('run_id') to a sibling dir, swap"
            )
    return tables.drop_runs(
        output_dir, lambda rid: not run_committed(output_dir, rid)
    )


# what each write task hands back: its partition, the staged files it
# wrote (``<table>/<name>``) and its metrics row's counts
SUMMARY_SCHEMA = (
    "partition_id INT, files ARRAY<STRING>, docs_scanned BIGINT, "
    "docs_kept BIGINT, drop_reasons MAP<STRING,BIGINT>, "
    "pii_hits MAP<STRING,BIGINT>"
)


# the staged files' columns whose values repeat within a file, so a
# dictionary page makes them smaller. pyarrow would otherwise dictionary-
# encode every column, the all-distinct ones too (urls, texts, md5s, finding
# ids, continuous scores), where Spark's writer falls back to PLAIN.
_FINDING = "findings.list.element."
_DICTIONARY_COLUMNS = {
    "docs": [
        "lang", "lang_pred", "n_words", "n_lines", "bullet_line_frac",
        "ellipsis_line_frac", "dup_line_frac", "stopword_hits",
        "drop_reason", "n_findings",
        *(_FINDING + c for c in ("pii_type", "pii_region", "score",
                                 "pii_hash", "pii_data")),
    ],
    "findings": [
        "url", "pii_type", "pii_region", "score", "pii_hash", "pii_masked",
    ],
    "lineage": ["pattern_version", "status"],
}


def _parquet_options(spark: SparkSession) -> dict:
    """pyarrow writer options that give the files a Spark write would:
    snappy, the timestamp encoding ``spark.sql.parquet.outputTimestampType``
    names (INT96 by default), and no embedded Arrow schema."""
    ts = {
        "INT96": {"use_deprecated_int96_timestamps": True},
        "TIMESTAMP_MICROS": {"coerce_timestamps": "us"},
        "TIMESTAMP_MILLIS": {
            "coerce_timestamps": "ms",
            "allow_truncated_timestamps": True,
        },
    }[spark.conf.get("spark.sql.parquet.outputTimestampType").upper()]
    return {"compression": "snappy", "store_schema": False, **ts}


def _fused_docs(docs: pa.RecordBatch) -> pa.RecordBatch:
    """The write task's rows → docs step for already-fused docs."""
    return docs


def _page_processor(thresholds: QualityThresholds):
    """The write task's rows → docs step for pending pages (url, warc_ts,
    lang, html, text-where-html-is-null): the fused row loop, its columns
    built in Arrow beside the pages' url, warc_ts and lang."""
    types = {f.name: f.type for f in to_arrow_schema(FUSED_RESULT_TYPE)}

    def to_docs(pages: pa.RecordBatch) -> pa.RecordBatch:
        cols = fused_columns(
            *(pages.column(c).to_pylist() for c in ("url", "html", "text")),
            thresholds,
        )
        names = [*DOC_COLUMNS, "findings"]
        return pa.RecordBatch.from_arrays(
            [
                pa.array(cols[c], type=types[c]) if c in types else pages.column(c)
                for c in names
            ],
            names=names,
        )

    return to_docs


def _docs_batches(to_docs):
    """A ``mapInArrow`` body: each Arrow batch turned into docs
    (``to_docs``) and cast to the Arrow form of ``_docs_schema``."""
    schema = to_arrow_schema(_docs_schema())

    def docs_batches(batches):
        for batch in batches:
            yield to_docs(batch).cast(schema)

    return docs_batches


def _sink_writer(
    spark: SparkSession,
    staging: str,
    token: str,
    pattern_version: int,
    to_docs=_fused_docs,
):
    """The ``mapInArrow`` body of a run's write job.  Each task turns its
    Arrow batches into docs batches (``_docs_batches`` over ``to_docs``;
    already-fused docs by default) and streams them into one staged docs,
    findings and lineage file apiece (a file opens on its first row),
    counts its metrics on the way, and returns one summary row."""
    docs_batches = _docs_batches(to_docs)
    summary_schema = to_arrow_schema(_parse_datatype_string(SUMMARY_SCHEMA))
    options = _parquet_options(spark)

    def write(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = tables.staged_file_name(
            ctx.partitionId(), token, ctx.attemptNumber()
        )
        row = checkpoint.new_metrics_row()
        writers: dict[str, pq.ParquetWriter] = {}

        def emit(table: str, batch: pa.RecordBatch) -> None:
            if not batch.num_rows:
                return
            if table not in writers:
                os.makedirs(os.path.join(staging, table), exist_ok=True)
                writers[table] = pq.ParquetWriter(
                    os.path.join(staging, table, name),
                    batch.schema,
                    use_dictionary=_DICTIONARY_COLUMNS[table],
                    **options,
                )
            writers[table].write_batch(batch)

        try:
            for docs in docs_batches(batches):
                findings = findings_table(docs)
                emit("docs", docs)
                emit("findings", findings)
                emit("lineage", checkpoint.build_lineage(docs, pattern_version))
                checkpoint.tally_metrics(docs, findings, row)
        finally:
            for w in writers.values():
                w.close()
        yield pa.RecordBatch.from_pylist(
            [
                {
                    **row,
                    "partition_id": ctx.partitionId(),
                    "files": [f"{t}/{name}" for t in writers],
                }
            ],
            schema=summary_schema,
        )

    return write


def _write_run(
    spark: SparkSession,
    rows: DataFrame,
    to_docs,
    output_dir: str,
    run_id: str,
    pattern_version: int,
) -> int:
    """ONE Spark job, then the publish and the commit: the tasks over
    ``rows`` turn each batch into docs (``to_docs``) and write the docs,
    findings and lineage rows as they go (``_sink_writer``) into a staging
    dir, and return their file names and metrics counts.  The driver then
    publishes exactly the reported files into each table's ``run_id=``
    partition (``tables.publish_staged``), writes the metrics rows from the
    summaries, and commits the run: marker, then snapshot.  Returns the
    docs written, which count this call's docs only, also under a run id
    an earlier run already committed."""
    token = uuid.uuid4().hex
    writer = _sink_writer(
        spark,
        tables.staging_dir(output_dir, token),
        token,
        pattern_version,
        to_docs,
    )
    # output sizing: one file per table per write task — cap at ~4
    # files/core so the driver-serial publish never becomes the Amdahl
    # tail while tasks stay balanced. coalesce (not repartition): no
    # shuffle of the wide columns; the tasks simply run on the merged
    # splits.
    n_out = 4 * spark.sparkContext.defaultParallelism
    summaries = (
        rows.coalesce(n_out).mapInArrow(writer, SUMMARY_SCHEMA).collect()
    )
    partition = tables.run_partition_name(spark, run_id)
    tables.publish_staged(
        output_dir, token, partition, [f for s in summaries for f in s["files"]]
    )
    metrics = checkpoint.build_metrics(summaries)
    if metrics.num_rows:
        checkpoint.write_metrics(
            metrics, os.path.join(checkpoint.metrics_path(output_dir), partition)
        )
    # all four sinks landed: commit the run (any kill before this line
    # leaves an unmarked run that heal_uncommitted_runs removes wholesale),
    # then publish it in the snapshot log (a kill between the two commit
    # points is healed by catch_up_snapshots on the next run)
    mark_run_committed(output_dir, run_id)
    commit_run_snapshot(output_dir, run_id)
    return sum(metrics.column("docs_scanned").to_pylist())


def write_run_outputs(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    run_id: str,
    pattern_version: int,
) -> int:
    """Write the four sinks (docs / findings / lineage / metrics) for one
    processed batch of fused-UDF output and commit the run, in one write
    job (``_write_run``); returns docs written."""
    return _write_run(
        spark,
        docs.select(*DOC_COLUMNS, "findings"),
        _fused_docs,
        output_dir,
        run_id,
        pattern_version,
    )


@dataclass
class PipelineResult:
    docs_path: str
    findings_path: str
    lineage_path: str
    metrics_path: str
    docs_written: int
    input_files: int  # input files the run read
    input_files_skipped: int  # input files committed runs already covered


def _input_stamps(spark: SparkSession, df: DataFrame) -> dict[str, list[int]]:
    """``{file: [size, mtime]}`` for every file ``df`` scans, from one
    Hadoop ``FileSystem`` listing per input directory (not one call per
    file), so any scheme Spark reads works.  Keys take
    ``_metadata.file_path``'s form: ``inputFiles()`` writes an empty
    authority as ``file:///``, the metadata column as ``file:/``; all
    keep the %-escapes."""

    def key(uri: str) -> str:
        return re.sub(r"^([^:/]+):///", r"\1:/", uri)

    dirs: dict[str, set[str]] = {}
    for uri in df.inputFiles():
        dirs.setdefault(uri.rsplit("/", 1)[0], set()).add(key(uri))
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    stamps = {}
    for d, files in dirs.items():
        path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(d))
        for st in path.getFileSystem(conf).listStatus(path):
            f = key(st.getPath().toUri().toString())
            if f in files:
                stamps[f] = [st.getLen(), st.getModificationTime()]
    return stamps


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    run_id: str = "run-0",
    resume: bool = True,
    extract_html: bool = True,
    gc_deleted: bool = False,
    dedup_near: bool = False,
    dedup_max_iter: int = 50,
    heartbeat_interval_s: float | None = None,
) -> PipelineResult:
    """Batch scan job with checkpoint-resume; rerunning after a partial or
    complete prior run processes only not-yet-SCANNED urls (idempotent).

    Every run records the (size, mtime) stamp of each input file it saw
    in ``<output_dir>/_scanned/<run_id>`` after its commit marker.  A
    ``resume=True`` run over existing lineage prunes, at planning, every
    input file whose stamp a record lists under the current pattern
    version and prefilters, so it reads, splits and schedules only new or
    changed files; the url anti-join then runs over those (a url can sit
    in more than one file).  ``input_files`` and
    ``input_files_skipped`` on the result count both sides.

    ``gc_deleted=True`` additionally applies F7 deleted-object GC after the
    run: lineage urls absent from the current source listing are MERGE-
    deleted (parquet-rewrite equivalent) from docs/findings/lineage, so a
    url deleted at the source disappears downstream and would be rescanned
    if it ever reappears.

    ``dedup_near=True`` runs the keep-one near-dup pass AFTER the docs sink
    (``operators/delta_dedup.incremental_near_dedup``: MinHash-LSH pairs
    over scrubbed_text → connected components → min url canonical per
    cluster) over a cheap columnar re-read — the fused row loop never
    re-runs. Only docs not signed by an earlier pass are shingled; their
    signatures band-join the stored ones (new x all), so a rerun with 1%
    new docs does ~1% of the shingling. It writes ``neardup`` (url,
    component, is_canonical) and ``docs_deduped`` (canonical docs only,
    same schema), and keeps its state in ``signatures``,
    ``neardup_pairs`` and ``paired_sigs``. The primary ``docs`` table is
    left complete so downstream consumers choose raw vs deduped.

    ``heartbeat_interval_s`` adds the K5 instance heartbeat: a driver-side
    thread appends liveness rows to ``<output_dir>/heartbeat`` for the
    duration of the run (``plans/heartbeat.py``; reference analogue
    ``customer_worker.py:92-100``). The final ``alive=false`` row is
    written even when the run raises — a monitor distinguishes crash
    (stale beat / no clean row + missing ``_commits`` marker) from
    completion."""
    if heartbeat_interval_s is None:
        beat = contextlib.nullcontext()
    else:
        from pii_detector_spark.plans.heartbeat import Heartbeat

        beat = Heartbeat(spark, output_dir, run_id, heartbeat_interval_s)
    with beat:
        # remove partitions of any previously-crashed (unmarked) run BEFORE
        # reading lineage — their urls then resume as unprocessed — and pull
        # marker-committed runs a crash left out of the snapshot log back in
        heal_uncommitted_runs(spark, output_dir)
        catch_up_snapshots(output_dir)

        raw = read_web_pages(spark, input_path)
        stamps = _input_stamps(spark, raw)
        lineage = None
        if resume or gc_deleted:
            lineage = checkpoint.read_lineage(spark, output_dir)
        skipped: set[str] = set()
        if resume and lineage is not None:
            covered = tables.covered_files(
                output_dir, config.pattern_version, PREFILTERS_FINGERPRINT
            )
            skipped = {f for f, st in stamps.items() if (f, *st) in covered}
        scan = raw
        if skipped:
            # a filter on the file-path metadata column only: Spark prunes
            # these files at planning and sizes splits from the rest
            # the paths cross py4j as ONE NUL-joined literal split on the
            # JVM side (a NUL cannot occur in a path): ``isin`` would make
            # one py4j call per path, ~0.4 ms each
            paths = F.split(F.lit("\0".join(sorted(skipped))), "\0")
            scan = raw.filter(
                ~F.array_contains(paths, F.col("_metadata.file_path"))
            )
        pending = apply_prefilters(scan)
        if resume:
            pending = checkpoint.anti_join_completed(
                pending, lineage, config.pattern_version
            )

        # the run's one write job: its tasks run the fused row loop over
        # the pending pages and write the results where they were
        # computed, so the output never re-enters the JVM
        n = _write_run(
            spark,
            _fused_input(pending, extract_html),
            _page_processor(config.quality),
            output_dir,
            run_id,
            config.pattern_version,
        )
        # only once the marker has landed, so a record on disk always
        # vouches for committed lineage (a kill before this line costs
        # one unskipped resume).  The skipped files go in too: a record
        # already vouches for them.
        tables.write_scan_record(
            output_dir,
            run_id,
            {
                "pattern_version": config.pattern_version,
                "prefilters": PREFILTERS_FINGERPRINT,
                "files": stamps,
            },
        )

        if gc_deleted and lineage is not None:
            deleted = checkpoint.deleted_urls(lineage, apply_prefilters(raw))
            if deleted is not None:
                checkpoint.gc_deleted_urls(spark, output_dir, deleted)

        if dedup_near:
            # explicit schema: a run whose appends were all empty (e.g.
            # every url prefiltered on a fresh output dir) leaves the
            # partitioned docs table with no data files to infer from
            incremental_near_dedup(
                read_docs_table(spark, output_dir), output_dir, run_id,
                max_iter=dedup_max_iter,
            )

        return PipelineResult(
            docs_path=os.path.join(output_dir, "docs"),
            findings_path=os.path.join(output_dir, "findings"),
            lineage_path=checkpoint.lineage_path(output_dir),
            metrics_path=checkpoint.metrics_path(output_dir),
            docs_written=n,
            input_files=len(stamps) - len(skipped),
            input_files_skipped=len(skipped),
        )
