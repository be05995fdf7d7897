"""Lineage / metrics / checkpoint-resume (Iceberg-style tables as parquet).

Reproduces the reference's resumability model Spark-first (SURVEY.md §2.2
F5/F8, §2.9 K2/K3):

* lineage table — one row per scanned url: content hash, pattern version,
  status, run id. The reference's per-chunk status bookkeeping
  (``base_scan_service.py:902-972``) collapses to this, because Spark tasks
  are idempotent — only SCANNED-per-url matters for resume.
* resume — two steps, as the reference's already-scanned dedup
  (``base_scan_service.py:431-447``): input files whose (path, size,
  mtime) stamp a committed run's covered-file record lists are pruned
  from the scan before any row is read (its ``(full_path, etag)`` skip;
  ``plans/tables.py`` holds the records), then a left ANTI-join of the
  remaining input against lineage rows whose ``pattern_version`` is
  current (broadcast when small) drops urls already scanned from another
  file.  Bumping ``EngineConfig.pattern_version`` invalidates both, as
  the reference's rescan-on-new-patterns trigger
  (``redis_tasks.py:174-260``).
* metrics table — per write task docs scanned / kept, PII hits by
  category, drop reasons (``app/schemas/trends_info.py`` analogue).  Each
  task of the run's one write job counts its own docs as it writes them
  (``tally_metrics``) and hands the counts back with its summary; the
  driver writes a run's few rows as one parquet file (``build_metrics``,
  ``write_metrics``), with no aggregation job.  One row describes one docs
  file.

The run's write tasks write lineage rows (``build_lineage``) beside its
docs and findings as plain parquet files, published by
``plans/tables.py``; an Iceberg catalog would take the same files as one
append commit for snapshot isolation.
"""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from pii_detector_spark.plans.tables import (
    drop_scan_records,
    recover,
    replace_dir,
    write_file_atomic,
)


def lineage_path(output_dir: str) -> str:
    return os.path.join(output_dir, "lineage")


def metrics_path(output_dir: str) -> str:
    return os.path.join(output_dir, "metrics")


LINEAGE_SCHEMA = (
    "url STRING, content_md5 STRING, pattern_version INT, status STRING, "
    "run_id STRING"
)


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame | None:
    path = lineage_path(output_dir)
    if not os.path.isdir(path):
        return None
    # explicit schema: an all-empty-appends lineage dir (e.g. every url
    # prefiltered) has no data files to infer from, but is still a table
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


def anti_join_completed(
    df: DataFrame,
    lineage: DataFrame | None,
    pattern_version: int,
    url_col: str = "url",
) -> DataFrame:
    """Drop urls already SCANNED with the current pattern version."""
    if lineage is None:
        return df
    # SQL text: two py4j calls, where Column operators cost one each
    done = lineage.filter(
        f"status = 'SCANNED' AND pattern_version = {int(pattern_version)}"
    ).selectExpr(f"url AS `{url_col}`")
    # No distinct(): a left-anti join's result does not depend on duplicate
    # right-side keys, and deduping first would add an exchange and two
    # aggregations ahead of the join on every resume run.
    # No broadcast hint: lineage holds one row per scanned url, so after the
    # first full run it is CORPUS-cardinality, not metadata-sized — a forced
    # F.broadcast(done) would OOM the driver at 10^9+ urls. Left unhinted,
    # Catalyst broadcasts only while the done-set is under
    # autoBroadcastJoinThreshold and AQE re-plans at runtime from actual
    # shuffle sizes (including converting back to broadcast on the early,
    # small runs). Correctness is identical either way.
    return df.join(done, on=url_col, how="left_anti")


def deleted_urls(
    lineage: DataFrame | None, current: DataFrame, url_col: str = "url"
) -> DataFrame | None:
    """Deleted-object GC (reference F7, ``base_scan_service.py:746-771``):
    lineage urls that no longer exist at the source — the reverse anti-join
    of resume. Callers MERGE-delete these from downstream tables (Iceberg)
    or filter them at read time (plain parquet)."""
    if lineage is None:
        return None
    # both sides are url-only but corpus-sized: shuffle anti-join (AQE picks
    # broadcast if the source listing happens to be small). Only the left
    # side is deduped: it is the output, and right-side duplicates do not
    # change an anti-join's result
    return (
        lineage.select(url_col)
        .distinct()
        .join(current.select(url_col), on=url_col, how="left_anti")
    )


def gc_deleted_urls(
    spark: SparkSession,
    output_dir: str,
    deleted: DataFrame,
    tables: tuple[str, ...] = ("docs", "findings", "lineage"),
) -> dict[str, int]:
    """Apply the F7 GC set: remove every row whose url is in ``deleted``
    from the downstream tables (reference delete flow,
    ``base_scan_service.py:746-771``).

    On Iceberg this is a single ``MERGE``/``DELETE WHERE`` per table with
    snapshot isolation; plain parquet has no row deletes, so this is the
    rewrite equivalent: anti-join each table against the deleted set, write
    to a sibling temp dir, swap. The deleted set can be corpus-sized, so
    the anti-join is unhinted (planner/AQE pick the strategy). Idempotent:
    a second pass with the same source listing computes an empty set.

    Each rewrite goes through ``replace_dir`` (``plans/tables.py``: write
    aside, then swap), so a kill at any point leaves the old or the new
    table; a rewrite interrupted mid-swap is put right by ``recover``
    before the table is read again (here and in ``heal_uncommitted_runs``).

    An empty set returns ``{}`` at once: no table is rewritten, and the
    covered-file records stay, since lineage is unchanged.  Otherwise the
    records are dropped before lineage is rewritten: a url removed here
    may still sit in a file a record covers, and must be rescanned if a
    later run reads that file again.

    Returns rows-removed per table. Missing tables are skipped; corrupt
    tables RAISE (silently skipping made GC report 0 removed on damage
    that needed attention).
    """
    dele = deleted.select("url").distinct()
    if dele.isEmpty():
        return {}
    if "lineage" in tables:
        drop_scan_records(output_dir)
    removed: dict[str, int] = {}
    for t in tables:
        path = os.path.join(output_dir, t)
        recover(path)
        if not os.path.exists(path):
            continue
        has_data = any(
            f.endswith(".parquet")
            for _r, _d, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        )
        if not has_data:
            # all-empty-appends partitioned table: nothing to GC and no
            # file to infer a schema from (corrupt tables still raise —
            # they have data files that fail to read)
            continue
        df = spark.read.parquet(path)
        before = df.count()
        writer = df.join(dele, "url", "left_anti").write.mode("overwrite")
        if "run_id" in df.columns:
            # preserve the run_id-partitioned sink layout — a flat rewrite
            # would mix layouts with later partitioned appends and break
            # partition discovery
            writer = writer.partitionBy("run_id")
        replace_dir(path, writer.parquet)
        # explicit schema: a fully-GC'd partitioned table writes no data
        # files, and an empty dir can't be schema-inferred
        after = spark.read.schema(df.schema).parquet(path).count()
        removed[t] = before - after
    return removed


_LINEAGE_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("content_md5", pa.string()),
        pa.field("pattern_version", pa.int32(), nullable=False),
        pa.field("status", pa.string(), nullable=False),
    ]
)


def build_lineage(docs: pa.RecordBatch, pattern_version: int) -> pa.RecordBatch:
    """One SCANNED row per processed url of a write task's docs batch (md5
    content hash per reference chunk-hash semantics,
    ``base_scan_service.py:233-247``), as ``LINEAGE_SCHEMA`` minus
    ``run_id`` (the partition dir carries it).  The two constant columns
    are non-null, as in a Spark-written lineage file."""
    n = docs.num_rows
    return pa.RecordBatch.from_arrays(
        [
            docs.column("url"),
            docs.column("content_md5"),
            pa.repeat(pa.scalar(pattern_version, pa.int32()), n),
            pa.repeat(pa.scalar("SCANNED"), n),
        ],
        schema=_LINEAGE_ARROW,
    )


METRICS_SCHEMA = (
    "partition_id INT, docs_scanned BIGINT, docs_kept BIGINT, "
    "drop_reasons MAP<STRING,BIGINT>, pii_hits MAP<STRING,BIGINT>, "
    "run_id STRING"
)


def new_metrics_row() -> dict:
    """A write task's metrics counts before its first batch."""
    return {
        "docs_scanned": 0,
        "docs_kept": 0,
        "drop_reasons": Counter(),
        "pii_hits": Counter(),
    }


def tally_metrics(
    docs: pa.RecordBatch, findings: pa.RecordBatch, row: dict
) -> None:
    """Add one docs batch of a write task, and the findings rows exploded
    from it, to its metrics ``row``: docs scanned / kept, drop reasons, and
    PII hits by category (one per findings row)."""
    row["docs_scanned"] += docs.num_rows
    row["docs_kept"] += pc.sum(docs.column("keep")).as_py() or 0
    for key, values in (
        ("drop_reasons", docs.column("drop_reason")),
        ("pii_hits", findings.column("pii_type")),
    ):
        for vc in pc.value_counts(values).to_pylist():
            if vc["values"] is not None:
                row[key][vc["values"]] += vc["counts"]


def build_metrics(summaries: list) -> pa.Table:
    """The metrics rows of one run, from its write tasks' summaries: one
    row per task that wrote docs, so ``partition_id`` names the task whose
    docs file (``part-<partition_id>-…``) the counts describe.  An Arrow
    table with ``METRICS_SCHEMA``'s types minus ``run_id``, rows by
    partition and map keys sorted."""
    schema = to_arrow_schema(_parse_datatype_string(METRICS_SCHEMA))
    schema = schema.remove(schema.get_field_index("run_id"))
    rows = sorted(
        (s for s in summaries if s["docs_scanned"]),
        key=lambda s: s["partition_id"],
    )
    return pa.Table.from_pylist(
        [
            {
                **{n: s[n] for n in schema.names},
                "drop_reasons": sorted(s["drop_reasons"].items()),
                "pii_hits": sorted(s["pii_hits"].items()),
            }
            for s in rows
        ],
        schema=schema,
    )


def write_metrics(table: pa.Table, partition_dir: str) -> None:
    """Write ``build_metrics``' rows into ``partition_dir`` as ONE uniquely
    named parquet file, committed by ``write_file_atomic`` — no Spark job."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    write_file_atomic(
        os.path.join(partition_dir, f"part-{uuid.uuid4().hex}.snappy.parquet"),
        buf.getvalue().to_pybytes(),
    )
