"""The on-disk table-commit protocol: the one place every multi-step
table write is made crash-safe (plain parquet has no transactions).

* ``write_file_atomic`` — single-file commits (run markers, covered-file
  records, snapshot ``v{N}.json`` and ``CURRENT``, heartbeat beats): a hidden
  ``.<name>#tmp`` sibling, then ``os.replace``.  Spark skips dot-files
  and no quoted run_id ends in ``#tmp``, so no reader counts a tmp.
* staged sink files: a run's write tasks write its docs, findings and
  lineage files as plain files under ``_staging/<token>/<table>/``, named
  ``part-<partition>-<token>-a<attempt>.snappy.parquet`` (no reader looks
  under ``_staging``, and no task renames anything).  Once the job has
  succeeded, ``publish_staged`` moves exactly the files the tasks reported
  into each table's ``run_id=`` partition, so the files of failed or
  speculative attempts never leave staging, and then removes the staging
  dir.  ``drop_staging`` removes whatever a killed run left there.
* run markers ``_commits/<quote(run_id)>``, written after ALL of a run's
  sink partitions land (on Iceberg, one atomic multi-table commit): a
  ``run_id=`` partition without a marker is a crashed run, and
  ``drop_runs`` removes it file-level — never a row rewrite.
* covered-file records ``_scanned/<quote(run_id)>``, written after the
  run's marker and snapshot: the stamp (size, modification time) of every
  input file the run saw, with the pattern version and prefilter
  fingerprint they hold for (a rewrite that keeps both size and mtime
  goes unseen).  A record vouches that every url of its files is in
  committed lineage, so any record on disk counts (``covered_files``),
  and whatever removes lineage rows drops every record first:
  ``drop_runs`` before it removes a ``lineage`` partition, and the
  deleted-url GC before it rewrites lineage (``drop_scan_records``).
  Dropping a record only ever costs a rescan.
* ``replace_dir`` — whole-table replace (``neardup``, ``docs_deduped``,
  ``paired_sigs``, the deleted-url GC rewrites, and every side table the
  spark-submit job writes: its input and post-pass tables, shards too):
  write ``<t>_tmp``, rename live aside to ``<t>_swap_old``, rename tmp
  into place, delete the aside.  ``recover`` puts any interruption right
  and is called before a replaceable table is read.

Single writer per output dir; readers take no locks.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, Iterator
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession

HEALED_TABLES = ("docs", "findings", "lineage", "metrics")
# the tables a run's write tasks stage and ``publish_staged`` publishes
STAGED_TABLES = ("docs", "findings", "lineage")

# '#' never survives quote(safe=""), so no marker name can end in this
_TMP_SUFFIX = "#tmp"


def write_file_atomic(path: str, data: str | bytes) -> None:
    """Single-file commit: a kill leaves the old file or the new one,
    plus at most a tmp file that every listing ignores."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}{_TMP_SUFFIX}")
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as fh:
        fh.write(data)
    os.replace(tmp, path)


def _commits_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_commits")


def marker_path(output_dir: str, run_id: str) -> str:
    return os.path.join(_commits_dir(output_dir), quote(run_id, safe=""))


def mark_run_committed(output_dir: str, run_id: str) -> None:
    """Commit a run: call after ALL of its sink partitions land.  Until
    the marker exists the run's partitions are a crashed, partially
    written run that ``heal_uncommitted_runs`` removes before the next
    run reads anything."""
    write_file_atomic(marker_path(output_dir, run_id), run_id)


def run_committed(output_dir: str, run_id: str) -> bool:
    return os.path.exists(marker_path(output_dir, run_id))


def unmark_run(output_dir: str, run_id: str) -> None:
    try:
        os.remove(marker_path(output_dir, run_id))
    except FileNotFoundError:
        pass


def committed_runs(output_dir: str) -> list[str]:
    """Every run_id with a marker, sorted."""
    cdir = _commits_dir(output_dir)
    if not os.path.isdir(cdir):
        return []
    return sorted(
        unquote(f) for f in os.listdir(cdir) if not f.endswith(_TMP_SUFFIX)
    )


def _scanned_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_scanned")


def _scan_records(output_dir: str) -> Iterator[tuple[str, dict]]:
    sdir = _scanned_dir(output_dir)
    if os.path.isdir(sdir):
        for name in sorted(os.listdir(sdir)):
            if not name.endswith(_TMP_SUFFIX):
                with open(os.path.join(sdir, name)) as fh:
                    yield name, json.load(fh)


def write_scan_record(output_dir: str, run_id: str, record: dict) -> None:
    """Record the input files ``run_id`` saw; call after its marker.  Any
    other record whose files this one lists goes, since this one's stamps
    are the newer: the records stay about one per input set."""
    name = quote(run_id, safe="")
    write_file_atomic(
        os.path.join(_scanned_dir(output_dir), name),
        json.dumps(record, sort_keys=True),
    )
    for other, rec in _scan_records(output_dir):
        if other != name and rec["files"].keys() <= record["files"].keys():
            os.remove(os.path.join(_scanned_dir(output_dir), other))


def covered_files(
    output_dir: str, pattern_version: int, prefilters: str
) -> set[tuple[str, int, int]]:
    """``(file, size, mtime)`` of every file a record lists under this
    pattern version and prefilter fingerprint."""
    covered = set()
    for _name, rec in _scan_records(output_dir):
        if (rec["pattern_version"], rec["prefilters"]) == (
            pattern_version,
            prefilters,
        ):
            covered.update((f, *stamp) for f, stamp in rec["files"].items())
    return covered


def drop_scan_records(output_dir: str) -> None:
    """Drop every covered-file record: the next resume reads every input
    file again and relies on the lineage anti-join alone."""
    sdir = _scanned_dir(output_dir)
    if os.path.isdir(sdir):
        shutil.rmtree(sdir)


def _staging_root(output_dir: str) -> str:
    return os.path.join(output_dir, "_staging")


def staging_dir(output_dir: str, token: str) -> str:
    """Where one run's write-job tasks write: one sub-dir per
    staged table."""
    return os.path.join(_staging_root(output_dir), token)


def staged_file_name(partition: int, token: str, attempt: int) -> str:
    """A task attempt's file name, the same in every staged table."""
    return f"part-{partition:05d}-{token}-a{attempt}.snappy.parquet"


def run_partition_name(spark: SparkSession, run_id: str) -> str:
    """The ``run_id=`` dir name Spark itself would write for ``run_id``:
    its escaping differs from urllib's (``r 1+x:y`` is ``run_id=r
    1+x%3Ay``), and ``run_partitions`` unquotes either back."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return utils.getPartitionPathString("run_id", run_id)


def _publish_table(src: str, names: list[str], dest: str) -> None:
    if names:
        os.makedirs(dest, exist_ok=True)
    for name in names:
        os.replace(os.path.join(src, name), os.path.join(dest, name))


def publish_staged(
    output_dir: str, token: str, partition: str, files: list[str]
) -> None:
    """Move the staged files ``files`` (``<table>/<name>``, as the write
    tasks reported them) into ``<table>/<partition>`` of each
    ``STAGED_TABLES`` table, one table after another, then remove the
    staging dir with every unreported file in it (one writer per output
    dir: nothing else is staged there).  Each table dir is made even when
    the run wrote no rows to it: a run whose pending set was empty still
    leaves a (readable, empty) lineage table, so the next resume keeps its
    covered-file skip."""
    staging = staging_dir(output_dir, token)
    by_table: dict[str, list[str]] = {t: [] for t in STAGED_TABLES}
    for f in files:
        t, name = f.split("/")
        by_table[t].append(name)
    for t in STAGED_TABLES:
        table = os.path.join(output_dir, t)
        os.makedirs(table, exist_ok=True)
        _publish_table(
            os.path.join(staging, t), by_table[t], os.path.join(table, partition)
        )
    drop_staging(output_dir)


def drop_staging(output_dir: str) -> None:
    """Remove ``_staging`` whole: at the end of a publish, and before a
    run reads anything, with whatever a killed run staged."""
    root = _staging_root(output_dir)
    if os.path.isdir(root):
        shutil.rmtree(root)


def run_partitions(table_dir: str) -> Iterator[tuple[str, str]]:
    """Yield ``(run_id, dir)`` for each ``run_id=`` partition of a table.

    The run_id comes from unquoting the LISTED name, never from deriving
    the dir name: Spark escapes fewer characters than urllib (``run 1+x``
    is written literally, where ``quote`` gives ``run%201%2Bx``), and
    unquote inverts exactly the %XX escapes Spark does write."""
    if not os.path.isdir(table_dir):
        return
    for e in os.listdir(table_dir):
        d = os.path.join(table_dir, e)
        if e.startswith("run_id=") and os.path.isdir(d):
            yield unquote(e[len("run_id="):]), d


def drop_runs(
    output_dir: str, doomed: Callable[[str], bool]
) -> dict[str, list[str]]:
    """Remove every ``HEALED_TABLES`` partition whose run_id ``doomed``
    accepts; returns {table: [removed run_ids]}.  Callers only doom
    unmarked runs, so a kill part-way leaves the rest for the next heal.
    The covered-file records go before the first lineage partition does."""
    removed: dict[str, list[str]] = {}
    for t in HEALED_TABLES:
        for rid, d in run_partitions(os.path.join(output_dir, t)):
            if doomed(rid):
                if t == "lineage":
                    drop_scan_records(output_dir)
                shutil.rmtree(d)
                removed.setdefault(t, []).append(rid)
    return removed


def recover(path: str) -> None:
    """Put right an interrupted ``replace_dir``: ``path`` then holds
    exactly the old or the new table and no sibling dir is left.  An aside
    dir is renamed back if live is missing (killed between the renames),
    else deleted (killed after the swap); a tmp dir is always deleted."""
    old, tmp = path + "_swap_old", path + "_tmp"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)


def replace_dir(path: str, write: Callable[[str], None]) -> None:
    """Crash-safe whole-table replace: ``write(tmp)`` builds the new table
    beside the live one, then live is renamed aside, tmp renamed into
    place and the aside deleted.  Every seam leaves the old or the new
    table under a name ``recover`` restores."""
    recover(path)
    old, tmp = path + "_swap_old", path + "_tmp"
    write(tmp)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def publish_near_dedup(
    output_dir: str, docs: DataFrame, marked: DataFrame
) -> None:
    """Replace ``neardup`` (url, component, is_canonical) from ``marked``,
    then ``docs_deduped`` (the canonical rows of ``docs``).  The kept set
    comes from the just-written narrow table, so the pair and component
    stages are not evaluated a second time."""
    neardup = os.path.join(output_dir, "neardup")
    marked = marked.select("url", "component", "is_canonical")
    replace_dir(neardup, marked.write.mode("overwrite").parquet)
    canon = docs.sparkSession.read.parquet(neardup).where("is_canonical")
    kept = docs.join(canon.select("url"), "url", "left_semi")
    replace_dir(
        os.path.join(output_dir, "docs_deduped"),
        kept.write.mode("overwrite").parquet,
    )
