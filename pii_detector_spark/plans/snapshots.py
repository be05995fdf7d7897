"""Iceberg-style snapshot log: time travel and rollback over the
run_id-partitioned output tables.

The sinks already have Iceberg's *commit* half: each run's rows live
only in its own ``run_id=X`` partition dirs, and a run exists once its
marker lands (``plans/tables.py`` holds the markers, partition healing
and the atomic file write used below).  This module adds the *metadata*
half of the public Iceberg design (the spec's snapshot log +
current-pointer swap):

* ``_snapshots/v{N}.json`` — an immutable snapshot: the exact set of
  committed run_ids visible at version N (the manifest-list analogue;
  run partitions play the role of data-file manifests).
* ``_snapshots/CURRENT`` — the current-version pointer, rewritten with
  ``tables.write_file_atomic`` — the single-file commit point, exactly
  the spec's metadata-pointer swap.  A crash before the swap leaves the
  old version current and an orphan v-file that the next commit
  overwrites.
* time travel — ``read_table_at(..., snapshot_id=N)`` filters the
  partitioned read on the snapshot's run set.  The filter is on the
  PARTITION column, so Spark prunes to exactly those directories:
  reading "the table as of snapshot 3" scans zero bytes of later runs,
  at any table size.
* rollback — ``rollback(dir, N)`` commits a NEW snapshot whose run set
  equals version N's (Iceberg semantics: history is append-only; a
  rollback is a new version, not an erasure).
* retention — ``expire_snapshots(dir, keep_last)`` drops old snapshot
  files and removes run partitions unreachable from any surviving
  snapshot (expire + orphan-file cleanup in one pass; file-level
  directory removes, never row rewrites).

Single-writer discipline (one scheduler owns an output dir — the same
assumption the run markers make); readers are lock-free and always see
either the old or the new version, never a partial one.

Reference parity: the reference records scan status per chunk in its
metadata DB (`app/services/base_scan_service.py`) but has no versioned
reads; snapshots are part of the Iceberg-table operational surface the
north rule asks for (resumable, auditable, safely re-runnable jobs).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_detector_spark.plans import tables

_SNAP_DIR = "_snapshots"


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    run_ids: tuple[str, ...]
    operation: str  # "append" | "rollback" | "catchup"


def _dir(output_dir: str) -> str:
    return os.path.join(output_dir, _SNAP_DIR)


def _vpath(output_dir: str, n: int) -> str:
    return os.path.join(_dir(output_dir), f"v{n}.json")


def _current_path(output_dir: str) -> str:
    return os.path.join(_dir(output_dir), "CURRENT")


def current_snapshot_id(output_dir: str) -> int | None:
    try:
        with open(_current_path(output_dir)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def load_snapshot(output_dir: str, snapshot_id: int) -> Snapshot:
    with open(_vpath(output_dir, snapshot_id)) as fh:
        d = json.load(fh)
    return Snapshot(
        snapshot_id=int(d["snapshot_id"]),
        parent_id=d["parent_id"],
        run_ids=tuple(d["run_ids"]),
        operation=d["operation"],
    )


def snapshot_log(output_dir: str) -> list[Snapshot]:
    """All snapshots, oldest first (the table's auditable history)."""
    d = _dir(output_dir)
    if not os.path.isdir(d):
        return []
    ids = sorted(
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )
    cur = current_snapshot_id(output_dir)
    # an orphan v-file newer than CURRENT is a crashed commit — not history
    return [load_snapshot(output_dir, i) for i in ids if cur is not None and i <= cur]


def _commit(output_dir: str, runs: tuple[str, ...], op: str) -> Snapshot:
    cur = current_snapshot_id(output_dir)
    nxt = 1 if cur is None else cur + 1
    snap = Snapshot(nxt, cur, runs, op)
    tables.write_file_atomic(
        _vpath(output_dir, nxt), json.dumps(asdict(snap))
    )
    # the commit point: readers see the new version only after this swap
    tables.write_file_atomic(_current_path(output_dir), str(nxt))
    return snap


def commit_run_snapshot(output_dir: str, run_id: str) -> Snapshot:
    """Append ``run_id`` to the visible set — call AFTER the run marker.

    Idempotent: re-committing an already-visible run returns the current
    snapshot unchanged (a rerun under the same run id)."""
    cur = current_snapshot_id(output_dir)
    runs: tuple[str, ...] = ()
    if cur is not None:
        runs = load_snapshot(output_dir, cur).run_ids
        if run_id in runs:
            return load_snapshot(output_dir, cur)
    return _commit(output_dir, runs + (run_id,), "append")


def catch_up_snapshots(output_dir: str) -> Snapshot | None:
    """Heal the marker→snapshot gap: any marker-committed run missing
    from the ENTIRE snapshot history (crash between the two commit
    points, or a pre-snapshot table) is appended in one catchup
    snapshot.  Returns it, or None if nothing was missing.

    Diffing markers against the whole log — not just CURRENT — is what
    keeps ``rollback`` durable: a rolled-back run is absent from CURRENT
    but present in an earlier snapshot, so it is NOT "missing" and is
    never silently resurrected here (a crash-orphaned run has a marker
    and appears in no snapshot at all)."""
    marked = tables.committed_runs(output_dir)
    cur = current_snapshot_id(output_dir)
    seen: set[str] = set()
    for snap in snapshot_log(output_dir):
        seen.update(snap.run_ids)
    missing = [r for r in marked if r not in seen]
    if not missing:
        return None
    base = () if cur is None else load_snapshot(output_dir, cur).run_ids
    return _commit(output_dir, base + tuple(missing), "catchup")


def rollback(output_dir: str, snapshot_id: int) -> Snapshot:
    """Make the table read as of ``snapshot_id`` — committed as a NEW
    version (append-only history; nothing is deleted until
    ``expire_snapshots``)."""
    target = load_snapshot(output_dir, snapshot_id)
    return _commit(output_dir, target.run_ids, "rollback")


def read_table_at(
    spark: SparkSession,
    output_dir: str,
    table: str,
    snapshot_id: int | None = None,
    schema=None,
) -> DataFrame:
    """Read a run_id-partitioned table as of a snapshot (default: the
    current one).  The run-set filter sits on the partition column, so
    the scan prunes to exactly the snapshot's directories."""
    sid = (
        snapshot_id
        if snapshot_id is not None
        else current_snapshot_id(output_dir)
    )
    if sid is None:
        raise ValueError(f"no snapshots at {output_dir}")
    snap = load_snapshot(output_dir, sid)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(os.path.join(output_dir, table))
    return df.filter(F.col("run_id").isin(list(snap.run_ids)))


def expire_snapshots(output_dir: str, keep_last: int) -> dict[str, list[str]]:
    """Drop all but the newest ``keep_last`` snapshots and remove run
    partitions (and markers) unreachable from every surviving snapshot.
    Returns {table: [removed run_ids]}."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = snapshot_log(output_dir)
    if not snaps:
        return {}
    keep = snaps[-keep_last:]
    drop = snaps[:-keep_last]
    live: set[str] = set()
    for s in keep:
        live.update(s.run_ids)
    dead: set[str] = set()
    for s in drop:
        dead.update(r for r in s.run_ids if r not in live)
    # deletion ORDER is the crash contract: markers first (a crash after
    # this point leaves unmarked partitions, which heal_uncommitted_runs
    # already self-heals, and marker-less runs can never be catch_up-
    # resurrected), data dirs second, expired v-files last (a v-file
    # whose dead runs lost their data is itself moments from deletion;
    # the surviving snapshots never reference dead runs).  Marker-
    # implies-complete-data holds at every crash point.
    for rid in dead:
        tables.unmark_run(output_dir, rid)
    removed = tables.drop_runs(output_dir, dead.__contains__)
    for s in drop:
        try:
            os.remove(_vpath(output_dir, s.snapshot_id))
        except FileNotFoundError:
            pass
    return removed
