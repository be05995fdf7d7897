"""Snapshot log: time travel, atomic pointer swap, rollback, marker→log
crash healing, and expire + orphan GC over real pipeline runs."""

from __future__ import annotations

import os

import pytest

from pii_detector_spark.plans import snapshots as S
from pii_detector_spark.plans.pipeline import (
    docs_table_schema,
    run_pipeline,
)


@pytest.fixture(scope="module")
def two_runs(spark, corpus_path, tmp_path_factory):
    """Run 1 over half the corpus, run 2 over the full corpus (resume
    processes the other half) — two snapshots over one docs table."""
    out = str(tmp_path_factory.mktemp("snap_out"))
    half_dir = tmp_path_factory.mktemp("snap_half")
    half = str(half_dir / "half.parquet")
    full = spark.read.parquet(corpus_path)
    full.limit(400).write.parquet(half)
    run_pipeline(spark, half, out, run_id="s1")
    run_pipeline(spark, corpus_path, out, run_id="s2")
    return out


def test_snapshot_log_and_time_travel(spark, two_runs):
    out = two_runs
    log = S.snapshot_log(out)
    assert [s.operation for s in log] == ["append", "append"]
    assert log[0].run_ids == ("s1",)
    assert log[1].run_ids == ("s1", "s2")
    assert S.current_snapshot_id(out) == 2

    docs_v1 = S.read_table_at(
        spark, out, "docs", snapshot_id=1, schema=docs_table_schema()
    )
    docs_v2 = S.read_table_at(
        spark, out, "docs", schema=docs_table_schema()
    )
    n1, n2 = docs_v1.count(), docs_v2.count()
    assert 0 < n1 < n2
    assert set(r["run_id"] for r in docs_v1.select("run_id").distinct().collect()) == {"s1"}


def test_time_travel_scan_prunes_partitions(spark, two_runs):
    """The snapshot filter sits on the partition column: the v1 read's
    physical plan must not touch run s2's directory."""
    docs_v1 = S.read_table_at(
        spark, out := two_runs, "docs", snapshot_id=1,
        schema=docs_table_schema(),
    )
    plan = docs_v1._jdf.queryExecution().executedPlan().toString()
    assert "run_id=s2" not in plan


def test_rollback_is_append_only(spark, two_runs):
    out = two_runs
    before = S.current_snapshot_id(out)
    snap = S.rollback(out, 1)
    try:
        assert snap.run_ids == ("s1",)
        assert snap.operation == "rollback"
        assert S.current_snapshot_id(out) == before + 1
        # the rolled-back view reads as v1; v2's data is still on disk
        n = S.read_table_at(
            spark, out, "docs", schema=docs_table_schema()
        ).count()
        n1 = S.read_table_at(
            spark, out, "docs", snapshot_id=1, schema=docs_table_schema()
        ).count()
        assert n == n1
        assert os.path.isdir(os.path.join(out, "docs", "run_id=s2"))
    finally:
        # restore the full view for the other module-scoped tests
        S.rollback(out, 2)


def test_commit_run_snapshot_idempotent(two_runs):
    out = two_runs
    cur = S.current_snapshot_id(out)
    again = S.commit_run_snapshot(out, "s1")  # already visible
    assert again.snapshot_id == cur
    assert S.current_snapshot_id(out) == cur


def test_catch_up_heals_marker_snapshot_gap(spark, corpus_path, tmp_path_factory):
    """Crash between the run marker and the snapshot commit: the run is
    marker-committed but invisible; the next pipeline run pulls it in."""
    out = str(tmp_path_factory.mktemp("snap_gap"))
    run_pipeline(spark, corpus_path, out, run_id="g1")
    # simulate the crash: delete the snapshot log, keep data + marker
    import shutil

    shutil.rmtree(os.path.join(out, "_snapshots"))
    assert S.current_snapshot_id(out) is None
    snap = S.catch_up_snapshots(out)
    assert snap is not None and snap.operation == "catchup"
    assert snap.run_ids == ("g1",)
    assert S.catch_up_snapshots(out) is None  # idempotent


def test_expire_snapshots_gc(spark, corpus_path, tmp_path_factory):
    """After rollback to v1, expiring to the last snapshot removes run
    r2's partitions and marker; r1 stays readable."""
    out = str(tmp_path_factory.mktemp("snap_exp"))
    half_dir = tmp_path_factory.mktemp("snap_exp_half")
    half = str(half_dir / "half.parquet")
    spark.read.parquet(corpus_path).limit(400).write.parquet(half)
    run_pipeline(spark, half, out, run_id="r1")
    run_pipeline(spark, corpus_path, out, run_id="r2")
    S.rollback(out, 1)
    removed = S.expire_snapshots(out, keep_last=1)
    assert "docs" in removed and removed["docs"] == ["r2"]
    assert not os.path.isdir(os.path.join(out, "docs", "run_id=r2"))
    assert os.path.isdir(os.path.join(out, "docs", "run_id=r1"))
    # marker gone too: r2 can be reprocessed from scratch later
    from pii_detector_spark.plans.pipeline import run_committed

    assert not run_committed(out, "r2")
    assert run_committed(out, "r1")
    # the surviving view still reads
    n = S.read_table_at(
        spark, out, "docs", schema=docs_table_schema()
    ).count()
    assert n > 0
    with pytest.raises(ValueError):
        S.expire_snapshots(out, keep_last=0)


def test_catch_up_respects_rollback(spark, two_runs):
    """A rolled-back run is in HISTORY (not CURRENT) — catch_up must not
    resurrect it into the visible set."""
    out = two_runs
    before = S.current_snapshot_id(out)
    S.rollback(out, 1)
    try:
        assert S.catch_up_snapshots(out) is None  # s2 is not "missing"
        cur = S.load_snapshot(out, S.current_snapshot_id(out))
        assert cur.run_ids == ("s1",)
    finally:
        S.rollback(out, before)  # restore for other module-scoped tests


def test_expire_crash_order_marker_first(
    spark, corpus_path, tmp_path_factory, monkeypatch
):
    """Crash mid-expire (after markers, before data removal): the dead
    run's partitions are marker-less, so heal_uncommitted_runs removes
    them and catch_up cannot resurrect the run — marker-implies-complete-
    data holds at the crash point."""
    import shutil as _sh

    out = str(tmp_path_factory.mktemp("snap_crash"))
    half_dir = tmp_path_factory.mktemp("snap_crash_half")
    half = str(half_dir / "half.parquet")
    spark.read.parquet(corpus_path).limit(400).write.parquet(half)
    run_pipeline(spark, half, out, run_id="c1")
    run_pipeline(spark, corpus_path, out, run_id="c2")
    S.rollback(out, 1)

    real = _sh.rmtree
    calls = {"n": 0}

    def exploding(path, *a, **k):
        calls["n"] += 1
        if calls["n"] >= 1:
            raise RuntimeError("injected crash mid-expire")
        return real(path, *a, **k)

    monkeypatch.setattr(
        "pii_detector_spark.plans.tables.shutil.rmtree", exploding
    )
    with pytest.raises(RuntimeError, match="mid-expire"):
        S.expire_snapshots(out, keep_last=1)
    monkeypatch.undo()

    from pii_detector_spark.plans.pipeline import (
        heal_uncommitted_runs,
        run_committed,
    )

    # marker already gone; data still on disk (rmtree crashed first call)
    assert not run_committed(out, "c2")
    assert S.catch_up_snapshots(out) is None  # no resurrection
    healed = heal_uncommitted_runs(spark, out)
    assert "docs" in healed and "c2" in healed["docs"]
    n = S.read_table_at(
        spark, out, "docs", schema=docs_table_schema()
    ).count()
    assert n > 0  # c1 view intact
