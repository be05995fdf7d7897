"""Covered-file records: a resume run prunes the input files that
committed runs already saw (unchanged size and mtime, same pattern version
and prefilters), and its tables equal those of a run that reads every file.
Everything that removes lineage rows drops the records first."""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pii_detector_spark.config import DEFAULT_CONFIG
from pii_detector_spark.plans import snapshots, tables
from pii_detector_spark.plans.pipeline import (
    PREFILTERS_FINGERPRINT,
    read_docs_table,
    run_pipeline,
)

PV = DEFAULT_CONFIG.pattern_version


@pytest.fixture(scope="module")
def parts(corpus_path, tmp_path_factory) -> dict[str, str]:
    """Three input files with disjoint urls, outside any scanned dir."""
    d = tmp_path_factory.mktemp("cover_parts")
    t = pq.read_table(corpus_path)
    paths = {}
    for name, lo, hi in (("a", 0, 150), ("b", 150, 300), ("c", 300, 400)):
        paths[name] = str(d / f"{name}.parquet")
        pq.write_table(t.slice(lo, hi - lo), paths[name])
    return paths


def _src(tmp_path_factory, parts, names, dirname="src"):
    d = tmp_path_factory.mktemp("cover") / dirname
    d.mkdir()
    for n in names:
        shutil.copy(parts[n], d / f"{n}.parquet")
    return d


def _tables(spark, out):
    """The four sinks, order-free; metrics as totals, since partition ids
    follow the run's splits."""
    docs = read_docs_table(spark, out).collect()
    findings = spark.read.parquet(os.path.join(out, "findings")).collect()
    lineage = spark.read.parquet(os.path.join(out, "lineage")).collect()
    totals: Counter = Counter()
    for r in spark.read.parquet(os.path.join(out, "metrics")).collect():
        totals.update(
            {
                ("run", r["run_id"], "scanned"): r["docs_scanned"],
                ("run", r["run_id"], "kept"): r["docs_kept"],
            }
        )
        totals.update({("drop", k): v for k, v in r["drop_reasons"].items()})
        totals.update({("pii", k): v for k, v in r["pii_hits"].items()})
    return (
        sorted(
            (r["run_id"], r["url"], r["keep"], r["scrubbed_text"], r["content_md5"])
            for r in docs
        ),
        sorted(
            (r["run_id"], r["url"], r["pii_type"], r["start"], r["end"], r["pii_hash"])
            for r in findings
        ),
        sorted(
            (r["run_id"], r["url"], r["content_md5"], r["pattern_version"])
            for r in lineage
        ),
        totals,
    )


def _overwrite_keeping_stamp(path) -> None:
    """Replace a file's bytes with garbage of the same size and restore its
    mtime: a read of it would fail, while its stamp still matches."""
    st = os.stat(path)
    with open(path, "wb") as fh:
        fh.write(b"\0" * st.st_size)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))


def test_resume_reads_only_new_file(spark, parts, tmp_path_factory):
    """A base committed as two runs over two files, plus a third file: the
    resume reads only the third, and its four tables equal a resume from
    the same base with the records deleted (which reads all three)."""
    src = _src(tmp_path_factory, parts, ["a", "b"])
    out = str(tmp_path_factory.mktemp("cover_out"))
    for rid, name in (("b1", "a"), ("b2", "b")):
        res = run_pipeline(spark, str(src / f"{name}.parquet"), out, run_id=rid)
        assert (res.input_files, res.input_files_skipped) == (1, 0)
    shutil.copy(parts["c"], src / "c.parquet")

    ref = str(tmp_path_factory.mktemp("cover_ref") / "out")
    shutil.copytree(out, ref)
    tables.drop_scan_records(ref)
    full = run_pipeline(spark, str(src), ref, run_id="d1")
    assert (full.input_files, full.input_files_skipped) == (3, 0)

    # the covered files can no longer be parsed, but their stamps still
    # match: the run succeeds only if it never opens them
    _overwrite_keeping_stamp(src / "a.parquet")
    _overwrite_keeping_stamp(src / "b.parquet")
    res = run_pipeline(spark, str(src), out, run_id="d1")
    assert (res.input_files, res.input_files_skipped) == (1, 2)
    assert res.docs_written == full.docs_written > 0
    assert _tables(spark, out) == _tables(spark, ref)
    # d1's record lists every file b1's and b2's did, so theirs are gone
    assert os.listdir(os.path.join(out, "_scanned")) == ["d1"]


def test_rewritten_covered_file_is_rescanned(spark, parts, tmp_path_factory):
    src = _src(tmp_path_factory, parts, ["a"])
    out = str(tmp_path_factory.mktemp("cover_rewrite"))
    first = run_pipeline(spark, str(src), out, run_id="r1")
    # same path, new content: a's rows plus c's
    pq.write_table(
        pa.concat_tables([pq.read_table(parts["a"]), pq.read_table(parts["c"])]),
        str(src / "a.parquet"),
    )
    res = run_pipeline(spark, str(src), out, run_id="r2")
    assert (res.input_files, res.input_files_skipped) == (1, 0)
    only_c = run_pipeline(
        spark, parts["c"], str(tmp_path_factory.mktemp("cover_c")), run_id="c"
    )
    assert res.docs_written == only_c.docs_written > 0
    assert first.docs_written > 0


def test_pattern_version_bump_skips_nothing(spark, parts, tmp_path_factory):
    src = _src(tmp_path_factory, parts, ["a"])
    out = str(tmp_path_factory.mktemp("cover_bump"))
    first = run_pipeline(spark, str(src), out, run_id="v1")
    bumped = replace(DEFAULT_CONFIG, pattern_version=PV + 1)
    res = run_pipeline(spark, str(src), out, config=bumped, run_id="v2")
    assert (res.input_files, res.input_files_skipped) == (1, 0)
    assert res.docs_written == first.docs_written > 0
    # the bumped run's own record covers the file at the new version
    again = run_pipeline(spark, str(src), out, config=bumped, run_id="v3")
    assert (again.input_files, again.input_files_skipped) == (0, 1)
    assert again.docs_written == 0


def test_kill_at_record_write_skips_nothing(
    spark, parts, tmp_path_factory, monkeypatch
):
    """A kill after the marker but before the record: the run is committed
    without a record, so the next resume reads every file, and its tables
    equal those of a run that was never killed."""
    src = _src(tmp_path_factory, parts, ["a", "b"])
    clean = str(tmp_path_factory.mktemp("cover_clean"))
    run_pipeline(spark, str(src), clean, run_id="k1")
    run_pipeline(spark, str(src), clean, run_id="k2")

    out = str(tmp_path_factory.mktemp("cover_kill"))

    def boom(*a, **k):
        raise RuntimeError("injected kill at the record write")

    with monkeypatch.context() as mp:
        mp.setattr(tables, "write_scan_record", boom)
        with pytest.raises(RuntimeError, match="record write"):
            run_pipeline(spark, str(src), out, run_id="k1")
    assert tables.run_committed(out, "k1")
    assert not os.path.exists(os.path.join(out, "_scanned"))

    res = run_pipeline(spark, str(src), out, run_id="k2")
    assert (res.input_files, res.input_files_skipped) == (2, 0)
    assert res.docs_written == 0
    assert _tables(spark, out) == _tables(spark, clean)
    again = run_pipeline(spark, str(src), out, run_id="k3")
    assert (again.input_files, again.input_files_skipped) == (0, 2)


def test_rerun_under_committed_run_id(
    spark, parts, tmp_path_factory, monkeypatch
):
    """Reruns under one run id (the job's default): a rerun killed before
    a new file's lineage lands leaves the old record, so the next rerun
    still scans that file; a rerun's record keeps the files it skipped,
    so every later rerun skips them too."""
    src = _src(tmp_path_factory, parts, ["a"])
    out = str(tmp_path_factory.mktemp("cover_rerun"))
    run_pipeline(spark, str(src), out, run_id="run-0")
    shutil.copy(parts["b"], src / "b.parquet")

    publish = tables._publish_table

    def boom(src, names, dest):
        if os.path.basename(src) == "lineage":
            raise RuntimeError("injected kill before lineage")
        publish(src, names, dest)

    with monkeypatch.context() as mp:
        mp.setattr(tables, "_publish_table", boom)
        with pytest.raises(RuntimeError, match="before lineage"):
            run_pipeline(spark, str(src), out, run_id="run-0")

    res = run_pipeline(spark, str(src), out, run_id="run-0")
    assert (res.input_files, res.input_files_skipped) == (1, 1)
    assert res.docs_written > 0
    ref = str(tmp_path_factory.mktemp("cover_rerun_ref"))
    run_pipeline(spark, str(src), ref, run_id="run-0")

    def lineage_urls(o):
        lin = spark.read.parquet(os.path.join(o, "lineage"))
        return {r["url"] for r in lin.collect()}

    assert lineage_urls(out) == lineage_urls(ref)
    for _ in range(2):
        res = run_pipeline(spark, str(src), out, run_id="run-0")
        assert (res.input_files, res.input_files_skipped) == (0, 2)


def test_expire_drops_records(spark, parts, tmp_path_factory):
    """A run expired away takes its lineage rows with it: the next resume
    skips nothing and rescans exactly the urls that run had written."""
    src = _src(tmp_path_factory, parts, ["a", "b"])
    out = str(tmp_path_factory.mktemp("cover_expire"))
    run_pipeline(spark, str(src / "a.parquet"), out, run_id="e1")
    second = run_pipeline(spark, str(src), out, run_id="e2")
    snapshots.rollback(out, 1)
    assert snapshots.expire_snapshots(out, keep_last=1)["lineage"] == ["e2"]
    res = run_pipeline(spark, str(src), out, run_id="e3")
    assert (res.input_files, res.input_files_skipped) == (2, 0)
    assert res.docs_written == second.docs_written > 0


def test_gc_deleted_run_drops_records(spark, parts, tmp_path_factory):
    """After a deleted-url GC the next resume skips nothing: a file a record
    covers may hold urls the GC removed from lineage."""
    src = _src(tmp_path_factory, parts, ["a", "b"])
    out = str(tmp_path_factory.mktemp("cover_gc"))
    full = run_pipeline(spark, str(src), out, run_id="g1")
    # nothing deleted: no table is rewritten and the records stay
    inode = os.stat(os.path.join(out, "lineage")).st_ino
    same = run_pipeline(spark, str(src), out, run_id="g2", gc_deleted=True)
    assert (same.input_files, same.input_files_skipped) == (0, 2)
    assert os.stat(os.path.join(out, "lineage")).st_ino == inode
    assert os.listdir(os.path.join(out, "_scanned")) == ["g2"]
    half = run_pipeline(
        spark, str(src / "a.parquet"), out, run_id="g3", gc_deleted=True
    )
    assert half.docs_written == 0
    assert not os.path.exists(os.path.join(out, "_scanned"))
    res = run_pipeline(spark, str(src), out, run_id="g4")
    assert (res.input_files, res.input_files_skipped) == (2, 0)
    only_a = run_pipeline(
        spark, parts["a"], str(tmp_path_factory.mktemp("cover_a")), run_id="a"
    )
    assert res.docs_written == full.docs_written - only_a.docs_written > 0


def test_input_dir_with_space_and_percent(spark, parts, tmp_path_factory):
    """Paths come back %-escaped from Spark; records and the skip filter
    must agree on one form, or nothing (or everything) is pruned."""
    src = _src(tmp_path_factory, parts, ["a"], dirname="in 50% dir")
    out = str(tmp_path_factory.mktemp("cover_escape"))
    run_pipeline(spark, str(src), out, run_id="s1")
    shutil.copy(parts["b"], src / "b 1%.parquet")
    # an unpruned covered file would now fail the read
    _overwrite_keeping_stamp(src / "a.parquet")
    res = run_pipeline(spark, str(src), out, run_id="s2")
    assert (res.input_files, res.input_files_skipped) == (1, 1)
    assert res.docs_written > 0
    docs = read_docs_table(spark, out).filter("run_id = 's2'")
    b_urls = set(pq.read_table(parts["b"], columns=["url"]).column("url").to_pylist())
    assert {r["url"] for r in docs.collect()} <= b_urls
    # every file covered: the scan prunes to nothing and the run is a no-op
    res = run_pipeline(spark, str(src), out, run_id="s3")
    assert (res.input_files, res.input_files_skipped) == (0, 2)
    assert res.docs_written == 0


def test_covered_files_with_quote_backslash_percent_and_space(
    spark, parts, tmp_path_factory
):
    """The skip filter ships the covered paths as data, not SQL text: file
    names with a quote, a backslash, a percent sign and spaces are pruned
    exactly, and the tables equal those of a resume that reads every
    file."""
    src = tmp_path_factory.mktemp("cover_quote") / "src"
    src.mkdir()
    covered = {"a": "it's a.parquet", "b": "back\\slash 5%.parquet"}
    for part, name in covered.items():
        shutil.copy(parts[part], src / name)
    out = str(tmp_path_factory.mktemp("cover_quote_out"))
    res = run_pipeline(spark, str(src), out, run_id="q1")
    assert (res.input_files, res.input_files_skipped) == (2, 0)
    shutil.copy(parts["c"], src / "new 'c' \\ 1%.parquet")

    ref = str(tmp_path_factory.mktemp("cover_quote_ref") / "out")
    shutil.copytree(out, ref)
    tables.drop_scan_records(ref)
    full = run_pipeline(spark, str(src), ref, run_id="q2")
    assert (full.input_files, full.input_files_skipped) == (3, 0)

    for name in covered.values():  # a read of a covered file now fails
        _overwrite_keeping_stamp(src / name)
    res = run_pipeline(spark, str(src), out, run_id="q2")
    assert (res.input_files, res.input_files_skipped) == (1, 2)
    assert res.docs_written == full.docs_written > 0
    assert _tables(spark, out) == _tables(spark, ref)
