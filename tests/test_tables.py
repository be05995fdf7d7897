"""The table-commit protocol (plans/tables.py): every multi-step table
write survives a kill at any seam, only that module renames, replaces or
deletes table directories, and no code overwrites a table in place."""

from __future__ import annotations

import ast
import os
import re
import shutil
from pathlib import Path

import pytest

import pii_detector_spark
from pii_detector_spark.plans.pipeline import mark_run_committed, run_committed
from pii_detector_spark.plans.snapshots import catch_up_snapshots, snapshot_log

OLD = {"a": "old-a", "b": "old-b"}
NEW = {"a": "new-a", "b": "new-b"}
NEW2 = {"a": "new2-a", "b": "new2-b"}


class Killed(Exception):
    pass


def _writer(content: dict[str, str], kill_after: int | None = None):
    def write(d: str) -> None:
        os.makedirs(d)
        for i, (name, text) in enumerate(sorted(content.items()), 1):
            Path(d, name).write_text(text)
            if i == kill_after:
                raise Killed("injected kill mid-write")

    return write


def _read(path: str) -> dict[str, str]:
    return {f: Path(path, f).read_text() for f in os.listdir(path)}


def _kill_after_call(monkeypatch, module, attr: str, n: int) -> None:
    """Let ``module.attr`` run its n-th call to completion, then kill."""
    real = getattr(module, attr)
    calls = {"n": 0}

    def wrapped(*a, **k):
        out = real(*a, **k)
        calls["n"] += 1
        if calls["n"] == n:
            raise Killed(f"injected kill after {attr} #{n}")
        return out

    monkeypatch.setattr(module, attr, wrapped)


# state name -> table content the crash must leave readable
CRASHES = {
    "kill_mid_write": OLD,
    "kill_after_rename_aside": OLD,
    "kill_after_rename_into_place": NEW,
    "kill_after_rmtree_aside": NEW,
    "leftover_aside_live_missing": OLD,
    "stale_tmp": OLD,
}


def _crash(monkeypatch, path: str, state: str) -> None:
    from pii_detector_spark.plans import tables

    _writer(OLD)(path)
    if state == "leftover_aside_live_missing":
        os.rename(path, path + "_swap_old")
        return
    if state == "stale_tmp":
        with pytest.raises(Killed):
            _writer(NEW, kill_after=1)(path + "_tmp")
        return
    write = _writer(NEW)
    with monkeypatch.context() as mp:
        if state == "kill_mid_write":
            write = _writer(NEW, kill_after=1)
        elif state == "kill_after_rename_aside":
            _kill_after_call(mp, os, "rename", 1)
        elif state == "kill_after_rename_into_place":
            _kill_after_call(mp, os, "rename", 2)
        else:
            _kill_after_call(mp, shutil, "rmtree", 1)
        with pytest.raises(Killed):
            tables.replace_dir(path, write)


@pytest.mark.parametrize("follow_up", ["recover", "replace"])
@pytest.mark.parametrize("state", sorted(CRASHES))
def test_replace_dir_kill_at_every_seam(
    tmp_path, monkeypatch, state, follow_up
):
    """After a kill at any seam of ``replace_dir`` (or a leftover aside or
    tmp dir), ``recover`` leaves exactly the old or the new table and the
    next replace lands cleanly — never a missing table or a stray dir."""
    from pii_detector_spark.plans import tables

    path = str(tmp_path / "t")
    _crash(monkeypatch, path, state)
    if follow_up == "recover":
        tables.recover(path)
        assert _read(path) == CRASHES[state]
    else:
        tables.replace_dir(path, _writer(NEW2))
        assert _read(path) == NEW2
    assert os.listdir(tmp_path) == ["t"]


@pytest.mark.parametrize(
    "run_id", ["r2", "r2.tmp", ".hidden", "a#b", "run 1+x (batch)"]
)
def test_killed_marker_write_publishes_no_phantom_run(
    tmp_path, monkeypatch, run_id
):
    """A kill between the marker's tmp write and its replace must leave
    nothing that ``catch_up_snapshots`` or ``run_committed`` counts: no
    snapshot may list a run without a marker, whatever the run_id."""
    out = str(tmp_path)
    mark_run_committed(out, "r1")

    def killed(*a, **k):
        raise Killed("injected kill before replace")

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", killed)
        with pytest.raises(Killed):
            mark_run_committed(out, run_id)
    assert not run_committed(out, run_id)
    catch_up_snapshots(out)
    listed = [r for s in snapshot_log(out) for r in s.run_ids]
    assert listed == ["r1"]
    assert all(run_committed(out, r) for r in listed)
    # the retried commit lands and is published exactly once
    mark_run_committed(out, run_id)
    catch_up_snapshots(out)
    assert snapshot_log(out)[-1].run_ids == ("r1", run_id)


def test_only_tables_module_moves_or_deletes_table_files():
    """Structure pin: directory replace, file replace and tree removal go
    through ``plans/tables.py`` and nowhere else in the package."""
    pkg = Path(pii_detector_spark.__file__).parent
    allowed = {"plans/tables.py"}
    banned = re.compile(
        r"\bos\.(rename|replace)\b|\brmtree\b"
        r"|\bfrom os import\b.*\b(rename|replace)\b"
    )
    offenders = [
        f"{f.relative_to(pkg).as_posix()}:{i}"
        for f in sorted(pkg.rglob("*.py"))
        if f.relative_to(pkg).as_posix() not in allowed
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert offenders == []


def _overwrites(call: ast.Call) -> bool:
    """True if ``call``'s writer chain sets mode "overwrite", as
    ``.mode("overwrite")`` or as a ``mode="overwrite"`` keyword."""
    node = call
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            modes = [k.value for k in node.keywords if k.arg == "mode"]
            if isinstance(node.func, ast.Attribute) and node.func.attr == "mode":
                modes += node.args
            if any(
                isinstance(m, ast.Constant) and m.value == "overwrite"
                for m in modes
            ):
                return True
            node = node.func
        else:
            node = node.value
    return False


def test_overwrites_go_through_replace_dir():
    """Structure pin: no package or job code runs an overwrite write in
    place (a failed rewrite would leave the table empty or unreadable).
    An overwrite writer is only handed to ``replace_dir`` as a callable
    (``df.write.mode("overwrite").parquet``), never called directly."""
    pkg = Path(pii_detector_spark.__file__).parent
    files = sorted(pkg.rglob("*.py")) + sorted(
        (pkg.parent / "jobs").rglob("*.py")
    )
    offenders = [
        f"{f.relative_to(pkg.parent).as_posix()}:{node.lineno}"
        for f in files
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("parquet", "save", "saveAsTable")
        and _overwrites(node)
    ]
    assert offenders == []
