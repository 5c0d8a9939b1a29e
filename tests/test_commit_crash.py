"""Crash consistency of the snapshot commit, proven by fault injection.

Every metadata write goes through ``lakehouse._atomic_write``. The
matrix below kills the commit at each of its writes — either midway
through the temp file (a torn ``*.tmp`` is left behind) or right after
the write lands — and checks the three recovery properties for every
crash point, on a main-ref and on a branch-ref commit:

- a fresh handle reads exactly the old snapshot or the new one, and
  every metadata JSON on disk parses;
- a retry from ``current_version()`` commits;
- ``vacuum()`` leaves no unreferenced segment, no orphan
  ``v*.metadata.json`` beyond ``keep_last`` and no ``*.tmp``.

``LakeTable._commit`` is driven directly: it has no cleanup beyond the
lock release, so a ``BaseException`` raised inside it behaves like the
process dying at that point.
"""

from __future__ import annotations

import glob
import json
import os
import threading

import pytest

import pg_lakehouse_spark.lakehouse as lh
from pg_lakehouse_spark.lakehouse import LakeCatalog

# inline_max 0: the file list always goes to a segment, so the commit
# makes all three writes — segment, metadata, head swap
COMMIT_WRITES = 3
OLD_ROWS, NEW_ROWS = 10, 15


class _Crash(BaseException):
    """Simulated process death. Not an ``Exception``, so no handler in
    the engine swallows it."""


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"r{i}") for i in range(lo, hi)], "k long, v string"
    )


def _setup(catalog, spark, ref):
    """A segmented table at OLD_ROWS rows on ``ref``, plus the staged
    (uncommitted) entries of the commit under test."""
    tbl = catalog.create_table(
        "db", "t", _rows(spark, 0, 0).schema,
        properties={"manifest.inline_max": "0"},
    )
    tbl.append(_rows(spark, 0, OLD_ROWS))
    if ref != "main":
        tbl.create_branch(ref)
        tbl = tbl.for_branch(ref)
    base = tbl.current_version()
    staged = tbl._stage_dataframe(
        _rows(spark, OLD_ROWS, NEW_ROWS), base + 1, schema_id=0
    )
    return tbl, base, staged


def _commit(tbl, base, staged):
    head = tbl.snapshot(base)
    have = {f["path"] for f in head.files}
    return tbl._commit(
        base, "append",
        head.files + [e for e in staged if e["path"] not in have],
        head.schema_json,
    )


def _crash_at(monkeypatch, k, mode):
    """Make the k-th ``_atomic_write`` die: ``torn`` leaves half the
    temp file and no rename; ``after`` completes the write first."""
    real = lh._atomic_write
    calls = []

    def dying(path, text):
        calls.append(path)
        if len(calls) != k:
            return real(path, text)
        if mode == "torn":
            with open(path + ".tmp", "w") as f:
                f.write(text[: len(text) // 2])
        else:
            real(path, text)
        raise _Crash(path)

    monkeypatch.setattr(lh, "_atomic_write", dying)
    return calls


def _handle(catalog, ref):
    t = catalog.load_table("db", "t")
    return t if ref == "main" else t.for_branch(ref)


def _meta_files(tbl, pattern):
    return glob.glob(os.path.join(tbl.meta_dir, "**", pattern), recursive=True)


def test_commit_makes_exactly_the_documented_writes(
    catalog, spark, monkeypatch
):
    for ref in ("main", "wap"):
        tbl, base, staged = _setup(catalog, spark, ref)
        # a crash point past the last write only records the calls
        calls = _crash_at(monkeypatch, COMMIT_WRITES + 1, "after")
        snap = _commit(tbl, base, staged)
        names = [os.path.relpath(p, tbl.meta_dir) for p in calls]
        assert len(names) == COMMIT_WRITES, names
        assert names[0].startswith(lh._MANIFEST_DIR + os.sep)
        assert names[1] == f"v{snap.version}.metadata.json"
        assert names[2] == ("VERSION" if ref == "main" else "_refs.json")
        monkeypatch.undo()
        catalog.drop_table("db", "t", purge=True)


@pytest.mark.parametrize("ref", ["main", "wap"])
@pytest.mark.parametrize("mode", ["torn", "after"])
@pytest.mark.parametrize("k", range(1, COMMIT_WRITES + 1))
def test_crash_at_every_commit_write(catalog, spark, monkeypatch, ref, mode, k):
    tbl, base, staged = _setup(catalog, spark, ref)
    main_v = tbl.for_branch("main").current_version()
    calls = _crash_at(monkeypatch, k, mode)
    with pytest.raises(_Crash):
        _commit(tbl, base, staged)
    assert len(calls) == k
    monkeypatch.undo()

    # 1. a fresh handle sees the old head or the new one, never a mix
    fresh = _handle(catalog, ref)
    committed = k == COMMIT_WRITES and mode == "after"
    v = fresh.current_version()
    assert (v != base) == committed, (v, base)
    assert fresh.read().count() == (NEW_ROWS if committed else OLD_ROWS)
    for p in _meta_files(fresh, "*.json"):
        with open(p) as f:
            json.load(f)  # no published JSON is torn
    with open(fresh._pointer_path()) as f:
        int(f.read())
    if ref != "main":  # a branch commit never moves main
        assert fresh.for_branch("main").current_version() == main_v

    # 2. a retry from the current head commits
    _commit(fresh, fresh.current_version(), staged)
    assert _handle(catalog, ref).read().count() == NEW_ROWS

    # 3. vacuum removes every orphan the crash left behind
    fresh.vacuum(keep_last=1)
    main = fresh.for_branch("main")
    heads = {main.current_version(), *main.branches().values()}
    versions = {
        int(os.path.basename(p)[1:].split(".")[0])
        for p in _meta_files(fresh, "v*.metadata.json")
    }
    assert versions <= heads | {max(versions)}, (versions, heads)
    live = {m["path"] for s in fresh.snapshots() for m in s.manifests}
    on_disk = {
        os.path.relpath(p, fresh.meta_dir)
        for p in glob.glob(os.path.join(fresh.meta_dir, lh._MANIFEST_DIR, "*"))
    }
    assert on_disk == live
    assert _meta_files(fresh, "*.tmp") == []
    assert _handle(catalog, ref).read().count() == NEW_ROWS
    assert main.read().count() == (OLD_ROWS if ref != "main" else NEW_ROWS)


def test_catalog_doc_writer_blocks_while_lock_held(catalog):
    catalog.create_sequence("db", "s")
    lock = os.path.join(catalog.warehouse, "_sequences.lock")
    held, release = threading.Event(), threading.Event()

    def holder():
        with lh._locked(lock):
            held.set()
            release.wait(30)

    got = {}
    h = threading.Thread(target=holder)
    w = threading.Thread(
        target=lambda: got.update(v=catalog.sequence_nextval("db", "s"))
    )
    h.start()
    assert held.wait(30)
    w.start()
    w.join(0.5)
    assert w.is_alive() and not got  # blocked behind the held lock
    release.set()
    w.join(30)
    h.join(30)
    assert got == {"v": 1}
    assert catalog.sequence_nextval("db", "s") == 2
