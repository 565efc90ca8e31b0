"""The commit log without Spark: ``TableLog`` over hand-made file
entries (touched empty files), checked by a fresh reader after every
step and at the crash points whose outcome the protocol defines.

No test here takes the ``spark`` fixture, so
``python -m pytest tests/test_log.py`` starts no JVM."""

from __future__ import annotations

import ast
import copy
import json
import os
import shutil
import tempfile
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings, strategies as st

import ais_etl_spark.lake.log as log_mod
from ais_etl_spark.lake.log import (
    _LINEAGE_SCHEMA, CommitConflict, TableLog, lineage_rows,
)

SCHEMA = [("url", "string"), ("warc_ts", "timestamp"), ("html", "string")]
N_BUCKETS = 4


def _new(path) -> TableLog:
    t = TableLog(str(path))
    t._create(SCHEMA, "url", "warc_ts", N_BUCKETS, 1 << 20)
    return t


def _touch(t: TableLog, c: dict, n: int, delta: bool = False,
           stage: str | None = None) -> list[dict]:
    """``n`` empty files in a fresh data dir of snapshot ``c + 1`` (the
    staged batch's dir with ``stage``), as manifest entries."""
    snap = c["snapshot_id"] + 1
    rel = t._data_dir(snap_id=snap, stage=stage)
    os.makedirs(os.path.join(t.path, rel))
    out = []
    for i in range(n):
        path = f"{rel}/part-{i}.parquet"
        open(os.path.join(t.path, path), "w").close()
        out.append({
            "path": path, "bucket": i % N_BUCKETS,
            "schema_version": c["schema_version"],
            "min_key": f"k{i}", "max_key": f"k{i}z", "min_order": None,
            "max_order": None, "n_rows": i + 1, "has_del": False,
            **({"kind": "delta", "seq": snap} if delta else {}),
        })
    return out


def _offsets(n_parts: int) -> list[dict]:
    return [{"source_part": p, "min_offset": 10 * p, "max_offset": 10 * p + 9,
             "events": 10} for p in range(n_parts)]


def _merge(t: TableLog, c: dict, batch_id: str, files: list[dict],
           offsets: list[dict] | None = None) -> dict:
    lineage = {"batch_id": batch_id, "snapshot_id": c["snapshot_id"] + 1,
               "source_offsets": offsets or [], "malformed": 2, "inserts": 1,
               "updates": 0, "deletes": 0, "stale_noops": 0}
    return t._next_commit(c, "merge", files, batch_id=batch_id, lineage=lineage)


def _expected_rows(batch_id: str, snap: int, n_parts: int) -> dict:
    """The lineage rows ``_merge`` commits, by (snapshot_id, source_part)."""
    parts = [(p, 10 * p, 10 * p + 9, 10) for p in range(n_parts)] or [(-1, -1, -1, 0)]
    return {
        (snap, p): {"batch_id": batch_id, "snapshot_id": snap, "source_part": p,
                    "min_offset": lo, "max_offset": hi, "events": n, "inserts": 1,
                    "updates": 0, "deletes": 0, "stale_noops": 0, "malformed": 2,
                    "upserts": None, "tombstones": None}
        for p, lo, hi, n in parts
    }


def _stored_lineage(root) -> dict:
    """The lineage rows a fresh reader finds, by (snapshot_id,
    source_part), asserting each is found exactly once, by
    ``TableLog.lineage_sources``'s read rule (the one
    ``LakeTable.lineage`` serves)."""
    rows, files, retained = TableLog(str(root)).lineage_sources()
    if files:
        rows += [r for r in pq.read_table(files, schema=_LINEAGE_SCHEMA).to_pylist()
                 if r["snapshot_id"] not in retained]
    out = {(r["snapshot_id"], r["source_part"]): r for r in rows}
    assert len(out) == len(rows), "a lineage row is stored twice"
    return out


def _content(c: dict) -> dict:
    """A commit without its manifest-encoding field, files by path: a
    delta manifest reads back as its parent's surviving entries followed
    by the added ones, whatever order the writer listed them in."""
    out = {k: v for k, v in c.items() if k != "manifest_chain"}
    out["files"] = sorted(c["files"], key=lambda f: f["path"])
    return out


def _import_names(tree) -> set[str]:
    names = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            names |= {a.name for a in n.names}
        elif isinstance(n, ast.ImportFrom):
            mod = n.module or ""
            names |= {mod} | {f"{mod}.{a.name}" for a in n.names}
    return names


def test_log_module_imports_no_spark():
    with open(log_mod.__file__) as f:
        names = _import_names(ast.parse(f.read()))
    bad = sorted(
        n for n in names
        if n.split(".")[0] == "pyspark"
        or n == "ais_etl_spark.session" or n.startswith("ais_etl_spark.session.")
    )
    assert not bad, bad


# one step of a commit-log history; rollback/tag targets are picked by
# index into the snapshots retained at that point
_step = st.one_of(
    st.tuples(st.just("commit"), st.integers(0, 3), st.integers(0, 3),
              st.booleans(), st.booleans(), st.integers(0, 2), st.booleans()),
    st.tuples(st.just("alter"), st.sampled_from(["add", "rename", "widen"])),
    st.tuples(st.just("rollback"), st.integers(0, 50)),
    st.tuples(st.just("tag"), st.sampled_from(["a", "b"]), st.integers(0, 50)),
    st.tuples(st.just("untag"), st.sampled_from(["a", "b"])),
    st.tuples(st.just("expire"), st.integers(1, 3)),
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_step, min_size=1, max_size=14))
# a rollback whose fence list has its parent's length but not its
# prefix: the delta manifest must store the list whole
@example([("commit", 2, 0, False, True, 1, False),
          ("commit", 1, 0, False, True, 1, False),
          ("rollback", 1), ("commit", 1, 0, False, True, 1, False),
          ("rollback", 2)])
def test_fresh_reader_reconstructs_every_retained_snapshot(steps):
    """Random histories with a delta chain capped at 2: after every
    step a fresh ``TableLog`` reads each retained snapshot as the
    writer committed it, agrees on the head and finds no metadata
    issue; expiry keeps the newest ``keep_last`` plus the tagged
    snapshots and re-roots those whose parent it drops."""
    root = tempfile.mkdtemp(prefix="tablelog-")
    try:
        with mock.patch.object(log_mod, "_MANIFEST_DELTA_CAP", 2):
            _run_history(root, steps)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _run_history(root: str, steps) -> None:
    t = _new(root)
    written = {0: copy.deepcopy(t.commit(0))}  # snapshot id -> expected commit
    tags: dict[str, int] = {}
    n_batches = n_cols = 0
    lineage: dict = {}  # rows of every merge ever committed
    for step in steps:
        c = t.commit()
        kind = step[0]
        if kind == "commit":
            _, n_add, n_drop, delta, with_batch, n_parts, restat = step
            files = c["files"][n_drop:] + _touch(t, c, n_add, delta)
            if restat and files:  # same path, new stats
                files[0] = {**files[0], "n_rows": files[0]["n_rows"] + 1}
            if with_batch:
                n_batches += 1
                new = _merge(t, c, f"b{n_batches}", files, _offsets(n_parts))
                lineage.update(_expected_rows(f"b{n_batches}", new["snapshot_id"],
                                              n_parts))
            else:
                new = t._next_commit(c, "compact", files, lineage={"n": n_add})
            sid = new["snapshot_id"]
        elif kind == "alter":
            last = t.schema_cols()[-1]
            n_cols += 1  # fresh names and fence ids, also after a rollback
            if step[1] == "rename":
                sid = t.alter_rename_column(last["name"], f"r{n_cols}")
            elif step[1] == "widen" and last["type"] == "int":
                sid = t.alter_widen_column(last["name"], "bigint")
            else:
                sid = t.alter_add_column(f"c{n_cols}", "int", fence_id=n_cols)
        elif kind == "rollback":
            retained = sorted(written)
            target = retained[step[1] % len(retained)]
            sid = t.rollback(target)
            assert t.commit(sid)["files"] == written[target]["files"]
            assert t.commit(sid)["batches"] == written[target]["batches"]
        elif kind == "tag":
            retained = sorted(written)
            tags[step[1]] = t.tag(step[1], retained[step[2] % len(retained)],
                                  replace=True)
            sid = None
        elif kind == "untag":
            assert t.untag(step[1]) == (tags.pop(step[1], None) is not None)
            sid = None
        else:
            keep_last = step[1]
            ids = sorted(written)
            keep = set(ids[-keep_last:]) | set(tags.values())
            drop = [s for s in ids if s not in keep]
            res = t.expire_snapshots(keep_last=keep_last)
            assert res["snapshots_removed"] == len(drop)
            for s in sorted(keep):
                rec = written[s]
                if rec["parent"] is not None and rec["parent"] in drop:
                    written[s] = {**rec, "parent": None,
                                  "expired_parent": rec["parent"]}
            for s in drop:
                del written[s]
            sid = None
        if sid is not None:
            written[sid] = copy.deepcopy(t.commit(sid))

        fresh = TableLog(root)
        assert fresh.current_snapshot_id() == t.current_snapshot_id() == max(written)
        assert fresh._snapshot_ids() == sorted(written)
        for s, rec in written.items():
            assert _content(fresh.commit(s)) == _content(rec), s
        assert fresh.tags() == tags
        v = fresh.validate()
        assert v["ok"], v["issues"]
        assert _stored_lineage(root) == lineage

    lineage_dir = os.path.join(root, log_mod._LINEAGE)
    for name in os.listdir(lineage_dir) if os.path.isdir(lineage_dir) else []:
        schema = pq.read_schema(os.path.join(lineage_dir, name))
        assert schema.remove_metadata() == _LINEAGE_SCHEMA


def test_crash_before_manifest_link_leaves_nothing(tmp_path, monkeypatch):
    """A writer that dies before the link publishes nothing: the head,
    the fences and the lineage table are unchanged, no tmp file is
    left, and a retry commits the same snapshot id."""
    t = _new(tmp_path)
    c = t.commit()
    files = _touch(t, c, 2)

    def crash(src, dst):
        raise OSError("crash before the manifest link")

    monkeypatch.setattr(log_mod.os, "link", crash)
    with pytest.raises(OSError, match="crash before"):
        _merge(t, c, "b1", files)
    monkeypatch.undo()

    fresh = TableLog(str(tmp_path))
    assert fresh.current_snapshot_id() == 0
    assert fresh.committed_batch_ids() == set()
    commits = os.path.join(tmp_path, log_mod._COMMITS)
    assert not [f for f in os.listdir(commits) if f.startswith(".tmp-")]
    assert not os.path.exists(os.path.join(tmp_path, log_mod._LINEAGE))
    assert _merge(t, c, "b1", files)["snapshot_id"] == 1
    assert TableLog(str(tmp_path)).commit()["batches"] == ["b1"]


def test_crash_after_link_before_latest(tmp_path, monkeypatch):
    """A writer that dies between the manifest link and the ``LATEST``
    hint has committed, lineage included: a fresh reader probes past
    the stale hint to the new head and finds the batch's lineage rows,
    and a retry of the same commit loses with CommitConflict."""
    t = _new(tmp_path)
    c = t.commit()
    files = _touch(t, c, 1)

    def crash(self, snap):
        raise OSError("crash before LATEST")

    monkeypatch.setattr(TableLog, "_point_latest", crash)
    with pytest.raises(OSError, match="crash before LATEST"):
        _merge(t, c, "b1", files)
    monkeypatch.undo()

    with open(os.path.join(tmp_path, log_mod._COMMITS, log_mod._LATEST)) as f:
        assert f.read().strip() == "0"
    fresh = TableLog(str(tmp_path))
    assert fresh.current_snapshot_id() == 1
    assert fresh.commit()["files"] == files
    assert fresh.committed_batch_ids() == {"b1"}
    assert _stored_lineage(tmp_path) == _expected_rows("b1", 1, 0)
    with pytest.raises(CommitConflict, match="already committed"):
        _merge(t, c, "b1", files)


def test_crash_inside_expire_after_reroot(tmp_path, monkeypatch):
    """``expire_snapshots`` that dies right after re-rooting the oldest
    retained snapshot leaves every snapshot readable as committed, and
    a second ``expire_snapshots`` completes."""
    t = _new(tmp_path)
    for i in range(1, 6):  # each adds a file: delta manifests from 2 on
        c = t.commit()
        _merge(t, c, f"b{i}", c["files"] + _touch(t, c, 1))
    written = {s: _content(copy.deepcopy(t.commit(s))) for s in range(6)}
    assert "files" not in _read_raw(tmp_path, 4)  # 4 is a delta manifest
    reroot = TableLog._materialize_manifest

    def crash(self, snap):
        reroot(self, snap)
        raise OSError("crash after the re-root")

    monkeypatch.setattr(TableLog, "_materialize_manifest", crash)
    with pytest.raises(OSError, match="after the re-root"):
        t.expire_snapshots(keep_last=2)
    monkeypatch.undo()

    fresh = TableLog(str(tmp_path))
    assert fresh._snapshot_ids() == list(range(6))
    assert _read_raw(tmp_path, 4)["parent"] is None
    for s, rec in written.items():
        got = _content(fresh.commit(s))
        if s == 4:
            rec = {**rec, "parent": None, "expired_parent": 3}
        assert got == rec, s
    assert fresh.expire_snapshots(keep_last=2)["snapshots_removed"] == 4
    assert fresh._snapshot_ids() == [4, 5]
    again = TableLog(str(tmp_path))
    assert _content(again.commit(5)) == written[5]
    assert again.validate()["ok"]


def test_crash_inside_expire_after_lineage_archive(tmp_path, monkeypatch):
    """``expire_snapshots`` that dies after moving the dropped merges'
    lineage rows to ``_lineage/`` and before removing any manifest
    leaves every merge's rows readable exactly once, and a second
    ``expire_snapshots`` completes without changing them."""
    t = _new(tmp_path)
    lineage: dict = {}
    for i in range(1, 6):  # b3 has no offsets; snapshot 6 is no merge
        c = t.commit()
        n_parts = 0 if i == 3 else 2
        _merge(t, c, f"b{i}", c["files"] + _touch(t, c, 1), _offsets(n_parts))
        lineage.update(_expected_rows(f"b{i}", i, n_parts))
    t._next_commit(t.commit(), "compact", t.commit()["files"])
    archive = TableLog._archive_lineage

    def crash(self, snaps):
        archive(self, snaps)
        raise OSError("crash after the lineage archive")

    monkeypatch.setattr(TableLog, "_archive_lineage", crash)
    with pytest.raises(OSError, match="after the lineage archive"):
        t.expire_snapshots(keep_last=2)
    monkeypatch.undo()

    fresh = TableLog(str(tmp_path))
    assert fresh._snapshot_ids() == list(range(7))
    assert sorted(os.listdir(os.path.join(tmp_path, log_mod._LINEAGE))) == [
        f"snap{s:012d}.parquet" for s in (1, 2, 3, 4)
    ]
    assert _stored_lineage(tmp_path) == lineage
    assert fresh.expire_snapshots(keep_last=2)["snapshots_removed"] == 5
    assert fresh._snapshot_ids() == [5, 6]
    assert _stored_lineage(tmp_path) == lineage


def test_crash_inside_expire_while_removing_commits(tmp_path, monkeypatch):
    """``expire_snapshots`` that dies after removing one dropped commit
    file leaves the other dropped snapshots readable (they are removed
    newest first, so each keeps the ancestors its delta manifest is
    rebuilt from), every merge's rows readable exactly once, and a
    second ``expire_snapshots`` completes without changing them, also
    for a reader that listed the commits before they were removed."""
    t = _new(tmp_path)
    lineage: dict = {}
    for i in range(1, 6):  # each adds a file: delta manifests from 2 on
        c = t.commit()
        _merge(t, c, f"b{i}", c["files"] + _touch(t, c, 1), _offsets(2))
        lineage.update(_expected_rows(f"b{i}", i, 2))
    written = {s: _content(copy.deepcopy(t.commit(s))) for s in range(6)}
    commits = os.path.join(tmp_path, log_mod._COMMITS)
    remove, removed = os.remove, []

    def crash(path):
        if os.path.dirname(path) == commits and removed:
            raise OSError("crash inside the commit removal")
        remove(path)
        removed.append(path)

    monkeypatch.setattr(os, "remove", crash)
    with pytest.raises(OSError, match="inside the commit removal"):
        t.expire_snapshots(keep_last=2)
    monkeypatch.undo()

    fresh = TableLog(str(tmp_path))
    assert removed == [fresh._commit_path(3)]
    assert fresh._snapshot_ids() == [0, 1, 2, 4, 5]
    for s in (0, 1, 2, 5):
        assert _content(fresh.commit(s)) == written[s], s
    assert _stored_lineage(tmp_path) == lineage
    assert fresh.expire_snapshots(keep_last=2)["snapshots_removed"] == 3
    assert fresh._snapshot_ids() == [4, 5]
    assert _stored_lineage(tmp_path) == lineage
    # a reader that listed the commits before that expiry removed them
    monkeypatch.setattr(TableLog, "_snapshot_ids", lambda self: [0, 1, 2, 4, 5])
    assert _stored_lineage(tmp_path) == lineage


def test_expire_retires_older_lineage_part_files(tmp_path, monkeypatch):
    """A table written before the manifest became the lineage record
    holds one ``_lineage/part-*`` file per merge, also for snapshots an
    older expiry removed. Reads count a part file's rows only for a
    snapshot no commit file lists; the next expiry renames those files
    to ``snap<id>`` files and removes the rest, and a crash inside
    that step changes no row either."""
    t = _new(tmp_path)
    lineage: dict = {}
    for i in range(1, 6):
        c = t.commit()
        _merge(t, c, f"b{i}", c["files"] + _touch(t, c, 1), _offsets(i % 3))
        lineage.update(_expected_rows(f"b{i}", i, i % 3))
    t.expire_snapshots(keep_last=3)  # snapshots 3..5 stay
    d = os.path.join(tmp_path, log_mod._LINEAGE)
    # the older layout: each merge's rows in a part file, expired or not;
    # the oldest file predates the merge-on-read counter columns
    for s in range(1, 6):
        legacy = os.path.join(d, f"part-{s}abc.parquet")
        if s < 3:
            os.replace(os.path.join(d, f"snap{s:012d}.parquet"), legacy)
        else:
            pq.write_table(pa.Table.from_pylist(lineage_rows(t.commit(s)),
                                                schema=_LINEAGE_SCHEMA), legacy)
    first = os.path.join(d, "part-1abc.parquet")
    pq.write_table(pq.read_table(first).drop(["upserts", "tombstones"]), first)
    assert _stored_lineage(tmp_path) == lineage

    c = t.commit()
    _merge(t, c, "b6", c["files"] + _touch(t, c, 1), _offsets(1))
    lineage.update(_expected_rows("b6", 6, 1))
    remove, removed = os.remove, []

    def crash(path):
        if "part-" in os.path.basename(path) and removed:
            raise OSError("crash inside the part file retirement")
        remove(path)
        removed.append(path)

    monkeypatch.setattr(os, "remove", crash)
    with pytest.raises(OSError, match="part file retirement"):
        t.expire_snapshots(keep_last=2)  # drops snapshots 3 and 4
    monkeypatch.undo()
    assert _stored_lineage(tmp_path) == lineage
    t.expire_snapshots(keep_last=2)
    assert sorted(os.listdir(d)) == [f"snap{s:012d}.parquet" for s in (1, 2, 3, 4)]
    assert _stored_lineage(tmp_path) == lineage


@pytest.mark.parametrize("heal", ["discard", "publish", "expire"])
def test_crash_in_publish_after_link_leaves_a_stale_marker(tmp_path, monkeypatch, heal):
    """A ``publish_staged`` that dies after the manifest link has
    committed the batch but left its staged marker. The marker is
    stale: it is not listed, ``discard_staged`` removes it but never
    the committed data dir, ``publish_staged`` meets the exactly-once
    fence, and it does not keep the staged data dir from expiry once
    compaction has replaced those files. ``expire_snapshots`` removes
    the marker alone while a retained snapshot lists the files."""
    t = _new(tmp_path)
    c = t.commit()
    files = _touch(t, c, 2, stage="b1")
    t._stage_to = "b1"  # stage_merge's write step
    _merge(t, c, "b1", files, _offsets(1))
    t._stage_to = None
    marker = t._staged_path("b1")
    assert t.staged_batches() == ["b1"] and t.current_snapshot_id() == 0

    def crash(self, snap):
        raise OSError("crash before LATEST")

    monkeypatch.setattr(TableLog, "_point_latest", crash)
    with pytest.raises(OSError, match="crash before LATEST"):
        t.publish_staged("b1")
    monkeypatch.undo()

    fresh = TableLog(str(tmp_path))
    assert fresh.committed_batch_ids() == {"b1"}
    assert _stored_lineage(tmp_path) == _expected_rows("b1", 1, 1)
    assert os.path.exists(marker) and fresh.staged_batches() == []
    staged_dir = os.path.join(tmp_path, t._data_dir(stage="b1"))
    if heal == "discard":
        assert fresh.discard_staged("b1") is True
        assert fresh.discard_staged("b1") is False
    elif heal == "publish":
        assert fresh.publish_staged("b1") == {}
        assert fresh.current_snapshot_id() == 1
    else:
        fresh.expire_snapshots(keep_last=1)
    assert not os.path.exists(marker)
    assert all(os.path.exists(os.path.join(tmp_path, f["path"])) for f in files)
    assert fresh.validate()["ok"]
    if heal == "expire":
        c = fresh.commit()
        fresh._next_commit(c, "compact", _touch(fresh, c, 1))
        fresh.expire_snapshots(keep_last=1)
        assert not os.path.exists(staged_dir)


def _read_raw(root, snap: int) -> dict:
    with open(TableLog(str(root))._commit_path(snap)) as f:
        return json.load(f)
