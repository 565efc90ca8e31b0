from __future__ import annotations

import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ais_etl_spark.lake import LakeTable
from ais_etl_spark.lake.log import _LINEAGE, _LINEAGE_SCHEMA, lineage_rows

SCHEMA = [("url", "string"), ("warc_ts", "timestamp"), ("text", "string")]


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, event_id long, op string, text string"
    )


def test_expire_snapshots(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    base = datetime(2026, 1, 1)
    for i in range(4):
        t.merge(
            _events(spark, [(f"u{i}", base, i, "I", f"t{i}")]), batch_id=f"b{i}"
        )
    assert t.current_snapshot_id() == 4
    before = {r["url"]: r["text"] for r in t.read().collect()}
    assert len(before) == 4

    stats = t.expire_snapshots(keep_last=2)
    assert stats["snapshots_removed"] == 3  # v0..v2 dropped, v3+v4 kept
    # current read unaffected: retained manifests carry files by reference
    after = {r["url"]: r["text"] for r in t.read().collect()}
    assert after == before
    # time travel to an expired snapshot fails
    with pytest.raises(FileNotFoundError):
        t.commit(1)
    # data dirs referenced by retained snapshots survive
    assert t.read(snapshot_id=3).count() == 3


def test_expire_keeps_idempotence_log(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    base = datetime(2026, 1, 1)
    t.merge(_events(spark, [("u", base, 1, "I", "x")]), batch_id="b0")
    t.merge(_events(spark, [("u2", base, 2, "I", "y")]), batch_id="b1")
    t.expire_snapshots(keep_last=1)
    # replaying an old batch is still a no-op: the batch log lives in
    # the retained manifest
    assert t.merge(_events(spark, [("u", base, 1, "I", "x")]), batch_id="b0") == {}
    assert t.read().count() == 2


def test_lineage_read_rule_across_expiry(spark, tmpdir_path, monkeypatch):
    """Each merge's lineage rows appear exactly once whether they sit in
    a retained manifest, in the file expiry moved them to, or in a
    per-merge ``part-*`` file of an older table layout (retired by the
    next expiry) — also after an expiry that crashed between moving the
    rows and removing the manifests."""
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    base = datetime(2026, 1, 1)
    for i in range(4):
        t.merge(_events(spark, [(f"u{i}", base, i, "I", f"t{i}")]),
                batch_id=f"b{i}", mode="mor" if i % 2 else "cow")

    def rows():
        return sorted(tuple(r) for r in t.lineage().collect())

    before = rows()
    assert [r[0] for r in before] == ["b0", "b1", "b2", "b3"]
    # older tables hold a part file per merge beside the manifest
    d = os.path.join(tmpdir_path, _LINEAGE)
    os.makedirs(d)
    for s in range(1, 5):
        pq.write_table(pa.Table.from_pylist(lineage_rows(t.commit(s)), schema=_LINEAGE_SCHEMA),
                       os.path.join(d, f"part-{s}.parquet"))
    assert rows() == before

    archive = LakeTable._archive_lineage

    def crash(self, snaps):
        archive(self, snaps)
        raise OSError("crash after the lineage archive")

    monkeypatch.setattr(LakeTable, "_archive_lineage", crash)
    with pytest.raises(OSError, match="after the lineage archive"):
        t.expire_snapshots(keep_last=2)
    monkeypatch.undo()
    assert rows() == before
    assert t.expire_snapshots(keep_last=2)["snapshots_removed"] == 3
    assert rows() == before
    # the part files are retired: dropped merges' rows sit in snap files
    assert sorted(os.listdir(d)) == [f"snap{s:012d}.parquet" for s in (1, 2)]
