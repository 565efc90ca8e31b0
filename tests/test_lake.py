"""LakeTable: MERGE semantics matrix, idempotence, CoW, schema
evolution, time travel, lineage.

The delete/late matrix is the semantics decision flagged in SURVEY §7
(I<U<D orderings × duplicates × late); the replay-equality oracle style
follows the reference's pipeline-replay compare
(/root/reference/transformers/tests/test_audio_split_consolidate.py:67-113)."""

import datetime as dt
import os
import uuid

import pytest
from pyspark.sql import functions as F

from ais_etl_spark.lake import CommitConflict, LakeTable

SCHEMA = [("url", "string"), ("warc_ts", "timestamp"), ("text", "string")]
EV_DDL = "event_id bigint, op string, url string, warc_ts timestamp, text string"


def T(s):
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)


@pytest.fixture()
def tbl(spark, tmpdir_path):
    return LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)


def ev(spark, rows):
    return spark.createDataFrame(rows, EV_DDL)


def test_insert_update_delete(spark, tbl):
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(1), "b")]), "b1")
    tbl.merge(ev(spark, [(3, "U", "u1", T(2), "a2"), (4, "D", "u2", T(2), None)]), "b2")
    rows = {r.url: r.text for r in tbl.read().collect()}
    assert rows == {"u1": "a2"}


def test_stale_events_are_noops(spark, tbl):
    tbl.merge(ev(spark, [(5, "I", "u1", T(10), "new")]), "b1")
    lin = tbl.merge(ev(spark, [(1, "U", "u1", T(5), "old"), (2, "D", "u1", T(7), None)]), "b2")
    assert lin["stale_noops"] == 1  # one key, both losers collapse to one
    assert [r.text for r in tbl.read().collect()] == ["new"]


def test_delete_tombstone_beats_older_insert_across_batches(spark, tbl):
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a")]), "b1")
    tbl.merge(ev(spark, [(2, "D", "u1", T(9), None)]), "b2")
    tbl.merge(ev(spark, [(3, "I", "u1", T(5), "zombie")]), "b3")
    assert tbl.read().count() == 0
    # but a genuinely newer insert resurrects
    tbl.merge(ev(spark, [(4, "I", "u1", T(12), "alive")]), "b4")
    assert [r.text for r in tbl.read().collect()] == ["alive"]


def test_same_timestamp_tiebreak_on_event_id(spark, tbl):
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "first"), (2, "U", "u1", T(1), "second")]), "b1")
    assert [r.text for r in tbl.read().collect()] == ["second"]


def test_batch_replay_is_idempotent(spark, tbl):
    batch = ev(spark, [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(2), "b")])
    lin1 = tbl.merge(batch, "b1")
    snap = tbl.current_snapshot_id()
    lin2 = tbl.merge(batch, "b1")
    assert lin1["inserts"] == 2 and lin2 == {}
    assert tbl.current_snapshot_id() == snap


def test_copy_on_write_only_touched_buckets(spark, tmpdir_path):
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=16)
    big = ev(spark, [(i, "I", f"u{i}", T(i), f"t{i}") for i in range(200)])
    tbl.merge(big, "b1")
    files_before = {f["path"]: f for f in tbl.commit()["files"]}
    lin = tbl.merge(ev(spark, [(999, "U", "u7", T(999), "u7new")]), "b2")
    assert lin["buckets_rewritten"] == 1
    carried = [f for f in tbl.commit()["files"] if f["path"] in files_before]
    assert len(carried) == len(files_before) - 1  # all but the hit bucket reused


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_write_runs_at_most_one_task_per_core(spark, tmpdir_path, mode):
    """A merge that touches all 16 buckets writes in at most
    ``defaultParallelism`` tasks: the rows are hash-partitioned by
    bucket, so a task may write several buckets and each touched
    bucket still gets exactly one file."""
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=16)
    tbl.merge(ev(spark, [(i, "I", f"u{i}", T(i), f"t{i}") for i in range(200)]), "b1")
    before = {f["path"] for f in tbl.commit()["files"]}
    assert len(before) == 16
    sc = spark.sparkContext
    group = f"write-fan-out-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        tbl.merge(
            ev(spark, [(1000 + i, "U", f"u{i}", T(1000), f"n{i}") for i in range(200)]),
            "b2", mode=mode,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    # the write is the merge's last job; its result stage is its last
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    tasks = tracker.getStageInfo(max(write_job.stageIds)).numTasks
    assert 0 < tasks <= sc.defaultParallelism < 16
    new = [f for f in tbl.commit()["files"] if f["path"] not in before]
    assert sorted(f["bucket"] for f in new) == list(range(16))
    assert {f.get("kind") for f in new} == ({"delta"} if mode == "mor" else {None})
    assert {r.url: r.text for r in tbl.read().collect()} == {
        f"u{i}": f"n{i}" for i in range(200)
    }
    assert tbl.validate(full=True)["ok"]


def test_file_granularity_rewrite_within_bucket(spark, tmpdir_path):
    """A merge touching one key must rewrite only the FILE containing
    it, carrying sibling files of the same bucket by reference."""
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=1,
                           max_file_rows=25)
    tbl.merge(
        ev(spark, [(i, "I", f"u{i:04d}", T(i), f"t{i}") for i in range(200)]),
        "b1",
    )
    entries = tbl.commit()["files"]
    assert len(entries) >= 8  # 200 rows / 25-per-file split
    assert all(e["min_key"] is not None for e in entries)
    before = {f["path"] for f in entries}
    lin = tbl.merge(ev(spark, [(999, "U", "u0042", T(999), "new")]), "b2")
    assert lin["files_rewritten"] == 1
    assert lin["files_rewritten"] < len(entries)
    after = {f["path"] for f in tbl.commit()["files"]}
    assert len(before & after) == len(before) - 1  # all but one file carried
    got = {r.url: r.text for r in tbl.read().collect()}
    want = {f"u{i:04d}": f"t{i}" for i in range(200)}
    want["u0042"] = "new"
    assert got == want  # replay equality survives file-granular CoW


def test_gc_tombstones_file_granular(spark, tmpdir_path):
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=2,
                           max_file_rows=10)
    tbl.merge(ev(spark, [(i, "I", f"u{i}", T(i), f"t{i}") for i in range(30)]), "b1")
    tbl.merge(ev(spark, [(100, "D", "u3", T(100), None),
                         (101, "D", "u7", T(101), None)]), "b2")
    assert tbl.read(include_internal=True).filter("_deleted").count() == 2
    # watermark passes u3's delete (T(100)) but not u7's (T(101))
    res = tbl.gc_tombstones(older_than=T(100))
    assert res["rows_dropped"] == 1
    assert res["files_carried"] > 0  # tombstone-free files not rewritten
    assert tbl.read(include_internal=True).filter("_deleted").count() == 1
    assert tbl.read().count() == 28  # live rows untouched
    # batch ids preserved across the gc snapshot → replay still a no-op
    assert tbl.merge(ev(spark, [(1, "I", "u1", T(1), "t1")]), "b1") == {}


@pytest.mark.parametrize("writer", ["cow", "mor", "gc-cow", "gc-mor"])
def test_write_of_no_rows_commits_exact_counters(spark, tmpdir_path, writer):
    """A write left with no rows can leave its Observation unevaluated
    (AQE removes the empty write); the one write step then reports
    zero for every counter, or, when its ``keep`` filter removed every
    row, counts the filtered rows. A fully malformed batch onto an empty
    table commits all-zero lineage counters in either merge mode;
    gc_tombstones where every row of every hit file is an expired
    tombstone reports each dropped tombstone and keeps every live
    row."""
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    if writer in ("cow", "mor"):
        bad = [(1, "X", "u1", T(1), "a"), (2, "I", None, T(1), "b")]
        lin = t.merge(ev(spark, bad), "b1", mode=writer)
        counters = (
            ("inserts", "updates", "deletes", "stale_noops")
            if writer == "cow" else ("upserts", "tombstones")
        )
        assert lin["malformed"] == 2 and lin["files_written"] == 0
        assert {k: lin[k] for k in counters} == dict.fromkeys(counters, 0)
        assert lin.get("rows_after", 0) == 0
        (row,) = t.lineage().collect()
        assert row.malformed == 2
        assert {k: row[k] for k in counters} == dict.fromkeys(counters, 0)
        assert t.read().count() == 0
        return
    live = [(i, "I", f"u{i}", T(i), f"t{i}") for i in range(12)]
    t.merge(ev(spark, live), "b1")
    # delete every key of one bucket: the files a gc reads in it then
    # resolve to tombstones only (CoW: rewritten tombstone-only files;
    # MoR: a tombstone delta folded with its base file)
    b = t.commit()["files"][0]["bucket"]
    dead = sorted(
        r.url for r in t.read().filter(t._bucket_expr(F.col("url")) == b).collect()
    )
    deletes = [(100 + i, "D", u, T(50), None) for i, u in enumerate(dead)]
    t.merge(ev(spark, deletes), "b2", mode=writer.split("-")[1])
    res = t.gc_tombstones(older_than=T(60))
    assert res["rows_dropped"] == len(dead) and res["files_rewritten"] > 0
    assert t.commit()["lineage"] == {"rows_dropped": len(dead)}
    assert {r.url for r in t.read().collect()} == {r[2] for r in live} - set(dead)
    assert t.read(include_internal=True).filter("_deleted").count() == 0
    assert t.validate(full=True)["ok"]


def test_schema_add_and_rename_without_rewrite(spark, tbl):
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a")]), "b1")
    files_before = [f["path"] for f in tbl.commit()["files"]]
    tbl.alter_add_column("score", "double")
    tbl.alter_rename_column("text", "body")
    assert [f["path"] for f in tbl.commit()["files"]] == files_before  # no rewrite
    row = tbl.read().collect()[0]
    assert row.body == "a" and row.score is None
    # new-schema write + old files union
    df = spark.createDataFrame(
        [(2, "I", "u2", T(2), "b", 0.9)],
        "event_id bigint, op string, url string, warc_ts timestamp, body string, score double",
    )
    tbl.merge(df, "b2")
    got = {r.url: (r.body, r.score) for r in tbl.read().collect()}
    assert got == {"u1": ("a", None), "u2": ("b", 0.9)}


def test_time_travel(spark, tbl):
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "v1")]), "b1")
    tbl.merge(ev(spark, [(2, "U", "u1", T(2), "v2")]), "b2")
    assert [r.text for r in tbl.read(snapshot_id=1).collect()] == ["v1"]
    assert [r.text for r in tbl.read(snapshot_id=2).collect()] == ["v2"]


def test_lineage_offsets(spark, tbl):
    df = spark.createDataFrame(
        [(1, "I", "u1", T(1), "a", 0, 100), (2, "I", "u2", T(2), "b", 0, 101),
         (3, "I", "u3", T(3), "c", 1, 7)],
        EV_DDL + ", source_part int, offset bigint",
    )
    tbl.merge(df, "b1")
    lin = {r.source_part: r for r in tbl.lineage().collect()}
    assert lin[0].min_offset == 100 and lin[0].max_offset == 101 and lin[0].events == 2
    assert lin[1].min_offset == 7 and lin[1].events == 1
    assert lin[0].inserts == 3


def test_merge_rejects_missing_columns(spark, tbl):
    bad = spark.createDataFrame([(1, "I", "u1")], "event_id bigint, op string, url string")
    with pytest.raises(ValueError, match="warc_ts"):
        tbl.merge(bad, "b1")


def test_changes_incremental_changelog(spark, tmpdir_path):
    """changes(a, b) must equal the semantic diff of the two snapshot
    reads, while scanning only added/removed files."""
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(1), "b"),
                         (3, "I", "u3", T(1), "c")]), "b1")
    s1 = tbl.current_snapshot_id()
    tbl.merge(ev(spark, [(4, "U", "u1", T(2), "a2"),     # update
                         (5, "D", "u2", T(2), None),       # delete
                         (6, "I", "u4", T(2), "d"),        # insert
                         (7, "U", "u3", T(0), "stale")]),  # stale → no change
              "b2")
    s2 = tbl.current_snapshot_id()
    got = {(r.url, r.change_type): r.text for r in tbl.changes(s1, s2).collect()}
    assert got == {("u1", "update"): "a2", ("u2", "delete"): None,
                   ("u4", "insert"): "d"}
    # resurrection shows as insert
    tbl.merge(ev(spark, [(8, "I", "u2", T(3), "back")]), "b3")
    s3 = tbl.current_snapshot_id()
    got2 = {(r.url, r.change_type) for r in tbl.changes(s2, s3).collect()}
    assert got2 == {("u2", "insert")}
    # full-range changelog vs naive diff of the two snapshot reads
    all_changes = {(r.url, r.change_type) for r in tbl.changes(s1, s3).collect()}
    assert all_changes == {("u1", "update"), ("u4", "insert"), ("u2", "update")}


def test_compact_merges_small_files(spark, tmpdir_path):
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=2,
                           max_file_rows=1000)
    for b in range(5):  # five tiny merges → ≥5 files per touched bucket
        tbl.merge(ev(spark, [(100 * b + i, "I", f"u{b}-{i}", T(b * 10 + i), f"t{b}{i}")
                             for i in range(6)]), f"b{b}")
    before = tbl.commit()["files"]
    data_before = {(r.url, r.text) for r in tbl.read().collect()}
    res = tbl.compact()
    assert res["files_after"] < res["files_before"]
    assert len(tbl.commit()["files"]) == res["files_after"]
    assert {(r.url, r.text) for r in tbl.read().collect()} == data_before
    # compaction is pure layout: no change rows between the snapshots
    assert tbl.changes(tbl.commit()["parent"]).count() == 0
    # batch replay still idempotent across the compact snapshot
    assert tbl.merge(ev(spark, [(0, "I", "u0-0", T(0), "x")]), "b0") == {}


def test_lookup_point_read(spark, tbl):
    rows = [(i, "I", f"u{i}", T(i), f"t{i}") for i in range(40)]
    tbl.merge(ev(spark, rows), "b1")
    got = tbl.lookup("u17").collect()
    assert len(got) == 1 and got[0].text == "t17"
    # pruning: the point read plans over a strict subset of the files
    c = tbl.commit()
    assert 0 < len([f for f in c["files"] if f["bucket"] is not None])
    # a tombstoned key returns empty
    tbl.merge(ev(spark, [(100, "D", "u17", T(100), None)]), "b2")
    assert tbl.lookup("u17").count() == 0
    assert tbl.lookup("never-written").count() == 0


def test_lookup_bucket_parity_with_writer(spark, tbl):
    """The driver-side XXH64 bucket must equal the JVM bucket the
    writer used — for every key, lookup() must find the row."""
    rows = [(i, "I", f"https://site-{i}.example.com/p/{i}", T(i), f"t{i}")
            for i in range(25)]
    tbl.merge(ev(spark, rows), "b1")
    for i in (0, 7, 13, 24):
        url = f"https://site-{i}.example.com/p/{i}"
        got = tbl.lookup(url).collect()
        assert len(got) == 1 and got[0].text == f"t{i}", url


def test_history_metadata_table(spark, tbl):
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a")]), "b1")
    tbl.merge(ev(spark, [(2, "U", "u1", T(2), "b")]), "b2")
    tbl.alter_add_column("extra", "string")
    h = {r.snapshot_id: r for r in tbl.history().collect()}
    assert h[0].operation == "create"
    assert h[1].operation == "merge" and h[1].batch_id == "b1" and h[1].inserts == 1
    assert h[2].operation == "merge" and h[2].updates == 1
    assert h[3].operation == "add_column:extra" and h[3].schema_version == 1
    assert h[2].parent == 1


def test_malformed_events_quarantined(spark, tbl):
    bad_rows = [
        (10, "I", None, T(1), "no-key"),        # null key
        (11, "I", "u9", None, "no-ts"),         # null order col
        (12, "X", "u9", T(1), "bad-op"),        # unknown op
        (13, None, "u9", T(1), "null-op"),      # NULL op: ~isin() is SQL
        # NULL, which fails BOTH filter(bad) and filter(~bad) — found
        # by review; must be quarantined, not silently dropped
    ]
    rows = [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(2), "b")] + bad_rows
    lin = tbl.merge(ev(spark, rows), "b1")
    assert lin["malformed"] == 4 and lin["inserts"] == 2
    assert {r.url: r.text for r in tbl.read().collect()} == {"u1": "a", "u2": "b"}
    q = tbl.quarantine()
    assert q.count() == 4
    assert set(q.select("batch").distinct().toPandas()["batch"]) == {"b1"}
    assert {r.event_id for r in q.collect()} == {10, 11, 12, 13}
    # lineage records the count
    ln = tbl.lineage().filter(F.col("batch_id") == "b1").collect()
    assert all(r.malformed == 4 for r in ln)


def test_drop_column_metadata_only(spark, tbl):
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "keep-me")]), "b1")
    files_before = [f["path"] for f in tbl.commit()["files"]]
    snap_pre_drop = tbl.current_snapshot_id()
    tbl.alter_drop_column("text")
    assert [f["path"] for f in tbl.commit()["files"]] == files_before  # zero rewrite
    assert "text" not in tbl.read().columns
    # time travel still sees the dropped column
    assert tbl.read(snap_pre_drop).collect()[0].text == "keep-me"
    # re-add under the same name: FRESH id -> old bytes must NOT resurrect
    tbl.alter_add_column("text", "string")
    assert tbl.read().collect()[0].text is None
    with pytest.raises(ValueError):
        tbl.alter_drop_column("url")  # key column is not droppable


def test_rollback_restores_state_and_batch_fences(spark, tbl):
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(2), "b")]), "b1")
    good = {(r.url, r.text) for r in tbl.read().collect()}
    bad_batch = ev(spark, [(3, "U", "u1", T(3), "CORRUPT"), (4, "D", "u2", T(4), None)])
    tbl.merge(bad_batch, "b2")
    assert {(r.url, r.text) for r in tbl.read().collect()} != good

    tbl.rollback(1)
    assert {(r.url, r.text) for r in tbl.read().collect()} == good
    # the bad batch's exactly-once fence rolled back with its data:
    # a corrected b2 APPLIES instead of being swallowed as a replay
    fixed = ev(spark, [(3, "U", "u1", T(3), "fixed"), (4, "D", "u2", T(4), None)])
    lin = tbl.merge(fixed, "b2")
    assert lin != {}
    assert {(r.url, r.text) for r in tbl.read().collect()} == {("u1", "fixed")}
    # history records the rollback; every commit carries a timestamp
    ops = {r.snapshot_id: r.operation for r in tbl.history().collect()}
    assert ops[3] == "rollback:1"
    assert all(r.committed_at is not None for r in tbl.history().collect())
    # time travel to the rolled-back-from snapshot still works
    assert {(r.url, r.text) for r in tbl.read(2).collect()} == {("u1", "CORRUPT")}


def test_exact_probe_prunes_beyond_ranges(spark, tmpdir_path):
    """At many-files-per-bucket scale, the exact-key second pass must
    rewrite strictly fewer files than range-overlap alone, with an
    identical final state."""
    import os

    def build(path, probe_files):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, path), SCHEMA,
                             n_buckets=1, max_file_rows=2)
        old = LakeTable.EXACT_PROBE_FILES
        LakeTable.EXACT_PROBE_FILES = probe_files
        try:
            # 40 keys, 1 bucket, 2 rows/file -> ~20 files with narrow ranges
            t.merge(ev(spark, [(i, "I", f"u{i:03d}", T(i), f"t{i}") for i in range(40)]),
                    "b1")
            # sparse batch: two keys at the extremes -> batch range spans
            # the whole bucket, so range-overlap flags every file
            lin = t.merge(ev(spark, [(100, "U", "u000", T(100), "x"),
                                     (101, "U", "u039", T(101), "y")]), "b2")
        finally:
            LakeTable.EXACT_PROBE_FILES = old
        return t, lin

    t_range, lin_range = build("range", probe_files=10**9)  # exact pass disabled
    t_exact, lin_exact = build("exact", probe_files=1)      # always exact
    assert lin_exact["files_rewritten"] < lin_range["files_rewritten"]
    assert lin_exact["files_rewritten"] <= 2  # one file per extreme key
    got_r = {(r.url, r.text) for r in t_range.read().collect()}
    got_e = {(r.url, r.text) for r in t_exact.read().collect()}
    assert got_r == got_e and ("u000", "x") in got_e


def test_order_column_file_skipping(spark, tmpdir_path):
    """Manifest-level order-column (event-time) skipping: files whose
    warc_ts range cannot intersect the requested window are never
    opened; pruned-scan + filter equals plain filter (no false
    negatives). Keys here correlate with time so per-file ranges are
    disjoint — the case metrics skipping is for."""
    import os

    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"), SCHEMA,
                         n_buckets=1, max_file_rows=4)
    t.merge(ev(spark, [(i, "I", f"u{i:03d}", T(i), f"t{i}") for i in range(40)]), "b1")
    c = t.commit()
    assert len(c["files"]) >= 8
    assert all(f["min_order"] is not None for f in c["files"])
    lo = t._order_micros(T(30))
    sel, _ = t._split_files(c, lambda f: f["max_order"] >= lo)
    assert 0 < len(sel) < len(c["files"])
    got = t.read(order_min=T(30)).filter(F.col("warc_ts") >= T(30)).count()
    assert got == 10
    window = t.read(order_min=T(30), order_max=T(35)).filter(
        (F.col("warc_ts") >= T(30)) & (F.col("warc_ts") <= T(35))
    )
    assert window.count() == 6


def test_table_stats_and_targeted_compaction(spark, tmpdir_path):
    """Metadata-only stats + compact_small_files rewrites ONLY the
    buckets fragmented by small per-batch files."""
    import os

    t = LakeTable.create(spark, os.path.join(tmpdir_path, "t"), SCHEMA,
                         n_buckets=2, max_file_rows=100)
    t.merge(ev(spark, [(i, "I", f"u{i:03d}", T(i), f"t{i}") for i in range(60)]), "b1")
    # tiny merges with NEW keys outside existing file ranges: no hit
    # files -> each adds a one-row file (the fragmentation pattern;
    # hits would consolidate instead)
    for j in range(4):
        t.merge(ev(spark, [(100 + j, "I", f"v{j:03d}", T(100 + j), "x")]),
                f"s{j}")
    stats = t.table_stats()
    assert stats["total_rows"] == sum(
        f["n_rows"] for f in t.commit()["files"])
    assert stats["files_unstated"] == 0
    before = stats["total_files"]
    assert before > 2  # fragmentation really happened
    res = t.compact_small_files(small_ratio=0.25)
    assert res["buckets"]  # something was fragmented and chosen
    assert res["files_after"] < before
    got = {r.url: r.text for r in t.read().collect()}
    assert got["v000"] == "x" and len(got) == 64
    # healthy layout -> second pass is a no-op
    res2 = t.compact_small_files(small_ratio=0.25)
    assert res2["buckets"] == []


def test_footer_stats_partial_order_stats_degrade_whole_file(tmp_path):
    """If ANY row group lacks order-column stats, the file's
    min_order/max_order must be None (always-hit): a partial range
    from the covered row groups could wrongly prune a file whose
    stat-less row groups still hold in-range rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ais_etl_spark.lake.table import LakeTable as LT
    from ais_etl_spark.lake.table import _DELETED

    ts = dt.datetime(2024, 1, 1)
    good = pa.table(
        {
            "url": ["a", "b"],
            "warc_ts": pa.array([ts, ts], pa.timestamp("us")),
            _DELETED: [False, False],
        }
    )
    # all-null order column in the second row group → no min/max stats
    nostats = pa.table(
        {
            "url": ["c", "d"],
            "warc_ts": pa.array([None, None], pa.timestamp("us")),
            _DELETED: [False, False],
        }
    )
    p = str(tmp_path / "f.parquet")
    with pq.ParquetWriter(p, good.schema) as w:
        w.write_table(good)
        w.write_table(nostats)
    md = pq.ParquetFile(p).metadata
    assert md.num_row_groups == 2
    kmin, kmax, _hd, omin, omax, n = LT._footer_stats(p, "url", "warc_ts")
    assert (kmin, kmax, n) == ("a", "d", 4)
    assert omin is None and omax is None  # not a partial covering range


def test_order_micros_tz_aware_converted_not_relabeled():
    from ais_etl_spark.lake.table import LakeTable as LT

    naive = dt.datetime(2024, 1, 1, 12, 0, 0)
    utc = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    plus2 = dt.datetime(
        2024, 1, 1, 14, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=2))
    )  # same instant as 12:00 UTC
    assert LT._order_micros(naive) == LT._order_micros(utc)
    assert LT._order_micros(plus2) == LT._order_micros(utc)


def test_create_rejects_non_json_key_type(spark, tmp_path):
    with pytest.raises(ValueError, match="key type"):
        LakeTable.create(
            spark,
            str(tmp_path / "t"),
            [("k", "timestamp"), ("v", "string"), ("warc_ts", "timestamp")],
            key="k",
        )


def test_commit_fence_rejects_racing_writer(spark, tmpdir_path):
    """Single-writer protocol's last line of defense: publishing a
    snapshot id that already exists must fail loudly (a second writer
    racing the same parent), never silently overwrite."""
    t = LakeTable.create(
        spark, tmpdir_path + "/t",
        [("url", "string"), ("warc_ts", "timestamp"), ("text", "string")],
        key="url",
    )
    c = dict(t.commit())
    c["snapshot_id"] = 0  # already committed by create()
    with pytest.raises(RuntimeError, match="already committed"):
        t._write_commit(c)


def test_second_writer_loses_with_commit_conflict(spark, tmpdir_path):
    """Two writers on one path race for snapshot 1: the second reaches
    publish after the first has committed. The second must raise
    CommitConflict and the first manifest must survive byte for byte
    (a rename-based publish silently replaced it)."""
    LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    first, second = LakeTable(spark, tmpdir_path), LakeTable(spark, tmpdir_path)
    won = {}
    encode = second._encode_manifest

    def first_commits_meanwhile(commit):
        # runs inside second's publish, after its snapshot id is fixed
        won["snap"] = first.alter_add_column("lang", "string")
        with open(first._commit_path(1), "rb") as f:
            won["bytes"] = f.read()
        return encode(commit)

    second._encode_manifest = first_commits_meanwhile
    with pytest.raises(CommitConflict, match="already committed"):
        second.merge(ev(spark, [(1, "I", "u1", T(1), "lost")]), "b1")
    assert won["snap"] == 1
    with open(first._commit_path(1), "rb") as f:
        assert f.read() == won["bytes"]
    fresh = LakeTable(spark, tmpdir_path)
    assert fresh.current_snapshot_id() == 1
    assert fresh.read().columns == ["url", "warc_ts", "text", "lang"]
    assert fresh.read().count() == 0 and fresh.committed_batch_ids() == set()
    assert not [
        n for n in os.listdir(os.path.join(tmpdir_path, "_commits"))
        if n.startswith(".tmp")
    ]


def test_racing_merge_writers_keep_their_own_data_files(spark, tmpdir_path):
    """Two writers merge onto snapshot 0 at once: the first runs its
    whole merge inside the second's publish. Each write attempt lands
    in a data directory of its own (in one directory named by the
    expected snapshot id, the first write would fail with
    PATH_ALREADY_EXISTS), the second writer gets CommitConflict, the
    winner's manifest lists only the winner's files, and
    expire_snapshots removes the loser's unreferenced directory."""
    LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    first, second = LakeTable(spark, tmpdir_path), LakeTable(spark, tmpdir_path)
    encode = second._encode_manifest

    def first_merges_meanwhile(commit):
        # runs inside second's publish, after its data files are written
        first.merge(ev(spark, [(1, "I", "u1", T(1), "won")]), "b1")
        return encode(commit)

    second._encode_manifest = first_merges_meanwhile
    lost = [(2, "I", "u2", T(1), "lost"), (3, "I", "u3", T(1), "lost")]
    with pytest.raises(CommitConflict, match="already committed"):
        second.merge(ev(spark, lost), "b2")
    data = os.path.join(tmpdir_path, "data")
    assert len(os.listdir(data)) == 2  # one directory per attempt
    fresh = LakeTable(spark, tmpdir_path)
    head = fresh.commit()
    assert head["snapshot_id"] == 1 and head["batches"] == ["b1"]
    assert len(head["files"]) == 1
    assert [(r.url, r.text) for r in fresh.read().collect()] == [("u1", "won")]
    assert fresh.validate(full=True)["ok"]
    fresh.expire_snapshots(keep_last=1)
    assert os.listdir(data) == [head["files"][0]["path"].split("/")[1]]


def test_every_child_commit_carries_its_parents_state(spark, tmpdir_path):
    """Every snapshot-producing operation derives its commit from the
    head: the new head (read back from disk) carries the parent's
    schemas, max_file_rows, batch fences, high-water mark and DDL
    fences, except what the operation itself changes — rollback takes
    its target's — and records its own committed_at (an ALTER used to
    inherit its parent's)."""
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    fields = ("schemas", "max_file_rows", "batches", "hwm_us", "applied_fences")

    def head(snapshot_id=None):
        return LakeTable(spark, tmpdir_path).commit(snapshot_id)

    def us(s):
        return int(T(s).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

    def step(op, changed=lambda parent: {}):
        parent = head()
        op()
        child = head()
        assert child["parent"] == parent["snapshot_id"]
        want = {**{k: parent.get(k) for k in fields}, **changed(parent)}
        assert {k: child.get(k) for k in fields} == want, child["operation"]

    lang = {"id": 3, "name": "lang", "type": "string"}
    step(lambda: t.alter_add_column("lang", "string", fence_id=5),
         lambda p: {"schemas": p["schemas"] + [p["schemas"][-1] + [lang]],
                    "applied_fences": [5]})
    step(lambda: t.merge(ev(spark, [(1, "I", "u1", T(10), "a"),
                                    (2, "I", "u2", T(11), "b"),
                                    (3, "D", "u3", T(12), None)]),
                         "b1", bounded_lateness_us=60_000_000),
         lambda p: {"batches": ["b1"], "hwm_us": us(12)})
    step(lambda: t.merge(ev(spark, [(4, "U", "u1", T(20), "a2")]), "b2",
                         mode="mor"),
         lambda p: {"batches": ["b1", "b2"], "hwm_us": us(20)})
    step(lambda: t.compact_deltas())
    step(lambda: t.gc_tombstones(T(15)))
    step(lambda: t.rebucket(8))
    step(lambda: t.rollback(2),
         lambda p: {k: head(2).get(k) for k in fields})
    step(lambda: (t.stage_merge(ev(spark, [(5, "I", "u5", T(30), "c")]), "s1"),
                  t.publish_staged("s1")),
         lambda p: {"batches": p["batches"] + ["s1"], "hwm_us": us(30)})

    hist = t.history().orderBy("snapshot_id").collect()
    assert [r.snapshot_id for r in hist] == list(range(9))
    assert [r.operation for r in hist][4:7] == [
        "compact", "gc_tombstones", "rebucket:4->8"]
    at = [r.committed_at for r in hist]
    assert all(a < b for a, b in zip(at, at[1:])), at


def test_widen_column_metadata_only(spark, tmpdir_path):
    """int→bigint widening: zero rewrite, old int-physical files read
    back through the widened id-mapped schema, new files carry bigint,
    non-widening changes rejected."""
    schema = SCHEMA + [("hits", "int")]
    tbl = LakeTable.create(spark, tmpdir_path, schema, n_buckets=4)
    ddl = EV_DDL + ", hits int"
    tbl.merge(
        spark.createDataFrame([(1, "I", "u1", T(1), "a", 7)], ddl), "b1"
    )
    files_before = [f["path"] for f in tbl.commit()["files"]]
    snap_pre = tbl.current_snapshot_id()

    tbl.alter_widen_column("hits", "bigint")
    # metadata-only: same files, no rewrite
    assert [f["path"] for f in tbl.commit()["files"]] == files_before
    got = tbl.read().collect()[0]
    assert got.hits == 7
    assert dict(tbl.read().dtypes)["hits"] == "bigint"
    # time travel to the pre-widen snapshot still reads int
    assert dict(tbl.read(snap_pre).dtypes)["hits"] == "int"

    # post-widen merge: int-typed input is cast to the schema type,
    # LWW across the int-file and bigint-file rows works
    big = (1 << 40)
    tbl.merge(
        spark.createDataFrame(
            [(2, "U", "u1", T(2), "b", big), (3, "I", "u2", T(3), "c", 9)],
            EV_DDL + ", hits bigint",
        ),
        "b2",
    )
    vals = {r.url: r.hits for r in tbl.read().collect()}
    assert vals == {"u1": big, "u2": 9}

    with pytest.raises(ValueError):
        tbl.alter_widen_column("hits", "int")  # narrowing rejected
    with pytest.raises(ValueError):
        tbl.alter_widen_column("text", "bigint")  # non-numeric rejected
    # decimal precision widening (same scale) accepted
    tbl.alter_add_column("price", "decimal(10,2)")
    tbl.alter_widen_column("price", "decimal(20,2)")
    with pytest.raises(ValueError):
        tbl.alter_widen_column("price", "decimal(20,4)")  # scale change


def test_validate_integrity_audit(spark, tbl, tmpdir_path):
    """validate(): clean table passes metadata + full-scan checks;
    injected corruption (deleted data file, forged manifest row count)
    is reported, not silently accepted."""
    import json
    import os

    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(2), "b"),
                         (3, "I", "u3", T(3), "c")]), "b1")
    tbl.merge(ev(spark, [(4, "U", "u1", T(4), "a2")]), "b2")
    res = tbl.validate(full=True)
    assert res["ok"], res["issues"]
    assert res["checked"]["scanned"]

    # corruption 1: delete a data file from under the manifest
    victim = tbl.commit()["files"][0]["path"]
    os.remove(os.path.join(tbl.path, victim))
    res = tbl.validate()
    assert not res["ok"]
    assert any("missing data file" in i for i in res["issues"])

    # corruption 2 (fresh table): forge a manifest row count
    from ais_etl_spark.lake import LakeTable

    d2 = os.path.join(tmpdir_path, "t2")
    t2 = LakeTable.create(spark, d2, SCHEMA, n_buckets=4)
    t2.merge(ev(spark, [(1, "I", "u1", T(1), "a")]), "b1")
    cpath = t2._commit_path(t2.current_snapshot_id())
    c = json.load(open(cpath))
    c["files"][0]["n_rows"] = 999
    json.dump(c, open(cpath, "w"))
    t2 = LakeTable.load(spark, d2)  # commits are cached per instance
    res = t2.validate(full=True)
    assert not res["ok"]
    assert any("row count mismatch" in i for i in res["issues"])


def test_validate_checks_footer_schemas_and_delta_seqs(spark, tmpdir_path):
    """validate(full=True) compares every data file's parquet footer
    with its manifest schema version: a hand-placed file without _seq
    (which the scan's explicit schema would null-fill, silently
    skewing LWW) is reported. A delta entry whose seq is above its
    snapshot id is reported too: reads rank deltas by seq, so it would
    outrank the deltas committed after it."""
    import json

    import pyarrow.parquet as pq

    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    t.merge(ev(spark, [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(2), "b")]), "b1")
    t.merge(ev(spark, [(3, "U", "u1", T(3), "a2")]), "b2", mode="mor")
    assert t.validate(full=True)["ok"]

    victim = next(f for f in t.commit()["files"] if f.get("kind") != "delta")
    p = os.path.join(tmpdir_path, victim["path"])
    pq.write_table(pq.read_table(p).drop_columns(["_seq"]), p)
    d, name = os.path.split(p)
    os.remove(os.path.join(d, f".{name}.crc"))  # Hadoop's stale checksum
    assert t.validate()["ok"]  # the metadata checks cannot see it
    res = t.validate(full=True)
    assert res["issues"] == [f"file lacks columns ['_seq']: {victim['path']}"]

    cpath = t._commit_path(t.current_snapshot_id())
    with open(cpath) as f:
        c = json.load(f)
    for e in c.get("files") or c["files_added"]:
        if e.get("kind") == "delta":
            e["seq"] = c["snapshot_id"] + 1
    with open(cpath, "w") as f:
        json.dump(c, f)
    res = LakeTable.load(spark, tmpdir_path).validate()
    assert any("delta seq above snapshot id" in i for i in res["issues"])


def test_ddl_fence_replay_exactly_once_by_fence_id(spark, tbl):
    """Crash-replay of a DDL epoch whose fence chain ends in a rename:
    idempotency is decided by the durable applied_fences set, never by
    inferring "already applied" from the schema shape — after
    add→widen→rename, a shape check would re-add the renamed column
    (duplicate) or raise on the replayed widen."""
    from ais_etl_spark.schema_evolution import apply_due_schema_events

    evs = [
        {"fence_event_id": 10, "kind": "add_column",
         "col_name": "quality", "col_type": "int"},
        {"fence_event_id": 20, "kind": "widen_column",
         "col_name": "quality", "col_type": "bigint"},
        {"fence_event_id": 30, "kind": "rename_column",
         "col_name": "quality", "new_name": "quality_score"},
    ]
    assert apply_due_schema_events(tbl, evs, 30) == 3
    names = [c["name"] for c in tbl.schema_cols()]
    assert "quality_score" in names and "quality" not in names
    snap = tbl.current_snapshot_id()

    # full-epoch replay: zero re-applies, zero new commits
    assert apply_due_schema_events(tbl, evs, 30) == 0
    assert tbl.current_snapshot_id() == snap
    assert [c["name"] for c in tbl.schema_cols()] == names

    # partial replay window [widen, rename] — the widen must not raise
    # "no column quality" (its target was renamed away)
    assert apply_due_schema_events(tbl, evs[1:], 30) == 0
    assert tbl.current_snapshot_id() == snap

    # the fence set survives data commits and maintenance commits
    df = spark.createDataFrame(
        [(1, "I", "u1", T(1), "a", 7)],
        "event_id bigint, op string, url string, warc_ts timestamp, "
        "text string, quality_score bigint",
    )
    tbl.merge(df, "b1")
    tbl.compact()
    assert tbl.applied_fences() == {10, 20, 30}
    assert apply_due_schema_events(tbl, evs, 30) == 0

    # rollback to the pre-DDL snapshot re-opens the fences WITH the
    # schema they gated, so corrected DDL replay re-applies coherently
    tbl.rollback(0)
    assert tbl.applied_fences() == set()
    assert apply_due_schema_events(tbl, evs, 30) == 3


def test_changes_with_preimages_delta_cdf_dialect(spark, tbl):
    """with_preimages=True: updates emit preimage+postimage rows and
    deletes carry the DELETED row's values (the default dialect's
    delete carries the tombstone's nulls) — the exact feed a delta
    consumer (incremental aggregate maintenance) applies as −old/+new."""
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a"),
                         (2, "I", "u2", T(1), "b")]), "b1")
    s1 = tbl.current_snapshot_id()
    tbl.merge(ev(spark, [(3, "U", "u1", T(2), "a2"),
                         (4, "D", "u2", T(2), None),
                         (5, "I", "u3", T(2), "c")]), "b2")
    rows = {
        (r["url"], r["change_type"]): r["text"]
        for r in tbl.changes(s1, with_preimages=True).collect()
    }
    assert rows == {
        ("u1", "update_preimage"): "a",
        ("u1", "update_postimage"): "a2",
        ("u2", "delete"): "b",
        ("u3", "insert"): "c",
    }
    # default dialect unchanged: one row per change, delete = nulls
    legacy = {
        (r["url"], r["change_type"]): r["text"]
        for r in tbl.changes(s1).collect()
    }
    assert legacy == {
        ("u1", "update"): "a2",
        ("u2", "delete"): None,
        ("u3", "insert"): "c",
    }


def test_changes_preimages_across_schema_evolution(spark, tbl):
    """Pre-images are id-mapped into the TO-snapshot's schema: a
    rename between the snapshots keeps the old values under the new
    name; a column added between them reads null in the pre-image."""
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a")]), "b1")
    s1 = tbl.current_snapshot_id()
    tbl.alter_add_column("quality", "int")
    tbl.alter_rename_column("text", "body")
    df = spark.createDataFrame(
        [(2, "U", "u1", T(2), "a2", 5)],
        "event_id bigint, op string, url string, warc_ts timestamp, "
        "body string, quality int",
    )
    tbl.merge(df, "b2")
    rows = {
        r["change_type"]: (r["body"], r["quality"])
        for r in tbl.changes(s1, with_preimages=True).collect()
    }
    assert rows == {
        "update_preimage": ("a", None),
        "update_postimage": ("a2", 5),
    }


def test_rebucket_layout_evolution(spark, tmpdir_path):
    """rebucket(n): one whole-table rewrite commit; data, lookups,
    merge pruning, batch fences, and the changelog all stay coherent
    under the new layout."""
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=2,
                           max_file_rows=50)
    tbl.merge(
        ev(spark, [(i, "I", f"u{i}", T(i), f"t{i}") for i in range(100)]),
        "b1",
    )
    s_before = tbl.current_snapshot_id()
    before = {r.url: r.text for r in tbl.read().collect()}

    res = tbl.rebucket(8)
    assert res["n_buckets"] == 8 and tbl.commit()["n_buckets"] == 8
    assert {r.url: r.text for r in tbl.read().collect()} == before
    buckets = {f["bucket"] for f in tbl.commit()["files"]}
    assert buckets <= set(range(8)) and len(buckets) > 2

    # same (order, seq) versions → rebucket is changelog-silent, like
    # compaction (carried rows produce no change row)
    assert tbl.changes(s_before).count() == 0

    # point lookup and merge pick the new layout up atomically
    assert [r.text for r in tbl.lookup("u42").collect()] == ["t42"]
    lin = tbl.merge(ev(spark, [(999, "U", "u42", T(999), "new")]), "b2")
    assert lin["buckets_total"] == 8 and lin["buckets_rewritten"] == 1
    assert [r.text for r in tbl.lookup("u42").collect()] == ["new"]

    # exactly-once batch fences survive the rewrite
    assert tbl.merge(ev(spark, [(1, "I", "u1", T(1), "t1")]), "b1") == {}

    # integrity audit passes under the new layout (bucket assignment
    # is re-checked against the NEW n_buckets)
    assert tbl.validate(full=True)["ok"]

    # no-op path
    assert tbl.rebucket(8)["files_before"] == tbl.rebucket(8)["files_after"]


# ---------------------------------------------------------------------------
# delta manifests (Iceberg's manifest-list analog: commit metadata IO
# scales with the change, not the table)
# ---------------------------------------------------------------------------

def _raw_commit(t, snap):
    import json

    with open(t._commit_path(snap)) as f:
        return json.load(f)


def test_delta_manifest_encoding_and_reconstruction(spark, tmpdir_path):
    """Small merges persist as DELTA manifests (adds/removes vs parent,
    no full listing); a whole-table rewrite re-anchors with a FULL one;
    a fresh reader reconstructs every snapshot identically."""
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=8)
    tbl.merge(ev(spark, [(i, "I", f"u{i}", T(i), f"t{i}") for i in range(200)]), "b1")
    tbl.merge(ev(spark, [(999, "U", "u7", T(999), "n7")]), "b2")
    tbl.alter_add_column("lang", "string")
    snap_sc = tbl.current_snapshot_id()

    raw1 = _raw_commit(tbl, 1)   # first merge: everything is new → FULL
    assert "files" in raw1 and raw1["manifest_chain"] == 0
    raw2 = _raw_commit(tbl, 2)   # point update: one-bucket delta
    assert "files" not in raw2 and raw2["manifest_chain"] == 1
    assert 0 < len(raw2["files_added"]) < len(tbl.commit(2)["files"])
    assert set(raw2["files_removed"]) <= {f["path"] for f in tbl.commit(1)["files"]}
    # the append-only batch-fence list is suffix-encoded in deltas
    assert "batches" not in raw2 and raw2["batches_added"] == ["b2"]
    assert tbl.commit(2)["batches"] == ["b1", "b2"]
    raw_sc = _raw_commit(tbl, snap_sc)  # metadata-only DDL: empty delta
    assert "files" not in raw_sc
    assert raw_sc["files_added"] == [] and raw_sc["files_removed"] == []

    # whole-table rewrite fails the strictly-smaller test → FULL again
    tbl.rebucket(4)
    raw_rb = _raw_commit(tbl, tbl.current_snapshot_id())
    assert "files" in raw_rb and raw_rb["manifest_chain"] == 0

    # a fresh reader (empty commit cache) reconstructs every snapshot
    t2 = LakeTable.load(spark, tmpdir_path)
    for s in range(tbl.current_snapshot_id() + 1):
        want = sorted(tbl.commit(s)["files"], key=lambda f: f["path"])
        got = sorted(t2.commit(s)["files"], key=lambda f: f["path"])
        assert got == want, f"snapshot {s} reconstruction differs"
    assert {(r.url, r.text) for r in t2.read().collect()} == \
           {(r.url, r.text) for r in tbl.read().collect()}
    assert t2.validate(full=True)["ok"]


def test_delta_manifest_chain_cap_forces_full(spark, tmpdir_path, monkeypatch):
    import ais_etl_spark.lake.log as log_mod

    monkeypatch.setattr(log_mod, "_MANIFEST_DELTA_CAP", 2)
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    tbl.merge(ev(spark, [(i, "I", f"u{i}", T(i), "x") for i in range(50)]), "b0")
    for i in range(1, 4):
        tbl.merge(ev(spark, [(100 + i, "U", "u7", T(100 + i), f"v{i}")]), f"b{i}")
    # v1 full(chain 0) → v2 delta(1) → v3 delta(2) → v4 hits the cap: FULL
    assert _raw_commit(tbl, 2)["manifest_chain"] == 1
    assert _raw_commit(tbl, 3)["manifest_chain"] == 2
    raw4 = _raw_commit(tbl, 4)
    assert "files" in raw4 and raw4["manifest_chain"] == 0
    t2 = LakeTable.load(spark, tmpdir_path)
    assert [r.text for r in t2.lookup("u7").select("text").collect()] == ["v3"]


def test_expire_reroots_oldest_kept_manifest(spark, tmpdir_path):
    """Expiry must not leave retained DELTA commits dangling into
    deleted history: the oldest kept commit is checkpointed to a FULL
    self-rooted manifest, so fresh loads, time travel within the kept
    window, changes(), and validate()'s chain walk all still work."""
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    tbl.merge(ev(spark, [(i, "I", f"u{i}", T(i), "x") for i in range(50)]), "b1")
    tbl.merge(ev(spark, [(100, "U", "u3", T(100), "y")]), "b2")
    tbl.merge(ev(spark, [(101, "D", "u4", T(101), None)]), "b3")
    assert "files" not in _raw_commit(tbl, 2)  # delta before expiry
    tbl.expire_snapshots(keep_last=2)

    raw2 = _raw_commit(tbl, 2)
    assert "files" in raw2 and raw2["parent"] is None
    assert raw2["expired_parent"] == 1 and raw2["manifest_chain"] == 0

    t2 = LakeTable.load(spark, tmpdir_path)
    assert t2.validate(full=True)["ok"]
    assert {r.url for r in t2.read(snapshot_id=2).collect()} == {f"u{i}" for i in range(50)}
    assert {r.url for r in t2.read().collect()} == {f"u{i}" for i in range(50)} - {"u4"}
    ch = {(r.url, r.change_type) for r in t2.changes(2, 3).collect()}
    assert ch == {("u4", "delete")}
    with pytest.raises(FileNotFoundError):
        t2.commit(1)


def test_latest_pointer_hint(spark, tmpdir_path):
    """current_snapshot_id() is served by the LATEST hint file, but the
    hint is never trusted blindly: a lagging hint (crash between commit
    rename and hint update) probes forward, and a missing or garbage
    hint falls back to the directory listing."""
    import os

    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    tbl.merge(ev(spark, [(1, "I", "u1", T(1), "a")]), "b1")
    tbl.merge(ev(spark, [(2, "U", "u1", T(2), "b")]), "b2")
    lpath = os.path.join(tmpdir_path, "_commits", "LATEST")
    assert open(lpath).read() == "2"

    with open(lpath, "w") as f:  # stale hint: crash before hint update
        f.write("0")
    assert LakeTable.load(spark, tmpdir_path).current_snapshot_id() == 2
    with open(lpath, "w") as f:  # torn/garbage hint
        f.write("not-a-number")
    assert LakeTable.load(spark, tmpdir_path).current_snapshot_id() == 2
    os.remove(lpath)             # pre-hint table layout
    t2 = LakeTable.load(spark, tmpdir_path)
    assert t2.current_snapshot_id() == 2
    assert [r.text for r in t2.read().collect()] == ["b"]


def test_commit_cache_bounded(spark, tmpdir_path, monkeypatch):
    """A long-running writer must not leak driver memory through the
    commit cache: entries past the cap are evicted and transparently
    re-read (and delta-reconstructed) from disk on demand."""
    import ais_etl_spark.lake.log as log_mod

    monkeypatch.setattr(log_mod, "_COMMIT_CACHE_CAP", 3)
    tbl = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    for b in range(6):
        tbl.merge(ev(spark, [(b + 1, "I" if b == 0 else "U",
                              "u1", T(b + 1), f"v{b}")]), f"b{b}")
    assert len(tbl._commit_cache) <= 3
    # evicted snapshots still readable (time travel re-reads the chain)
    assert [r.text for r in tbl.read(snapshot_id=2).collect()] == ["v1"]
    assert [r.text for r in tbl.read().collect()] == ["v5"]
    assert tbl.committed_batch_ids() == {f"b{b}" for b in range(6)}
