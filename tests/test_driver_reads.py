"""Driver-side reads launch no Spark job.

Point lookups below ``LOOKUP_DRIVER_MAX_FILES`` and the empty
``quarantine()``/``lineage()`` frames are built from driver-held data
as Arrow ``LocalRelation``s (:func:`ais_etl_spark.session.local_frame`),
so collecting them runs on the driver. A frame built by
``createDataFrame`` over a Python list would instead run one
Python-worker task per default partition on every action."""

import contextlib
import datetime as dt
import io
import os
import uuid

import pyarrow as pa
import pytest

from ais_etl_spark.lake import LakeTable
from ais_etl_spark.session import local_frame

SCHEMA = [("url", "string"), ("warc_ts", "timestamp"), ("text", "string")]
EV_DDL = "event_id bigint, op string, url string, warc_ts timestamp, text string"


def T(s):
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)


B1 = [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(1), "b"), (3, "I", "u3", T(1), "c")]
B2 = [(4, "U", "u1", T(2), "a2"), (5, "D", "u3", T(2), None)]


def jobs_of(spark, fn):
    """(result of fn(), ids of the Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"driver-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _two_merges(spark, path, mode):
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=4)
    for i, b in enumerate((B1, B2)):
        t.merge(spark.createDataFrame(b, EV_DDL), f"b{i}", mode=mode)
    return t


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_lookup_launches_no_job(spark, tmpdir_path, mode):
    t = _two_merges(spark, tmpdir_path, mode)
    kinds = {f.get("kind") for f in t.commit()["files"]}
    assert ("delta" in kinds) == (mode == "mor")
    expect = {"u1": [("u1", T(2), "a2")], "absent": [], "u3": []}
    for key, rows in expect.items():
        got, jobs = jobs_of(spark, lambda: t.lookup(key).collect())
        assert [tuple(r) for r in got] == rows, key
        assert jobs == [], (key, jobs)


def test_empty_quarantine_and_lineage_launch_no_job(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    for frame in (t.quarantine, t.lineage):
        got, jobs = jobs_of(spark, lambda: frame().collect())
        assert got == [] and jobs == [], frame.__name__


def test_empty_lineage_is_the_sessions_cached_empty_frame(spark, tmpdir_path):
    """``lineage()`` builds its frame through ``local_frame``: with no
    merge yet it is the session's one empty frame for its schema."""
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    assert t.lineage() is t.lineage()
    assert t.lineage().schema.simpleString().startswith(
        "struct<batch_id:string,snapshot_id:bigint,source_part:int,")


def test_lineage_without_expiry_launches_no_job(spark, tmpdir_path):
    """Without an expiry every lineage row comes from a retained
    manifest, so the frame is a driver-built LocalRelation and the merges
    wrote no ``_lineage/`` file."""
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    for i, (b, mode) in enumerate(((B1, "cow"), (B2, "mor"))):
        t.merge(spark.createDataFrame(b, EV_DDL), f"b{i}", mode=mode)
    got, jobs = jobs_of(spark, lambda: t.lineage().collect())
    assert sorted((r.batch_id, r.inserts) for r in got) == [("b0", 3), ("b1", None)]
    assert jobs == []
    assert not os.path.exists(os.path.join(tmpdir_path, "_lineage"))


def test_local_frame_types_match_ddl(spark):
    ddl = "k string, ts timestamp, n bigint, v array<double>"
    rows = [("a", T(1), 1, [0.5, 1.5]), (None, None, None, None)]
    df = local_frame(spark, rows, ddl)
    assert df.schema == spark.createDataFrame(rows, ddl).schema
    got, jobs = jobs_of(spark, df.collect)
    assert [tuple(r) for r in got] == rows and jobs == []
    # an Arrow table is selected and cast to the DDL by column name
    tbl = pa.table({"n": pa.array([7], pa.int32()), "k": ["x"], "extra": [0]})
    df = local_frame(spark, tbl, "k string, n bigint")
    assert df.dtypes == [("k", "string"), ("n", "bigint")]
    assert [tuple(r) for r in df.collect()] == [("x", 7)]
    assert local_frame(spark, [], ddl).schema == spark.createDataFrame([], ddl).schema


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_lookup_frames_follow_alter(spark, tmpdir_path, mode):
    """The schema cache is keyed by DDL string: after an ADD COLUMN and
    after a RENAME, a hit and a miss carry the new schema."""
    t = _two_merges(spark, tmpdir_path, mode)
    assert t.lookup("absent").columns == ["url", "warc_ts", "text"]
    t.alter_add_column("lang", "string")
    hit, miss = t.lookup("u1"), t.lookup("absent")
    assert hit.columns == miss.columns == ["url", "warc_ts", "text", "lang"]
    assert [tuple(r) for r in hit.collect()] == [("u1", T(2), "a2", None)]
    t.alter_rename_column("text", "body")
    hit, miss = t.lookup("u1"), t.lookup("absent")
    assert hit.columns == miss.columns == ["url", "warc_ts", "body", "lang"]
    assert hit.collect()[0].body == "a2" and miss.collect() == []


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_warm_lookup_parses_no_ddl_and_reuses_the_empty_frame(
    spark, tmpdir_path, monkeypatch, mode
):
    """After one call per schema, a hit, a miss and a tombstoned key
    make no JVM DDL parse and launch no job, and every miss is the one
    cached empty frame."""
    from pyspark.sql import SparkSession
    from pyspark.sql.types import DataType

    t = _two_merges(spark, tmpdir_path, mode)
    for key in ("u1", "absent", "u3"):
        t.lookup(key).collect()
    parses = []
    real_from_ddl, real_parse = DataType.fromDDL.__func__, SparkSession._parse_ddl
    monkeypatch.setattr(DataType, "fromDDL", classmethod(
        lambda cls, ddl: parses.append(ddl) or real_from_ddl(cls, ddl)))
    monkeypatch.setattr(SparkSession, "_parse_ddl",
                        lambda self, ddl: parses.append(ddl) or real_parse(self, ddl))
    frames = {}
    for key in ("u1", "absent", "u3", "absent"):
        frames.setdefault(key, []).append(t.lookup(key))
        got, jobs = jobs_of(spark, frames[key][-1].collect)
        assert jobs == [], (key, jobs)
    assert parses == []
    assert frames["absent"][0] is frames["absent"][1] is frames["u3"][0]
    assert frames["u1"][0].collect()[0].text == "a2"


def test_new_session_gets_its_own_frames(spark, tmpdir_path):
    """A cached frame is never handed to another session."""
    ddl = "k string, n bigint"
    other = spark.newSession()
    mine, theirs = local_frame(spark, [], ddl), local_frame(other, [], ddl)
    assert mine is local_frame(spark, [], ddl)
    assert theirs is not mine and theirs.sparkSession is other
    t = _two_merges(spark, tmpdir_path, "cow")
    miss = LakeTable(other, tmpdir_path).lookup("absent")
    assert miss.sparkSession is other and miss is not t.lookup("absent")
    assert miss.collect() == []


def test_session_turns_off_call_site_capture(spark, monkeypatch):
    """Every Column/DataFrame call would otherwise walk the Python
    stack and set the call site in the JVM."""
    from pyspark.errors import utils

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert not utils.is_debugging_enabled()


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _mor_batches(spark, path, n_batches=3):
    """16 buckets, ``n_batches`` merge-on-read batches of 128 keys, each
    over a CoW base of the same keys: every bucket is dirty."""
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=16)
    t.merge(spark.createDataFrame(
        [(i, "I", f"u{i}", T(0), "v") for i in range(128)], EV_DDL), "base")
    for b in range(n_batches):
        rows = [(1000 * (b + 1) + i, "U", f"u{i}", T(b + 1), f"v{b}")
                for i in range(128)]
        t.merge(spark.createDataFrame(rows, EV_DDL), f"b{b}", mode="mor")
    return t


def test_mor_read_resolves_dirty_buckets_in_one_arrow_pass(spark, tmpdir_path):
    """Three merge-on-read batches over 16 buckets leave more than 32
    delta files: the read plans ONE resolver, a ``MapInArrow`` over the
    driver-held frame of dirty buckets, with no parquet scan (a dirty
    bucket's files are read by the resolver) and no exchange, and
    building it launches no job. After an ALTER and one more batch the
    read still plans one resolver, which maps both schema versions."""
    t = _mor_batches(spark, tmpdir_path)
    files = t.commit()["files"]
    assert len(files) > 32 and len({f.get("seq") for f in files}) == 4
    df, jobs = jobs_of(spark, t.read)
    assert jobs == []
    plan = plan_of(df)
    assert plan.count("MapInArrow resolve_partition") == 1
    assert "LocalTableScan" in plan
    assert "FileScan parquet" not in plan and "Exchange" not in plan
    assert {(r.url, r.text) for r in df.collect()} == {
        (f"u{i}", "v2") for i in range(128)
    }

    t.alter_add_column("lang", "string")
    rows = [(9000 + i, "U", f"u{i}", T(9), "v9", "en") for i in range(0, 128, 2)]
    t.merge(spark.createDataFrame(rows, EV_DDL + ", lang string"), "b3", mode="mor")
    df = t.read()
    assert plan_of(df).count("MapInArrow resolve_partition") == 1
    got = {r.url: (r.text, r.lang) for r in df.collect()}
    assert got == {f"u{i}": ("v9", "en") if i % 2 == 0 else ("v2", None)
                   for i in range(128)}


def test_clean_read_of_many_files_plans_one_scan_without_a_job(spark, tmpdir_path):
    """A delta-free read of more than 32 files of one schema version
    plans one parquet scan, and building it launches no job (Spark's
    default lists more than 32 explicit paths in a job of its own,
    which the control below shows)."""
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=16, max_file_rows=2)
    t.merge(spark.createDataFrame(
        [(i, "I", f"u{i}", T(0), "v") for i in range(128)], EV_DDL), "b0")
    assert len(t.commit()["files"]) > 32
    df, jobs = jobs_of(spark, t.read)
    assert jobs == []
    assert plan_of(df).count("FileScan parquet") == 1
    assert df.count() == 128
    old = spark.conf.get(threshold)
    spark.conf.set(threshold, "32")
    try:
        _, jobs = jobs_of(spark, t.read)
    finally:
        spark.conf.set(threshold, old)
    assert jobs, "a listing job should run at Spark's default threshold"


def test_dirty_read_aggregate_launches_two_jobs(spark, tmpdir_path):
    """A per-lang aggregate over a dirty merge-on-read read runs the
    resolver and the partial aggregate in one map stage: two jobs (its
    shuffle-map stage and the result), the same as the aggregate over
    the delta-free table the fold leaves."""
    t = _mor_batches(spark, tmpdir_path)

    def agg():
        return sorted(tuple(r) for r in t.read().groupBy("text").count().collect())

    agg()
    got, jobs = jobs_of(spark, agg)
    assert got == [("v2", 128)] and len(jobs) == 2
    t.compact_deltas()
    agg()
    got, jobs = jobs_of(spark, agg)
    assert got == [("v2", 128)] and len(jobs) == 2


def test_lookup_fallback_passes_the_key_to_the_resolver(spark, tmpdir_path):
    """The Spark lookup fallback hands the key to the resolver's file
    reads: its frame holds that key's rows before any Spark filter."""
    t = _mor_batches(spark, tmpdir_path, n_batches=1)
    c = t.commit()
    got = t._resolved_entries_df(c, c["files"], "u5").collect()
    assert [(r.url, r.text) for r in got] == [("u5", "v0")]
    t.LOOKUP_DRIVER_MAX_FILES = 0  # this table only: the Spark fallback
    assert [(r.url, r.text) for r in t.lookup("u5").collect()] == [("u5", "v0")]


def test_ensure_parallelism_spreads_one_file_scan(spark, tmp_path):
    """The contract's input-skew fix spreads a one-file scan over one
    partition per core; building the plan runs no job."""
    from ais_etl_spark.contract import ensure_parallelism

    one = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(one)
    narrow = spark.read.parquet(one)
    assert narrow.rdd.getNumPartitions() == 1
    out, jobs = jobs_of(spark, lambda: ensure_parallelism(narrow))
    assert jobs == []
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 100
