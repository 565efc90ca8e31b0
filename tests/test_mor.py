"""Merge-on-read (mode='mor') — CoW parity matrix.

The contract under test: ``merge(mode='mor')`` and ``merge(mode='cow')``
produce IDENTICAL logical table state for any event sequence, in any
interleaving, before and after compaction — only the physical layout
(delta files + read-time LWW resolution vs base-file rewrite) differs.
This mirrors Iceberg's v2 position/equality-delete contract (public
spec) re-expressed as whole-row delta files, which is the natural shape
for a key-ordered CDC upsert stream.

Reference parity note: the reference's offline bucket-to-bucket job
(/root/reference/transformers/tests/test_ffmpeg.py:243-256) always
rewrites destination objects (CoW-only); MoR is the beyond-reference
scale path for update-heavy feeds against large base files.
"""

import datetime as dt
import os

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from ais_etl_spark.lake import LakeTable

SCHEMA = [("url", "string"), ("warc_ts", "timestamp"), ("text", "string")]
EV_DDL = "event_id bigint, op string, url string, warc_ts timestamp, text string"


def T(s):
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)


def ev(spark, rows):
    return spark.createDataFrame(rows, EV_DDL)


B1 = [(1, "I", "u1", T(1), "a"), (2, "I", "u2", T(1), "b"), (3, "I", "u3", T(1), "c")]
B2 = [(4, "U", "u1", T(2), "a2"), (5, "D", "u2", T(2), None), (6, "U", "u1", T(0), "stale")]
B3 = [(7, "I", "u2", T(3), "b2"), (8, "D", "u3", T(3), None), (9, "U", "u9", T(3), "ghost")]


def _apply(table, spark, batches, mode):
    for i, b in enumerate(batches):
        table.merge(ev(spark, b), f"b{i}", mode=mode)
    return table


def _pair(spark, tmpdir_path, batches=(B1, B2, B3), modes=("cow", "mor")):
    out = []
    for m, sub in zip(modes, ("a", "b")):
        t = LakeTable.create(
            spark, os.path.join(tmpdir_path, sub), SCHEMA, n_buckets=4
        )
        out.append(_apply(t, spark, batches, m))
    return out


def rows_of(table, **kw):
    return sorted(tuple(r) for r in table.read(**kw).collect())


def test_read_parity_and_layout(spark, tmpdir_path):
    cow, mor = _pair(spark, tmpdir_path)
    assert rows_of(cow) == rows_of(mor)
    stats = mor.table_stats()
    assert stats["delta_files"] > 0
    # cow holds exactly zero deltas
    assert cow.table_stats()["delta_files"] == 0


def test_mor_lineage_shape(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    t.merge(ev(spark, B1), "b1", mode="mor")
    lin = t.merge(ev(spark, B2), "b2", mode="mor")
    assert lin["mode"] == "mor"
    assert lin["files_rewritten"] == 0 and lin["buckets_rewritten"] == 0
    # batch-local LWW collapses the two u1 events to one winner
    assert lin["upserts"] == 1 and lin["tombstones"] == 1
    assert lin["inserts"] is None and lin["stale_noops"] is None
    # the lineage TABLE carries the mor counters, nulls for cow-only
    row = {r.batch_id: r for r in t.lineage().collect()}["b2"]
    assert row.upserts == 1 and row.tombstones == 1 and row.inserts is None


def test_lookup_parity_including_tombstone_suppression(spark, tmpdir_path):
    cow, mor = _pair(spark, tmpdir_path)
    for k in ("u1", "u2", "u3", "absent"):
        a = sorted(tuple(r) for r in cow.lookup(k).collect())
        b = sorted(tuple(r) for r in mor.lookup(k).collect())
        assert a == b, k
    # u3 was tombstoned by a DELTA file while its base row survives on
    # disk — per-file tombstone filtering would resurrect it
    assert mor.lookup("u3").count() == 0


def test_lookup_spark_fallback_resolves(spark, tmpdir_path):
    mor = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    _apply(mor, spark, (B1, B2, B3), "mor")
    old = LakeTable.LOOKUP_DRIVER_MAX_FILES
    LakeTable.LOOKUP_DRIVER_MAX_FILES = 0  # force the scan path
    try:
        assert mor.lookup("u3").count() == 0
        assert [r.text for r in mor.lookup("u1").collect()] == ["a2"]
    finally:
        LakeTable.LOOKUP_DRIVER_MAX_FILES = old


def test_compact_folds_deltas(spark, tmpdir_path):
    cow, mor = _pair(spark, tmpdir_path)
    before = rows_of(mor)
    res = mor.compact_deltas()
    assert res["buckets"]
    assert mor.table_stats()["delta_files"] == 0
    assert rows_of(mor) == before == rows_of(cow)
    assert mor.validate(full=True)["ok"]
    # idempotent: nothing left to fold
    assert mor.compact_deltas()["buckets"] == []


def test_validate_full_on_dirty_table(spark, tmpdir_path):
    _, mor = _pair(spark, tmpdir_path)
    v = mor.validate(full=True)
    assert v["ok"], v["issues"]


def test_validate_finds_a_base_key_stored_twice(spark, tmpdir_path):
    """Reads assume a snapshot's base files hold each key, live or
    tombstone, at most once: a CoW read is a plain union, and the
    merge-on-read resolver emits a base row no delta shares as it reads
    it. A hand-written second base copy of u2, a tombstone in a bucket
    that also holds a delta, must fail ``validate(full=True)``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=1)
    t.merge(ev(spark, B1), "b0")
    t.merge(ev(spark, [(4, "U", "u1", T(2), "a2")]), "b1", mode="mor")
    assert t.validate(full=True)["ok"]
    c = t.commit()
    base = next(f for f in c["files"] if f.get("kind") != "delta")
    rows = pq.read_table(os.path.join(tmpdir_path, base["path"]))
    rows = rows.filter(pc.equal(rows["url"], "u2")).set_column(
        rows.schema.get_field_index("_deleted"), "_deleted", pa.array([True]))
    path = "data/hand/_bucket=0/part-dup.parquet"
    os.makedirs(os.path.join(tmpdir_path, os.path.dirname(path)))
    pq.write_table(rows, os.path.join(tmpdir_path, path))
    t._next_commit(c, "hand", c["files"] + [
        {**base, "path": path, "min_key": "u2", "max_key": "u2", "n_rows": 1,
         "has_del": True}])
    res = t.validate(full=True)
    assert res["issues"] == ["1 keys present in more than one base row"]


def test_mixed_modes_commute(spark, tmpdir_path):
    cow = LakeTable.create(spark, os.path.join(tmpdir_path, "a"), SCHEMA, n_buckets=4)
    _apply(cow, spark, (B1, B2, B3), "cow")
    mix = LakeTable.create(spark, os.path.join(tmpdir_path, "b"), SCHEMA, n_buckets=4)
    mix.merge(ev(spark, B1), "b0", mode="mor")
    mix.merge(ev(spark, B2), "b1", mode="cow")  # CoW over a dirty table
    mix.merge(ev(spark, B3), "b2", mode="mor")
    assert rows_of(cow) == rows_of(mix)


def test_cow_merge_keeps_the_read_time_winner_on_exact_ties(spark, tmpdir_path):
    """A base row and a delta row tie exactly on (order, seq) — one
    event id redelivered with another payload. Reads pick the delta's
    row (the later file seq); a CoW merge that rewrites both files
    must resolve the key with the same rule, not by payload order."""
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=1)
    t.merge(ev(spark, [(5, "I", "u1", T(1), "zz-base")]), "b0")
    t.merge(ev(spark, [(5, "U", "u1", T(1), "aa-delta")]), "b1", mode="mor")
    assert [r.text for r in t.lookup("u1").collect()] == ["aa-delta"]
    assert [r.text for r in t.read().collect()] == ["aa-delta"]
    # keys on both sides of u1: the batch's range hits both u1 files
    lin = t.merge(ev(spark, [(6, "I", "u0", T(2), "x"), (7, "I", "u2", T(2), "y")]), "b2")
    assert lin["files_rewritten"] == 2
    assert t._delta_buckets(t.commit()["files"]) == set()
    assert {r.url: r.text for r in t.read().collect()} == {
        "u0": "x", "u1": "aa-delta", "u2": "y"
    }


def test_exact_ties_across_delta_files_of_one_scan(spark, tmpdir_path, monkeypatch):
    """Two delta files of one schema version hold u1 with exactly equal
    (order, _seq), one event id redelivered with another payload. The
    manifest seq must rank the later-committed copy first in read(), in
    both lookup paths and in compact_deltas, under a table root Spark
    would report percent-encoded. The rank comes from the manifest, not
    from payload order: swapping the two files' seqs flips the winner."""
    root = os.path.join(tmpdir_path, "t dir %x")
    t = LakeTable.create(spark, root, SCHEMA, n_buckets=1)
    t.merge(ev(spark, [(5, "I", "u1", T(1), "zz-early"), (6, "I", "u2", T(1), "b")]),
            "b0", mode="mor")
    t.merge(ev(spark, [(5, "U", "u1", T(1), "aa-late")]), "b1", mode="mor")
    assert sorted(f["seq"] for f in t.commit()["files"]) == [1, 2]
    want = {"u1": "aa-late", "u2": "b"}
    assert {r.url: r.text for r in t.read().collect()} == want
    assert [r.text for r in t.lookup("u1").collect()] == ["aa-late"]
    with monkeypatch.context() as m:
        m.setattr(LakeTable, "LOOKUP_DRIVER_MAX_FILES", 0)  # the scan path
        assert [r.text for r in t.lookup("u1").collect()] == ["aa-late"]
    c = t.commit()
    swapped = [{**f, "seq": 3 - f["seq"]} for f in c["files"]]
    got = t._resolved_entries_df({**c, "files": swapped}, swapped).collect()
    assert {r.url: r.text for r in got} == {"u1": "zz-early", "u2": "b"}
    assert t.compact_deltas()["buckets"] == [0]
    assert t.table_stats()["delta_files"] == 0
    assert {r.url: r.text for r in t.read().collect()} == want
    assert t.validate(full=True)["ok"]


def test_cow_merge_takes_a_dirty_bucket_whole(spark, tmpdir_path):
    """One bucket, 8 keys, 4 rows per file (k00-k03, k04-k07). A MoR
    update of k02 and k05 leaves one delta spanning both files; a CoW
    update of k04 hits the k04-k07 file and the delta only. Rewriting
    those two alone would turn the delta into a base file next to the
    untouched k00-k03 file, and k02's stale base row would read again
    beside its update: the merge must take the dirty bucket whole."""
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=1, max_file_rows=4)
    t.merge(ev(spark, [(i, "I", f"k{i:02d}", T(1), "v0") for i in range(8)]), "b0")
    assert len(t.commit()["files"]) == 2
    t.merge(ev(spark, [(10, "U", "k02", T(2), "v1"), (11, "U", "k05", T(2), "v1")]),
            "b1", mode="mor")
    lin = t.merge(ev(spark, [(12, "U", "k04", T(3), "v1")]), "b2")
    k02 = sorted(tuple(r) for r in t.read().filter(F.col("url") == "k02").collect())
    assert [r[2] for r in k02] == ["v1"]
    assert sorted(tuple(r) for r in t.lookup("k02").collect()) == k02
    v = t.validate(full=True)
    assert v["ok"], v["issues"]
    assert lin["files_rewritten"] == 3
    assert t._delta_buckets(t.commit()["files"]) == set()


def test_mor_replay_is_fenced(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    t.merge(ev(spark, B1), "b1", mode="mor")
    snap = t.current_snapshot_id()
    assert t.merge(ev(spark, B1), "b1", mode="mor") == {}
    assert t.current_snapshot_id() == snap


def test_changes_parity_all_ranges(spark, tmpdir_path):
    cow, mor = _pair(spark, tmpdir_path)
    for rng in ((0, 1), (1, 2), (2, 3), (1, 3), (0, 3)):
        for pre in (False, True):
            a = sorted(
                tuple(r) for r in cow.changes(*rng, with_preimages=pre).collect()
            )
            b = sorted(
                tuple(r) for r in mor.changes(*rng, with_preimages=pre).collect()
            )
            assert a == b, (rng, pre)


def test_changes_stale_delta_is_silent(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    t.merge(ev(spark, B1), "b0", mode="mor")
    t.merge(ev(spark, [(0, "U", "u1", T(0), "very-stale")]), "b1", mode="mor")
    assert t.changes(1, 2).count() == 0
    assert sorted(r.text for r in t.read().collect()) == ["a", "b", "c"]


def test_order_pruned_read_parity_on_dirty_table(spark, tmpdir_path):
    """Windowed reads (order_min/order_max file skipping) on a MoR-dirty
    table must equal the CoW twin: a delta file whose newer version or
    tombstone shadows an in-window base row must never be pruned away
    (pruning before LWW resolution would resurrect the stale base row —
    the r5 ADVICE latent bug). A bucket holding a delta file is read
    whole once any of its files is in the window; clean buckets keep
    metrics skipping."""
    # base at T(1); the delta rewrites u1 far in the future and
    # tombstones u2 far in the future — a read windowed to [T(0),T(10)]
    # must see NEITHER the stale u1 base row NOR the deleted u2.
    upd = [(4, "U", "u1", T(10**6), "late-win"), (5, "D", "u2", T(10**6), None)]
    out = {}
    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark, os.path.join(tmpdir_path, mode), SCHEMA, n_buckets=4
        )
        t.merge(ev(spark, B1), "b0")
        t.merge(ev(spark, upd), "b1", mode=mode)
        out[mode] = sorted(
            (r["url"], r["warc_ts"], r["text"])
            for r in t.read(order_min=T(0), order_max=T(10))
            .filter((F.col("warc_ts") >= T(0)) & (F.col("warc_ts") <= T(10)))
            .collect()
        )
    assert out["mor"] == out["cow"] == [("u3", T(1), "c")]


def test_order_pruned_read_skips_a_dirty_bucket_outside_the_window(
    spark, tmpdir_path
):
    """A bucket holding a delta whose files all lie outside the window
    is pruned like a clean one: none of its versions can pass the
    window filter. u1 (bucket 3 of 4) is updated by a delta near its
    base row; u9 and u3's tombstone land in the window in bucket 2,
    whose out-of-window u3 base row must still be read with them."""
    lo, hi = T(100), T(200)
    upd = [(4, "U", "u1", T(2), "a2")]
    late = [(7, "I", "u9", T(150), "new"), (8, "D", "u3", T(160), None)]
    out, tabs = {}, {}
    for mode in ("cow", "mor"):
        t = tabs[mode] = LakeTable.create(
            spark, os.path.join(tmpdir_path, mode), SCHEMA, n_buckets=4
        )
        t.merge(ev(spark, B1), "b0")
        t.merge(ev(spark, upd), "b1", mode=mode)
        t.merge(ev(spark, late), "b2", mode=mode)
        out[mode] = sorted(
            (r["url"], r["warc_ts"], r["text"])
            for r in t.read(order_min=lo, order_max=hi)
            .filter((F.col("warc_ts") >= lo) & (F.col("warc_ts") <= hi))
            .collect()
        )
    assert out["mor"] == out["cow"] == [("u9", T(150), "new")]
    mor = tabs["mor"]
    c = mor.commit()
    lo_us, hi_us = mor._order_micros(lo), mor._order_micros(hi)
    taken, _ = mor._split_files(
        c, lambda f: f["min_order"] <= hi_us and f["max_order"] >= lo_us
    )
    assert mor._delta_buckets(c["files"]) == {2, 3}
    # bucket 2 is taken whole (its base file too), bucket 3 not at all
    assert {f["bucket"] for f in taken} == {2}
    assert len(taken) == sum(f["bucket"] == 2 for f in c["files"]) == 2


def test_time_travel_reads_resolve_per_snapshot(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    _apply(t, spark, (B1, B2, B3), "mor")
    assert sorted(r.url for r in t.read(snapshot_id=1).collect()) == ["u1", "u2", "u3"]
    assert {r.url: r.text for r in t.read(snapshot_id=2).collect()} == {
        "u1": "a2", "u3": "c"
    }
    # U for a never-seen key upserts (u9), same as the CoW semantics
    assert {r.url: r.text for r in t.read(snapshot_id=3).collect()} == {
        "u1": "a2", "u2": "b2", "u9": "ghost"
    }


def test_gc_tombstones_folds_shadowing_deltas(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    t.merge(ev(spark, B1), "b0", mode="mor")
    t.merge(ev(spark, [(4, "D", "u1", T(5), None)]), "b1", mode="mor")
    assert sorted(r.url for r in t.read().collect()) == ["u2", "u3"]
    # expiring the delta tombstone must NOT resurrect u1's base row
    t.gc_tombstones(older_than=T(100))
    assert sorted(r.url for r in t.read().collect()) == ["u2", "u3"]
    assert t.validate(full=True)["ok"]


def test_schema_evolution_with_deltas(spark, tmpdir_path):
    t = LakeTable.create(spark, tmpdir_path, SCHEMA, n_buckets=4)
    t.merge(ev(spark, B1), "b0", mode="mor")
    t.alter_add_column("lang", "string")
    rows = [(10, "U", "u1", T(5), "a3", "en")]
    df = spark.createDataFrame(rows, EV_DDL + ", lang string")
    t.merge(df, "b1", mode="mor")
    got = {r.url: (r.text, r.lang) for r in t.read().collect()}
    # pre-DDL rows (base AND resolution path) read lang as null
    assert got == {"u1": ("a3", "en"), "u2": ("b", None), "u3": ("c", None)}


# ---------------------------------------------------------------------------
# property: CoW and MoR converge to the same logical state for ANY
# event sequence and ANY batch split (the MoR analog of the replay
# property in test_properties.py)
# ---------------------------------------------------------------------------

_op = st.sampled_from(["I", "U", "D"])
_url = st.sampled_from(["u1", "u2", "u3", "u4", "u5"])
_events = st.lists(
    st.tuples(_op, _url, st.integers(min_value=0, max_value=20)),
    min_size=1,
    max_size=24,
)


@given(
    _events,
    st.integers(min_value=1, max_value=4),
    st.booleans(),
    st.lists(st.sampled_from(["cow", "mor"]), min_size=4, max_size=4),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_property_cow_mor_parity(spark, tmpdir_path, events, n_batches, fold,
                                 mixed):
    import shutil
    import tempfile

    rows = [
        (i, op, url, T(ts), None if op == "D" else f"{url}@{ts}#{i}")
        for i, (op, url, ts) in enumerate(events)
    ]
    step = len(rows) // n_batches + 1
    d = tempfile.mkdtemp(prefix="mor-prop-", dir=tmpdir_path)
    try:
        tabs = []
        # the mixed leg draws the mode per batch and keeps every key in
        # one bucket of 2-row files, so a CoW merge can hit part of a
        # bucket that holds a delta
        for modes, sub, layout in (
            (["cow"] * 4, "a", {"n_buckets": 4}),
            (["mor"] * 4, "b", {"n_buckets": 4}),
            (mixed, "c", {"n_buckets": 1, "max_file_rows": 2}),
        ):
            t = LakeTable.create(spark, os.path.join(d, sub), SCHEMA, **layout)
            for b in range(n_batches):
                chunk = rows[b * step:(b + 1) * step]
                if chunk:
                    t.merge(ev(spark, chunk), f"b{b}", mode=modes[b])
            tabs.append(t)
        cow, mor, mix = tabs
        if fold:
            mor.compact_deltas()
            mix.compact_deltas()
        assert rows_of(cow) == rows_of(mor) == rows_of(mix)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_small_delta_on_large_base_agrees_with_cow(spark, tmpdir_path):
    """A tiny delta on a big base: the resolver emits each base row whose
    key no delta holds as it reads it and ranks only the keys a delta
    shares, and the rows must equal a copy-on-write twin's, whose merge
    resolves every key of the batch against the base."""
    base = [(i, "I", f"u{i}", T(i), f"v{i}") for i in range(40)]
    delta = [(100, "U", "u3", T(100), "v3b"), (101, "D", "u7", T(100), None),
             (102, "I", "u99", T(100), "new"), (103, "U", "u5", T(0), "stale")]
    tabs = []
    for sub, mode in (("cow", "cow"), ("mor", "mor")):
        t = LakeTable.create(spark, os.path.join(tmpdir_path, sub), SCHEMA, n_buckets=2)
        t.merge(ev(spark, base), "b0")  # CoW base files
        t.merge(ev(spark, delta), "b1", mode=mode)
        tabs.append(t)
    cow, mor = tabs
    assert mor.table_stats()["delta_files"] > 0
    assert rows_of(mor, include_internal=True) == rows_of(cow, include_internal=True)
    got = {r[0]: r[2] for r in rows_of(mor)}
    assert got["u3"] == "v3b" and "u7" not in got
    assert got["u99"] == "new" and got["u5"] == "v5"  # stale delta lost
