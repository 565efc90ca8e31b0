"""Streaming ingest: checkpoint resume, exactly-once, schema fences,
and the replay-equality oracle (incremental result == full-batch LWW
replay — BASELINE.json's correctness bar)."""

import os

from pyspark.sql import functions as F

from ais_etl_spark.feed import synth_cdc_feed
from ais_etl_spark.operators.lww import lww_latest
from ais_etl_spark.streaming import run_ingest, write_feed_chunks
from ais_etl_spark.streaming.ingest import enrich_events, event_id_chunks


def _expected_final(feed):
    return (
        lww_latest(enrich_events(feed))
        .filter("op <> 'D'")
        .select("url", "warc_ts", "text", "lang")
    )


def test_ingest_resume_fences_replay_equality(spark, tmpdir_path):
    feed_dir = os.path.join(tmpdir_path, "feed")
    tbl_dir = os.path.join(tmpdir_path, "tbl")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    feed = synth_cdc_feed(spark, n_events=2000, n_urls=300, seed=7).cache()

    sev = [
        {"fence_event_id": 1600, "kind": "add_column",
         "col_name": "quality", "col_type": "double"},
        {"fence_event_id": 1900, "kind": "rename_column",
         "col_name": "quality", "new_name": "qscore"},
    ]

    # phase 1: first 2 binlog segments
    write_feed_chunks(feed.filter("event_id < 1200"), feed_dir, 2)
    tbl = run_ingest(spark, feed_dir, tbl_dir, ckpt, schema_events=sev)
    assert tbl.read().count() > 0
    assert [c["name"] for c in tbl.schema_cols()] == [
        "url", "warc_ts", "html", "text", "lang"]  # fences not reached yet

    # phase 2: kill/resume — same checkpoint, new segment lands
    feed.filter("event_id >= 1200").write.parquet(
        os.path.join(feed_dir, "chunk-late.parquet"))
    tbl = run_ingest(spark, feed_dir, tbl_dir, ckpt, schema_events=sev)
    assert [c["name"] for c in tbl.schema_cols()] == [
        "url", "warc_ts", "html", "text", "lang", "qscore"]

    # phase 3: resume with nothing new — must be a pure no-op
    snap = tbl.current_snapshot_id()
    n = tbl.read().count()
    tbl = run_ingest(spark, feed_dir, tbl_dir, ckpt, schema_events=sev)
    assert tbl.current_snapshot_id() == snap and tbl.read().count() == n

    # replay equality: incremental == full-batch replay
    expected = _expected_final(feed)
    actual = tbl.read().select("url", "warc_ts", "text", "lang")
    assert expected.exceptAll(actual).count() == 0
    assert actual.exceptAll(expected).count() == 0

    # exactly-once evidence: lineage is one row per (batch, source
    # partition), each batch applied once
    pairs = [(r.batch_id, r.source_part) for r in tbl.lineage().collect()]
    assert len(pairs) == len(set(pairs))
    assert set(tbl.commit()["batches"]) == {b for b, _ in pairs}
    feed.unpersist()


def test_text_byte_identical_through_pipeline(spark, tmpdir_path):
    """Per-row invariant: text in the final table == pure-Python
    extraction of the winning event's html."""
    from ais_etl_spark.html import extract_text_bytes

    feed_dir = os.path.join(tmpdir_path, "feed")
    feed = synth_cdc_feed(spark, n_events=400, n_urls=80, seed=23)
    write_feed_chunks(feed, feed_dir, 1)
    tbl = run_ingest(
        spark, feed_dir, os.path.join(tmpdir_path, "t"), os.path.join(tmpdir_path, "c")
    )
    rows = tbl.read().select("url", "html", "text").collect()
    assert rows
    for r in rows:
        assert r.text == extract_text_bytes(bytes(r.html))


def test_ingest_with_inline_maintenance(spark, tmpdir_path):
    """maintenance_every compacts + expires snapshots inside the loop;
    the final state still equals the full-batch LWW replay and batch
    replay stays exactly-once across maintenance snapshots."""
    feed_dir = os.path.join(tmpdir_path, "feed")
    tbl_dir = os.path.join(tmpdir_path, "tbl")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    feed = synth_cdc_feed(spark, n_events=1500, n_urls=200, seed=11).cache()
    write_feed_chunks(feed, feed_dir, n_chunks=3)

    table = run_ingest(
        spark, feed_dir=feed_dir, table_path=tbl_dir, checkpoint_dir=ckpt,
        max_files_per_trigger=1, maintenance_every=1, keep_snapshots=2,
    )
    got = {(r.url, r.text) for r in table.read().collect()}
    want = {(r.url, r.text) for r in _expected_final(feed).collect()}
    assert got == want
    # expiry really ran: only the retained snapshots remain on disk
    # (the LATEST head-pointer hint is not a commit — exclude it)
    commits = [
        f for f in os.listdir(os.path.join(tbl_dir, "_commits"))
        if f.endswith(".json")
    ]
    assert len(commits) <= 2
    # lineage survives expiry: one row per (batch, source partition)
    # of every applied batch
    pairs = [(r.batch_id, r.source_part) for r in table.lineage().collect()]
    assert len(pairs) == len(set(pairs))
    assert {b for b, _ in pairs} == set(table.commit()["batches"])
    # a resumed run with no new files applies nothing new
    table2 = run_ingest(
        spark, feed_dir=feed_dir, table_path=tbl_dir, checkpoint_dir=ckpt,
        maintenance_every=1,
    )
    assert {(r.url, r.text) for r in table2.read().collect()} == want


def test_streaming_curated_ingest(spark, tmpdir_path):
    """The streaming loop with a pluggable transform: curate_events
    through foreachBatch produces the same final state as batch merges
    with the same transform (the curated contract path)."""
    from ais_etl_spark.lake import LakeTable
    from ais_etl_spark.transforms.curate import CURATED_PAGES_SCHEMA, curate_events

    feed_dir = os.path.join(tmpdir_path, "feed")
    feed = synth_cdc_feed(spark, n_events=600, n_urls=120, seed=31).cache()
    write_feed_chunks(feed, feed_dir, n_chunks=2)
    tbl = run_ingest(
        spark, feed_dir, os.path.join(tmpdir_path, "t"),
        os.path.join(tmpdir_path, "c"),
        transform=curate_events, table_schema=CURATED_PAGES_SCHEMA,
    )
    assert "simhash" in tbl.read().columns and "quality_keep" in tbl.read().columns

    ref = LakeTable.create(
        spark, os.path.join(tmpdir_path, "ref"), CURATED_PAGES_SCHEMA,
        key="url", order_col="warc_ts", n_buckets=16,
    )
    ref.merge(feed, "b0", post_dedup_transform=curate_events)
    got = {tuple(r) for r in tbl.read().drop("html").collect()}
    want = {tuple(r) for r in ref.read().drop("html").collect()}
    assert got == want
    feed.unpersist()


def test_bounded_lateness_quarantines_late_events(spark, tmpdir_path):
    """dedup_within_watermark=True: an event older than (high-water
    mark − watermark_delay) must NOT merge; it lands in _quarantine
    with reason='late' and is counted in lineage as late_events —
    the observable skip-and-count policy (never a silent drop)."""
    from datetime import datetime

    from ais_etl_spark.streaming.ingest import FEED_SCHEMA

    feed_dir = os.path.join(tmpdir_path, "feed")
    tbl_dir = os.path.join(tmpdir_path, "tbl")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    os.makedirs(feed_dir)
    ident = lambda df: df  # noqa: E731 — payloadless feed, no html

    def rows(batch):
        return spark.createDataFrame(batch, FEED_SCHEMA)

    # batch 1: hwm advances to 12:00
    rows([
        (1, "I", "u1", datetime(2026, 1, 1, 10, 0), 0, 1, None),
        (2, "I", "u2", datetime(2026, 1, 1, 12, 0), 0, 2, None),
    ]).coalesce(1).write.parquet(os.path.join(feed_dir, "c0.parquet"))
    tbl = run_ingest(
        spark, feed_dir, tbl_dir, ckpt, watermark_delay="1 hour",
        dedup_within_watermark=True, transform=ident,
    )
    assert tbl.commit()["hwm_us"] == 1_767_268_800_000_000  # 2026-01-01T12:00Z µs

    # batch 2: one on-time event + one event older than 12:00 − 1 h
    rows([
        (3, "U", "u1", datetime(2026, 1, 1, 12, 30), 0, 3, None),
        (4, "I", "late-url", datetime(2026, 1, 1, 9, 0), 0, 4, None),
    ]).coalesce(1).write.parquet(os.path.join(feed_dir, "c1.parquet"))
    tbl = run_ingest(
        spark, feed_dir, tbl_dir, ckpt, watermark_delay="1 hour",
        dedup_within_watermark=True, transform=ident,
    )

    snap = {r["url"]: r for r in tbl.read().collect()}
    assert "late-url" not in snap  # late event excluded from the merge
    assert snap["u1"]["warc_ts"] == datetime(2026, 1, 1, 12, 30)

    q = tbl.quarantine().collect()
    late = [r for r in q if r["reason"] == "late"]
    assert len(late) == 1 and late[0]["url"] == "late-url"
    assert tbl.commit()["lineage"]["late_events"] == 1
    # hwm advanced on the on-time event
    assert tbl.commit()["hwm_us"] == 1_767_268_800_000_000 + 30 * 60 * 1_000_000

    # default mode regression guard: same late event WITHOUT the flag
    # merges fine (unbounded lateness is the exact default contract)
    tbl2_dir = os.path.join(tmpdir_path, "tbl2")
    tbl2 = run_ingest(
        spark, feed_dir, tbl2_dir, os.path.join(tmpdir_path, "ckpt2"),
        transform=ident,
    )
    assert "late-url" in {r["url"] for r in tbl2.read().collect()}


def test_ddl_fence_at_batch_lower_bound(spark, tmpdir_path):
    """A fence whose fence_event_id EQUALS the batch's first event_id
    gates the entire batch: it must apply before any row merges, even
    when another fence falls strictly inside the same batch (the old
    strict lo < fence filter dropped it exactly when the catch-up
    branch didn't run, silently merging the head rows under the
    pre-DDL schema)."""
    from ais_etl_spark.lake import LakeTable
    from ais_etl_spark.streaming.ingest import apply_cdc_batch
    from datetime import datetime, timedelta

    tbl = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"),
        [("url", "string"), ("warc_ts", "timestamp"), ("text", "string")],
        n_buckets=4,
    )
    sev = [
        {"fence_event_id": 100, "kind": "add_column",
         "col_name": "quality", "col_type": "double"},
        {"fence_event_id": 110, "kind": "add_column",
         "col_name": "badge", "col_type": "string"},
    ]
    t0 = datetime(2026, 1, 1)
    rows = [
        (i, "I", f"u{i}", t0 + timedelta(seconds=i), f"t{i}",
         float(i), f"b{i}")
        for i in range(100, 120)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id bigint, op string, url string, warc_ts timestamp, "
        "text string, quality double, badge string",
    )
    apply_cdc_batch(tbl, events, "b1", schema_events=sev,
                    transform=lambda df: df)
    got = {r["url"]: (r["quality"], r["badge"]) for r in tbl.read().collect()}
    # head rows [100, 110): quality fence (== lo) applied BEFORE them;
    # badge fence (@110) after them
    assert got["u100"] == (100.0, None)
    assert got["u109"] == (109.0, None)
    # tail rows [110, 120): both columns live
    assert got["u110"] == (110.0, "b110")
    assert got["u119"] == (119.0, "b119")

    # epoch replay: batch fences + DDL fence ids both hold
    snap = tbl.current_snapshot_id()
    apply_cdc_batch(tbl, events, "b1", schema_events=sev,
                    transform=lambda df: df)
    assert tbl.current_snapshot_id() == snap


def _ids(df):
    return sorted(r.event_id for r in df.select("event_id").collect())


def test_event_id_chunks_are_ordered_disjoint_and_cover_the_feed(spark):
    """Every replay splits its feed through event_id_chunks: the chunks
    must be disjoint event_id ranges, in order, that together hold
    every event — including ranges with gaps and spans that do not
    divide evenly."""
    for lo, hi in ((5, 1004), (5, 1005)):
        feed = spark.range(lo, hi + 1).select(F.col("id").alias("event_id")).filter(
            "event_id % 7 <> 3"
        )
        want = _ids(feed)
        for n in (1, 2, 3, 4, 7):
            chunks = [_ids(c) for c in event_id_chunks(feed, n)]
            assert len(chunks) == n
            assert [e for c in chunks for e in c] == want
        first, second = event_id_chunks(feed, 2)
        mid = (want[0] + want[-1]) // 2
        assert _ids(first) == [e for e in want if e <= mid]
        assert _ids(second) == [e for e in want if e > mid]


def test_event_id_chunks_of_an_empty_feed_is_empty(spark):
    feed = spark.range(0).withColumnRenamed("id", "event_id")
    assert event_id_chunks(feed, 3) == []


def test_write_feed_chunks_derives_its_input_once(spark, tmpdir_path):
    """``write_feed_chunks`` runs its input's plan once per row, not
    once per chunk: a Python UDF in the input bumps an accumulator on
    every call."""
    calls = spark.sparkContext.accumulator(0)

    def bump(i):
        calls.add(1)
        return i

    n = 400
    feed = spark.range(n).select(F.udf(bump, "bigint")("id").alias("event_id"))
    feed_dir = os.path.join(tmpdir_path, "feed")
    write_feed_chunks(feed, feed_dir, 4)
    assert calls.value == n
    assert not feed.is_cached
    written = spark.read.parquet(os.path.join(feed_dir, "chunk-*.parquet"))
    assert sorted(r.event_id for r in written.collect()) == list(range(n))
