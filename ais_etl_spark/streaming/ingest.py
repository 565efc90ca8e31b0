"""The engine's main loop — the Spark analog of ais-etl's offline
bucket-to-bucket transform job (/root/reference/transformers/tests/
test_ffmpeg.py:243-256: ``bucket.transform(etl_name, to_bck,
num_workers=24)`` + ``job.wait()``):

    readStream(change feed) → vectorized transforms
    → foreachBatch(MERGE INTO lake table) under a checkpoint

Delivery guarantees (SURVEY §2.3 exactly-once row): Structured
Streaming's checkpoint makes each epoch replayable with identical
content; ``LakeTable.merge`` is idempotent on batch_id; the lake commit
is atomic. Together: exactly-once from feed offset to committed
snapshot, resumable after kill at any point. The reference is only
at-least-once with idempotent overwrite (SURVEY §2.3) — we strengthen
it because the target is a mutable table, not a keyed object store.

Scale notes:
- the stream holds NO state at all: per-batch dup collapse is the
  merge's batch-local LWW, the lateness bound is enforced against the
  commit-persisted event-time high-water mark, and the *long-term* LWW
  state is the target table itself (merge compares against current
  rows) — state never grows with key cardinality (10^10-key safe —
  SURVEY §7 risk item 2).
- per-batch work is the bucketed CoW merge: shuffle sized by the batch,
  not the table; table IO sized by touched buckets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ais_etl_spark.lake import LakeTable
from ais_etl_spark.transforms.builtin import extract_text_lang_udf

FEED_SCHEMA = (
    "event_id bigint, op string, url string, warc_ts timestamp, "
    "source_part int, offset bigint, html binary"
)

PAGES_SCHEMA: list[tuple[str, str]] = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


def event_id_chunks(feed: DataFrame, n: int) -> list[DataFrame]:
    """Split ``feed`` into ``n`` disjoint event_id ranges of equal
    width, in event_id order — the arrival-order batches every replay
    applies. One min/max aggregate, then ``n`` range filters. An empty
    feed gives ``[]``."""
    lo, hi = feed.agg(F.min("event_id"), F.max("event_id")).first()
    if lo is None:
        return []
    step = (hi - lo) // n + 1
    return [
        feed.filter(
            (F.col("event_id") >= lo + i * step) & (F.col("event_id") < lo + (i + 1) * step)
        )
        for i in range(n)
    ]


def write_feed_chunks(feed: DataFrame, feed_dir: str, n_chunks: int) -> None:
    """Materialize a feed as ``n_chunks`` parquet files in arrival order
    (:func:`event_id_chunks`) — a file-based stand-in for binlog
    segments; the file streaming source tails them like a WAL. The
    input is persisted for the call (unless the caller cached it), so
    its plan runs once, not once per chunk."""
    os.makedirs(feed_dir, exist_ok=True)
    own = not feed.is_cached
    if own:
        feed = feed.persist()
    try:
        for i, chunk in enumerate(event_id_chunks(feed, n_chunks)):
            chunk.write.parquet(os.path.join(feed_dir, f"chunk-{i:05d}.parquet"))
    finally:
        if own:
            feed.unpersist()


def enrich_events(events: DataFrame) -> DataFrame:
    """The transform stage: html → (text, lang) via ONE Arrow-vectorized
    UDF (the ais-etl transformer contract leg of the pipeline). The
    fused struct UDF gunzips+decodes each payload once for both fields
    (guide §4) — byte-identical to the separate extract_text/lang UDFs
    (parity-tested in tests/test_html.py)."""
    # two selects, not a withColumn chain: each DataFrame op costs a
    # driver py4j+analysis round trip, and this runs on every merge
    base = [c for c in events.columns if c not in ("text", "lang")]
    out = events.select(*base, extract_text_lang_udf("html").alias("_tl"))
    return out.select(*base, F.col("_tl.text").alias("text"),
                      F.col("_tl.lang").alias("lang"))


def _duration_us(s: str) -> int:
    """'2 hours' / '30 minutes' / '500 ms' → microseconds."""
    qty, unit = s.split()
    return int(qty) * {
        "ms": 1_000, "milliseconds": 1_000, "second": 1_000_000,
        "seconds": 1_000_000, "minute": 60_000_000, "minutes": 60_000_000,
        "hour": 3_600_000_000, "hours": 3_600_000_000,
        "day": 86_400_000_000, "days": 86_400_000_000,
    }[unit]


def apply_cdc_batch(
    table: LakeTable,
    events: DataFrame,
    batch_id: str,
    schema_events: list[dict] | None = None,
    transform=None,
    bounded_lateness_us: int | None = None,
    merge_mode: str = "cow",
) -> dict:
    """Shared batch-apply: fence schema evolution, enrich, merge.
    ``merge_mode='mor'`` appends each sub-batch's winners as
    merge-on-read delta files instead of rewriting base files (see
    :meth:`LakeTable.merge`).
    ``transform`` (df → df, row-wise deterministic) is the per-winner
    enrichment stage; default :func:`enrich_events` (html→text/lang),
    pass ``curate_events`` for the full curation profile. It runs on
    the keys whose winner is a batch event, in the table's row shape
    (every schema column) plus the internal ``_seq``/``_deleted``/
    ``_fileseq``/``_has_new``/``_has_cur`` — no ``op`` column — and
    must keep every column it does not produce (see
    :meth:`LakeTable.merge`).

    ``schema_events`` (kind/col_name/new_name/col_type/fence_event_id)
    fence the batch exactly like DDL statements ordered within a binlog:
    data events with event_id < fence merge under the pre-DDL schema,
    the ALTER applies, then events ≥ fence merge under the new schema.
    Already-applied DDL is skipped by its fence_event_id against the
    table's durable applied-fence set, and sub-batch ids are
    deterministic — idempotent across epoch replays.
    """
    from ais_etl_spark.schema_evolution import apply_due_schema_events, apply_schema_event

    if transform is None:
        transform = enrich_events

    def merge(df: DataFrame, bid: str) -> dict:
        return table.merge(
            df, batch_id=bid, post_dedup_transform=transform,
            bounded_lateness_us=bounded_lateness_us, mode=merge_mode,
        )

    if not schema_events:
        # fast path: no DDL fences → no event_id-range pass needed
        return merge(events, batch_id)

    lo, hi = events.agg(F.min("event_id"), F.max("event_id")).first()
    if lo is None:
        return merge(events, batch_id)
    # catch-up: every fence due AT or before the batch's first event
    # applies before any row merges. This must run whether or not
    # further fences fall inside the batch — a fence with
    # fence_event_id == lo gates THIS batch's first rows, and skipping
    # it would merge them under the pre-DDL schema (dropping their new
    # column's values silently).
    apply_due_schema_events(table, schema_events, lo)
    fences = sorted(
        (ev for ev in schema_events if lo < ev["fence_event_id"] <= hi),
        key=lambda e: e["fence_event_id"],
    )
    if not fences:
        return merge(events, batch_id)

    start = lo
    for i, ev in enumerate(fences):
        sub = events.filter(
            (F.col("event_id") >= start) & (F.col("event_id") < ev["fence_event_id"])
        )
        merge(sub, f"{batch_id}.{i}")
        apply_schema_event(table, ev)
        start = ev["fence_event_id"]
    return merge(events.filter(F.col("event_id") >= start), f"{batch_id}.tail")


def run_ingest(
    spark: SparkSession,
    feed_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema_events: list[dict] | None = None,
    watermark_delay: str = "2 hours",
    dedup_within_watermark: bool = False,
    max_files_per_trigger: int | None = None,
    create_if_missing: bool = True,
    n_buckets: int = 16,
    maintenance_every: int | None = None,
    keep_snapshots: int = 3,
    transform=None,
    table_schema: list[tuple[str, str]] | None = None,
    on_batch_applied=None,
    merge_mode: str = "cow",
) -> LakeTable:
    """Run the streaming ingest to completion of currently-available
    data (availableNow trigger) and return the table. Call again with
    the same checkpoint_dir to resume exactly-once after new feed files
    land — or after a kill.

    Late-data policy: with ``dedup_within_watermark=True`` the ingest
    enforces BOUNDED LATENESS with the reference's observable
    skip-and-count semantics (audio_manager fastapi_server.py:170-199)
    instead of Spark's silent stateful-operator drop (VERDICT r4 #3):
    the merge tracks the event-time high-water mark across batches in
    the table commit, and events older than ``hwm − watermark_delay``
    are routed to the ``_quarantine`` dead-letter table with
    ``reason='late'`` and counted as ``late_events`` in lineage —
    never silently lost, replayable after inspection. In-horizon
    duplicates are absorbed by the merge's batch-local LWW exactly as
    before, so no stream-side state is held at all (the former
    ``dropDuplicatesWithinWatermark`` state is gone). Default is OFF:
    the LWW+idempotent MERGE already absorbs duplicates and stale
    events exactly (they surface as ``stale_noops`` in lineage), so
    exact replay equality holds with unbounded lateness. Turn it on
    only when the source's true lateness bound is known.

    ``on_batch_applied(table)`` (optional) runs after every applied
    micro-batch — the streaming multi-hop hook: pass
    ``lambda t: sync_incremental(t, silver, ...)`` to keep downstream
    tables in lockstep with the ingest, one changelog delta per batch.
    The hook MUST be idempotent (sync_incremental is, via its batch-id
    fence): a crash between merge-commit and hook replays the epoch,
    the merge no-ops on its fence, and the hook runs again.

    Maintenance: with ``maintenance_every=N``, every N applied batches
    the loop compacts small files back to the table's target size and
    expires all but ``keep_snapshots`` snapshots — the housekeeping a
    long-running ingest needs so per-batch files and manifests don't
    accumulate unboundedly (Iceberg's rewrite_data_files +
    expire_snapshots, run inline because this loop is the single
    writer). Tombstone GC stays a separate explicit call
    (``table.gc_tombstones``) because only the operator knows the
    source's true lateness bound."""
    try:
        table = LakeTable.load(spark, table_path)
    except FileNotFoundError:
        if not create_if_missing:
            raise
        table = LakeTable.create(
            spark, table_path, table_schema or PAGES_SCHEMA, key="url",
            order_col="warc_ts", n_buckets=n_buckets,
        )

    reader = spark.readStream.schema(FEED_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # chunks are parquet *directories* (binlog segments); the file
    # source needs the glob to descend into them
    stream = reader.parquet(os.path.join(feed_dir, "*"))

    bounded_us = _duration_us(watermark_delay) if dedup_within_watermark else None

    applied = {"n": 0}

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_cdc_batch(
            table, batch_df, batch_id=f"epoch-{epoch_id}",
            schema_events=schema_events, transform=transform,
            bounded_lateness_us=bounded_us, merge_mode=merge_mode,
        )
        applied["n"] += 1
        # hook BEFORE maintenance: downstream consumers advance their
        # cursor to the merge snapshot before expire_snapshots can
        # retire the commits their changelog read would need
        if on_batch_applied is not None:
            on_batch_applied(table)
        if maintenance_every and applied["n"] % maintenance_every == 0:
            # targeted: rewrite only buckets that accumulated small
            # per-batch files — a full-table rewrite every N batches
            # would be O(table) maintenance at 100 TB. Under mor, fold
            # accumulated delta files back into base first (the MoR
            # write-amplification savings are paid back HERE, amortized
            # over N batches, instead of on every merge).
            if merge_mode == "mor":
                table.compact_deltas()
            table.compact_small_files()
            table.expire_snapshots(keep_last=keep_snapshots)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table
