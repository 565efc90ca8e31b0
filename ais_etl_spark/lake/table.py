"""LakeTable — snapshot-committed, bucketed copy-on-write Parquet table.

Iceberg semantics, from scratch, sized for the 10^10-event design point.
The commit protocol is :class:`TableLog` (``lake/log.py``); this module
adds the Spark data plane on top of it:

- **MERGE rewrites files, not buckets.** MERGE rewrites ONLY the files
  whose key range can contain a changed key (all files of such a bucket
  when it holds a merge-on-read delta); every other file — including
  sibling files of the same bucket — is carried into the new snapshot
  by reference, the same copy-on-write file-granularity story as
  Iceberg MERGE. Files are written key-sorted and split at
  ``max_file_rows``, so per-file key ranges within a bucket are
  disjoint and a hot key's write amplification is one FILE, not one
  bucket. At 100 TB with 1024 buckets a batch touching 1% of keys
  rewrites ~1% of the table's files, not the table.
- **LWW upsert with tombstones, one tie rule.** The winner per url is
  the max of ``(warc_ts, _seq, file seq, _deleted)`` across every copy
  of the key: the batch's events plus the rows of the files the key
  lives in. Events rank above every committed file's seq
  (``_INCOMING_SEQ``), so incoming wins an exact (order, seq) tie;
  two events of one batch with equal (order, seq) — one source event
  delivered twice with conflicting content — break the tie like a
  read does, a tombstone outranking a live row. The merge (its
  batch-local dedup included: the events and the hit files' rows
  resolve in one pass) resolves through ``_resolve_lww_rows``; reads,
  lookups and the maintenance folds resolve each dirty bucket with
  ``resolve.resolve_bucket``, which ranks the same four fields, so a
  merge and a read cannot disagree on a winner; a losing (late/stale)
  event is a no-op. Deletes persist as tombstone rows (``_deleted``) so an
  *older* insert arriving after a newer delete stays dead —
  incremental state matches full replay exactly (the
  replay-equality bar in BASELINE.json). :meth:`gc_tombstones` is the
  maintenance job that drops tombstones older than the source's
  lateness watermark — rewriting only the files that contain them.
- **One file-selection step.** Every operation that takes part of a
  snapshot (``read``, the CoW merge, ``gc_tombstones``, ``compact``)
  picks its files through ``_split_files``, and a bucket that holds a
  merge-on-read delta is always taken whole: each of its files may
  hold a version of one key, so only resolution over all of them finds
  the winner. Point lookups and ``changes`` pick by key range instead,
  which reaches every version of the keys they need.
- **One write step, one commit step.** Every operation that writes
  data files (both merge modes, ``gc_tombstones``, ``compact``,
  ``rebucket``) hands its rows to ``_write_files``, which names the
  attempt's own data directory, writes key-sorted files per bucket
  and evaluates the operation's counters on the same Spark job; the
  operation then derives its child snapshot with ``_next_commit``.
- **Metadata-only schema evolution.** Columns have stable ids;
  add/rename appends a schema version WITHOUT rewriting data files.
  Files remember the schema version they were written under; reads
  map physical names → current names by column id and null-backfill
  added columns (Iceberg's name-mapping rules).
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ais_etl_spark.lake.log import (
    _COUNTER_COLS, _DELETED, _LINEAGE_SCHEMA, _OFFSET_COLS, _QUARANTINE, _SEQ,
    TableLog,
)
from ais_etl_spark.lake.resolve import (
    _FILESEQ, LAYOUT, resolve_bucket, resolve_partition,
)
from ais_etl_spark.session import arrow_schema, local_frame, spark_schema

# the _fileseq a merge gives its incoming rows: above every committed
# file's seq (a snapshot id). One constant, not the new snapshot's id,
# so the merge's generated code is the same for every batch — a
# per-batch literal is inlined into it and recompiled on every merge
_INCOMING_SEQ = (1 << 63) - 1
# the driver-held frame a dirty read resolves: one row per dirty bucket
_BUCKET_FILES = "files array<struct<path:string,schema_version:int,seq:bigint>>"


def _live(df: DataFrame) -> DataFrame:
    """The rows a reader sees: tombstones dropped, internal columns
    removed."""
    return df.filter(~F.col(_DELETED)).drop(_SEQ, _DELETED)


class LakeTable(TableLog):
    """One table rooted at ``path``: the commit log it extends plus the
    Spark scans and writes over its data files."""

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(path)
        self.spark = spark

    # ------------------------------------------------------------------
    # creation / loading
    # ------------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: list[tuple[str, str]],
        key: str = "url",
        order_col: str = "warc_ts",
        n_buckets: int = 16,
        max_file_rows: int = 1 << 20,
    ) -> "LakeTable":
        """Create an empty table. ``schema`` = [(name, spark_ddl_type)].
        ``n_buckets`` fixes the hash-bucket layout (choose ~table_size /
        target_file_size at real scale; 16 is the local-test default).
        ``max_file_rows`` caps rows per data file — files are written
        key-sorted and split at this bound, which is what makes merge
        rewrites file-granular inside a bucket."""
        t = cls(spark, path)
        t._create(schema, key, order_col, n_buckets, max_file_rows)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.current_snapshot_id() is None:
            raise FileNotFoundError(f"no commits under {path}")
        return t

    # ------------------------------------------------------------------
    # read (snapshot / time travel)
    # ------------------------------------------------------------------

    def read(
        self,
        snapshot_id: int | None = None,
        include_internal: bool = False,
        buckets: list[int] | None = None,
        order_min=None,
        order_max=None,
        tag: str | None = None,
    ) -> DataFrame:
        """Current-snapshot scan. Groups files by the schema version
        they were written under, maps physical → current names by
        column id, null-backfills added columns, unions, and filters
        tombstones (unless ``include_internal``). ``buckets`` prunes at
        the manifest level; ``order_min``/``order_max`` (datetimes)
        additionally skip files whose order-column range cannot
        intersect [order_min, order_max] — Iceberg-style metrics
        skipping. Files are picked by :meth:`_split_files`, so a bucket
        that holds a delta is read whole or not at all: a delta that
        shadows an in-window base row is never pruned away. NOTE: this
        prunes FILES only, it does not filter rows — combine with a
        ``.filter`` on the order column; and its
        effectiveness depends on key↔time correlation, since files are
        written key-sorted (a change feed whose keys are uncorrelated
        with event time gets little file-level skipping, exactly as in
        Iceberg)."""
        if tag is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR tag, not both")
            snapshot_id = self.resolve_ref(tag)
        c = self.commit(snapshot_id)
        bset = None if buckets is None else set(buckets)
        lo, hi = self._order_micros(order_min), self._order_micros(order_max)

        def keep(f):
            omin, omax = f.get("min_order"), f.get("max_order")
            # no order stats → never skipped
            return (bset is None or f["bucket"] in bset) and (
                omin is None
                or ((hi is None or omin <= hi) and (lo is None or omax >= lo))
            )

        files, _ = self._split_files(c, keep)
        out = self._resolved_entries_df(c, files)
        return out if include_internal else _live(out)

    def _row_ddl(self, c: dict) -> str:
        """DDL of snapshot ``c``'s rows with the internal columns."""
        return self.spark_schema_ddl(c) + f", {_SEQ} bigint, {_DELETED} boolean"

    def _entries_df(self, c: dict, files: list[dict]) -> DataFrame:
        """Scan a specific set of manifest entries (schema-version
        mapped, internal columns included, NOT resolved) — the
        file-granularity read primitive of clean buckets and of
        ``validate``.

        Each schema version is ONE parquet scan over all of its files:
        a scan node per commit would pay its own plan, file listing
        and splits per seq, and the read plan should follow the
        physical layout (files per schema version), not the commit
        history."""
        cur_cols = self.schema_cols(c)
        parts: list[DataFrame] = []
        by_ver: dict[int, list[dict]] = {}
        for f in files:
            by_ver.setdefault(f["schema_version"], []).append(f)
        for ver, vfiles in by_ver.items():
            old_cols = {col["id"]: col for col in c["schemas"][ver]}
            # explicit reader schema: every file in this group was
            # written under schema version ``ver`` plus the internal
            # columns, so the physical layout is KNOWN — passing it
            # skips parquet schema inference (a driver-side footer
            # read per read call; the merge path builds one of these
            # per batch, so the saved latency is per-commit)
            ddl = ", ".join(
                f"`{col['name']}` {col['type']}" for col in c["schemas"][ver]
            ) + f", `{_SEQ}` bigint, `{_DELETED}` boolean"
            df = self.spark.read.schema(ddl).parquet(
                *[os.path.join(self.path, f["path"]) for f in vfiles]
            )
            sel = []
            for col in cur_cols:
                if col["id"] in old_cols:
                    old = old_cols[col["id"]]
                    expr = F.col(old["name"])
                    if old["type"].lower() != col["type"].lower():
                        # type widening: old files keep the narrower
                        # physical type; the id-mapped read casts up
                        expr = expr.cast(col["type"])
                    sel.append(expr.alias(col["name"]))
                else:
                    sel.append(F.lit(None).cast(col["type"]).alias(col["name"]))
            parts.append(df.select(*sel, F.col(_SEQ).cast("bigint").alias(_SEQ),
                                   F.col(_DELETED).cast("boolean").alias(_DELETED)))
        if not parts:
            return local_frame(self.spark, [], self._row_ddl(c))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    # merge-on-read resolution
    # ------------------------------------------------------------------

    def _resolve_lww_rows(self, c: dict, df: DataFrame, **aggs) -> DataFrame:
        """The merge's per-key LWW pass over a batch's events and the
        current rows of the files it rewrites: winner = max struct over
        (order_col, _seq, _fileseq, _deleted), the rule reads apply per
        bucket (:func:`resolve_bucket`); between two copies equal on the
        first three (two events of one batch) a tombstone wins. ``df``
        must carry the current schema columns +
        ``_seq``/``_deleted``/``_fileseq``; the output carries them
        too, ``_fileseq`` being the winner's. ``aggs`` (name → per-key
        aggregate) are added as output columns — the merge counts from
        these."""
        key = c["key"]
        order_col = c["order_col"]
        payload = [
            x["name"] for x in self.schema_cols(c)
            if x["name"] not in (key, order_col)
        ]
        w = F.max(
            F.struct(
                F.col(order_col), F.col(_SEQ), F.col(_FILESEQ),
                F.col(_DELETED), *[F.col(p) for p in payload],
            )
        ).alias("w")
        return df.groupBy(key).agg(
            w, *[a.alias(n) for n, a in aggs.items()]
        ).select(
            F.col(key),
            F.col(f"w.{order_col}").alias(order_col),
            *[F.col(f"w.{p}").alias(p) for p in payload],
            F.col(f"w.{_SEQ}").alias(_SEQ),
            F.col(f"w.{_DELETED}").alias(_DELETED),
            F.col(f"w.{_FILESEQ}").alias(_FILESEQ),
            *aggs.keys(),
        )

    def _resolved_entries_df(self, c: dict, files: list[dict], key_value=None
                             ) -> DataFrame:
        """``files`` with one winner per key, tombstones and
        ``_seq``/``_deleted`` included. A bucket with no delta is a plain
        parquet scan (the CoW plan); the dirty buckets are ONE narrow
        stage, a ``mapInArrow`` of :func:`resolve_partition` over a
        driver-held frame of one row per dirty bucket (at most
        ``defaultParallelism`` tasks, no exchange). ``key_value`` reaches
        the resolver's file reads as a filter (the lookup fallback)."""
        dirty = self._delta_buckets(files)
        clean = [f for f in files if f["bucket"] not in dirty]
        if not dirty:
            return self._entries_df(c, files)
        by_bucket: dict[int, list[dict]] = {}
        for f in files:
            if f["bucket"] in dirty:
                by_bucket.setdefault(f["bucket"], []).append(
                    {k: f.get(k) for k in ("path", "schema_version", "seq")})
        ddl = self._row_ddl(c)
        out = local_frame(
            self.spark, [(by_bucket[b],) for b in sorted(by_bucket)], _BUCKET_FILES
        ).mapInArrow(
            functools.update_wrapper(functools.partial(
                resolve_partition, self.path, {k: c[k] for k in LAYOUT},
                arrow_schema(self.spark, ddl), key_value), resolve_partition),
            spark_schema(self.spark, ddl),
        )
        return self._entries_df(c, clean).unionByName(out) if clean else out

    def history(self) -> DataFrame:
        """Snapshot-history metadata table (Iceberg's ``snapshots``/
        ``history`` analog): one row per retained commit with
        operation, batch id, schema version, file count, and the merge
        counters. Driver-side from the commit JSONs — bounded by the
        retained snapshot count (expire_snapshots caps it)."""
        rows = []
        for s in self._snapshot_ids():
            c = self.commit(s)
            ln = c.get("lineage") or {}
            rows.append(
                (
                    c["snapshot_id"],
                    c.get("parent"),
                    c.get("operation"),
                    c.get("batch_id"),
                    c["schema_version"],
                    len(c.get("files", [])),
                    c.get("committed_at"),
                    *[ln.get(k) for k in ("inserts", "updates", "deletes",
                                          "stale_noops", "rows_after")],
                )
            )
        return local_frame(
            self.spark,
            rows,
            "snapshot_id bigint, parent bigint, operation string, "
            "batch_id string, schema_version int, n_files int, "
            "committed_at double, "
            "inserts bigint, updates bigint, deletes bigint, "
            "stale_noops bigint, rows_after bigint",
        )

    # ------------------------------------------------------------------
    # point lookup (the inline-GET analog: read ONE object through the
    # table — /root/reference/runtime/README.md:61-76's hpull, but the
    # "object store" is the manifest-pruned lake)
    # ------------------------------------------------------------------

    def lookup(self, key_value: str) -> DataFrame:
        """Point read of one key: bucket computed DRIVER-side with the
        pure-Python XXH64 twin (bit-identical to the JVM xxhash64 the
        writer bucketed with), then manifest-pruned to the files of
        that bucket whose key range covers the value. At 100 TB this
        touches one file per live version of the key — never a scan.
        Tombstoned/absent keys return an empty DataFrame."""
        from ais_etl_spark.transforms.builtin import xxhash64_py_signed

        c = self.commit()
        key_type = next(
            x["type"] for x in self.schema_cols(c) if x["name"] == c["key"]
        )
        if key_type == "string" and isinstance(key_value, str):
            signed = xxhash64_py_signed(key_value.encode("utf-8"), 42)
            bucket = signed % c["n_buckets"]  # python % == Spark pmod on ints
        else:
            # the python XXH64 twin mirrors the JVM hash for UTF-8
            # string input only; other key types degrade to range-only
            # pruning (still file-granular, just not bucket-pruned)
            bucket = None
        hits = [
            f for f in c["files"]
            if (bucket is None or f["bucket"] == bucket)
            and (
                f.get("min_key") is None
                or f["min_key"] <= key_value <= f["max_key"]
            )
        ]
        # the winner is resolved before a tombstone suppresses it: a
        # per-file tombstone filter would resurrect a stale base row
        if len(hits) <= self.LOOKUP_DRIVER_MAX_FILES:
            return self._lookup_driver_side(c, hits, key_value)
        # the key reaches the clean files' parquet scan as a pushed
        # predicate and the dirty buckets' resolver as a read filter
        return _live(
            self._resolved_entries_df(c, hits, key_value)
            .filter(F.col(c["key"]) == key_value)
        )

    # point reads touch 1-2 small bucket files after pruning; a Spark
    # scan job costs seconds of fixed overhead at any cluster size,
    # while a driver-side pyarrow read of the same files is
    # milliseconds. Above this file count, fall back to the scan.
    LOOKUP_DRIVER_MAX_FILES = 16

    def _lookup_driver_side(self, c: dict, hits: list[dict], key_value):
        """Serve the point read without a Spark job: resolve the
        (manifest-pruned, ≤LOOKUP_DRIVER_MAX_FILES) covering files on
        the driver with :func:`resolve_bucket`, the key as a read
        filter, drop a tombstoned winner and return a :func:`local_frame`
        (no job on ``collect()``). Same resolver as the scan path."""
        schema = arrow_schema(self.spark, self._row_ddl(c))
        out = pa.Table.from_batches(list(resolve_bucket(
            self.path, c, hits, schema, key_value)), schema)
        out = out.filter(pc.invert(out.column(_DELETED)))
        # a miss (no hit file, nothing read, a tombstoned winner) is
        # the session's cached empty frame: no table is built
        return local_frame(self.spark, out, self.spark_schema_ddl(c))

    # ------------------------------------------------------------------
    # write-audit-publish (Iceberg's WAP pattern)
    # ------------------------------------------------------------------

    def stage_merge(self, events: DataFrame, batch_id: str, **merge_kwargs) -> dict:
        """Write-audit-publish step 1 (WRITE): run the FULL merge
        pipeline — dedup, transform, CoW rewrite or MoR deltas — but
        park the result as a STAGED snapshot: data files land under
        ``data/staged-<batch_id>/``, the commit JSON under
        ``_commits/staged-<batch_id>.json``, and neither head
        resolution, readers, nor the lineage table see any of it.
        Audit the staged state with :meth:`read_staged` (or any
        validation over it), then :meth:`publish_staged` — which makes
        the batch visible ATOMICALLY, exactly as if ``merge`` had run —
        or :meth:`discard_staged`, which removes every trace. The
        production quality-gate shape: bad batches are rejected BEFORE
        they are queryable, not rolled back after.

        Restaging the same ``batch_id`` replaces the previous staged
        attempt. ``batch_id`` must be filesystem-safe (it names the
        staged paths). Returns the would-be lineage dict (same content
        ``merge`` would return; ``{}`` if the batch id is already
        COMMITTED — the exactly-once fence applies to staging too)."""
        # replace any earlier attempt; for a COMMITTED batch id (e.g. a
        # streaming restart re-staging its last epoch) discard_staged
        # removes only a stale marker, never the published batch's
        # data/staged-<id>/ files, and merge's fence then returns {}
        self.discard_staged(batch_id)
        self._stage_to = batch_id
        try:
            return self.merge(events, batch_id, **merge_kwargs)
        finally:
            self._stage_to = None

    def read_staged(self, batch_id: str, include_internal: bool = False) -> DataFrame:
        """The table AS IF the staged batch were published — the AUDIT
        surface of the WAP flow. Same resolution semantics as read()."""
        c = self._load_staged(batch_id)["commit"]
        out = self._resolved_entries_df(c, c["files"])
        return out if include_internal else _live(out)

    # ------------------------------------------------------------------
    # MERGE (the CDC apply)
    # ------------------------------------------------------------------

    def _bucket_expr(self, key_col):
        return F.pmod(F.xxhash64(key_col), F.lit(self.commit()["n_buckets"])).cast("int")

    def merge(
        self,
        events: DataFrame,
        batch_id: str,
        post_dedup_transform=None,
        bounded_lateness_us: int | None = None,
        mode: str = "cow",
    ) -> dict:
        """Apply a batch of CDC events (op/url/warc_ts/event_id +
        payload columns ⊆ schema) with LWW + tombstones. Idempotent on
        ``batch_id``. Returns the lineage dict of the commit (empty
        dict if the batch was already applied); the commit's manifest
        stores it and is the one file a merge commit writes.

        ``post_dedup_transform`` (df -> df, row-wise deterministic) is
        applied AFTER the per-key LWW, to the keys whose winner is a
        batch event — the expensive extraction UDFs (html→text/lang)
        run once per *new winning* key instead of once per event: a
        duplicate, a stale event that loses to a committed row and an
        untouched row of a rewritten file never reach them, which for
        an update-heavy feed cuts Python-UDF work by the dup factor.
        They run on the LWW shuffle's output partitions, whose count
        AQE picks: a small batch's sub-1 MB shuffle coalesces into ONE
        partition, so the UDF runs as one task; only a shuffle larger
        than the advisory partition size fans out toward
        ``spark.sql.shuffle.partitions``. A warm Python task costs ~45
        ms beyond a plain one (4-core host) when the session starts its
        workers through :mod:`ais_etl_spark.worker_daemon`, as
        ``get_spark`` does; with PySpark's stock daemon it costs ~170
        ms, almost all of it re-reading ``pyspark.zip``'s directory.
        The transform sees the table's row shape — every current
        schema column, absent ones as typed nulls, cast to the schema
        types — plus ``_seq``/``_deleted``/``_fileseq``/``_has_new``/
        ``_has_cur``; there is no ``op`` column (a delete is
        ``_deleted``). It must be row-preserving and keep every column
        it does not produce: its output is cast back to the schema
        types and written as it is, without a second per-key
        resolution.

        ``bounded_lateness_us``: OBSERVABLE bounded-lateness policy
        (the streaming analog of Spark's watermark drop, but with the
        reference's skip-and-count semantics — audio_manager
        fastapi_server.py:170-199 — instead of a silent drop): events
        whose ``order_col`` is more than this many µs older than the
        table's event-time high-water mark (max order value across all
        previously MERGED batches, persisted in the commit as
        ``hwm_us``) are excluded from the merge, written to the
        ``_quarantine`` dead-letter table with ``reason='late'``, and
        counted as ``late_events`` in lineage. Default None keeps the
        exact unbounded-lateness contract (stale events surface as
        ``stale_noops``).

        ``mode``: ``"cow"`` (default) rewrites the hit files so every
        snapshot holds exactly one physical row per key — reads stay
        plain unions. ``"mor"`` (merge-on-read) writes the batch
        winners as DELTA files for the touched buckets WITHOUT reading
        or rewriting any base file — write cost scales with the batch,
        not with base-file sizes (an update-heavy feed against large
        base files stops paying base-file rewrite amplification) — and
        readers LWW-resolve base+delta per key, bucket by bucket, until
        ``compact()`` / ``compact_deltas()`` folds the deltas back into
        base files. The two modes commute freely batch-to-batch and
        produce identical logical table state (parity-tested). MoR
        lineage reports ``upserts``/``tombstones`` instead of the
        insert/update/stale split (computing that split requires the
        base-row read MoR exists to avoid; the fields are NULL in the
        lineage table for MoR commits).

        Physical plan: a stats pre-pass over the raw events (buckets,
        offsets, hit files) → ONE per-key LWW (``_resolve_lww_rows``,
        the read-time rule; its map-side partial max absorbs hot-key
        skew) over the batch's events and, for cow, the current rows of
        the hit files — every file of a hit bucket that holds a delta,
        resolved per key as a read does — with the events ranked above
        every committed file, so they win exact
        (order, seq) ties → transform the new winners → union them with
        the surviving current winners (Spark reuses the resolve's
        exchange for both branches) → bucket, then ONE write job
        through ``_write_files``, which evaluates the lineage counters
        as an Observation on that job. A batch that hits no file (and
        every mor batch) is the same pipeline with nothing unioned. cow
        rewrites the hit files; mor writes the winners as per-bucket
        delta files — zero base IO. Two events of one batch with equal
        (order, event_id) — one source event delivered twice with
        conflicting content — tie-break like a read: a tombstone
        outranks a live row.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        c = self.commit()
        if batch_id in c.get("batches", []):
            return {}  # exactly-once replay: already applied
        key = c["key"]
        order_col = c["order_col"]
        cur_cols = self.schema_cols(c)
        for col in (key, order_col, "op", "event_id"):
            if col not in events.columns:
                raise ValueError(f"events missing required column {col!r}")

        # malformed events (dead-letter policy, the skip-and-count of
        # audio_manager fastapi_server.py:101-119,197-206): excluded
        # from the merge, counted in lineage, preserved in _quarantine
        # op must be null-checked explicitly: `~isin(...)` is SQL NULL
        # for a NULL op, and a NULL predicate fails BOTH filter(bad)
        # and filter(~bad) — the event would silently vanish
        bad = (
            F.col(key).isNull()
            | F.col(order_col).isNull()
            | F.col("event_id").isNull()
            | F.col("op").isNull()
            | ~F.col("op").isin("I", "U", "D")
        )
        prev_hwm = c.get("hwm_us")
        late = F.lit(False)
        if bounded_lateness_us is not None and prev_hwm is not None:
            cutoff_us = int(prev_hwm) - int(bounded_lateness_us)
            order_type = next(
                x["type"] for x in cur_cols if x["name"] == order_col
            ).lower()
            if order_type.startswith("timestamp"):
                order_us = F.unix_micros(F.col(order_col).cast("timestamp"))
            else:
                # numeric order column: hwm and the bound share the
                # caller's units (the _order_micros passthrough)
                order_us = F.col(order_col).cast("bigint")
            late = (
                ~bad
                & F.col(order_col).isNotNull()
                & (order_us < F.lit(cutoff_us))
            )
        touched, offsets, hit_paths, malformed, n_late, batch_hwm_us = (
            self._batch_stats(
                events, key, c, bad, late,
                # mor never reads base files: the per-bucket key ranges
                # exist only to pick hit files, so mor skips them, its
                # hit set stays empty (no exact probe) and the whole
                # stats pre-pass stays a HashAggregate
                need_hit_files=(mode != "mor"),
            )
        )
        hwm_us = max(
            (v for v in (prev_hwm, batch_hwm_us) if v is not None),
            default=None,
        )
        valid = events
        if malformed:
            self._write_quarantine(events.filter(bad), batch_id)
            valid = valid.filter(~bad)
        if n_late:
            self._write_quarantine(
                events.filter(late), f"{batch_id}.late", reason="late"
            )
            valid = valid.filter(~late)

        # 1. the valid events in the table's row shape, cast to the
        #    CURRENT schema types (absent columns as typed nulls) and
        #    ranked above every committed file
        types = {x["name"]: x["type"] for x in cur_cols}
        rows = valid.select(
            *[(F.col(n) if n in events.columns else F.lit(None)).cast(t).alias(n)
              for n, t in types.items()],
            F.col("event_id").cast("bigint").alias(_SEQ),
            (F.col("op") == "D").alias(_DELETED),
            F.lit(_INCOMING_SEQ).alias(_FILESEQ),
        )

        # 2. ONE per-key LWW over the batch and, for CoW, the rows of
        #    the HIT FILES (file-granularity: a bucket file whose key
        #    range cannot contain an incoming key is carried by
        #    reference), widened to the whole of any hit bucket that
        #    holds a delta; merge-on-read asked the pre-pass for no hit
        #    files, and a batch that hits none resolves its own rows
        rewrite, carry = self._split_files(c, lambda f: f["path"] in hit_paths)
        if rewrite:
            # the current rows resolved per key rank as file seq 0:
            # below every event, and max is associative
            rows = self._resolved_entries_df(c, rewrite).withColumn(
                _FILESEQ, F.lit(0).cast("bigint")).unionByName(rows)
        # before the resolve per copy, after it per key winner
        is_new = F.col(_FILESEQ) == _INCOMING_SEQ
        rows = self._resolve_lww_rows(
            c, rows,
            _has_new=F.max(is_new.cast("int")),
            _has_cur=F.max((~is_new).cast("int")),
        )

        # 3. the transform on the NEW winners only; its output is cast
        #    back to the schema types (after a widen fence it may still
        #    emit the narrower type, e.g. an int length into a bigint
        #    column — files carry the type they are manifested under)
        if post_dedup_transform is not None:
            new = post_dedup_transform(rows.filter(is_new)).select(
                *[F.col(n).cast(t).alias(n) for n, t in types.items()],
                _SEQ, _DELETED, _FILESEQ, "_has_new", "_has_cur",
            )
            # a batch that hits no file has no current winner to keep
            rows = new.unionByName(rows.filter(~is_new)) if rewrite else new
        rows = rows.withColumn("_bucket", self._bucket_expr(F.col(key)))

        # 4. the counters the write job observes
        if mode == "mor":
            # the winners (tombstones included) become DELTA files; the
            # insert/update/stale split would need the base read this
            # mode exists to avoid
            kind = "delta"
            counters = {
                "upserts": F.sum((~F.col(_DELETED)).cast("long")),
                "tombstones": F.sum(F.col(_DELETED).cast("long")),
            }
        else:
            kind = "base"
            live = is_new & ~F.col(_DELETED)
            counters = {
                "inserts": F.sum((live & (F.col("_has_cur") == 0)).cast("long")),
                "updates": F.sum((live & (F.col("_has_cur") == 1)).cast("long")),
                "deletes": F.sum((is_new & F.col(_DELETED)).cast("long")),
                "stale_noops": F.sum((~is_new & (F.col("_has_new") == 1)).cast("long")),
                "rows_after": F.count("*"),
            }

        # 5. ONE write job; the counters ride along as its Observation
        new_files, counts = self._write_files(c, rows, touched, counters, kind)
        lineage = {
            "batch_id": batch_id,
            "snapshot_id": c["snapshot_id"] + 1,
            **({"mode": "mor"} if mode == "mor" else {}),
            "buckets_rewritten": (
                len({f["bucket"] for f in new_files}) if kind == "base" else 0
            ),
            "buckets_total": c["n_buckets"],
            "files_rewritten": len(rewrite),
            "files_written": len(new_files),
            "files_carried": len(carry),
            "source_offsets": offsets,
            "malformed": int(malformed),
            "late_events": int(n_late),
            **counts,
            # the CoW-only split is NULL on a merge-on-read commit
            **({k: None for k in ("inserts", "updates", "deletes", "stale_noops")}
               if mode == "mor" else {}),
        }
        self._next_commit(
            c, "merge-mor" if mode == "mor" else "merge", carry + new_files,
            batch_id=batch_id, lineage=lineage, hwm_us=hwm_us,
        )
        return lineage

    # range-pruned hit files at or above which the merge refines its hit
    # set by exact key membership (one extra Spark job; see _batch_stats)
    EXACT_PROBE_FILES = 64

    def _batch_stats(self, events: DataFrame, key: str, c: dict, bad,
                     late=None, need_hit_files: bool = True):
        """Pre-pass over the raw events, column-pruned to key+offset
        (never the payload), producing the three merge inputs from ONE
        map-side-combined aggregation (shuffle = at most
        source_parts × buckets tiny rows):

        1. per-source-partition offset ranges + event counts (lineage);
        2. the set of affected buckets;
        3. per-bucket batch key min/max — compared DRIVER-side against
           the manifest's per-file key ranges to pick the HIT FILES
           (the only files merge reads and rewrites). Range-overlap is
           coarser than exact key membership (a sparse batch spanning a
           bucket flags the files in between too) but never wrong —
           extra hits cost IO, never correctness — and it removes a
           whole per-merge Spark job (distinct keys + broadcast range
           join) from the commit path, which at high core counts cost
           more in fixed job overhead than the IO it saved. The
           driver-side comparison works for every key type create()
           admits — string and numeric keys (enforced there, because
           the manifest serializes key min/max as JSON); collected
           values and parquet footer stats share the key's Python
           type, so no string-schema special-casing here.

        Every key in the batch has a winner, so raw-event buckets ==
        winner buckets. ``late`` (optional predicate) splits out a
        third disposition (bounded-lateness quarantine); the same agg
        also carries the batch event-time max so merge can advance the
        persisted high-water mark for free."""
        order_col = c["order_col"]
        if late is None:
            late = F.lit(False)
        disp = (
            F.when(bad, F.lit(1)).when(late, F.lit(2)).otherwise(F.lit(0))
        ).alias("_disp")
        b = self._bucket_expr(F.col(key)).alias("_b")
        has_off = {"source_part", "offset"} <= set(events.columns)
        hwm_agg = F.max(order_col).alias("_omax")
        # per-bucket key min/max feed ONLY the hit-file range pruning —
        # on an empty table there is nothing to prune, and dropping the
        # string min/max lets the whole pre-pass compile to a
        # HashAggregate instead of a SortAggregate (min/max over
        # var-length strings is not a mutable agg buffer, so their mere
        # presence forces a full map-side sort of every event row)
        need_ranges = need_hit_files and bool(c["files"])
        range_aggs = (
            [F.min(key).alias("_kmin"), F.max(key).alias("_kmax")]
            if need_ranges else []
        )
        # the per-source-partition offset parts, when the feed has them
        part = ["source_part", "offset"] if has_off else []
        off_aggs = (
            [F.min("offset").alias("min_offset"), F.max("offset").alias("max_offset")]
            if has_off else []
        )
        all_rows = (
            events.select(F.col(key), F.col(order_col), b, disp, *map(F.col, part))
            .groupBy(*part[:1], "_b", "_disp")
            .agg(*off_aggs, F.count("*").alias("events"), *range_aggs, hwm_agg)
            .collect()
        )
        malformed = sum(r["events"] for r in all_rows if r["_disp"] == 1)
        n_late = sum(r["events"] for r in all_rows if r["_disp"] == 2)
        # the high-water mark advances on every non-malformed observed
        # event (late ones too — mirroring Spark's watermark, a max)
        omaxes = [
            self._order_micros(r["_omax"])
            for r in all_rows
            if r["_disp"] != 1 and r["_omax"] is not None
        ]
        batch_hwm_us = max(omaxes) if omaxes else None
        rows = [r for r in all_rows if r["_disp"] == 0]

        touched = sorted({r["_b"] for r in rows})
        offsets = []
        if has_off:
            by_part: dict[int, dict] = {}
            # offset ranges cover EVERY consumed event, malformed
            # included — lineage records source progress, not validity
            for r in all_rows:
                o = by_part.get(r["source_part"])
                if o is None:
                    by_part[r["source_part"]] = {
                        "source_part": r["source_part"],
                        "min_offset": r["min_offset"],
                        "max_offset": r["max_offset"],
                        "events": r["events"],
                    }
                else:
                    o["min_offset"] = min(o["min_offset"], r["min_offset"])
                    o["max_offset"] = max(o["max_offset"], r["max_offset"])
                    o["events"] += r["events"]
            offsets = [by_part[p] for p in sorted(by_part)]

        ranges: dict[int, tuple] = {}
        for r in rows:
            if not need_ranges:
                break
            lo, hi = ranges.get(r["_b"], (r["_kmin"], r["_kmax"]))
            ranges[r["_b"]] = (min(lo, r["_kmin"]), max(hi, r["_kmax"]))
        hit_paths = set()
        for f in c["files"]:
            rng = ranges.get(f["bucket"])
            if rng is None:
                continue
            fmin, fmax = f.get("min_key"), f.get("max_key")
            # None stats = unknown range = always hit (conservative)
            if fmin is None or not (fmax < rng[0] or fmin > rng[1]):
                hit_paths.add(f["path"])
        # second pass, only when the range pass left MANY files (the
        # 100 TB case: thousands of files per bucket, sparse batch):
        # refine by exact key membership with a distinct-keys broadcast
        # range join, restricted to the already-range-pruned entries.
        # Below the threshold the extra Spark job's fixed cost exceeds
        # the IO it saves (measured: ~1-2 s/job at 32 cores).
        if len(hit_paths) >= self.EXACT_PROBE_FILES:
            hit_paths = self._exact_probe(events, key, c, hit_paths, bad | late)
        return touched, offsets, hit_paths, malformed, n_late, batch_hwm_us

    def _exact_probe(
        self, events: DataFrame, key: str, c: dict, candidates: set, bad
    ):
        ktype = next(
            x["type"] for x in self.schema_cols(c) if x["name"] == c["key"]
        )
        entries = [f for f in c["files"] if f["path"] in candidates]
        fdf = local_frame(
            self.spark,
            [
                (f["path"], f["bucket"], f.get("min_key"), f.get("max_key"))
                for f in entries
            ],
            f"_fpath string, _fbucket int, _fmin {ktype}, _fmax {ktype}",
        )
        keys = (
            events.filter(~bad)
            .select(F.col(key), self._bucket_expr(F.col(key)).alias("_b"))
            .distinct()
        )
        cond = (F.col("_fbucket") == F.col("_b")) & (
            F.col("_fmin").isNull()
            | ((F.col(key) >= F.col("_fmin")) & (F.col(key) <= F.col("_fmax")))
        )
        return {
            r[0]
            for r in keys.join(F.broadcast(fdf), cond)
            .select("_fpath")
            .distinct()
            .collect()
        }

    def _write_quarantine(
        self, bad_events: DataFrame, batch_id: str, reason: str = "malformed"
    ) -> None:
        """Dead-letter sink: preserve excluded events row-for-row for
        inspection/replay, tagged with WHY (``reason``: 'malformed' |
        'late'). Overwrite-per-batch keeps epoch replays idempotent.
        Costs a Spark job only when excluded rows exist."""
        d = os.path.join(self.path, _QUARANTINE, f"batch={batch_id}")
        bad_events.withColumn("reason", F.lit(reason)).write.mode(
            "overwrite"
        ).parquet(d)

    def quarantine(self) -> DataFrame:
        """All quarantined events with their ``batch`` partition
        column; empty single-column frame when nothing was ever
        quarantined."""
        p = os.path.join(self.path, _QUARANTINE)
        # the dir may exist but hold no batches (e.g. a discarded WAP
        # attempt removed the only one) — an empty parquet read cannot
        # infer a schema
        if not os.path.isdir(p) or not any(
            s.startswith("batch=") for s in os.listdir(p)
        ):
            return local_frame(self.spark, [], "batch string")
        # batches quarantined before and after a schema evolution of
        # the FEED may differ in columns — union them, null-padded
        return (
            self.spark.read.option("basePath", p)
            .option("mergeSchema", "true")
            .parquet(p)
        )

    # ------------------------------------------------------------------
    # data-file writer (shared by every operation that writes files)
    # ------------------------------------------------------------------

    def _write_files(
        self, c: dict, rows: DataFrame, buckets, counters: dict | None = None,
        kind: str = "base", keep=None,
    ) -> tuple[list[dict], dict]:
        """The one write step: write ``rows`` (current schema +
        ``_seq``/``_deleted``/``_bucket``; other columns are dropped
        after counting) as the data files of snapshot ``c + 1``, in a
        directory of this attempt's own. The write runs
        ``min(len(set(buckets)), defaultParallelism)`` tasks, so a small
        batch's write is one wave of tasks; rows are hash-partitioned by
        ``_bucket``, so each bucket lands in exactly one task and gets
        its own files there. ``counters`` (name → aggregate over ``rows``)
        ride along as an Observation on the same Spark job — no second
        pass; rows failing the ``keep`` predicate are counted, not
        written. ``kind="delta"`` marks the files as merge-on-read
        deltas whose seq is the new snapshot id. Returns the manifest
        entries and the counter values; the caller commits."""
        snap_id = c["snapshot_id"] + 1
        counted = rows
        aggs = [e.alias(n) for n, e in (counters or {}).items()]
        if counters:
            obs = Observation()
            rows = rows.observe(obs, *aggs)
        if keep is not None:
            rows = rows.filter(keep)
        files = self._write_data(
            rows.select(*[x["name"] for x in self.schema_cols(c)],
                        _SEQ, _DELETED, "_bucket"),
            c, self._data_dir(snap_id=snap_id, stage=self._stage_to),
            n_parts=max(min(len(set(buckets)),
                            self.spark.sparkContext.defaultParallelism), 1),
            kind=kind,
        )
        if not counters:
            return files, {}
        try:
            counts = obs.get
        except Exception:
            # AQE's empty-relation propagation can eliminate the write
            # subtree of empty rows, leaving the Observation
            # unevaluated. Any written row means a REAL observation
            # error — zeroing the counters would corrupt the lineage,
            # so re-raise. Nothing written and no ``keep``: the rows
            # were empty and every counter is zero. With ``keep`` the
            # rows may all have been filtered out, so count them with
            # one aggregate pass.
            if any(f.get("n_rows") for f in files):
                raise
            counts = {} if keep is None else counted.agg(*aggs).first().asDict()
        return files, {n: int(counts.get(n) or 0) for n in counters}

    def _write_data(
        self, df: DataFrame, c: dict, rel_dir: str, n_parts: int, kind: str,
    ) -> list[dict]:
        """Write rows (must carry ``_bucket``) as key-sorted parquet
        files in ``n_parts`` tasks, hash-partitioned by ``_bucket`` (a
        task may hold several buckets, a bucket never spans two tasks),
        one directory per bucket, split at ``max_file_rows``;
        return per-file manifest entries with key min/max + tombstone
        presence harvested from the parquet footers (driver-side,
        bounded by file count — the same commit-path stats collection
        Iceberg does)."""
        key = c["key"]
        out_dir = os.path.join(self.path, rel_dir)
        (
            df.repartition(n_parts, "_bucket")
            # prefix (_bucket) satisfies the dynamic-partition write's
            # required ordering, so the key sort survives into files
            .sortWithinPartitions("_bucket", key)
            .write.option("maxRecordsPerFile", c.get("max_file_rows", 1 << 20))
            .partitionBy("_bucket")
            .parquet(out_dir)
        )
        work: list[tuple[str, int, str]] = []
        for sub in sorted(os.listdir(out_dir)):
            if not sub.startswith("_bucket="):
                continue
            bucket = int(sub.split("=")[1])
            bdir = os.path.join(out_dir, sub)
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    work.append((f"{rel_dir}/{sub}/{fn}", bucket, os.path.join(bdir, fn)))
        # footer reads are tiny but latency-bound — a thread pool keeps
        # this commit-path step O(files/threads) driver-side
        order_col = c["order_col"]
        with ThreadPoolExecutor(max_workers=16) as pool:
            stats = list(
                pool.map(lambda w: self._footer_stats(w[2], key, order_col), work)
            )
        return [
            {
                "path": rel_path,
                "bucket": bucket,
                "schema_version": c["schema_version"],
                "min_key": kmin,
                "max_key": kmax,
                "min_order": omin,
                "max_order": omax,
                "n_rows": n_rows,
                "has_del": has_del,
                # merge-on-read: delta entries carry kind+seq (the
                # writing snapshot id — the read-time LWW tiebreak);
                # base entries stay field-free for manifest size
                **({"kind": "delta", "seq": c["snapshot_id"] + 1}
                   if kind == "delta" else {}),
            }
            for (rel_path, bucket, _), (kmin, kmax, has_del, omin, omax, n_rows)
            in zip(work, stats)
        ]

    # ------------------------------------------------------------------
    # maintenance (gc, compaction, rebucket, the full validate)
    # ------------------------------------------------------------------

    def gc_tombstones(self, older_than) -> dict:
        """Drop tombstone rows with ``order_col <= older_than`` —
        SAFETY CONTRACT: only call with the source's lateness watermark
        (no event older than ``older_than`` can still arrive); an
        expired tombstone can no longer suppress a late stale insert.

        File-granular like merge: only files whose footer says they
        contain tombstones are read and rewritten; tombstone-free files
        are carried by reference. Commits a ``gc_tombstones`` snapshot
        (batch ids preserved, so exactly-once replay is unaffected).
        Returns {files_rewritten, files_carried, rows_dropped}.

        Merge-on-read interaction: a tombstone in a DELTA file may be
        the only thing suppressing an older live row in a base file —
        dropping it file-locally would resurrect that row. Files are
        picked by :meth:`_split_files`, so a bucket that holds a delta
        and a tombstone is taken whole and FOLDED (LWW-resolved,
        rewritten as base): the expiry applies to resolved winners,
        never to shadowing rows."""
        c = self.commit()
        hit, carry = self._split_files(c, lambda f: f.get("has_del", True))
        if not hit:
            return {"files_rewritten": 0, "files_carried": len(carry),
                    "rows_dropped": 0}
        order_col = c["order_col"]
        cur = self._resolved_entries_df(c, hit).withColumn(
            "_bucket", self._bucket_expr(F.col(c["key"]))
        )
        expired = F.col(_DELETED) & (F.col(order_col) <= F.lit(older_than))
        new_files, counts = self._write_files(
            c, cur, [f["bucket"] for f in hit],
            {"dropped": F.sum(expired.cast("long"))}, keep=~expired,
        )
        dropped = counts["dropped"]
        self._next_commit(
            c, "gc_tombstones", carry + new_files,
            lineage={"rows_dropped": dropped},
        )
        return {"files_rewritten": len(hit), "files_carried": len(carry),
                "rows_dropped": dropped}

    def validate(self, full: bool = False) -> dict:
        """:meth:`TableLog.validate`, and with ``full=True`` ONE data scan
        over all files: per-file row counts, key ranges, and bucket
        assignment must match the manifest (compared driver-side via
        ``input_file_name``), and no key, live or tombstone, may appear
        twice in a snapshot's base files — the invariant a copy-on-write
        read (a plain union) and a merge-on-read resolver (which emits a
        base row no delta shares as it reads it) both rely on."""
        res = super().validate(full)
        c = self.commit()
        if not (full and c["files"]):
            return res
        issues = res["issues"]
        key = c["key"]
        expected = {f["path"]: f for f in c["files"]}
        # ONE scan: project to the audit columns (tiny vs the
        # corpus) and cache that projection — both the per-file
        # stats agg and the duplicate-base-key agg read it, so the
        # data files are opened once even though the two checks
        # group by different keys
        by_kind: dict[bool, list[dict]] = {}
        for f in c["files"]:
            by_kind.setdefault(f.get("kind") == "delta", []).append(f)
        audit = functools.reduce(DataFrame.unionByName, [
            self._entries_df(c, fs).select(
                F.input_file_name().alias("_file"), F.col(key),
                self._bucket_expr(F.col(key)).alias("_b"), F.lit(delta).alias("_delta"),
            ) for delta, fs in by_kind.items()
        ]).persist()
        rows = (
            audit.groupBy("_file").agg(
                F.count("*").alias("n"),
                F.min(key).alias("kmin"),
                F.max(key).alias("kmax"),
                # min==max==manifest bucket ⇔ single correct bucket
                # (NOT countDistinct — that plans an Expand + full
                # shuffle and kills map-side combine)
                F.min("_b").alias("bmin"),
                F.max("_b").alias("bmax"),
            )
            .collect()
        )
        by_suffix = {}
        for r in rows:
            path = r["_file"]
            hit = next((p for p in expected if path.endswith(p)), None)
            if hit is None:
                issues.append(f"scanned file not in manifest: {path}")
                continue
            by_suffix[hit] = r
        for p, f in expected.items():
            r = by_suffix.get(p)
            if r is None:
                issues.append(f"manifest file produced no rows: {p}")
                continue
            if f.get("n_rows") is not None and r["n"] != f["n_rows"]:
                issues.append(
                    f"row count mismatch on {p}: {r['n']} != {f['n_rows']}"
                )
            if f.get("min_key") is not None and (
                r["kmin"] < f["min_key"] or r["kmax"] > f["max_key"]
            ):
                issues.append(f"keys outside manifest range on {p}")
            if r["bmin"] != f["bucket"] or r["bmax"] != f["bucket"]:
                issues.append(f"bucket assignment violated on {p}")
        # delta files legitimately hold further versions of a key
        # until compaction folds them
        dup = (audit.filter(~F.col("_delta")).groupBy(key).count()
               .filter(F.col("count") > 1).count())
        audit.unpersist()
        if dup:
            issues.append(f"{dup} keys present in more than one base row")
        res["checked"]["scanned"] = True
        res["ok"] = not issues
        return res

    def compact_small_files(self, small_ratio: float = 0.25) -> dict:
        """Targeted compaction: rewrite ONLY the buckets whose average
        file is below ``small_ratio × max_file_rows`` (or whose files
        lack stats), carrying healthy buckets untouched — the
        maintenance loop's default instead of a full rewrite. Pure
        manifest arithmetic to pick targets; returns compact()'s
        result plus the chosen buckets."""
        threshold = max(int(self.commit().get("max_file_rows", 1 << 20) * small_ratio), 1)
        return self._compact_targets(lambda s: s["files"] > 1 and (
            s["avg_rows"] < threshold or s["rows"] == 0))

    def compact_deltas(self, min_deltas_per_bucket: int = 1) -> dict:
        """Targeted merge-on-read maintenance: fold the buckets holding
        at least ``min_deltas_per_bucket`` delta files (and at least
        one) back into one-row-per-key base files (and nothing else).
        Pure manifest arithmetic to pick targets; the higher the
        threshold, the more read-time resolution work is tolerated
        before paying a rewrite — the classic MoR read/write
        amplification dial."""
        least = max(min_deltas_per_bucket, 1)
        return self._compact_targets(lambda s: s["delta_files"] >= least)

    def _compact_targets(self, pick) -> dict:
        """Compact the buckets whose ``table_stats`` entry ``pick``
        accepts; compact()'s result plus the chosen buckets."""
        stats = self.table_stats()
        targets = sorted(b for b, s in stats["buckets"].items() if pick(s))
        if not targets:
            n = stats["total_files"]
            return {"files_before": n, "files_after": n, "buckets": []}
        return {**self.compact(buckets=targets), "buckets": targets}

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Small-file compaction (Iceberg's rewrite_data_files): rewrite
        the selected buckets' files into fresh key-sorted files at the
        table's ``max_file_rows`` target, carrying every other file by
        reference. Data, tombstones, and batch ids are unchanged — a
        pure layout operation, needed after many small merges pile up
        per-batch files. Buckets holding merge-on-read DELTA files are
        LWW-resolved while folding, so the rewritten buckets come out
        one-row-per-key base files (the MoR → base fold). Returns
        {files_before, files_after}."""
        c = self.commit()
        bset = set(buckets) if buckets is not None else None
        hit, carry = self._split_files(
            c, lambda f: bset is None or f["bucket"] in bset
        )
        if not hit:
            return {"files_before": len(c["files"]), "files_after": len(c["files"])}
        rows = self._resolved_entries_df(c, hit).withColumn(
            "_bucket", self._bucket_expr(F.col(c["key"]))
        )
        new_files, _ = self._write_files(c, rows, [f["bucket"] for f in hit])
        self._next_commit(
            c, "compact", carry + new_files,
            lineage={"files_before": len(hit), "files_after": len(new_files)},
        )
        return {"files_before": len(hit) + len(carry),
                "files_after": len(new_files) + len(carry)}

    def rebucket(self, n_buckets: int) -> dict:
        """Bucket-layout evolution (Iceberg's partition-spec evolution,
        restricted to the hash-bucket spec this table uses): rewrite
        the table into ``n_buckets`` buckets in one commit. A growing
        table needs this when the create-time bucket count no longer
        matches its size — at 100 TB a 16-bucket layout puts ~6 TB
        behind one bucket, so every merge touching it rewrites huge
        file sets; doubling the buckets halves that rewrite
        amplification and widens merge/read parallelism.

        This is the ONE whole-table rewrite in the maintenance surface
        (everything else is file-granular); schedule it like a major
        compaction. Data, tombstones, batch fences, the event-time
        high-water mark, and applied DDL fences all carry through, and
        readers/writers pick the new layout up atomically from the
        commit — `_bucket_expr`, merge pruning, and point lookups all
        derive bucket numbers from the CURRENT commit's n_buckets.
        Returns {files_before, files_after, n_buckets}."""
        c = self.commit()
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if n_buckets == c["n_buckets"]:
            return {"files_before": len(c["files"]),
                    "files_after": len(c["files"]), "n_buckets": n_buckets}
        rows = self._resolved_entries_df(c, c["files"]).withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col(c["key"])), F.lit(n_buckets)).cast("int"),
        )
        new_files, _ = self._write_files(c, rows, range(n_buckets))
        self._next_commit(
            c, f"rebucket:{c['n_buckets']}->{n_buckets}", new_files,
            lineage={"files_before": len(c["files"]),
                     "files_after": len(new_files)},
            n_buckets=n_buckets,
        )
        return {"files_before": len(c["files"]),
                "files_after": len(new_files), "n_buckets": n_buckets}

    # ------------------------------------------------------------------
    # incremental changelog (CDC OUT — Iceberg's incremental scan)
    # ------------------------------------------------------------------

    def changes(
        self,
        from_snapshot: int,
        to_snapshot: int | None = None,
        with_preimages: bool = False,
    ) -> DataFrame:
        """Row-level changelog between two snapshots, reading ONLY the
        files that changed (added/removed from the manifest) — the
        feed a downstream consumer tails to stay in sync without
        re-scanning the table.

        Default output: table columns + ``change_type`` ∈ {insert,
        update, delete}. Semantics per key: live→live with a newer
        (order_col, seq) = update; absent-or-tombstone→live = insert;
        live→tombstone = delete; carried rows rewritten only for file
        splits/compaction produce NO change row (same version).

        ``with_preimages=True`` switches to the Delta-CDF dialect a
        DELTA CONSUMER (e.g. incremental aggregate maintenance) needs:
        updates emit TWO rows — ``update_preimage`` (the replaced
        values) and ``update_postimage`` — and ``delete`` rows carry
        the deleted row's values (the default dialect's delete carries
        the tombstone's nulls). Pre-images are id-mapped into the
        target snapshot's schema, so adds/renames/widenings between
        the two snapshots read coherently."""
        cf = self.commit(from_snapshot)
        ct = self.commit(to_snapshot)
        key = ct["key"]
        order_col = ct["order_col"]
        from_paths = {f["path"] for f in cf["files"]}
        to_paths = {f["path"] for f in ct["files"]}
        removed = [f for f in cf["files"] if f["path"] not in to_paths]
        added = [f for f in ct["files"] if f["path"] not in from_paths]
        cols = [c["name"] for c in self.schema_cols(ct)]

        # merge-on-read commits ADD delta files without REMOVING the
        # base files they shadow — the pre-image of an updated key
        # still sits in a carried cf file. Pull the cf files that
        # could hold current versions of the delta keys (same bucket,
        # key-range overlap) into the old side, and LWW-resolve BOTH
        # sides per key so multi-version file sets (deltas, or a
        # compaction fold crossing the range) diff as logical rows,
        # not physical ones. For a pure-CoW range both extensions
        # no-op and the plan is unchanged.
        added_deltas = [f for f in added if f.get("kind") == "delta"]
        old_files = list(removed)
        if added_deltas:
            removed_paths = {f["path"] for f in removed}
            spans = [
                (f["bucket"], f.get("min_key"), f.get("max_key"))
                for f in added_deltas
            ]
            for f in cf["files"]:
                if f["path"] in removed_paths:
                    continue
                for b, mn, mx in spans:
                    if f["bucket"] != b:
                        continue
                    fmin, fmax = f.get("min_key"), f.get("max_key")
                    if (
                        mn is None or fmin is None
                        or not (fmax < mn or mx < fmin)
                    ):
                        old_files.append(f)
                        break

        old_raw = self._resolved_entries_df(cf, old_files)
        old_cols = [F.col(key).alias("_k"),
                    F.struct(F.col(order_col), F.col(_SEQ),
                             F.col(_DELETED)).alias("_ov")]
        if with_preimages:
            # project the pre-image payload into ct's schema BY COLUMN
            # ID (renames keep their values; columns added after the
            # pre-image read as null)
            cf_by_id = {x["id"]: x for x in self.schema_cols(cf)}
            for col in self.schema_cols(ct):
                if col["name"] == key:
                    continue
                src = cf_by_id.get(col["id"])
                expr = (
                    F.col(src["name"]).cast(col["type"])
                    if src is not None
                    else F.lit(None).cast(col["type"])
                )
                old_cols.append(expr.alias(f"_pre_{col['name']}"))
        old = old_raw.select(*old_cols)
        new = self._resolved_entries_df(ct, added).select(
            F.col(key).alias("_k"),
            F.struct(F.col(order_col), F.col(_SEQ), F.col(_DELETED)).alias("_nv"),
            *[F.col(c) for c in cols if c != key],
        )
        j = new.join(old, "_k", "left")
        o_del = F.col(f"_ov.{_DELETED}")
        n_del = F.col(f"_nv.{_DELETED}")
        same_version = (
            (F.col(f"_ov.{order_col}") == F.col(f"_nv.{order_col}"))
            & (F.col(f"_ov.{_SEQ}") == F.col(f"_nv.{_SEQ}"))
        )
        # struct comparison is lexicographic over (order_col, _seq, …):
        # a merge-on-read delta whose version LOST to the pre-state
        # (stale event logged as a delta row, discarded at read time)
        # is not a change
        stale = F.col("_nv") < F.col("_ov")
        change = (
            F.when(F.col("_ov").isNull() & ~n_del, "insert")
            .when(F.col("_ov").isNull(), F.lit(None))        # new tombstone, unseen key
            .when(same_version, F.lit(None))                  # carried (file split)
            .when(stale, F.lit(None))                         # stale MoR delta
            .when(o_del & ~n_del, "insert")                   # resurrection
            .when(~o_del & n_del, "delete")
            .when(~o_del & ~n_del, "update")
            .otherwise(F.lit(None))                           # tombstone refresh
        )
        base = j.withColumn("change_type", change).filter(
            F.col("change_type").isNotNull()
        )
        if not with_preimages:
            return base.select(
                F.col("_k").alias(key),
                *[F.col(c) for c in cols if c != key],
                "change_type",
            )
        post = base.filter(F.col("change_type") != "delete").select(
            F.col("_k").alias(key),
            *[F.col(c) for c in cols if c != key],
            F.when(F.col("change_type") == "update", "update_postimage")
            .otherwise("insert")
            .alias("change_type"),
        )
        pre = base.filter(
            F.col("change_type").isin("update", "delete")
        ).select(
            F.col("_k").alias(key),
            *[F.col(f"_pre_{c}").alias(c) for c in cols if c != key],
            F.when(F.col("change_type") == "update", "update_preimage")
            .otherwise("delete")
            .alias("change_type"),
        )
        return post.unionByName(pre)

    # ------------------------------------------------------------------
    # lineage table
    # ------------------------------------------------------------------

    def lineage(self) -> DataFrame:
        """One row per source partition per merge ever committed, by
        :meth:`lineage_sources`'s rule: retained merges' rows are built
        on the driver (no Spark job), the rest read from ``_lineage/``."""
        rows, files, retained = self.lineage_sources()
        ddl = "batch_id string, snapshot_id bigint, source_part int, " + ", ".join(
            f"{n} bigint" for n in _OFFSET_COLS[1:] + _COUNTER_COLS
        )
        out = local_frame(
            self.spark, pa.Table.from_pylist(rows, schema=_LINEAGE_SCHEMA), ddl
        )
        if not files:
            return out
        return out.unionByName(self.spark.read.schema(out.schema).parquet(*files)
                               .filter(~F.col("snapshot_id").isin(*sorted(retained))))
