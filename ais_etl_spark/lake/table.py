"""LakeTable — snapshot-committed, bucketed copy-on-write Parquet table.

Iceberg semantics, from scratch, sized for the 10^10-event design point:

- **Snapshots are manifests, not data copies.** A commit is one small
  JSON file of per-FILE entries (path, bucket, schema_version,
  key min/max, has_tombstones) — stored FULL (complete listing) or as
  a DELTA against its parent (adds/removes only, chain length capped
  at ``_MANIFEST_DELTA_CAP``), so commit metadata IO scales with the
  files a merge touches, not with table age (Iceberg's manifest-list
  idea collapsed into the commit log). MERGE rewrites ONLY the files whose
  key range can contain a changed key (all files of such a bucket when it
  holds a merge-on-read delta); every other file — including
  sibling files of the same bucket — is carried into the new snapshot
  by reference, the same copy-on-write file-granularity story as
  Iceberg MERGE. Files are written key-sorted and split at
  ``max_file_rows``, so per-file key ranges within a bucket are
  disjoint and a hot key's write amplification is one FILE, not one
  bucket. At 100 TB with 1024 buckets a batch touching 1% of keys
  rewrites ~1% of the table's files, not the table.
- **Atomic commit = POSIX hard link** of the manifest JSON into
  ``_commits/`` (write-tmp-then-link; the link is atomic on one
  filesystem and, unlike rename, fails if the snapshot name exists).
  The reference's analog is the versioned result cache
  with atomic refresh (/root/reference/transformers/tar2tf/src/
  cached.go:122-195); Iceberg's is the catalog snapshot swap.
- **Exactly-once** = the commit carries ``batch_id``; a merge whose
  batch_id is already committed is a no-op replay (idempotent MERGE,
  SURVEY §4 item 2). Structured Streaming's ``foreachBatch`` epoch id
  is the batch_id, so checkpoint-resume never double-applies.
- **LWW upsert with tombstones, one tie rule.** The winner per url is
  the max of ``(warc_ts, _seq, file seq)`` across every copy of the
  key: the rows of the files it lives in plus the incoming events,
  which rank above every committed file's seq (``_INCOMING_SEQ``), so
  incoming wins an exact (order, seq) tie.
  The CoW merge, the merge-on-read scan and the maintenance folds
  all resolve through ``_resolve_lww_rows``, so a merge and a read
  cannot disagree on a winner; a losing (late/stale) event is a
  no-op. Deletes persist as tombstone rows (``_deleted``) so an
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
- **Lineage/metrics**: every merge commit records per-source-partition
  offset ranges and insert/update/delete/stale counts, and appends the
  same rows to a ``_lineage`` parquet table (the Spark analog of
  audio_manager's processed/error counters,
  /root/reference/NeMo/.../audio_manager/fastapi_server.py:197-206).

Concurrency model: single writer (one streaming query / one driver),
many readers — Iceberg's default practical deployment. Readers always
see a complete snapshot because the manifest is the commit point. A
second writer that races for the same snapshot id loses with
:class:`CommitConflict`; it never overwrites the winner's manifest,
and its data files sit in a directory of their own that no manifest
lists (``expire_snapshots`` removes it).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ais_etl_spark.operators.lww import lww_latest
from ais_etl_spark.session import arrow_schema, local_frame

_COMMITS = "_commits"
_LATEST = "LATEST"  # head-pointer hint file inside _commits/
_DATA = "data"
_LINEAGE = "_lineage"
_QUARANTINE = "_quarantine"

# internal physical columns present in every data file
_SEQ = "_seq"        # event_id of the writing event (LWW tiebreak vs future events)
_DELETED = "_deleted"  # tombstone flag
# read-time-only column (never persisted): the manifest seq of the file a
# row came from — the LWW tiebreak between a delta file and a later copy
# of the same logical row (merge-on-read resolution)
_FILESEQ = "_fileseq"
# the _fileseq a merge gives its incoming rows: above every committed
# file's seq (a snapshot id). One constant, not the new snapshot's id,
# so the merge's generated code is the same for every batch — a
# per-batch literal is inlined into it and recompiled on every merge
_INCOMING_SEQ = (1 << 63) - 1

# longest run of DELTA manifests before a FULL listing is forced: caps
# the commit-reconstruction walk a fresh reader pays (32 small JSON
# reads, memoized per process) independent of table age
_MANIFEST_DELTA_CAP = 32

# newest commits kept in the per-instance cache; a long-running writer
# commits once per micro-batch, and every cached commit holds a full
# file listing — unbounded, that is a driver memory leak across a
# 10^6-batch stream. Evicted commits re-read from disk (≤ chain-cap
# small JSONs) — correctness is unaffected.
_COMMIT_CACHE_CAP = 128

# what a child snapshot inherits from its parent unless its operation
# changes it (LakeTable._next_commit): the schema state and table
# layout, plus the event-time high-water mark and the applied DDL
# fences — each with the value a manifest that never recorded it implies
_CARRIED = ("schema_version", "schemas", "key", "order_col", "n_buckets",
            "max_file_rows")
_FENCES = {"hwm_us": None, "applied_fences": []}

# one row per source partition per merge commit (see _append_lineage)
_LINEAGE_DDL = (
    "batch_id string, snapshot_id bigint, source_part int, "
    "min_offset bigint, max_offset bigint, events bigint, "
    "inserts bigint, updates bigint, deletes bigint, "
    "stale_noops bigint, malformed bigint, upserts bigint, "
    "tombstones bigint"
)


def durable_write(obj, final: str, exclusive: bool = False) -> None:
    """Write ``obj`` as JSON to a uniquely named tmp file in ``final``'s
    directory, fsync it, then publish it at ``final`` in one atomic
    step: ``os.replace``, or with ``exclusive`` an ``os.link`` that
    raises ``FileExistsError`` when the name is taken (``os.rename``
    would silently replace it on POSIX). No tmp file outlives the
    call."""
    tmp = os.path.join(os.path.dirname(final), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    if not exclusive:
        os.replace(tmp, final)
        return
    try:
        os.link(tmp, final)
    finally:
        os.remove(tmp)


class CommitConflict(RuntimeError):
    """Another writer already published the snapshot id this commit
    was built for; nothing of this commit became visible."""


@dataclass
class Column:
    id: int
    name: str
    type: str  # Spark DDL type string


class LakeTable:
    """One table rooted at ``path`` (local fs or any Hadoop-compatible FS
    via plain path strings — Spark handles the IO)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._commit_cache: dict[int, dict] = {}
        # write-audit-publish: while set, _write_files writes into the
        # staged batch's data dir and _next_commit parks the commit and
        # its lineage offsets in _staged_capture instead of publishing
        self._stage_to: str | None = None
        self._staged_capture: dict | None = None

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
        _KEY_TYPES = {
            "string", "int", "bigint", "smallint", "tinyint",
            "long", "integer", "short", "byte", "double", "float",
        }
        key_type = next((t for n, t in schema if n == key), None)
        if key_type is None:
            raise ValueError(f"key column {key!r} not in schema")
        if key_type.lower() not in _KEY_TYPES:
            # the manifest stores per-file/per-batch key min/max as
            # JSON, and the driver-side range pruning compares the raw
            # Python values — both hold for string/numeric keys only
            raise ValueError(
                f"unsupported key type {key_type!r}: manifest key stats "
                f"require a string or numeric key column"
            )
        os.makedirs(os.path.join(path, _COMMITS), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA), exist_ok=True)
        cols = [Column(i, n, t).__dict__ for i, (n, t) in enumerate(schema)]
        commit = {
            "snapshot_id": 0,
            "parent": None,
            "batch_id": None,
            "operation": "create",
            "schema_version": 0,
            "schemas": [cols],
            "key": key,
            "order_col": order_col,
            "n_buckets": n_buckets,
            "max_file_rows": max_file_rows,
            "files": [],
            "batches": [],
            "lineage": {},
        }
        t = cls(spark, path)
        t._write_commit(commit)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.current_snapshot_id() is None:
            raise FileNotFoundError(f"no commits under {path}")
        return t

    # ------------------------------------------------------------------
    # commit log
    # ------------------------------------------------------------------

    def _commit_path(self, snap: int) -> str:
        return os.path.join(self.path, _COMMITS, f"v{snap:012d}.json")

    def current_snapshot_id(self) -> int | None:
        """Newest committed snapshot id. Served from the ``LATEST``
        pointer file (one small read + one failed stat) rather than a
        directory listing: ``commit()`` runs on every merge/read, and a
        listdir is O(retained commits) — quadratic driver cost across a
        10^6-batch streaming run. LATEST is a HINT, not truth (Delta's
        ``_last_checkpoint`` pattern): it is updated AFTER the commit
        rename, so a crash between the two leaves it lagging — readers
        probe forward over the contiguous id sequence to the exact
        head. Missing/garbage hint (pre-hint table, manual surgery)
        falls back to the full listing."""
        d = os.path.join(self.path, _COMMITS)
        snap = None
        try:
            with open(os.path.join(d, _LATEST)) as f:
                snap = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        if snap is not None and os.path.exists(self._commit_path(snap)):
            while os.path.exists(self._commit_path(snap + 1)):
                snap += 1
            return snap
        if not os.path.isdir(d):
            return None
        snaps = self._snapshot_ids()
        return snaps[-1] if snaps else None

    def _snapshot_ids(self) -> list[int]:
        """Ids of every commit file under ``_commits/``, ascending."""
        return sorted(
            int(f[1:-5]) for f in os.listdir(os.path.join(self.path, _COMMITS))
            if f.startswith("v") and f.endswith(".json")
        )

    def commit(self, snapshot_id: int | None = None) -> dict:
        snap = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if snap is None:
            raise FileNotFoundError(f"no commits under {self.path}")
        if snap not in self._commit_cache:
            with open(self._commit_path(snap)) as f:
                c = json.load(f)
            if "files" not in c:
                # DELTA manifest: reconstruct the full listing from the
                # parent (recursion memoizes every ancestor, so a chain
                # of k deltas costs k small reads ONCE per process, not
                # per access). Entries whose path reappears in
                # files_added are replacements (e.g. a re-stat), so the
                # parent version is dropped either way.
                parent = self.commit(c["parent"])
                added = c.pop("files_added")
                drop = set(c.pop("files_removed", []))
                drop.update(e["path"] for e in added)
                c["files"] = [
                    e for e in parent["files"] if e["path"] not in drop
                ] + added
            if "batches" not in c and "batches_added" in c:
                c["batches"] = list(self.commit(c["parent"]).get(
                    "batches", [])) + c.pop("batches_added")
            self._cache_put(snap, c)
        return self._commit_cache[snap]

    def _cache_put(self, snap: int, c: dict) -> None:
        """Insert into the bounded commit cache, evicting the
        oldest-inserted entries past ``_COMMIT_CACHE_CAP`` (dicts are
        insertion-ordered; the single-writer loop inserts newest last,
        so eviction drops the stalest snapshots first)."""
        cache = self._commit_cache
        cache[snap] = c
        while len(cache) > _COMMIT_CACHE_CAP:
            oldest = next(iter(cache))
            if oldest == snap:
                break
            del cache[oldest]

    def _encode_manifest(self, commit: dict) -> dict:
        """On-disk manifest form: FULL (complete per-file listing) or
        DELTA (``files_added`` entries + ``files_removed`` paths vs the
        parent commit, plus ``manifest_chain`` = deltas since the last
        full). Iceberg solves the same problem with manifest lists;
        here the commit log IS the manifest list. Why it matters at the
        design point: a 100 TB table is ~10^6 data files, so re-listing
        every file per commit writes ~100 MB of driver-side JSON per
        merge; a merge touching 1% of files writes a ~10^4-entry delta
        instead — commit metadata IO scales with the CHANGE, like the
        data IO already does. A delta is only chosen when it is
        strictly smaller than the full listing and the chain is shorter
        than ``_MANIFEST_DELTA_CAP`` (bounds the reconstruction walk);
        whole-table rewrites (rebucket/compact-all) fail the size test
        and naturally re-anchor the chain with a full manifest."""
        base = {
            k: v for k, v in commit.items()
            if k not in ("files", "manifest_chain")
        }
        files = commit["files"]
        pid = commit.get("parent")
        if pid is not None and files:
            try:
                parent = self.commit(pid)
            except FileNotFoundError:
                parent = None
            if parent is not None and int(parent.get("manifest_chain", 0)) < _MANIFEST_DELTA_CAP:
                pmap = {e["path"]: e for e in parent["files"]}
                new_paths = {e["path"] for e in files}
                added = [e for e in files if pmap.get(e["path"]) != e]
                removed = [p for p in pmap if p not in new_paths]
                if len(added) + len(removed) < len(files):
                    enc = {
                        **base,
                        "manifest_chain": int(parent.get("manifest_chain", 0)) + 1,
                        "files_added": added,
                        "files_removed": removed,
                    }
                    # the batch-fence list is append-only (10^6 batches
                    # at the design point — it would dominate every
                    # delta commit); store only the appended suffix.
                    # Rollback TRUNCATES the list, failing the prefix
                    # test, so it keeps the exact full form.
                    batches = commit.get("batches", [])
                    pb = parent.get("batches", [])
                    if len(batches) >= len(pb) and batches[:len(pb)] == pb:
                        enc.pop("batches", None)
                        enc["batches_added"] = batches[len(pb):]
                    return enc
        return {**base, "manifest_chain": 0, "files": files}

    def _next_commit(
        self, c: dict, operation: str, files: list[dict], *,
        batch_id: str | None = None, lineage: dict | None = None,
        offsets: list[dict] | None = None, **changes,
    ) -> dict:
        """Derive snapshot ``c + 1`` from its parent ``c`` and publish
        it — the one place a child commit is built. The child carries
        the parent's schema state, layout, batch fences (``batch_id``
        appended when given), high-water mark and applied DDL fences;
        ``changes`` replaces any of them. While :meth:`stage_merge` has
        a write-audit-publish stage open, the commit and its lineage
        offsets are parked for it instead of published. Returns the
        commit."""
        commit = {
            "snapshot_id": c["snapshot_id"] + 1,
            "parent": c["snapshot_id"],
            "batch_id": batch_id,
            "operation": operation,
            **{k: c[k] for k in _CARRIED if k in c},
            "files": files,
            "batches": list(c.get("batches", []))
            + ([] if batch_id is None else [batch_id]),
            "lineage": lineage or {},
            **changes,
        }
        for k, empty in _FENCES.items():
            # create records neither field and a schema change keeps
            # its parent's key set; every other child records both
            if k in c or "schemas" not in changes:
                commit.setdefault(k, c.get(k, empty))
        if self._stage_to is not None:
            # lineage rows too wait for publish: a discarded staged
            # batch never ran, as far as the lineage table is concerned
            self._staged_capture = {"commit": commit, "offsets": offsets or []}
        else:
            self._publish(commit, offsets)
        return commit

    def _publish(self, commit: dict, offsets: list[dict] | None = None) -> None:
        """Make ``commit`` durable: the manifest, then — for a merge —
        its lineage rows."""
        self._write_commit(commit)
        if commit.get("batch_id") is not None:
            self._append_lineage(commit["lineage"], offsets)

    def _write_commit(self, commit: dict) -> None:
        """Atomic publish: write a tmp file, then hard-link it to the
        snapshot's name. The link fails when the name is taken, so a
        second writer racing for the same snapshot id gets
        :class:`CommitConflict` and the first commit survives intact."""
        commit["committed_at"] = time.time()
        enc = self._encode_manifest(commit)
        try:
            durable_write(
                enc, self._commit_path(commit["snapshot_id"]), exclusive=True
            )
        except FileExistsError:
            raise CommitConflict(
                f"snapshot {commit['snapshot_id']} already committed "
                f"(concurrent writer?)"
            ) from None
        # head-pointer hint (no fsync: staleness is healed by the
        # reader's forward probe, torn content by the int() fallback)
        lt = os.path.join(self.path, _COMMITS, f".tmp-latest-{uuid.uuid4().hex}")
        with open(lt, "w") as f:
            f.write(str(commit["snapshot_id"]))
        os.replace(lt, os.path.join(self.path, _COMMITS, _LATEST))
        # cache the FULL form; carry the chain length so the next
        # commit's encoder sees it without a disk round-trip
        commit["manifest_chain"] = enc["manifest_chain"]
        self._cache_put(commit["snapshot_id"], commit)

    def committed_batch_ids(self) -> set[str]:
        c = self.commit()
        return set(c.get("batches", []))

    # ------------------------------------------------------------------
    # schema
    # ------------------------------------------------------------------

    def schema_cols(self, commit: dict | None = None, version: int | None = None) -> list[dict]:
        c = commit or self.commit()
        v = c["schema_version"] if version is None else version
        return c["schemas"][v]

    def spark_schema_ddl(self) -> str:
        return ", ".join(f"{c['name']} {c['type']}" for c in self.schema_cols())

    def alter_add_column(
        self, name: str, col_type: str, fence_id: int | None = None
    ) -> int:
        """Metadata-only ADD COLUMN: new schema version, zero data IO.
        ``fence_id`` (the DDL event's fence_event_id) is recorded in the
        commit's ``applied_fences`` set so crash-replay of the same DDL
        stream is exactly-once by id, independent of schema shape."""
        c = self.commit()
        cols = [dict(x) for x in self.schema_cols(c)]
        if any(x["name"] == name for x in cols):
            raise ValueError(f"column {name!r} exists")
        # allocate over ALL schema versions, not just the current one —
        # re-adding a dropped column must get a fresh id, or old file
        # bytes would resurrect under the new name
        next_id = max(
            (x["id"] for sc in c["schemas"] for x in sc), default=-1
        ) + 1
        cols.append({"id": next_id, "name": name, "type": col_type})
        return self._commit_schema_change(c, cols, f"add_column:{name}", fence_id)

    def alter_rename_column(
        self, old: str, new: str, fence_id: int | None = None
    ) -> int:
        """Metadata-only RENAME COLUMN (same column id, new name)."""
        c = self.commit()
        cols = [dict(x) for x in self.schema_cols(c)]
        if any(x["name"] == new for x in cols):
            raise ValueError(f"column {new!r} exists")
        hit = [x for x in cols if x["name"] == old]
        if not hit:
            raise ValueError(f"no column {old!r}")
        hit[0]["name"] = new
        return self._commit_schema_change(
            c, cols, f"rename_column:{old}->{new}", fence_id
        )

    # lossless type-widening transitions (Iceberg's schema-evolution
    # rules): every old file value is exactly representable in the new
    # type, so the change is METADATA-ONLY — old files read through the
    # id-mapped schema with a cast, zero rewrite
    _WIDENS: dict[str, tuple[str, ...]] = {
        "tinyint": ("smallint", "int", "bigint"),
        "smallint": ("int", "bigint"),
        "int": ("bigint",),
        "float": ("double",),
    }

    def alter_widen_column(
        self, name: str, new_type: str, fence_id: int | None = None
    ) -> int:
        """Metadata-only TYPE WIDENING (int→bigint, float→double, …):
        same column id, wider type in a new schema version. Old files
        keep their narrower physical type and are cast at read time by
        the schema-version mapping; non-widening changes are rejected
        (they would need a rewrite). decimal(p,s)→decimal(p',s) with
        p' ≥ p is also accepted (same scale, more precision)."""
        c = self.commit()
        cols = [dict(x) for x in self.schema_cols(c)]
        hit = [x for x in cols if x["name"] == name]
        if not hit:
            raise ValueError(f"no column {name!r}")
        old_t, new_t = hit[0]["type"].lower(), new_type.lower()
        ok = new_t in self._WIDENS.get(old_t, ())
        if not ok and old_t.startswith("decimal(") and new_t.startswith("decimal("):
            (op, os_), (np_, ns) = (
                tuple(int(v) for v in t[8:-1].split(",")) for t in (old_t, new_t)
            )
            ok = ns == os_ and np_ >= op
        if not ok:
            raise ValueError(
                f"{old_t} -> {new_t} is not a lossless widening; "
                f"allowed: {self._WIDENS.get(old_t, ())}"
            )
        hit[0]["type"] = new_type
        return self._commit_schema_change(
            c, cols, f"widen_column:{name}:{old_t}->{new_t}", fence_id
        )

    def alter_drop_column(self, name: str, fence_id: int | None = None) -> int:
        """Metadata-only DROP COLUMN (Iceberg semantics): the column
        leaves the current schema; data files keep their bytes and
        column ids, so time travel to pre-drop snapshots still sees it
        and a later re-add gets a FRESH id (never resurrects old
        values)."""
        c = self.commit()
        cols = [dict(x) for x in self.schema_cols(c)]
        if name in (c["key"], c["order_col"]):
            raise ValueError(f"cannot drop key/order column {name!r}")
        keep = [x for x in cols if x["name"] != name]
        if len(keep) == len(cols):
            raise ValueError(f"no column {name!r}")
        return self._commit_schema_change(c, keep, f"drop_column:{name}", fence_id)

    def _commit_schema_change(
        self, parent: dict, cols: list[dict], op: str,
        fence_id: int | None = None,
    ) -> int:
        schemas = [*parent["schemas"], cols]
        fences = {}
        if fence_id is not None:
            # durable DDL fence set (the binlog-GTID analog): replay
            # idempotency is decided by fence id, never by inferring
            # "already applied" from the current schema shape — which
            # is ambiguous once a rename follows an add/widen chain
            fences["applied_fences"] = sorted(
                set(parent.get("applied_fences", [])) | {int(fence_id)}
            )
        return self._next_commit(
            parent, op, parent["files"],
            schemas=schemas, schema_version=len(schemas) - 1, **fences,
        )["snapshot_id"]

    def applied_fences(self) -> set[int]:
        """DDL fence_event_ids already applied to this table."""
        return set(self.commit().get("applied_fences", []))

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
        if not include_internal:
            out = out.filter(~F.col(_DELETED)).drop(_SEQ, _DELETED)
        return out

    @staticmethod
    def _order_micros(dt_value) -> int | None:
        """Naive datetime → epoch micros (session TZ is UTC; parquet
        stores TIMESTAMP_NTZ). One definition shared by the stats
        writer and the read-time pruner."""
        import datetime as _dt

        if dt_value is None:
            return None
        if isinstance(dt_value, (int, float)):
            return int(dt_value)
        if dt_value.tzinfo is not None:
            # tz-aware input must be CONVERTED, not wall-clock
            # relabeled — replace() would shift the pruning bounds by
            # the utcoffset
            dt_value = dt_value.astimezone(_dt.timezone.utc)
        else:
            dt_value = dt_value.replace(tzinfo=_dt.timezone.utc)
        return int(dt_value.timestamp() * 1_000_000)

    def _split_files(self, c: dict, keep) -> tuple[list[dict], list[dict]]:
        """The one file-selection step of every operation that takes
        part of snapshot ``c`` (read, the CoW merge, gc_tombstones,
        compact): ``(taken, carried)``, both in manifest order.
        ``taken`` holds the entries ``keep`` accepts plus every other
        file of each taken bucket that holds a delta: such a bucket may
        hold a version of one key in each of its files, and a part of
        it read or rewritten alone can resurrect a row a delta
        supersedes. ``carried`` holds the rest."""
        files = c["files"]
        kept = [keep(f) for f in files]
        whole = self._delta_buckets(files) & {
            f["bucket"] for f, k in zip(files, kept) if k
        }
        taken, carried = [], []
        for f, k in zip(files, kept):
            (taken if k or f["bucket"] in whole else carried).append(f)
        return taken, carried

    def _entries_df(
        self, c: dict, files: list[dict], with_fileseq: bool = False
    ) -> DataFrame:
        """Scan a specific set of manifest entries (schema-version
        mapped, internal columns included) — the file-granularity
        read primitive shared by read() and merge().

        ``with_fileseq`` adds the manifest ``seq`` of each file as a
        literal ``_fileseq`` column (one scan group per distinct
        (schema_version, seq) — seq count is bounded by commits since
        the bucket's last compaction), for merge-on-read resolution."""
        cur_cols = self.schema_cols(c)
        internal = [(_SEQ, "bigint"), (_DELETED, "boolean")]
        parts: list[DataFrame] = []
        by_grp: dict[tuple, list[str]] = {}
        for f in files:
            grp = (f["schema_version"], int(f.get("seq", 0)) if with_fileseq else 0)
            by_grp.setdefault(grp, []).append(
                os.path.join(self.path, f["path"])
            )
        for (ver, seq), paths in by_grp.items():
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
            df = self.spark.read.schema(ddl).parquet(*paths)
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
            sel += [F.col(n).cast(t).alias(n) for n, t in internal]
            if with_fileseq:
                sel.append(F.lit(seq).cast("bigint").alias(_FILESEQ))
            parts.append(df.select(*sel))

        if not parts:
            ddl = self.spark_schema_ddl() + ", " + ", ".join(
                f"{n} {t}" for n, t in internal
            )
            if with_fileseq:
                ddl += f", {_FILESEQ} bigint"
            return local_frame(self.spark, [], ddl)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    # merge-on-read resolution
    # ------------------------------------------------------------------

    def _delta_buckets(self, files: list[dict]) -> set[int]:
        return {f["bucket"] for f in files if f.get("kind") == "delta"}

    def _resolve_lww(
        self, c: dict, files: list[dict], key_value=None
    ) -> DataFrame:
        """Per-key LWW over a file set that may hold several versions
        of a key (base + delta files) — see :meth:`_resolve_lww_rows`.
        Output column set equals ``_entries_df``'s (internal columns
        included). The shuffle is bounded by the DIRTY rows handed in,
        not the table."""
        df = self._entries_df(c, files, with_fileseq=True)
        if key_value is not None:
            # point lookup: the predicate sits BELOW the groupBy, so it
            # pushes down to the parquet scan's row-group stats
            df = df.filter(F.col(c["key"]) == key_value)
        return self._resolve_lww_rows(c, df).drop(_FILESEQ)

    def _resolve_lww_rows(self, c: dict, df: DataFrame, **aggs) -> DataFrame:
        """The one per-key LWW rule, shared by reads, the CoW merge and
        the maintenance folds: winner = max struct over (order_col,
        _seq, _fileseq), so the manifest seq of the file a row came
        from breaks exact (order, seq) ties toward the later-committed
        copy. ``df`` must carry the current schema columns +
        ``_seq``/``_deleted``/``_fileseq``; the output carries them
        too, ``_fileseq`` being the winner's. ``aggs`` (name → per-key
        aggregate) are added as output columns — the CoW merge counts
        from these."""
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

    # below this delta-rows/base-rows ratio the dirty-bucket read uses
    # the key-join path (anti/semi on the delta key set, AQE-broadcast
    # when small) instead of a full-bucket groupBy: at 100 TB a 10 MB
    # delta on a TB-scale bucket must not force an all-rows shuffle
    MOR_JOIN_RESOLVE_RATIO = 0.05

    def _resolved_entries_df(self, c: dict, files: list[dict]) -> DataFrame:
        """``_entries_df`` + merge-on-read resolution: buckets with no
        delta file stream through untouched (zero extra shuffle — the
        CoW fast path and every pre-MoR table plan are unchanged);
        buckets holding deltas are LWW-resolved per key.

        Resolution strategy is chosen DRIVER-side from manifest row
        counts: when the delta rows are a small fraction of the dirty
        buckets' base rows (< ``MOR_JOIN_RESOLVE_RATIO``), base rows
        whose key has no delta version bypass resolution via a
        LEFT ANTI join on the distinct delta keys (AQE broadcasts the
        small key set → zero base shuffle), and only the touched keys
        (semi-join ∪ deltas) pay the per-key struct-max. Above the
        ratio — update-heavy backlogs — the single full groupBy is
        cheaper than shuffling base rows into a join."""
        dirty = self._delta_buckets(files)
        if not dirty:
            return self._entries_df(c, files)
        clean = [f for f in files if f["bucket"] not in dirty]
        dirty_files = [f for f in files if f["bucket"] in dirty]
        delta_files = [f for f in dirty_files if f.get("kind") == "delta"]
        base_files = [f for f in dirty_files if f.get("kind") != "delta"]
        d_rows = sum(f.get("n_rows") or 0 for f in delta_files)
        b_rows = sum(f.get("n_rows") or 0 for f in base_files)
        stats_ok = all(f.get("n_rows") is not None for f in dirty_files)
        if (
            stats_ok and base_files
            and d_rows <= b_rows * self.MOR_JOIN_RESOLVE_RATIO
        ):
            key = c["key"]
            delta_df = self._entries_df(c, delta_files, with_fileseq=True)
            base_df = self._entries_df(c, base_files, with_fileseq=True)
            dkeys = delta_df.select(key).distinct()
            untouched = base_df.join(dkeys, key, "left_anti")
            touched = base_df.join(dkeys, key, "left_semi").unionByName(delta_df)
            resolved = self._resolve_lww_rows(c, touched)
            out = untouched.unionByName(resolved).drop(_FILESEQ)
        else:
            out = self._resolve_lww(c, dirty_files)
        if not clean:
            return out
        return self._entries_df(c, clean).unionByName(out)

    def rollback(self, snapshot_id: int) -> int:
        """Iceberg-style rollback: a NEW commit whose file set, schema
        state, and applied-batch list are those of ``snapshot_id``.
        History is preserved (time travel to the rolled-back-from
        snapshots still works until expiry), and batches applied after
        the target become re-appliable — their exactly-once fence rolls
        back WITH the data they wrote, so a corrected re-merge keeps
        replay equality instead of being swallowed as a duplicate."""
        target = self.commit(snapshot_id)
        # everything a child inherits comes from the target instead:
        # the event-time high-water mark rolls back WITH the data, so
        # re-merged corrected batches face the same lateness cutoff
        # they originally did, and DDL fences roll back with the schema
        # they gated, so a corrected DDL replay re-applies coherently
        return self._next_commit(
            self.commit(), f"rollback:{snapshot_id}", target["files"],
            lineage={"rolled_back_to": snapshot_id},
            batches=list(target.get("batches", [])),
            **{k: target[k] for k in _CARRIED if k in target},
            **{k: target.get(k, empty) for k, empty in _FENCES.items()},
        )["snapshot_id"]

    def history(self) -> DataFrame:
        """Snapshot-history metadata table (Iceberg's ``snapshots``/
        ``history`` analog): one row per retained commit with
        operation, batch id, schema version, file count, and the merge
        counters. Driver-side from the commit JSONs — bounded by the
        retained snapshot count (expire_snapshots caps it)."""
        snaps = self._snapshot_ids()
        rows = []
        for s in snaps:
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
        # a delta file among the hits means the key may exist in
        # several versions (merge-on-read) — the winner must be
        # resolved, and only THEN may a tombstone suppress the row
        # (filtering tombstones per file would resurrect a stale base
        # row a newer delta tombstone killed)
        resolve = any(f.get("kind") == "delta" for f in hits)
        if len(hits) <= self.LOOKUP_DRIVER_MAX_FILES:
            return self._lookup_driver_side(c, hits, key_value, resolve)
        if resolve:
            out = self._resolve_lww(c, hits, key_value=key_value)
        else:
            out = self._entries_df(c, hits).filter(F.col(c["key"]) == key_value)
        return out.filter(~F.col(_DELETED)).drop(_SEQ, _DELETED)

    # point reads touch 1-2 small bucket files after pruning; a Spark
    # scan job costs seconds of fixed overhead at any cluster size,
    # while a driver-side pyarrow read of the same files is
    # milliseconds. Above this file count, fall back to the scan.
    LOOKUP_DRIVER_MAX_FILES = 16

    def _lookup_driver_side(
        self, c: dict, hits: list[dict], key_value, resolve: bool = False
    ):
        """Serve the point read without a Spark job: pyarrow-read the
        (manifest-pruned, ≤LOOKUP_DRIVER_MAX_FILES) covering files on
        the driver with the key predicate pushed to row-group stats,
        apply the same schema-version column-id mapping and type
        widening as _entries_df, and return the rows as a
        :func:`local_frame` — its ``collect()`` runs on the driver, no
        job. Same output as the scan path (hash-checked by the
        cdc_point_lookup gate); only the physical strategy differs.

        ``resolve`` (merge-on-read): tombstones are read rather than
        filtered, and the single winner is picked driver-side by max
        (order_col, _seq, file seq) — the same rule as
        ``_resolve_lww`` — then dropped if it is a tombstone."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cur_cols = self.schema_cols(c)
        key_id = next(x["id"] for x in cur_cols if x["name"] == c["key"])
        out_ddl = self.spark_schema_ddl()
        schema = arrow_schema(
            out_ddl + f", {_SEQ} bigint, {_DELETED} boolean, {_FILESEQ} bigint"
        )
        tables = []
        for f in hits:
            old_cols = {x["id"]: x for x in c["schemas"][f["schema_version"]]}
            if key_id not in old_cols:
                continue  # file predates the key column: cannot match
            flt = [(old_cols[key_id]["name"], "==", key_value)]
            if not resolve:
                flt.append((_DELETED, "==", False))
            t = pq.read_table(os.path.join(self.path, f["path"]), filters=flt)
            if t.num_rows == 0:
                continue
            cols = [
                t.column(old_cols[col["id"]]["name"]) if col["id"] in old_cols
                else pa.nulls(t.num_rows)
                for col in cur_cols
            ] + [
                t.column(_SEQ),
                t.column(_DELETED),
                pa.array([int(f.get("seq", 0))] * t.num_rows, pa.int64()),
            ]
            # the cast widens old narrower types and types the nulls
            tables.append(pa.Table.from_arrays(cols, schema.names).cast(schema))
        out = pa.concat_tables(tables) if tables else schema.empty_table()
        if resolve and out.num_rows:
            winner = out.sort_by(
                [(n, "descending") for n in (c["order_col"], _SEQ, _FILESEQ)]
            ).slice(0, 1)
            out = winner.slice(0, 0) if winner[_DELETED][0].as_py() else winner
        return local_frame(self.spark, out, out_ddl)

    # ------------------------------------------------------------------
    # snapshot tags (named refs — Iceberg's tags; the dataset-release
    # primitive: a training run pins `read(tag="crawl-2026-08")` and
    # gets the same rows forever, immune to ongoing ingest)
    # ------------------------------------------------------------------

    def _tags_path(self) -> str:
        return os.path.join(self.path, _COMMITS, "tags.json")

    def tags(self) -> dict[str, int]:
        try:
            with open(self._tags_path()) as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def tag(self, name: str, snapshot_id: int | None = None,
            replace: bool = False) -> int:
        """Pin ``name`` to a snapshot (default: current head). Tags are
        immutable by default — retagging an existing name needs
        ``replace=True`` — because their whole point is that a consumer
        reading ``read(tag=...)`` gets identical rows forever. Tagged
        snapshots are EXEMPT from ``expire_snapshots``. Single-writer,
        like every commit-log mutation. Returns the pinned id."""
        snap = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if snap is None or not os.path.exists(self._commit_path(snap)):
            raise ValueError(f"no such snapshot to tag: {snap}")
        t = self.tags()
        if name in t and t[name] != snap and not replace:
            raise ValueError(
                f"tag {name!r} already pins snapshot {t[name]}; "
                f"pass replace=True to move it"
            )
        t[name] = int(snap)
        durable_write(t, self._tags_path())
        return int(snap)

    def untag(self, name: str) -> bool:
        t = self.tags()
        if name not in t:
            return False
        del t[name]
        durable_write(t, self._tags_path())
        return True

    def resolve_ref(self, ref) -> int:
        """Tag name or snapshot id → snapshot id."""
        if isinstance(ref, str):
            t = self.tags()
            if ref not in t:
                raise ValueError(f"unknown tag {ref!r}")
            return t[ref]
        return int(ref)

    # ------------------------------------------------------------------
    # write-audit-publish (Iceberg's WAP pattern)
    # ------------------------------------------------------------------

    def _staged_path(self, batch_id: str) -> str:
        return os.path.join(self.path, _COMMITS, f"staged-{batch_id}.json")

    @staticmethod
    def _data_dir(*, snap_id: int | None = None, stage: str | None = None) -> str:
        """Table-relative directory for a new snapshot's data files:
        the staged batch's own ``data/staged-<batch_id>`` (which
        :meth:`discard_staged` removes by that name), otherwise a fresh
        ``data/snap<id>-<uuid8>`` per write attempt — two writers
        racing for one snapshot id never share a directory, so neither
        write fails on the other's files nor harvests them as its own."""
        if stage is not None:
            return f"{_DATA}/staged-{stage}"
        return f"{_DATA}/snap{snap_id:012d}-{uuid.uuid4().hex[:8]}"

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
        # exactly-once fence BEFORE any cleanup: a batch that was
        # staged-and-PUBLISHED keeps its data files under
        # data/staged-<id>/ (publish promotes the commit JSON, it does
        # not move files), so the unconditional discard below would
        # rmtree live committed data on a replay of a committed batch
        # id (e.g. a streaming restart re-staging its last epoch)
        if batch_id in self.committed_batch_ids():
            return {}
        self.discard_staged(batch_id)  # replace any earlier attempt
        self._stage_to = batch_id
        self._staged_capture = None
        try:
            lineage = self.merge(events, batch_id, **merge_kwargs)
        finally:
            self._stage_to = None
        if self._staged_capture is None:
            return lineage  # already-committed fence: nothing staged
        durable_write(self._staged_capture, self._staged_path(batch_id))
        self._staged_capture = None
        return lineage

    def _load_staged(self, batch_id: str) -> dict:
        try:
            with open(self._staged_path(batch_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no staged commit for batch {batch_id!r} under {self.path}"
            )

    def read_staged(self, batch_id: str, include_internal: bool = False) -> DataFrame:
        """The table AS IF the staged batch were published — the AUDIT
        surface of the WAP flow. Same resolution semantics as read()."""
        c = self._load_staged(batch_id)["commit"]
        out = self._resolved_entries_df(c, c["files"])
        if not include_internal:
            out = out.filter(~F.col(_DELETED)).drop(_SEQ, _DELETED)
        return out

    def publish_staged(self, batch_id: str) -> dict:
        """Write-audit-publish step 3 (PUBLISH): atomically promote the
        staged commit to the head of the table. Fails if the head moved
        since staging (the staged merge resolved against a snapshot
        that is no longer current — restage on the new head); the
        staged file is left in place so the failure is inspectable.
        On success the lineage rows become durable and the staged
        marker is removed. Returns the commit's lineage dict."""
        staged = self._load_staged(batch_id)
        commit, offsets = staged["commit"], staged.get("offsets", [])
        head = self.current_snapshot_id()
        if commit.get("parent") != head:
            raise RuntimeError(
                f"staged batch {batch_id!r} was built on snapshot "
                f"{commit.get('parent')} but the head is now {head}; "
                f"restage against the current head"
            )
        self._publish(commit, offsets)
        os.remove(self._staged_path(batch_id))
        return commit.get("lineage", {})

    def discard_staged(self, batch_id: str) -> bool:
        """Drop a staged batch: remove its commit marker and its data
        directory. True if anything was removed. Publishing committed
        NONE of it, so this is pure cleanup — no snapshot is touched.

        A batch id that has been COMMITTED (published, or merged
        directly) is refused outright: a published staged batch's data
        files live under ``data/staged-<id>/`` and backing a live
        snapshot — deleting them would destroy committed data (and its
        quarantine rows)."""
        import shutil as _sh

        if batch_id in self.committed_batch_ids():
            return False
        removed = False
        p = self._staged_path(batch_id)
        if os.path.exists(p):
            os.remove(p)
            removed = True
        d = os.path.join(self.path, self._data_dir(stage=batch_id))
        if os.path.isdir(d):
            _sh.rmtree(d, ignore_errors=True)
            removed = True
        # dead-letter rows written while staging belong to the attempt
        for sub in (f"batch={batch_id}", f"batch={batch_id}.late"):
            q = os.path.join(self.path, _QUARANTINE, sub)
            if os.path.isdir(q):
                _sh.rmtree(q, ignore_errors=True)
                removed = True
        return removed

    def staged_batches(self) -> list[str]:
        """Batch ids with a staged (written-not-published) commit."""
        d = os.path.join(self.path, _COMMITS)
        if not os.path.isdir(d):
            return []
        return sorted(
            f[len("staged-"):-len(".json")]
            for f in os.listdir(d)
            if f.startswith("staged-") and f.endswith(".json")
        )

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
        dict if the batch was already applied).

        ``post_dedup_transform`` (df -> df, row-wise deterministic) is
        applied AFTER the batch-local LWW — the expensive extraction
        UDFs (html→text/lang) run once per *winning* key instead of
        once per event, which for an update-heavy feed cuts Python-UDF
        work by the dup factor. They run on the LWW shuffle's output
        partitions, whose count AQE picks: a small batch's sub-1 MB
        shuffle coalesces into ONE partition, so the UDF runs as one
        task; only a shuffle larger than the advisory partition size
        fans out toward ``spark.sql.shuffle.partitions``. The transform
        must be row-preserving and keep the key column: it sees one
        winner per key, and the no-hit CoW path and merge-on-read write
        its output as it is, without a second per-key resolution.

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
        readers LWW-resolve base+delta per key (``_resolve_lww``) until
        ``compact()`` / ``compact_deltas()`` folds the deltas back into
        base files. The two modes commute freely batch-to-batch and
        produce identical logical table state (parity-tested). MoR
        lineage reports ``upserts``/``tombstones`` instead of the
        insert/update/stale split (computing that split requires the
        base-row read MoR exists to avoid; the fields are NULL in the
        lineage table for MoR commits).

        Physical plan: a stats pre-pass over the raw events (buckets,
        offsets, hit files) → batch-local LWW (map-side combine absorbs
        hot-key skew) → transform winners → bucket, then ONE write job
        through ``_write_files``, which evaluates the lineage counters
        as an Observation on that job. cow: the winners are
        LWW-resolved against the rows of the hit files with the
        read-time rule (``_resolve_lww_rows``; incoming rows rank
        above every committed file, so they win exact (order, seq)
        ties) and the hit files — every file of a hit bucket that holds
        a delta — are rewritten; with no hit file the
        winners are written as they are. mor: the winners are written
        as per-bucket delta files — zero base IO.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        c = self.commit()
        if batch_id in c.get("batches", []):
            return {}  # exactly-once replay: already applied
        key = c["key"]
        order_col = c["order_col"]
        cur_cols = self.schema_cols(c)
        payload_names = [
            col["name"] for col in cur_cols if col["name"] not in (key, order_col)
        ]
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

        # 1. batch-local LWW (one row per key; combiner absorbs skew),
        #    BEFORE the expensive payload transform. NOT materialized —
        #    it fuses into the single write job below.
        payload_in = [p for p in payload_names if p in events.columns]
        ev = valid.select(
            key, order_col, F.col("event_id").alias(_SEQ), "op", *payload_in
        )
        winners = lww_latest(
            ev, key=key, order_cols=(order_col, _SEQ),
            payload_cols=["op", *payload_in],
        )

        # 2. payload transform on winners only (one UDF pass over the
        #    LWW shuffle's AQE-coalesced output partitions)
        ev = post_dedup_transform(winners) if post_dedup_transform else winners
        ptypes = {x["name"]: x["type"] for x in cur_cols}
        for p in payload_names:
            if p not in ev.columns:
                ev = ev.withColumn(p, F.lit(None).cast(ptypes[p]))
        incoming = ev.select(
            key,
            order_col,
            F.col(_SEQ),
            (F.col("op") == "D").alias(_DELETED),
            # cast to the CURRENT schema types: after a widen fence the
            # transform may still emit the narrower type (e.g. int
            # length into a bigint column) — files must carry the
            # schema-version type they are manifested under
            *[F.col(p).cast(ptypes[p]).alias(p) for p in payload_names],
            F.lit(_INCOMING_SEQ).alias(_FILESEQ),
            self._bucket_expr(F.col(key)).alias("_bucket"),
        )

        # 3. the rows to write and the counters their write job
        #    observes. CoW reads and rewrites the HIT FILES only
        #    (file-granularity: a bucket file whose key range cannot
        #    contain an incoming key is carried by reference), widened
        #    to the whole of any hit bucket that holds a delta; merge-
        #    on-read asked the pre-pass for no hit files at all
        rewrite, carry = self._split_files(c, lambda f: f["path"] in hit_paths)
        if mode == "mor":
            # the winners (tombstones included) become DELTA files; the
            # insert/update/stale split would need the base read this
            # mode exists to avoid
            rows, kind = incoming, "delta"
            counters = {
                "upserts": F.sum((~F.col(_DELETED)).cast("long")),
                "tombstones": F.sum(F.col(_DELETED).cast("long")),
            }
        else:
            kind = "base"
            # before the resolve per copy, after it per key winner
            is_new = F.col(_FILESEQ) == _INCOMING_SEQ
            if not rewrite:
                # FAST PATH — no current file can hold an incoming key
                # (fresh table, or a batch disjoint from every file
                # range): the per-key LWW over {current ∪ incoming} is
                # the identity on incoming (winners are already one
                # row per key), so its union + struct-max aggregate
                # (a SortAggregate plus its exchange) is pure overhead.
                rows = incoming.withColumns(
                    {"_has_new": F.lit(1), "_has_cur": F.lit(0)}
                )
            else:
                current = self._entries_df(c, rewrite, with_fileseq=True)
                rows = self._resolve_lww_rows(
                    c, current.unionByName(incoming.drop("_bucket")),
                    _has_new=F.max(is_new.cast("int")),
                    _has_cur=F.max((~is_new).cast("int")),
                ).withColumn("_bucket", self._bucket_expr(F.col(key)))
            live = is_new & ~F.col(_DELETED)
            counters = {
                "inserts": F.sum((live & (F.col("_has_cur") == 0)).cast("long")),
                "updates": F.sum((live & (F.col("_has_cur") == 1)).cast("long")),
                "deletes": F.sum((is_new & F.col(_DELETED)).cast("long")),
                "stale_noops": F.sum((~is_new & (F.col("_has_new") == 1)).cast("long")),
                "rows_after": F.count("*"),
            }

        # 4. ONE write job; the counters ride along as its Observation
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
            batch_id=batch_id, lineage=lineage, offsets=offsets, hwm_us=hwm_us,
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
        directory of this attempt's own, one write partition per bucket
        in ``buckets``. ``counters`` (name → aggregate over ``rows``)
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
            n_parts=max(len(set(buckets)), 1), kind=kind,
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
        files, one directory per bucket, split at ``max_file_rows``;
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

    @classmethod
    def _footer_stats(cls, path: str, key: str, order_col: str):
        """(min_key, max_key, has_tombstones, min_order_us, max_order_us)
        from parquet row-group statistics. Missing stats degrade to
        None / True = always-hit / always-GC-scanned — conservative,
        never wrong. Parquet truncates long string stats but keeps them
        valid bounds, so pruning with them stays correct."""
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None, None, True, None, None, None
        idx = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.num_columns)
        }
        kmin = kmax = omin = omax = None
        has_del = False
        order_covered = True  # False once ANY row group lacks order stats
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[key]).statistics
            if st is None or not st.has_min_max:
                kmin = kmax = omin = omax = None
                has_del = True
                break
            kmin = st.min if kmin is None else min(kmin, st.min)
            kmax = st.max if kmax is None else max(kmax, st.max)
            ost = md.row_group(rg).column(idx[order_col]).statistics
            if ost is not None and ost.has_min_max:
                o_lo = cls._order_micros(ost.min)
                o_hi = cls._order_micros(ost.max)
                omin = o_lo if omin is None else min(omin, o_lo)
                omax = o_hi if omax is None else max(omax, o_hi)
            else:
                # a stat-less row group may hold ANY order value: a
                # partial min/max would let read(order_min/order_max)
                # prune a file that still contains in-range rows.
                # Degrade the WHOLE file to no-order-stats = always-hit
                # (mirrors the key-stat break-to-None path).
                order_covered = False
            dst = md.row_group(rg).column(idx[_DELETED]).statistics
            has_del = has_del or dst is None or not dst.has_min_max or bool(dst.max)
        if not order_covered:
            omin = omax = None
        return kmin, kmax, has_del, omin, omax, md.num_rows

    # ------------------------------------------------------------------
    # maintenance (snapshot expiry — Iceberg's expire_snapshots; the
    # reference's analog is the tar2tf cache GC with high/low water
    # marks, /root/reference/transformers/tar2tf/src/cached.go:88-120)
    # ------------------------------------------------------------------

    def _materialize_manifest(self, snap: int) -> None:
        """Rewrite ``snap``'s commit JSON as a self-contained FULL
        manifest rooted at itself (``parent`` = None; the expired
        ancestry is kept as ``expired_parent`` for provenance). Content
        is semantically identical — same snapshot id, file set, fences,
        schema state — so the atomic in-place replace is a metadata
        checkpoint, not a history rewrite."""
        c = self.commit(snap)  # reconstructs through ancestors if delta
        if c.get("parent") is None and int(c.get("manifest_chain", 0)) == 0:
            return
        full = {
            k: v for k, v in c.items()
            if k not in ("files_added", "files_removed", "manifest_chain")
        }
        full["expired_parent"] = full.get("parent")
        full["parent"] = None
        full["manifest_chain"] = 0
        durable_write(full, self._commit_path(snap))
        self._cache_put(snap, full)

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete
        data directories no retained snapshot references. Time travel
        to expired snapshots stops working; current reads are
        unaffected (the current manifest carries its files by
        reference). TAGGED snapshots (see :meth:`tag`) are exempt —
        they are retained as self-contained islands (materialized full
        manifests) until untagged. Returns
        {snapshots_removed, dirs_removed}."""
        import shutil

        snaps = self._snapshot_ids()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        tagged = set(self.tags().values())
        drop = [s for s in snaps[:-keep_last] if s not in tagged]
        keep = sorted(set(snaps[-keep_last:]) | (tagged & set(snaps)))
        dropped_set = set(drop)
        if drop:
            # re-root every retained commit whose parent is expiring as
            # a FULL manifest BEFORE its ancestors disappear: delta
            # reconstruction and validate()'s chain walk stop at the
            # new root instead of dangling into expired history. With
            # tags, retained snapshots can be non-contiguous islands —
            # each island's oldest member gets materialized.
            for s in keep:
                parent = self.commit(s).get("parent")
                if parent is not None and parent in dropped_set:
                    self._materialize_manifest(s)
        referenced: set[str] = set()
        for s in keep:
            for f in self.commit(s)["files"]:
                # path is "<data>/snapNNN/_bucket=B" → keep the snap dir
                referenced.add(f["path"].split("/")[1])
        # staged-not-yet-published batches (WAP) reference data dirs no
        # snapshot lists yet — expiring them would break publish_staged
        for b in self.staged_batches():
            for f in self._load_staged(b)["commit"]["files"]:
                referenced.add(f["path"].split("/")[1])
        dirs_removed = 0
        data_dir = os.path.join(self.path, _DATA)
        if os.path.isdir(data_dir):
            for sub in os.listdir(data_dir):
                if sub not in referenced:
                    shutil.rmtree(os.path.join(data_dir, sub), ignore_errors=True)
                    dirs_removed += 1
        for s in drop:
            os.remove(self._commit_path(s))
            self._commit_cache.pop(s, None)
        return {"snapshots_removed": len(drop), "dirs_removed": dirs_removed}

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

    def table_stats(self) -> dict:
        """Metadata-only table statistics from the manifest (no scan):
        total rows (tombstones included — live count needs a scan),
        file count, and per-bucket {files, rows, avg_rows}. ``None``
        row counts (pre-stats files) surface as 0 with
        ``files_unstated`` counting them."""
        c = self.commit()
        per_bucket: dict[int, dict] = {}
        unstated = 0
        for f in c["files"]:
            b = per_bucket.setdefault(
                f["bucket"], {"files": 0, "rows": 0, "delta_files": 0}
            )
            b["files"] += 1
            if f.get("kind") == "delta":
                b["delta_files"] += 1
            if f.get("n_rows") is None:
                unstated += 1
            else:
                b["rows"] += f["n_rows"]
        for b in per_bucket.values():
            b["avg_rows"] = b["rows"] // b["files"] if b["files"] else 0
        return {
            "snapshot_id": c["snapshot_id"],
            "total_rows": sum(b["rows"] for b in per_bucket.values()),
            "total_files": len(c["files"]),
            "delta_files": sum(b["delta_files"] for b in per_bucket.values()),
            "files_unstated": unstated,
            "buckets": per_bucket,
        }

    def validate(self, full: bool = False) -> dict:
        """Integrity audit — the ops tool to run before trusting a
        snapshot after an incident (Iceberg's metadata/data validation
        analog). Metadata checks (manifest-only, no scan): every
        manifest entry's file exists, schema-version pointers resolve,
        key ranges are ordered, batch fences are unique, and the
        commit parent chain walks back to the create commit without
        cycles, and no delta file's seq exceeds the snapshot id (reads
        rank a delta by its seq, so a larger one would outrank the
        deltas committed after it). ``full=True`` reads every file's parquet
        footer schema on the driver — each must hold ``_seq``,
        ``_deleted`` and every column of its manifest schema version,
        since the scan's explicit schema would silently null-fill a
        missing one — and adds ONE data scan over all files: per-file
        row counts, key ranges, and bucket assignment must match the
        manifest (compared driver-side via ``input_file_name``), and no
        live key may appear in two files (the CoW invariant). Returns
        {"ok", "issues", "checked"}."""
        c = self.commit()
        issues: list[str] = []
        for f in c["files"]:
            if not os.path.exists(os.path.join(self.path, f["path"])):
                issues.append(f"missing data file: {f['path']}")
            if not (0 <= f["schema_version"] < len(c["schemas"])):
                issues.append(f"bad schema_version on {f['path']}")
            mn, mx = f.get("min_key"), f.get("max_key")
            if mn is not None and mx is not None and mn > mx:
                issues.append(f"inverted key range on {f['path']}")
            if not (0 <= f["bucket"] < c["n_buckets"]):
                issues.append(f"bucket out of range on {f['path']}")
            if f.get("kind") == "delta" and int(f["seq"]) > c["snapshot_id"]:
                issues.append(f"delta seq above snapshot id on {f['path']}")
        batches = c.get("batches", [])
        if len(batches) != len(set(batches)):
            issues.append("duplicate batch ids in the fence list")
        # commit chain walks back to the create commit, acyclically
        seen: set[int] = set()
        cur = c
        while cur.get("parent") is not None:
            sid = cur["snapshot_id"]
            if sid in seen:
                issues.append(f"commit chain cycle at snapshot {sid}")
                break
            seen.add(sid)
            try:
                cur = self.commit(cur["parent"])
            except FileNotFoundError:
                issues.append(f"missing parent commit {cur['parent']}")
                break

        checked = {"files": len(c["files"]), "scanned": False}
        if full and c["files"]:
            with ThreadPoolExecutor(max_workers=16) as pool:
                issues += [
                    m for m in pool.map(lambda f: self._footer_issue(c, f), c["files"])
                    if m
                ]
            key = c["key"]
            expected = {
                f["path"]: f for f in c["files"]
            }
            # ONE scan: project to the audit columns (tiny vs the
            # corpus) and cache that projection — both the per-file
            # stats agg and the duplicate-live-key agg read it, so the
            # data files are opened once even though the two checks
            # group by different keys
            audit = (
                self._entries_df(c, c["files"])
                .select(
                    F.input_file_name().alias("_file"),
                    F.col(key),
                    self._bucket_expr(F.col(key)).alias("_b"),
                    F.col(_DELETED),
                )
                .persist()
            )
            rows = (
                audit
                .groupBy("_file")
                .agg(
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
                hit = next(
                    (p for p in expected if path.endswith(p)), None
                )
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
            # the one-live-key-per-snapshot invariant holds only for
            # CoW buckets; merge-on-read buckets legitimately hold
            # several versions per key until compaction folds them
            dirty = self._delta_buckets(c["files"])
            dup_src = audit.filter(~F.col(_DELETED))
            if dirty:
                dup_src = dup_src.filter(
                    ~F.col("_b").isin([int(b) for b in dirty])
                )
            dup_live = (
                dup_src
                .groupBy(key)
                .count()
                .filter(F.col("count") > 1)
                .count()
            )
            audit.unpersist()
            if dup_live:
                issues.append(f"{dup_live} live keys present in multiple files")
            checked["scanned"] = True
        return {"ok": not issues, "issues": issues, "checked": checked}

    def _footer_issue(self, c: dict, f: dict) -> str | None:
        """The footer-schema check of ``validate(full=True)`` for one
        entry of commit ``c``: the physical columns it lacks, or None."""
        import pyarrow.parquet as pq

        path = os.path.join(self.path, f["path"])
        if not os.path.exists(path) or not 0 <= f["schema_version"] < len(c["schemas"]):
            return None  # reported by the metadata checks
        want = [x["name"] for x in c["schemas"][f["schema_version"]]] + [_SEQ, _DELETED]
        try:
            names = set(pq.read_schema(path).names)
        except Exception as e:
            return f"unreadable parquet footer on {f['path']}: {e}"
        missing = [n for n in want if n not in names]
        return f"file lacks columns {missing}: {f['path']}" if missing else None

    def compact_small_files(self, small_ratio: float = 0.25) -> dict:
        """Targeted compaction: rewrite ONLY the buckets whose average
        file is below ``small_ratio × max_file_rows`` (or whose files
        lack stats), carrying healthy buckets untouched — the
        maintenance loop's default instead of a full rewrite. Pure
        manifest arithmetic to pick targets; returns compact()'s
        result plus the chosen buckets."""
        c = self.commit()
        threshold = max(int(c.get("max_file_rows", 1 << 20) * small_ratio), 1)
        stats = self.table_stats()["buckets"]
        targets = sorted(
            b for b, s in stats.items()
            if s["files"] > 1 and (s["avg_rows"] < threshold or s["rows"] == 0)
        )
        if not targets:
            return {"files_before": len(c["files"]),
                    "files_after": len(c["files"]), "buckets": []}
        res = self.compact(buckets=targets)
        res["buckets"] = targets
        return res

    def compact_deltas(self, min_deltas_per_bucket: int = 1) -> dict:
        """Targeted merge-on-read maintenance: fold the buckets holding
        at least ``min_deltas_per_bucket`` delta files back into
        one-row-per-key base files (and nothing else). Pure manifest
        arithmetic to pick targets; the higher the threshold, the more
        read-time resolution work is tolerated before paying a rewrite
        — the classic MoR read/write amplification dial."""
        c = self.commit()
        per_bucket: dict[int, int] = {}
        for f in c["files"]:
            if f.get("kind") == "delta":
                per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        targets = sorted(
            b for b, n in per_bucket.items() if n >= min_deltas_per_bucket
        )
        if not targets:
            return {"files_before": len(c["files"]),
                    "files_after": len(c["files"]), "buckets": []}
        res = self.compact(buckets=targets)
        res["buckets"] = targets
        return res

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

    def _append_lineage(self, lineage: dict, offsets: list[dict]) -> None:
        rows = [
            {
                "batch_id": lineage["batch_id"],
                "snapshot_id": lineage["snapshot_id"],
                "source_part": int(o["source_part"]),
                "min_offset": int(o["min_offset"]),
                "max_offset": int(o["max_offset"]),
                "events": int(o["events"]),
                "inserts": lineage["inserts"],
                "updates": lineage["updates"],
                "deletes": lineage["deletes"],
                "stale_noops": lineage["stale_noops"],
                "malformed": lineage.get("malformed", 0),
                # merge-on-read counters (NULL on CoW commits, and
                # vice versa: a MoR commit NULLs the CoW-only split)
                "upserts": lineage.get("upserts"),
                "tombstones": lineage.get("tombstones"),
            }
            for o in (offsets or [{"source_part": -1, "min_offset": -1,
                                   "max_offset": -1, "events": 0}])
        ]
        # driver-side pyarrow write: lineage is a handful of rows per
        # commit — a Spark job for it costs seconds of fixed overhead
        # per batch at high core counts, pyarrow costs ~nothing
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.Table.from_pylist(rows, schema=arrow_schema(_LINEAGE_DDL))
        d = os.path.join(self.path, _LINEAGE)
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))

    def lineage(self) -> DataFrame:
        p = os.path.join(self.path, _LINEAGE)
        if not os.path.isdir(p):
            return local_frame(self.spark, [], _LINEAGE_DDL)
        # lineage files written before/after the MoR column addition
        # may differ in columns — merge, null-padded
        return self.spark.read.option("mergeSchema", "true").parquet(p)
