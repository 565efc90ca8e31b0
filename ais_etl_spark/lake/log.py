"""TableLog — a lake table's commit log: everything under ``_commits/``,
the lineage table and what the manifest alone decides, with no
SparkSession. ``LakeTable`` extends it with the Spark data plane.

- **Snapshots are manifests, not data copies.** A commit is one small
  JSON file of per-FILE entries (path, bucket, schema_version,
  key min/max, has_tombstones) — stored FULL (complete listing) or as
  a DELTA against its parent (adds/removes only, chain length capped
  at ``_MANIFEST_DELTA_CAP``), so commit metadata IO scales with the
  files a merge touches, not with table age (Iceberg's manifest-list
  idea collapsed into the commit log).
- **Atomic commit = POSIX hard link** of the manifest JSON into
  ``_commits/`` (write-tmp-then-link; the link is atomic on one
  filesystem and, unlike rename, fails if the snapshot name exists).
  The reference's analog is the versioned result cache
  with atomic refresh (tar2tf's ``cached.go``); Iceberg's is the
  catalog snapshot swap. Each
  step — encode, link, ``LATEST`` hint — is a method of its own; the
  link is the whole commit, lineage included.
- **Exactly-once** = the commit carries ``batch_id``; a merge whose
  batch_id is already committed is a no-op replay (idempotent MERGE,
  SURVEY §4 item 2). Structured Streaming's ``foreachBatch`` epoch id
  is the batch_id, so checkpoint-resume never double-applies.
- **Lineage/metrics**: a merge's manifest records per-source-partition
  offset ranges and insert/update/delete/stale counts, its only lineage
  record until ``expire_snapshots`` moves the rows to ``_lineage/`` (the
  Spark analog of audio_manager's processed/error counters in the NeMo
  reference's ``fastapi_server.py``).

Concurrency model: single writer (one streaming query / one driver),
many readers — Iceberg's default practical deployment. Readers always
see a complete snapshot because the manifest is the commit point. A
second writer that races for the same snapshot id loses with
:class:`CommitConflict`; it never overwrites the winner's manifest,
and its data files sit in a directory of their own that no manifest
lists (``expire_snapshots`` removes it).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

_COMMITS = "_commits"
_LATEST = "LATEST"  # head-pointer hint file inside _commits/
_DATA = "data"
_LINEAGE = "_lineage"
_QUARANTINE = "_quarantine"

# internal physical columns present in every data file
_SEQ = "_seq"        # event_id of the writing event (LWW tiebreak vs future events)
_DELETED = "_deleted"  # tombstone flag

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
# changes it (TableLog._next_commit): the schema state and table
# layout, plus the event-time high-water mark and the applied DDL
# fences — each with the value a manifest that never recorded it implies
_CARRIED = ("schema_version", "schemas", "key", "order_col", "n_buckets",
            "max_file_rows")
_FENCES = {"hwm_us": None, "applied_fences": []}

# one row per source partition per merge commit (see lineage_rows)
_OFFSET_COLS = ("source_part", "min_offset", "max_offset", "events")
_COUNTER_COLS = ("inserts", "updates", "deletes", "stale_noops", "malformed", "upserts",
                 "tombstones")
_LINEAGE_SCHEMA = pa.schema(
    [("batch_id", pa.string()), ("snapshot_id", pa.int64()), ("source_part", pa.int32())]
    + [(n, pa.int64()) for n in _OFFSET_COLS[1:] + _COUNTER_COLS]
)


def lineage_rows(commit: dict) -> list[dict]:
    """``commit``'s lineage rows: one per entry of a merge's
    ``source_offsets`` (one ``source_part = -1`` row for a feed without
    offsets), none for a commit without a ``batch_id``."""
    if commit.get("batch_id") is None:
        return []
    ln = commit["lineage"]
    # the CoW-only split is NULL on a merge-on-read commit, the
    # merge-on-read counters are absent (NULL) on a CoW one
    counts = {n: ln.get(n, 0 if n == "malformed" else None) for n in _COUNTER_COLS}
    no_offsets = {"source_part": -1, "min_offset": -1, "max_offset": -1, "events": 0}
    return [
        {"batch_id": commit["batch_id"], "snapshot_id": commit["snapshot_id"],
         **{n: int(o[n]) for n in _OFFSET_COLS}, **counts}
        for o in ln.get("source_offsets") or [no_offsets]
    ]


def durable_write(obj, final: str, exclusive: bool = False) -> None:
    """Write ``obj`` — a ``pyarrow.Table`` as parquet, anything else as
    JSON — to a uniquely named tmp file in ``final``'s directory, fsync
    it, then publish it at ``final`` in one atomic step:
    ``os.replace``, or with ``exclusive`` an ``os.link`` that raises
    ``FileExistsError`` when the name is taken (``os.rename`` would
    silently replace it on POSIX). No tmp file outlives the call."""
    tmp = os.path.join(os.path.dirname(final), f".tmp-{uuid.uuid4().hex}")
    table = isinstance(obj, pa.Table)
    with open(tmp, "wb" if table else "w") as f:
        if table:
            pq.write_table(obj, f)
        else:
            json.dump(obj, f)  # streamed: a full manifest is never one string
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


class TableLog:
    """The commit log of the table rooted at ``path`` (local fs), read
    and written with the standard library and pyarrow only."""

    def __init__(self, path: str):
        self.path = path
        self._commit_cache: dict[int, dict] = {}
        # write-audit-publish: while set, _write_files writes into the
        # staged batch's data dir and _next_commit writes the commit to
        # the batch's staged marker instead of publishing it
        self._stage_to: str | None = None

    def _create(self, schema: list[tuple[str, str]], key: str, order_col: str,
                n_buckets: int, max_file_rows: int) -> None:
        """Commit snapshot 0 of an empty table (see ``LakeTable.create``)."""
        _KEY_TYPES = {"string", "int", "bigint", "smallint", "tinyint", "long",
                      "integer", "short", "byte", "double", "float"}
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
        os.makedirs(os.path.join(self.path, _COMMITS), exist_ok=True)
        os.makedirs(os.path.join(self.path, _DATA), exist_ok=True)
        cols = [Column(i, n, t).__dict__ for i, (n, t) in enumerate(schema)]
        self._write_commit({
            "snapshot_id": 0, "parent": None, "batch_id": None,
            "operation": "create", "schema_version": 0, "schemas": [cols],
            "key": key, "order_col": order_col, "n_buckets": n_buckets,
            "max_file_rows": max_file_rows, "files": [], "batches": [],
            "lineage": {},
        })

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

    def _listing(self, prefix: str) -> list[str]:
        """``<name>`` of each ``_commits/<prefix><name>.json`` file."""
        return [
            f[len(prefix):-len(".json")]
            for f in os.listdir(os.path.join(self.path, _COMMITS))
            if f.startswith(prefix) and f.endswith(".json")
        ]

    def _snapshot_ids(self) -> list[int]:
        """Ids of every commit file under ``_commits/``, ascending."""
        return sorted(int(s) for s in self._listing("v"))

    def commit(self, snapshot_id: int | None = None) -> dict:
        snap = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if snap is None:
            raise FileNotFoundError(f"no commits under {self.path}")
        if snap not in self._commit_cache:
            c = self._stored(snap)
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
        batch_id: str | None = None, lineage: dict | None = None, **changes,
    ) -> dict:
        """Derive snapshot ``c + 1`` from its parent ``c`` and publish
        it — the one place a child commit is built. The child carries
        the parent's schema state, layout, batch fences (``batch_id``
        appended when given), high-water mark and applied DDL fences;
        ``changes`` replaces any of them. While ``stage_merge`` has
        a write-audit-publish stage open, the commit is written to the
        staged marker instead of published. Returns the commit."""
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
            durable_write({"commit": commit}, self._staged_path(self._stage_to))
        else:
            self._write_commit(commit)
        return commit

    def _write_commit(self, commit: dict) -> None:
        """The one publish step: write a tmp file, then hard-link it to
        the snapshot's name. The link fails when the name is taken, so a
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
        self._point_latest(commit["snapshot_id"])
        # cache the FULL form; carry the chain length so the next
        # commit's encoder sees it without a disk round-trip
        commit["manifest_chain"] = enc["manifest_chain"]
        self._cache_put(commit["snapshot_id"], commit)

    def _point_latest(self, snap: int) -> None:
        """Move the head-pointer hint to ``snap`` (no fsync: staleness
        is healed by the reader's forward probe, torn content by the
        int() fallback)."""
        lt = os.path.join(self.path, _COMMITS, f".tmp-latest-{uuid.uuid4().hex}")
        with open(lt, "w") as f:
            f.write(str(snap))
        os.replace(lt, os.path.join(self.path, _COMMITS, _LATEST))

    def committed_batch_ids(self) -> set[str]:
        return set(self.commit().get("batches", []))

    # ------------------------------------------------------------------
    # schema
    # ------------------------------------------------------------------

    def schema_cols(self, commit: dict | None = None, version: int | None = None) -> list[dict]:
        c = commit or self.commit()
        v = c["schema_version"] if version is None else version
        return c["schemas"][v]

    def spark_schema_ddl(self, commit: dict | None = None) -> str:
        return ", ".join(f"{c['name']} {c['type']}" for c in self.schema_cols(commit))

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

    @staticmethod
    def _order_micros(dt_value) -> int | None:
        """Naive datetime → epoch micros (session TZ is UTC; parquet
        stores TIMESTAMP_NTZ). One definition shared by the stats
        writer and the read-time pruner."""
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

    def _delta_buckets(self, files: list[dict]) -> set[int]:
        return {f["bucket"] for f in files if f.get("kind") == "delta"}

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
    # write-audit-publish (Iceberg's WAP pattern): the staged commits
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

    def _load_staged(self, batch_id: str) -> dict:
        try:
            with open(self._staged_path(batch_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no staged commit for batch {batch_id!r} under {self.path}"
            )

    def publish_staged(self, batch_id: str) -> dict:
        """Write-audit-publish step 3 (PUBLISH): atomically promote the
        staged commit to the head of the table. Fails if the head moved
        since staging (the staged merge resolved against a snapshot
        that is no longer current — restage on the new head); the
        staged file is left in place so the failure is inspectable.
        On success the staged marker is removed. Returns the commit's
        lineage dict; ``{}``, removing a stale marker, when the batch
        is already committed."""
        if batch_id in self.committed_batch_ids():
            self.discard_staged(batch_id)
            return {}
        commit = self._load_staged(batch_id)["commit"]
        head = self.current_snapshot_id()
        if commit.get("parent") != head:
            raise RuntimeError(
                f"staged batch {batch_id!r} was built on snapshot "
                f"{commit.get('parent')} but the head is now {head}; "
                f"restage against the current head"
            )
        self._write_commit(commit)
        self._drop_marker(batch_id)  # an expiry may have swept it already
        return commit.get("lineage", {})

    def discard_staged(self, batch_id: str) -> bool:
        """Drop a staged batch: remove its commit marker and its data
        directory. True if anything was removed. Publishing committed
        NONE of it, so this is pure cleanup — no snapshot is touched.

        For a batch id that has been COMMITTED (published, or merged
        directly) only a stale marker is removed: a published staged
        batch's data files live under ``data/staged-<id>/`` and back a
        live snapshot — deleting them would destroy committed data (and
        its quarantine rows)."""
        removed = self._drop_marker(batch_id)
        if batch_id in self.committed_batch_ids():
            return removed
        # its data dir; the dead-letter rows written while staging
        # belong to the attempt too
        for sub in (self._data_dir(stage=batch_id),
                    f"{_QUARANTINE}/batch={batch_id}", f"{_QUARANTINE}/batch={batch_id}.late"):
            d = os.path.join(self.path, sub)
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
                removed = True
        return removed

    def _drop_marker(self, batch_id: str) -> bool:
        """Remove ``batch_id``'s staged marker; False if it was gone."""
        try:
            os.remove(self._staged_path(batch_id))
        except FileNotFoundError:
            return False
        return True

    def staged_batches(self) -> list[str]:
        """Batch ids with a staged (written-not-published) commit; a
        marker a crashed publish left for a committed batch is not."""
        if not os.path.isdir(os.path.join(self.path, _COMMITS)):
            return []
        committed = self.committed_batch_ids()
        return sorted(b for b in self._listing("staged-") if b not in committed)

    @classmethod
    def _footer_stats(cls, path: str, key: str, order_col: str):
        """(min_key, max_key, has_tombstones, min_order_us, max_order_us)
        from parquet row-group statistics. Missing stats degrade to
        None / True = always-hit / always-GC-scanned — conservative,
        never wrong. Parquet truncates long string stats but keeps them
        valid bounds, so pruning with them stays correct."""
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

    def _footer_issue(self, c: dict, f: dict) -> str | None:
        """The footer-schema check of ``validate(full=True)`` for one
        entry of commit ``c``: the physical columns it lacks, or None."""
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

    # ------------------------------------------------------------------
    # maintenance (snapshot expiry — Iceberg's expire_snapshots; the
    # reference's analog is the tar2tf cache GC with high/low water
    # marks in its ``cached.go``)
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
        full = self._encode_manifest(
            {**c, "parent": None, "expired_parent": c.get("parent")}
        )
        durable_write(full, self._commit_path(snap))
        self._cache_put(snap, full)

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete
        data directories no retained snapshot references. Time travel
        to expired snapshots stops working; current reads are
        unaffected (the current manifest carries its files by
        reference). TAGGED snapshots (see :meth:`tag`) are exempt —
        they are retained as self-contained islands (materialized full
        manifests) until untagged. Dropped merges' lineage rows move to
        ``_lineage/`` first. Returns {snapshots_removed, dirs_removed}."""
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
        # a marker a publish crash left for a committed batch is stale:
        # only the marker goes; the batch's data dir stays while a
        # retained snapshot lists its files
        for b in set(self._listing("staged-")) & self.committed_batch_ids():
            self._drop_marker(b)
        # staged-not-yet-published batches (WAP) reference data dirs no
        # snapshot lists yet — expiring them would break publish_staged
        files = [f for s in keep for f in self.commit(s)["files"]] + [
            f for b in self.staged_batches()
            for f in self._load_staged(b)["commit"]["files"]
        ]
        # path is "<data>/snapNNN/_bucket=B" → keep the snap dir
        referenced = {f["path"].split("/")[1] for f in files}
        dirs_removed = 0
        data_dir = os.path.join(self.path, _DATA)
        if os.path.isdir(data_dir):
            for sub in os.listdir(data_dir):
                if sub not in referenced:
                    shutil.rmtree(os.path.join(data_dir, sub), ignore_errors=True)
                    dirs_removed += 1
        self._archive_lineage(drop)
        # newest first: a dropped delta manifest that a crash leaves
        # behind still has every ancestor it is rebuilt from
        for s in reversed(drop):
            os.remove(self._commit_path(s))
            self._commit_cache.pop(s, None)
        return {"snapshots_removed": len(drop), "dirs_removed": dirs_removed}

    def _stored(self, snap: int) -> dict:
        """``snap``'s commit file as stored: a delta's own fields, its
        file listing not rebuilt."""
        with open(self._commit_path(snap)) as f:
            return json.load(f)

    def _lineage_files(self, prefix: str = "") -> list[str]:
        d = os.path.join(self.path, _LINEAGE)
        names = sorted(os.listdir(d)) if os.path.isdir(d) else []
        return [os.path.join(d, n) for n in names
                if n.startswith(prefix) and n.endswith(".parquet")]

    def _archive_lineage(self, snaps: list[int]) -> None:
        """Write the lineage rows of each merge in ``snaps`` to
        ``_lineage/snap<id>.parquet``, then retire an older table's
        per-merge ``part-*`` files: one whose snapshot no commit file
        lists is renamed to that snapshot's ``snap`` file, the others
        (their manifests hold the rows) are removed. After a crash at
        any step :meth:`lineage_sources` still finds each row once."""
        d = os.path.join(self.path, _LINEAGE)
        for s in snaps:
            rows = lineage_rows(self._stored(s))
            if rows:
                os.makedirs(d, exist_ok=True)
                durable_write(pa.Table.from_pylist(rows, schema=_LINEAGE_SCHEMA),
                              os.path.join(d, f"snap{s:012d}.parquet"))
        listed = set(self._snapshot_ids())
        for p in self._lineage_files("part-"):
            s = pq.read_table(p, columns=["snapshot_id"])["snapshot_id"][0].as_py()
            if s in listed:
                os.remove(p)
            else:
                os.replace(p, os.path.join(d, f"snap{s:012d}.parquet"))

    def lineage_sources(self) -> tuple[list[dict], list[str], set[int]]:
        """The lineage table's read rule, as ``(rows, files, retained)``:
        the rows of every retained merge, built from its manifest, plus
        the rows in ``files`` (``_lineage/snap<id>.parquet``, and an
        older table's ``part-*`` until its next expiry) whose snapshot
        is not in ``retained``."""
        rows, retained = [], set()
        for s in self._snapshot_ids():
            try:  # a snapshot expired meanwhile was archived first
                rows += lineage_rows(self._stored(s))
            except FileNotFoundError:
                continue
            retained.add(s)
        return rows, self._lineage_files(), retained

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
        """Integrity audit of the manifest — the ops tool to run before
        trusting a snapshot after an incident (Iceberg's metadata
        validation analog). No scan: every manifest entry's file
        exists, schema-version pointers resolve, key ranges are
        ordered, batch fences are unique, and the commit parent chain
        walks back to the create commit without cycles, and no delta
        file's seq exceeds the snapshot id (reads rank a delta by its
        seq, so a larger one would outrank the deltas committed after
        it). ``full=True`` reads every file's parquet footer schema on
        the driver — each must hold ``_seq``, ``_deleted`` and every
        column of its manifest schema version, since the scan's
        explicit schema would silently null-fill a missing one.
        Returns {"ok", "issues", "checked"}."""
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
        if full and c["files"]:
            with ThreadPoolExecutor(max_workers=16) as pool:
                issues += [
                    m for m in pool.map(lambda f: self._footer_issue(c, f), c["files"])
                    if m
                ]
        return {"ok": not issues, "issues": issues,
                "checked": {"files": len(c["files"]), "scanned": False}}
