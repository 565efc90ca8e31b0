"""Incremental table→table sync: the multi-hop pipeline primitive.

A 100 TB curation pipeline is rarely one table — it is a chain
(raw CDC table → extracted/curated table → per-use-case projections),
and the scale-killer is re-deriving a downstream table from a full
upstream scan after every upstream commit. ``sync_incremental`` keeps
a downstream :class:`LakeTable` in lockstep with an upstream one by
tailing the upstream row-level changelog (``LakeTable.changes``) and
applying it as one idempotent MERGE — cost per hop scales with the
CHANGED FILES of the upstream delta, never with table size, and every
hop is itself a LakeTable, so hops compose (bronze→silver→gold).

Semantics — the downstream table is kept equal to::

    transform(src.read()).filter(predicate)

under incremental maintenance:

* upstream ``insert``/``update`` → downstream upsert (op ``U``)
  through ``transform`` (a df→df projection that must preserve the
  key and order columns — e.g. html→text extraction, column pruning);
* upstream ``delete`` → downstream delete (op ``D``), bypassing the
  transform (the changelog's delete row carries null payload);
* **predicate eviction**: an upsert whose TRANSFORMED row fails
  ``predicate`` becomes a downstream delete — the row left the
  derived set, and only a tombstone makes that observable downstream.
  (A key that never matched the predicate merges as a tombstone for an
  unseen key — O(batch) extra tombstone rows, reclaimed by
  ``gc_tombstones``; the alternative, anti-joining every batch against
  the full downstream keyset, is a table-sized shuffle per sync and
  is exactly what this module exists to avoid.)

Exactly-once, crash-resumable (the same discipline as
``streaming/ingest.py``): the MERGE is fenced on a deterministic
``batch_id`` (``sync:<name>:<lo>-><hi>``), and the cursor — the last
upstream snapshot applied — is persisted write-then-publish AFTER the
commit. A crash between commit and cursor write replays the same
snapshot range on retry, the fence turns the replay into a no-op, and
the cursor is repaired. The reference's analog is the bucket-to-bucket
offline job with its versioned results cache
(/root/reference/transformers/tar2tf/src/cached.go:50-78 — results
keyed by source version, rebuilt only when the source moves).

Retention contract: ``src.changes(lo, hi)`` needs snapshot ``lo`` to
still exist — size ``expire_snapshots(keep_last=...)`` on the upstream
table to cover the maximum sync lag (same rule as any CDC consumer's
binlog retention).
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ais_etl_spark.lake.log import durable_write
from ais_etl_spark.lake.table import LakeTable

_SYNC_DIR = "_sync"


def _cursor_path(dst: LakeTable, name: str) -> str:
    return os.path.join(dst.path, _SYNC_DIR, f"{name}.json")


def read_cursor(dst: LakeTable, name: str) -> dict | None:
    """The last upstream snapshot applied to ``dst`` for this sync
    lane, or None before the first sync."""
    p = _cursor_path(dst, name)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _write_cursor(dst: LakeTable, name: str, cursor: dict) -> None:
    p = _cursor_path(dst, name)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    durable_write(cursor, p)


def sync_incremental(
    src: LakeTable,
    dst: LakeTable,
    name: str = "default",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    predicate: Column | str | None = None,
) -> dict:
    """Advance ``dst`` to ``src``'s current snapshot by applying the
    upstream changelog delta as one fenced MERGE. Returns
    ``{from_snapshot, to_snapshot, applied, batch_id}`` —
    ``applied=False`` when the upstream hasn't moved or the fence
    found the range already committed (crash-retry repair).

    First call (no cursor) bootstraps from the full current snapshot —
    the only full upstream scan the lane ever does.
    """
    c_dst = dst.commit()
    key, order_col = c_dst["key"], c_dst["order_col"]
    hi = src.current_snapshot_id()
    cur = read_cursor(dst, name)
    lo = cur["src_snapshot"] if cur else None
    if lo is not None and hi == lo:
        return {"from_snapshot": lo, "to_snapshot": hi, "applied": False,
                "batch_id": None}

    if lo is None:
        # bootstrap: whole current snapshot as upserts
        upserts = src.read()
        deletes = None
        tag = "init"
    else:
        delta = src.changes(lo, hi)
        upserts = delta.filter(F.col("change_type") != "delete").drop(
            "change_type"
        )
        deletes = delta.filter(F.col("change_type") == "delete").drop(
            "change_type"
        )
        tag = str(lo)

    if transform is not None:
        upserts = transform(upserts)
        for col in (key, order_col):
            if col not in upserts.columns:
                raise ValueError(
                    f"transform must preserve {col!r} (got "
                    f"{upserts.columns})"
                )

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    if pred is not None:
        # eviction: a transformed upsert failing the predicate leaves
        # the derived set → downstream tombstone (op D, payload moot)
        op = F.when(pred, F.lit("U")).otherwise(F.lit("D"))
    else:
        op = F.lit("U")
    up_ev = upserts.withColumn("op", op)

    dst_cols = {x["name"] for x in dst.schema_cols(c_dst)}
    missing = dst_cols - set(up_ev.columns)
    if missing:
        raise ValueError(
            f"sync upserts missing downstream columns {sorted(missing)}"
        )
    keep = [c for c in up_ev.columns if c in dst_cols or c == "op"]
    events = up_ev.select(*keep)
    if deletes is not None:
        # delete rows bypass the transform (payload is moot for a
        # tombstone — merge null-backfills it); only key + order ride
        types = {x["name"]: x["type"] for x in dst.schema_cols(c_dst)}
        del_ev = deletes.select(
            F.col(key).cast(types[key]).alias(key),
            F.col(order_col).cast(types[order_col]).alias(order_col),
            F.lit("D").alias("op"),
        )
        events = events.unionByName(del_ev, allowMissingColumns=True)

    # event_id (the LWW seq tiebreak) = the source snapshot id: a
    # changes() batch has at most ONE row per key, so a constant seq is
    # unambiguous within a sync, and it is strictly increasing across
    # syncs — an upstream update whose order value TIES the previously
    # synced row (same warc_ts, newer upstream event) still wins
    # downstream. A random/hashed id here would lose such ties
    # nondeterministically. Deterministic, so retried writes are
    # byte-stable too.
    events = events.withColumn("event_id", F.lit(int(hi)).cast("bigint"))

    batch_id = f"sync:{name}:{tag}->{hi}"
    lineage = dst.merge(events, batch_id)
    _write_cursor(
        dst, name,
        {"src_table": os.path.abspath(src.path), "src_snapshot": hi,
         "batch_id": batch_id},
    )
    return {
        "from_snapshot": lo,
        "to_snapshot": hi,
        "applied": bool(lineage),
        "batch_id": batch_id,
    }
