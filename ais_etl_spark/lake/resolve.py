"""Merge-on-read resolution of one bucket's data files in Arrow, with no
Spark. Every version of a key lives in one bucket, so ``LakeTable`` runs
:func:`resolve_partition` as a ``mapInArrow`` over a driver-held frame
of dirty buckets, and a point lookup calls :func:`resolve_bucket`.

The winner per key is the max of ``(order_col, _seq, _fileseq,
_deleted)``, ``_fileseq`` being the manifest ``seq`` of the row's file
(0 for a base file): the rule of ``LakeTable._resolve_lww_rows``. A
bucket's base files hold each key at most once (``validate(full=True)``
checks it), so a base row no delta shares is emitted as read; memory is
the bucket's delta rows plus one base record batch.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ais_etl_spark.lake.log import _DELETED, _SEQ

# read-time-only column (never persisted): the manifest seq of a row's
# file, the LWW tiebreak between copies equal on (order, _seq)
_FILESEQ = "_fileseq"
# rows per base-file batch (the session's Arrow batch size)
BASE_BATCH_ROWS = 10_000
# what the resolver needs of a commit; a worker gets only these
LAYOUT = ("key", "order_col", "schemas", "schema_version")


def _read(root: str, layout: dict, f: dict, schema: pa.Schema, key_value,
          batch_rows: int) -> Iterator[pa.RecordBatch]:
    """One data file's rows in the current row shape ``schema``: columns
    mapped by id from the file's schema version, cast (widening), null
    when added later; ``key_value`` filters the read (row-group stats)."""
    old = {x["id"]: x["name"] for x in layout["schemas"][f["schema_version"]]}
    cur = layout["schemas"][layout["schema_version"]]
    names = [old.get(x["id"]) for x in cur] + [_SEQ, _DELETED]
    key_name = names[next(i for i, x in enumerate(cur) if x["name"] == layout["key"])]
    path, cols = os.path.join(root, f["path"]), [n for n in names if n]
    if key_value is None:
        # no readahead: the scan holds the one batch it hands out
        batches = ds.dataset(path, format="parquet").to_batches(
            columns=cols, batch_size=batch_rows, batch_readahead=0, fragment_readahead=0)
    else:  # a point read: one key's rows
        batches = pq.read_table(path, columns=cols,
                                filters=[(key_name, "==", key_value)]).to_batches()
    for b in batches:
        if b.num_rows:
            yield pa.RecordBatch.from_arrays(
                [b.column(n) if n else pa.nulls(b.num_rows) for n in names],
                names=schema.names,
            ).cast(schema)


def _winners(t: pa.Table, key: str, order_col: str) -> pa.Table:
    """One row per key of ``t``: its max of (order_col, _seq, _fileseq, _deleted)."""
    if t.num_rows < 2:
        return t
    t = t.sort_by([(key, "ascending")] + [
        (n, "descending") for n in (order_col, _SEQ, _FILESEQ, _DELETED)
    ])
    k = t.column(key)
    first = pc.not_equal(k.slice(1), k.slice(0, len(k) - 1))
    return t.filter(pa.chunked_array([[True]] + first.chunks, pa.bool_()))


def resolve_bucket(root: str, layout: dict, files: list[dict], schema: pa.Schema,
                   key_value=None, batch_rows: int = BASE_BATCH_ROWS
                   ) -> Iterator[pa.RecordBatch]:
    """The resolved rows, tombstones included, of ``files`` (one bucket's
    manifest entries, or those that can hold ``key_value``; a delta has a
    ``seq``) as batches of ``schema`` (current columns, ``_seq``,
    ``_deleted``). ``layout``: the commit's ``LAYOUT`` fields."""
    deltas = [f for f in files if f.get("seq") is not None]
    if not deltas:  # each key's one base row is its winner
        for f in files:
            yield from _read(root, layout, f, schema, key_value, batch_rows)
        return
    key, order_col = layout["key"], layout["order_col"]
    ranked = schema.append(pa.field(_FILESEQ, pa.int64()))

    def with_seq(batches, seq):
        t = pa.Table.from_batches(batches, schema)
        return t.append_column(_FILESEQ, pa.repeat(pa.scalar(seq, pa.int64()), t.num_rows))

    delta = pa.concat_tables([with_seq(list(_read(root, layout, f, schema, key_value,
                                                   batch_rows)), f["seq"])
                              for f in deltas])
    delta = _winners(delta, key, order_col)
    dkeys = delta.column(key).combine_chunks()
    shared = [ranked.empty_table()]
    for f in [f for f in files if f.get("seq") is None]:
        for b in _read(root, layout, f, schema, key_value, batch_rows):
            hit = pc.is_in(b.column(key), value_set=dkeys)
            own = b.filter(pc.invert(hit))
            if own.num_rows:
                yield own
            if own.num_rows < b.num_rows:
                shared.append(with_seq([b.filter(hit)], 0))
    out = _winners(pa.concat_tables(shared + [delta]), key, order_col)
    yield from out.drop_columns(_FILESEQ).to_batches(max_chunksize=batch_rows)


def resolve_partition(root: str, layout: dict, schema: pa.Schema, key_value,
                      frames: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body: each input row is one dirty bucket's ``files``
    (``path``, ``schema_version``, ``seq``); yields their resolved rows."""
    for frame in frames:
        for files in frame.column("files").to_pylist():
            yield from resolve_bucket(root, layout, files, schema, key_value)
