"""The merge-on-read resolver without Spark: ``resolve_bucket`` over
hand-written parquet files, checked against a brute-force per-key max.

No test here takes the ``spark`` fixture, so
``python -m pytest tests/test_resolve.py`` starts no JVM."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings, strategies as st

import ais_etl_spark.lake.resolve as resolve_mod
from ais_etl_spark.lake.resolve import resolve_bucket

UTC = dt.timezone.utc
V0 = [{"id": 0, "name": "url", "type": "string"},
      {"id": 1, "name": "warc_ts", "type": "timestamp"},
      {"id": 2, "name": "text", "type": "string"}]
LAYOUT = {"key": "url", "order_col": "warc_ts", "schemas": [V0], "schema_version": 0}
SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                    ("text", pa.string()), ("_seq", pa.int64()), ("_deleted", pa.bool_())])


def T(s):
    return dt.datetime(2026, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=s)


def _write(root, name, rows, seq=None, version=0, schema=SCHEMA, row_group=None):
    """One data file of ``rows`` (tuples in ``schema`` order) as a
    manifest entry; ``seq`` makes it a delta."""
    pq.write_table(pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                        schema=schema),
                   os.path.join(root, name), row_group_size=row_group)
    return {"path": name, "schema_version": version, "seq": seq}


def _resolved(root, files, layout=LAYOUT, schema=SCHEMA, **kw):
    return sorted(tuple(r.values()) for r in pa.Table.from_batches(
        list(resolve_bucket(root, layout, files, schema, **kw)), schema).to_pylist())


# one bucket: per key, at most one base row; each delta file holds a key
# at most once. A row is (order, _seq, _deleted, text)
_row = st.tuples(st.integers(0, 3), st.integers(0, 3), st.booleans(), st.text("ab", max_size=2))
_keys = st.sampled_from([f"k{i}" for i in range(6)])
_file = st.dictionaries(_keys, _row, max_size=6)


@settings(max_examples=80, deadline=None)
@given(base=st.lists(_file, max_size=3), deltas=st.lists(_file, max_size=4),
       lookup=st.one_of(st.none(), _keys))
def test_matches_a_brute_force_per_key_max(base, deltas, lookup):
    seen: set[str] = set()
    with tempfile.TemporaryDirectory() as root:
        files, copies = [], []
        for i, rows in enumerate(base):
            rows = {k: v for k, v in rows.items() if k not in seen}
            seen |= set(rows)
            files.append(_write(root, f"b{i}.parquet", [
                (k, T(o), x, s, d) for k, (o, s, d, x) in rows.items()]))
            copies += [(k, o, s, 0, d, x) for k, (o, s, d, x) in rows.items()]
        for i, rows in enumerate(deltas):
            files.append(_write(root, f"d{i}.parquet", [
                (k, T(o), x, s, d) for k, (o, s, d, x) in rows.items()], seq=i + 1))
            copies += [(k, o, s, i + 1, d, x) for k, (o, s, d, x) in rows.items()]
        best: dict[str, tuple] = {}
        for k, *rank in copies:
            if lookup in (None, k) and (k not in best or tuple(rank[:4]) > best[k][:4]):
                best[k] = tuple(rank)
        want = sorted((k, T(o), x, s, d) for k, (o, s, _, d, x) in best.items())
        # a tiny batch size: the base stream runs over several batches
        assert _resolved(root, files, key_value=lookup, batch_rows=2) == want


def test_exact_ties_across_delta_files_rank_by_manifest_seq(tmp_path):
    root = str(tmp_path)
    early = _write(root, "d1.parquet", [("u1", T(1), "early", 5, False)], seq=1)
    late = _write(root, "d2.parquet", [("u1", T(1), "late", 5, False)], seq=2)
    base = _write(root, "b.parquet", [("u1", T(1), "base", 5, False)])
    assert _resolved(root, [late, base, early]) == [("u1", T(1), "late", 5, False)]
    early["seq"], late["seq"] = 2, 1
    assert _resolved(root, [late, base, early]) == [("u1", T(1), "early", 5, False)]


def test_a_tombstone_wins_a_full_tie(tmp_path):
    """Two files of one delta commit (a bucket's delta split at
    max_file_rows) equal on (order, _seq, seq): the tombstone wins."""
    root = str(tmp_path)
    files = [_write(root, "d1a.parquet", [("u1", T(1), "live", 5, False)], seq=1),
             _write(root, "d1b.parquet", [("u1", T(1), None, 5, True)], seq=1)]
    assert _resolved(root, files) == [("u1", T(1), None, 5, True)]
    assert _resolved(root, files[::-1]) == [("u1", T(1), None, 5, True)]


def test_alter_rename_and_widen(tmp_path):
    """Files of schema version 0 (``n int``, ``text``) and 1 (``n``
    widened to bigint, ``text`` renamed ``body``, ``lang`` added) resolve
    by column id into the current shape."""
    root = str(tmp_path)
    v0 = V0 + [{"id": 3, "name": "n", "type": "int"}]
    v1 = [{"id": 0, "name": "url", "type": "string"},
          {"id": 1, "name": "warc_ts", "type": "timestamp"},
          {"id": 2, "name": "body", "type": "string"},
          {"id": 3, "name": "n", "type": "bigint"},
          {"id": 4, "name": "lang", "type": "string"}]
    layout = {**LAYOUT, "schemas": [v0, v1], "schema_version": 1}
    old = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                     ("text", pa.string()), ("n", pa.int32()), ("_seq", pa.int64()),
                     ("_deleted", pa.bool_())])
    cur = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                     ("body", pa.string()), ("n", pa.int64()), ("lang", pa.string()),
                     ("_seq", pa.int64()), ("_deleted", pa.bool_())])
    files = [
        _write(root, "b.parquet", [("u1", T(1), "a", 2**31 - 1, 1, False),
                                   ("u2", T(1), "b", 7, 2, False)], schema=old),
        _write(root, "d1.parquet", [("u2", T(2), "b2", 8, 3, False)], seq=1, schema=old),
        _write(root, "d2.parquet", [("u3", T(3), "c", 2**40, "en", 4, False)], seq=2,
               version=1, schema=cur),
    ]
    assert _resolved(root, files, layout, cur) == [
        ("u1", T(1), "a", 2**31 - 1, None, 1, False),
        ("u2", T(2), "b2", 8, None, 3, False),
        ("u3", T(3), "c", 2**40, "en", 4, False),
    ]


class _Reads:
    """``pyarrow.dataset.dataset`` wrapped to count the base batches
    handed out."""

    def __init__(self, monkeypatch):
        self.base_batches = 0
        real = resolve_mod.ds.dataset

        def dataset(path, **kw):
            src = real(path, **kw)
            reads = self

            class Proxy:
                def to_batches(self, **kw):
                    for b in src.to_batches(**kw):
                        if os.path.basename(path).startswith("b"):
                            reads.base_batches += 1
                        yield b
            return Proxy()

        monkeypatch.setattr(resolve_mod.ds, "dataset", dataset)


def test_base_stream_holds_one_base_batch(tmp_path, monkeypatch):
    """With a batch size of 2, every base row whose key no delta holds
    leaves the resolver batch by batch: when the resolver hands out its
    k-th base batch it has read exactly k, so it never holds a second."""
    root = str(tmp_path)
    files = [_write(root, "d1.parquet", [("k03", T(9), "new", 9, False)], seq=1),
             _write(root, "b1.parquet", [(f"k{i:02d}", T(1), "v", i, False)
                                         for i in range(10)], row_group=4),
             _write(root, "b2.parquet", [(f"k{i:02d}", T(1), "v", i, False)
                                         for i in range(10, 16)])]
    reads = _Reads(monkeypatch)
    out = resolve_bucket(root, LAYOUT, files, SCHEMA, batch_rows=2)
    emitted = []
    for k, b in enumerate(out, 1):
        if reads.base_batches >= k:  # still in the base stream
            assert reads.base_batches == k
            assert b.num_rows <= 2
        emitted += b.column("url").to_pylist()
    assert reads.base_batches == 8
    assert sorted(emitted) == [f"k{i:02d}" for i in range(16)]


def test_a_lookup_key_is_a_file_read_filter(tmp_path, monkeypatch):
    """The key reaches every file read as a pyarrow filter (row-group
    statistics prune before rows are read), under each file's own name
    for the key column."""
    root = str(tmp_path)
    files = [_write(root, "b1.parquet", [(f"k{i:02d}", T(1), "v", i, False)
                                         for i in range(8)], row_group=2),
             _write(root, "d1.parquet", [("k05", T(2), "new", 9, False)], seq=1)]
    filters, real = [], resolve_mod.pq.read_table
    monkeypatch.setattr(resolve_mod.pq, "read_table", lambda path, **kw: (
        filters.append(kw["filters"]) or real(path, **kw)))
    assert _resolved(root, files, key_value="k05") == [("k05", T(2), "new", 9, False)]
    assert filters == [[("url", "==", "k05")]] * 2
