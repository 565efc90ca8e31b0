"""Last-writer-wins dedup/ordering per key over a raw event feed — the
batch spec the contract gates, the soak and the tests compare the lake
table against.

``LakeTable.merge`` does not call it: a merge resolves the batch's
events together with the rows of the files it rewrites in one pass of
``LakeTable._resolve_lww_rows``, the rule reads and maintenance apply
bucket by bucket (``lake.resolve.resolve_bucket``).
That rule ranks the same ``(warc_ts, event_id)`` first, so both agree
on every winner except two events of one batch with equal
``(warc_ts, event_id)`` — one source event delivered twice with
conflicting content — where the merge lets a tombstone win, as a read
does, and :func:`lww_latest` compares the payload fields in the
order given.

Reference semantics being re-expressed: tar2tf's version-keyed cache
recomputes when the object version changes — per-key last-version-wins
(/root/reference/transformers/tar2tf/src/cached.go:50-78,139-162) —
generalized to CDC: for each ``url`` the winning event is the max of
``(warc_ts, event_id)``; ``event_id`` is the deterministic tiebreak
(SURVEY §4 item 4). A delete only wins like any other event — applying
a stale D is a no-op because a newer row outranks it.

Physical strategy (the 100 TB story):

- **Default = struct-max aggregation.** ``groupBy(key).agg(max(struct(
  ordering..., payload...)))`` compiles to a ``SortAggregate`` (struct
  agg buffers are not hash-aggregable) with *map-side partial
  aggregation*: each task sorts its events by key and collapses them to
  one ``partial_max`` row per key before the shuffle, and the final
  ``max`` sorts again after the exchange. A hot url that receives 10^7
  events in a partition ships ONE row to the reducer, so hot-key skew
  is absorbed by the combiner — no salting needed for this operator —
  and the shuffle carries one row per (task, distinct key).
- ``lww_window`` (row_number over a per-key sort) is kept for parity
  testing: it is the textbook formulation but does a full sort-shuffle
  with no partial aggregation — the hot key lands on one reducer. Used
  only as a semantic cross-check at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Ordering must be (warc_ts, event_id): event time first, then the
# stable source sequence as deterministic tiebreak.
ORDER_COLS = ("warc_ts", "event_id")


def lww_latest(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = ORDER_COLS,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """One row per key: the (order_cols)-max event, via struct-max agg.

    Struct comparison is lexicographic by field position, so putting
    the ordering columns first makes ``max(struct(...))`` select the
    LWW winner while dragging the payload along for free.
    """
    if payload_cols is None:
        payload_cols = [c for c in df.columns if c != key and c not in order_cols]
    winner = F.max(
        F.struct(*[F.col(c) for c in order_cols], *[F.col(c) for c in payload_cols])
    ).alias("w")
    out = df.groupBy(key).agg(winner)
    return out.select(
        key,
        *[F.col(f"w.{c}").alias(c) for c in order_cols],
        *[F.col(f"w.{c}").alias(c) for c in payload_cols],
    )


def lww_window(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = ORDER_COLS,
) -> DataFrame:
    """row_number()==1 formulation — semantic twin of lww_latest,
    kept for oracle parity tests (it is what the DuckDB oracle runs)."""
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

