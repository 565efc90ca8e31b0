"""Incrementally-maintained materialized aggregates (IVM) over a
LakeTable.

A 100 TB CDC table is queried through its rollups far more often than
row-by-row, and recomputing ``GROUP BY`` over the full snapshot after
every micro-batch is the classic scale-killer: the aggregate touches
every file even though the batch changed a handful. This module keeps a
count/sum-per-group view in sync from the table's row-level changelog
instead — refresh cost scales with the CHANGED FILES and TOUCHED
GROUPS of the snapshot delta, never with table size.

Delta derivation (standard incremental view maintenance for
distributive aggregates): from ``LakeTable.changes(lo, hi,
with_preimages=True)``,

* ``insert`` / ``update_postimage`` rows contribute ``+1`` to the
  group's count and ``+value`` to each sum;
* ``delete`` / ``update_preimage`` rows contribute ``-1`` / ``-value``
  (an update that MOVES a row between groups therefore decrements the
  old group and increments the new one);

then one map-side-combined groupBy collapses the delta to at most
|touched groups| rows, which full-outer-merge with the stored view.
Groups whose count reaches zero are dropped (the view never carries
dead groups). count/sum are distributive, so the merge is exact —
no re-read of unchanged base data, ever.

Storage: versioned parquet directories under the view path plus a
``meta.json`` recording the view version and the base-table snapshot
it reflects; refresh writes the next version directory BEFORE flipping
meta (the same write-then-publish commit discipline LakeTable uses),
so a crashed refresh leaves the previous version intact and the retry
is idempotent.

The reference's closest analog is tar2tf's build-once versioned
transform cache (/root/reference/transformers/tar2tf/src/cached.go:50-78)
— results keyed by source version, rebuilt only when the source moves;
here the "source version" is the table snapshot and the rebuild is the
O(delta) merge above.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ais_etl_spark.lake.log import durable_write
from ais_etl_spark.lake.table import LakeTable

_META = "meta.json"


class MaterializedAggregate:
    """count + sums per group over a LakeTable, incrementally
    refreshed. ``group_cols`` may be any subset of the table's
    columns; ``sum_cols`` are numeric columns to maintain sums for.
    Output schema: group_cols + ``n_rows`` (bigint) +
    ``sum_<col>`` per sum column."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        table: LakeTable,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
    ) -> "MaterializedAggregate":
        """Create the view and bootstrap it with one full aggregation
        of the table's CURRENT snapshot (the only full scan the view
        ever does)."""
        names = {c["name"] for c in table.schema_cols()}
        for c in [*group_cols, *(sum_cols or [])]:
            if c not in names:
                raise ValueError(f"column {c!r} not in table schema")
        os.makedirs(path, exist_ok=True)
        mv = cls(spark, path)
        mv._bootstrap(table, group_cols, list(sum_cols or []))
        return mv

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "MaterializedAggregate":
        mv = cls(spark, path)
        mv.meta()  # raises if absent
        return mv

    def meta(self) -> dict:
        with open(os.path.join(self.path, _META)) as fh:
            return json.load(fh)

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version:06d}")

    def _publish(self, df: DataFrame, version: int, meta: dict) -> None:
        """Write the version directory, then flip meta — the
        write-then-publish order makes a crashed refresh invisible."""
        out = self._vdir(version)
        if os.path.exists(out):  # crashed earlier attempt; rewrite
            shutil.rmtree(out)
        df.write.parquet(out)
        durable_write(meta, os.path.join(self.path, _META))
        stale = self._vdir(version - 2)  # keep one version of history
        if version >= 2 and os.path.exists(stale):
            shutil.rmtree(stale, ignore_errors=True)

    # ------------------------------------------------------------------
    # aggregation
    # ------------------------------------------------------------------

    @staticmethod
    def _agg_exprs(sum_cols: list[str], count_expr, val=None):
        exprs = [F.sum(count_expr).cast("bigint").alias("n_rows")]
        for c in sum_cols:
            v = val(c) if val is not None else F.col(c)
            exprs.append(
                F.sum(F.coalesce(v, F.lit(0)) * count_expr).alias(f"sum_{c}")
            )
        return exprs

    def _bootstrap(
        self, table: LakeTable, group_cols: list[str], sum_cols: list[str]
    ) -> None:
        snap = table.current_snapshot_id()
        view = table.read().groupBy(*group_cols).agg(
            *self._agg_exprs(sum_cols, F.lit(1))
        )
        self._publish(
            view, 0,
            {
                "version": 0,
                "base_table": os.path.abspath(table.path),
                "base_snapshot": snap,
                "group_cols": group_cols,
                "sum_cols": sum_cols,
            },
        )

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self._vdir(self.meta()["version"]))

    def refresh(self, table: LakeTable) -> dict:
        """Advance the view to the table's current snapshot by merging
        the changelog delta. No-op (and no new version) when the table
        hasn't moved. Returns {from_snapshot, to_snapshot, version}."""
        m = self.meta()
        lo, hi = m["base_snapshot"], table.current_snapshot_id()
        if hi == lo:
            return {"from_snapshot": lo, "to_snapshot": hi,
                    "version": m["version"]}
        group_cols, sum_cols = m["group_cols"], m["sum_cols"]
        delta_rows = table.changes(lo, hi, with_preimages=True)
        sign = F.when(
            F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        delta = delta_rows.groupBy(*group_cols).agg(
            *self._agg_exprs(sum_cols, sign)
        )
        old = self.read()
        val_cols = ["n_rows"] + [f"sum_{c}" for c in sum_cols]
        # null-safe group equality: a NULL group value is a real group
        # (groupBy puts it in one bucket; a plain equi-join would never
        # match it and the view would grow a duplicate null-group row)
        cond = None
        for g in group_cols:
            e = F.col(f"o.{g}").eqNullSafe(F.col(f"d.{g}"))
            cond = e if cond is None else cond & e
        merged = (
            old.alias("o")
            .join(delta.alias("d"), cond, "full_outer")
            .select(
                *[
                    F.coalesce(F.col(f"o.{g}"), F.col(f"d.{g}")).alias(g)
                    for g in group_cols
                ],
                *[
                    (
                        F.coalesce(F.col(f"o.{c}"), F.lit(0))
                        + F.coalesce(F.col(f"d.{c}"), F.lit(0))
                    ).alias(c)
                    for c in val_cols
                ],
            )
            .filter(F.col("n_rows") > 0)
        )
        version = m["version"] + 1
        self._publish(
            merged, version,
            {**m, "version": version, "base_snapshot": hi},
        )
        return {"from_snapshot": lo, "to_snapshot": hi, "version": version}
