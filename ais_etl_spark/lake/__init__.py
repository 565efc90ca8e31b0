"""Iceberg-semantics lakehouse table (snapshot commits, CoW MERGE,
metadata-only schema evolution, time travel) over plain Parquet.

No Iceberg runtime jar ships in this sandbox, so the engine implements
the *semantics* behind a thin interface (SURVEY §7): a real Iceberg
catalog can replace :class:`ais_etl_spark.lake.table.LakeTable` without
touching callers — merge/read/alter signatures are catalog-agnostic.
"""

from ais_etl_spark.lake.table import CommitConflict, LakeTable  # noqa: F401
from ais_etl_spark.lake.matview import MaterializedAggregate  # noqa: F401
from ais_etl_spark.lake.sync import sync_incremental, read_cursor  # noqa: F401
