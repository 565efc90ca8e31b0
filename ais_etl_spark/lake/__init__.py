"""Iceberg-semantics lakehouse table (snapshot commits, CoW MERGE,
metadata-only schema evolution, time travel) over plain Parquet.

No Iceberg runtime jar ships in this sandbox, so the engine implements
the *semantics* behind a thin interface (SURVEY §7): the commit log is
:class:`ais_etl_spark.lake.log.TableLog` (no Spark), and
:class:`ais_etl_spark.lake.table.LakeTable` extends it with the Spark
data plane. A real Iceberg catalog can replace ``LakeTable`` without
touching callers — merge/read/alter signatures are catalog-agnostic.
"""

from ais_etl_spark.lake.log import CommitConflict  # noqa: F401
from ais_etl_spark.lake.table import LakeTable  # noqa: F401
from ais_etl_spark.lake.matview import MaterializedAggregate  # noqa: F401
from ais_etl_spark.lake.sync import sync_incremental, read_cursor  # noqa: F401
