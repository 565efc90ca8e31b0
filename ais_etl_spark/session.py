"""SparkSession factory with scale-appropriate defaults.

Single place where execution knobs live so tests, bench, and the
driver entry point all agree. Mirrors the reference's init-time env
configuration model (/root/reference/transformers/FFmpeg/etl_spec.yaml:5-13)
— but here the "env" is Spark conf and everything else is declarative.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "ais-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults follow the sandbox contract: ``local[$SPARK_GRAFT_CPUS]``
    (32 if unset). On a real cluster pass ``master=None`` and let
    spark-submit supply it; every other conf below is cluster-safe.

    Scale rationale (100 TB / 1000 executors):
    - AQE on: runtime shuffle-partition coalescing + skew-join splits
      are the named mechanism for hot-domain skew (north_rule).
    - Arrow enabled + large batch: all our UDFs are pandas/Arrow
      vectorized; batch size bounds executor memory per task.
    - UTC session TZ: event-time (warc_ts) must compare identically
      across engines (and vs the DuckDB oracle).
    - shuffle.partitions ~ cores locally; on a cluster AQE coalesces
      from a deliberately high initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the manifest names every file a read takes, so listing them
        # is a status call per path; above this many paths Spark would
        # list them in a Spark job of its own (default 32, below one
        # merge-on-read table's file count)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # PySpark's per-call call-site capture (a stack walk and origin
        # round trips on every Column/DataFrame call); errors keep their
        # class and message, without the Python call-site fragment
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers start through the engine's daemon, which stops
        # each task from re-reading the unchanged pyspark.zip directory
        # (~0.17 s per task); see _workers_see_engine
        .config("spark.python.daemon.module", "ais_etl_spark.worker_daemon")
        # INT96 (the legacy default) writes NO column statistics, which
        # blanks the manifest's order-column ranges; micros carries
        # proper min/max for metrics-based file skipping
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # --- timeouts / failure policy (the reference's initTimeout /
        # probe analog, transformers/echo/etl_spec.yaml:27-29): bound
        # how long a wedged task or broadcast can stall the pipeline
        .config("spark.task.maxFailures", "4")
        .config("spark.network.timeout", "120s")
        .config("spark.sql.broadcastTimeout", "300")
        .config("spark.python.worker.faulthandler.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _workers_see_engine(spark.sparkContext)
    return spark


def _workers_see_engine(sc) -> None:
    """Append the path this package was imported from (a directory or
    a ``--py-files`` zip) to the Python workers' ``PYTHONPATH``, after
    any the caller set. The worker daemon imports ``ais_etl_spark`` when
    it starts, before a task puts the job's py-files on ``sys.path``.
    An installed package is skipped: the workers' interpreter finds it,
    and site-packages on ``PYTHONPATH`` would shadow the standard
    library."""
    import site

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root in site.getsitepackages():
        return
    paths = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        sc.environment["PYTHONPATH"] = os.pathsep.join(paths + [root])


class _Schema:
    """One DDL string's parsed forms in one session: the ``StructType``
    (parsed once), the Arrow schema derived from it, and the empty
    frame (built on first use)."""

    __slots__ = ("struct", "arrow", "empty")

    def __init__(self, struct):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.struct = struct
        self.arrow = to_arrow_schema(struct)
        self.empty = None


def _schema(spark: SparkSession, ddl: str) -> _Schema:
    """The session's cached :class:`_Schema` for ``ddl``. The cache is
    per session because a DDL parse reads session conf
    (``spark.sql.timestampType``) and a cached frame must never be
    handed to another session. It is held on the session object
    itself: a module-level map keyed by the session would be kept
    alive by its own empty frames, which reference the session. An
    ALTER changes the DDL string, so the entries are bounded by schema
    versions times the few internal-column variants. Two threads racing
    on a new string at worst both parse it; either entry is valid."""
    from pyspark.sql.types import DataType

    cache = spark.__dict__.setdefault("_ais_schemas", {})
    entry = cache.get(ddl)
    if entry is None:
        entry = cache[ddl] = _Schema(DataType.fromDDL(ddl))
    return entry


def arrow_schema(spark: SparkSession, ddl: str):
    """The ``pyarrow.Schema`` Spark's own Arrow conversion maps a DDL
    string to (timestamps as UTC micros, every field nullable); parsed
    once per session."""
    return _schema(spark, ddl).arrow


def local_frame(spark: SparkSession, data, ddl: str) -> DataFrame:
    """DataFrame over driver-held data — a sequence of row tuples in
    DDL column order, or a ``pyarrow.Table`` holding (at least) the DDL
    columns by name — typed exactly as ``ddl``.

    The frame is a ``LocalRelation``: its rows live in the plan, so
    ``collect()`` runs on the driver with no Spark job, and joins read
    it without a scan. ``createDataFrame`` over a Python list instead
    parallelizes a Python RDD over ``defaultParallelism`` partitions,
    and every action on it pays one Python-worker task per partition
    (~45 ms each on a warm worker, ~170 ms with PySpark's stock daemon;
    see :mod:`ais_etl_spark.worker_daemon`) even when the list is empty.

    ``ddl`` is parsed in the JVM once per session (see :func:`_schema`);
    later calls pass the cached ``StructType``. Empty data returns the
    session's one cached empty frame for ``ddl`` and builds no table."""
    import pyarrow as pa

    s = _schema(spark, ddl)
    rows = data if isinstance(data, pa.Table) else list(data)
    if not len(rows):
        if s.empty is None:
            s.empty = spark.createDataFrame(s.arrow.empty_table(), s.struct)
        return s.empty
    if isinstance(rows, pa.Table):
        table = rows.select(s.arrow.names).cast(s.arrow)
    else:
        table = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=f.type)
             for i, f in enumerate(s.arrow)],
            schema=s.arrow,
        )
    return spark.createDataFrame(table, s.struct)
