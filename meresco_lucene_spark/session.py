"""SparkSession factory with engine defaults.

Local mode knobs follow the public PySpark guidance: shuffle partitions
sized to cores (not 200), AQE on (runtime coalescing + skew-join),
Arrow enabled for the pandas-UDF hot paths, UTC so DuckDB oracle
comparisons are stable.

The settings that do not depend on the master come from
``session_defaults()``; ``get_spark`` and the ``spark-submit`` job
(tools/submit_job.py) both start from it. It is a function, not a
module-level dict, so that ``SPARK_GRAFT_MAX_PARTITION_BYTES`` is read
when a session is made, not when the package is imported.

Two of the settings exist for the query path's fixed driver cost,
which at benchmark scale outweighs the scan (a warm term search spent
about three quarters of its time on the driver before its one Spark
job started):

- ``spark.sql.codegen.cache.maxEntries`` (static): whole-stage codegen
  compiles each plan to Java classes and keeps them in a process-wide
  cache keyed by the generated source. Spark's default of 100 entries
  is smaller than the engine's working set (a benchmark run of every
  query class compiles about 190 classes in all), so classes were
  evicted between one query of a shape and the next and compiled
  again; 1000 holds them all.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark 4
  wraps every Column function in a call-site capture that adds a
  ``getActiveSession``, a ``conf.get`` and a ``PySparkCurrentOrigin.set``
  py4j round trip to each call (a warm term search made 682 py4j calls
  with it, about 240 without). The capture only adds the Python call
  site to error messages. PySpark reads this setting once per process,
  at the first Column call, and caches it, so a process whose first
  session was not made by ``get_spark`` keeps PySpark's default
  (capture on). To get the call sites back while debugging, start the
  process with ``get_spark(extra_conf={
  "spark.python.sql.dataFrameDebugging.enabled": "true"})``.

The cache helps only because a query's own numbers (df, MUST counts)
are map constants, not code (query/executor.py ``_by_term``).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Callable, Sequence, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def session_defaults() -> dict[str, str]:
    """The engine's session settings that do not depend on the master."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # zstd parquet: ~25-30% smaller index/intermediate files than
        # snappy at indistinguishable local build time (measured r6,
        # OPTIMIZATION_r06.md); at cluster scale the saved scan bytes
        # are the win (guide §6)
        "spark.sql.parquet.compression.codec": "zstd",
        # let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1); most engine joins
        # are broadcast anyway
        "spark.sql.join.preferSortMergeJoin": "false",
        # scan split size: 128m local default (tiny test inputs), raise
        # via env for large sequential scans on real clusters (guide §6)
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"
        ),
        # see the module docstring for these two
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }


def shuffle_partitions_for(cores: int) -> int:
    """Shuffle partitions for ``cores`` task slots: one per core, at
    least 8 (Spark's 200 is sized for clusters)."""
    return max(cores, 8)


def get_spark(
    app_name: str = "meresco_lucene_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = shuffle_partitions_for(cores)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "12g")
    conf = {
        **session_defaults(),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": driver_memory,
        "spark.ui.enabled": "false",
        "spark.driver.host": "127.0.0.1",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    spark = builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_JOB_DESCRIPTION = "spark.job.description"


@contextmanager
def stage(spark: SparkSession, name: str):
    """Tag the Spark jobs this thread submits inside the block with
    ``name`` as their ``spark.job.description``, nested under the
    thread's current stage (``commit`` then ``encode`` gives
    ``commit:encode``). The tag is a property of the submitting thread,
    so a job submitted from a thread pool needs :func:`in_stage`."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setJobDescription(f"{outer}:{name}" if outer else name)
    try:
        yield
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, outer)


def in_stage(spark: SparkSession, name: str, fn: Callable[[], T]) -> Callable[[], T]:
    """``fn`` as a callable for a thread pool that runs in stage ``name``,
    nested under the CALLING thread's current stage."""
    outer = spark.sparkContext.getLocalProperty(_JOB_DESCRIPTION)
    full = f"{outer}:{name}" if outer else name

    def run() -> T:
        sc = spark.sparkContext
        prev = sc.getLocalProperty(_JOB_DESCRIPTION)
        sc.setJobDescription(full)
        try:
            return fn()
        finally:
            sc.setLocalProperty(_JOB_DESCRIPTION, prev)

    return run


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: str) -> DataFrame:
    """Driver-held rows as a DataFrame that plans as a ``LocalRelation``.

    ``createDataFrame`` of a Python list plans as a scan of a pickled
    Python RDD, so every scan of it unpickles the rows in Python workers.
    An Arrow table goes to the JVM once. Its columns take the DDL
    schema's Arrow types up front, so a null in a ``long`` column stays
    null."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
