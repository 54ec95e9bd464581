"""SparkSession factory with engine defaults.

Local mode knobs follow the public PySpark guidance: shuffle partitions
sized to cores (not 200), AQE on (runtime coalescing + skew-join),
Arrow enabled for the pandas-UDF hot paths, UTC so DuckDB oracle
comparisons are stable.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


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
        shuffle_partitions = max(cores, 8)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "12g")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # zstd parquet: ~25-30% smaller index/intermediate files than
        # snappy at indistinguishable local build time (measured r6,
        # OPTIMIZATION_r06.md); at cluster scale the saved scan bytes
        # are the win (guide §6)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1); most engine joins
        # are broadcast anyway
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # scan split size: 128m local default (tiny test inputs), raise
        # via env for large sequential scans on real clusters (guide §6)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
