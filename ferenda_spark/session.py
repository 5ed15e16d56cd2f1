"""SparkSession factory tuned for the KG-construction workload.

Local mode here; on a real cluster the same confs apply (AQE, Arrow,
skew-join) and the master/memory flags come from spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Driver-side rows (tuples in `schema`'s field order) as a
    DataFrame over a `LocalRelation`.  The rows travel as one Arrow
    table, so the plan carries exact size statistics, collecting it
    starts no job, and a broadcast of it is a JVM-only job.  A
    Python-list `createDataFrame` plans a `LogicalRDD` instead, and
    every job that reads it waits on Python workers.  `schema` is a
    StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    # strict: a row of the wrong width raises, as createDataFrame does
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _host_cpus() -> int:
    """Cores this process may run on (its affinity mask, where the OS
    has one)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_memory() -> str:
    """A quarter of the host's MemTotal, at least 1 GB, for the driver
    heap: a local-mode driver JVM is the whole cluster, and its
    resident size runs well past -Xmx (off-heap buffers, metaspace),
    with the Python workers beside it.  4g when /proc/meminfo is
    missing."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{max(1024, kb // 4 // 1024)}m"


def get_spark(
    app_name: str = "ferenda_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """A session sized to the host: `local[cores]`, shuffle partitions
    = cores, and a driver heap of a quarter of RAM.  The environment
    overrides each (`SPARK_GRAFT_CPUS`, `SPARK_SHUFFLE_PARTITIONS`,
    `SPARK_DRIVER_MEM`), and so do the arguments."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle sized to cores locally; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Split small files into >= cores scan partitions: a 100 TB
        # corpus arrives as many splits naturally, but a small local
        # parquet collapses to ONE task, serializing shuffle-free
        # plans (broadcast joins, pure projections) onto one core —
        # this floor makes local plans cluster-shaped.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark's per-Column call-site capture walks the Python stack
        # and adds py4j round-trips to every F.*/Column call; it only
        # feeds the call-site section of runtime error messages
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
