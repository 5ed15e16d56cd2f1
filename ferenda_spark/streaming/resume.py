"""Per-partition lineage + checkpoint-resume.

Reference semantics: ferenda's freshness layer is per-doc
DocumentEntry timestamps + needed() mtime checks
(documentstore.py:400-470, documententry.py:27-160) — killed runs
re-process only stale documents. The Spark restatement (north rule:
"resumable from checkpoint with per-partition lineage + metrics"):

- every stage output is hash-bucketed on url (`url_bucket`) and
  written with dynamic partition overwrite, so re-writing a bucket is
  idempotent;
- after each bucket lands, a lineage row (run_id, stage, bucket,
  n_rows, started, finished, status) is appended;
- on resume, the pending set = all buckets ANTI-JOIN lineage 'ok'
  rows for that stage — only unfinished buckets recompute.

At 10^12 pages the bucket count rises and buckets become Iceberg
partitions; the mechanism is unchanged.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferenda_spark.session import local_frame

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("started", T.TimestampType(), False),
        T.StructField("finished", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)


def with_bucket(df: DataFrame, n_buckets: int, col: str = "url") -> DataFrame:
    return df.withColumn(
        "url_bucket", F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")
    )


def read_lineage(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    if not _exists(spark, lineage_path):
        return None
    return spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)


def done_buckets(spark: SparkSession, lineage_path: str, stage: str) -> set[int]:
    lin = read_lineage(spark, lineage_path)
    if lin is None:
        return set()
    rows = (
        lin.filter((F.col("stage") == stage) & (F.col("status") == "ok"))
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r["partition_id"] for r in rows}


def run_bucketed_stage(
    spark: SparkSession,
    stage: str,
    df: DataFrame,
    out_path: str,
    lineage_path: str,
    run_id: str,
    n_buckets: int,
    resume: bool = True,
    commit_chunks: int = 4,
) -> DataFrame:
    """Write `df` (must carry url_bucket) partitioned by bucket,
    skipping buckets already recorded ok; append lineage rows.
    Returns the (full) stage table, read back from storage.

    Pending buckets commit in `commit_chunks` independent jobs, each
    followed immediately by its own lineage append with real
    per-chunk timestamps and per-bucket row counts (observed on the
    write, not read back) — a kill mid-stage loses at most the
    in-flight chunk, and already-committed chunks are reused on
    resume (the per-bucket lineage promise holds *within* a stage,
    not just between stages).  The stage input is persisted across
    the chunk jobs so each chunk re-reads cached partitions instead
    of recomputing the upstream transform; dynamic partition
    overwrite keeps every per-bucket rewrite idempotent, so a crash
    between a chunk's write and its lineage append only re-does that
    chunk."""
    done = done_buckets(spark, lineage_path, stage) if resume else set()
    pending = [b for b in range(n_buckets) if b not in done]
    if pending:
        from pyspark.storagelevel import StorageLevel

        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        per_chunk = max(1, -(-len(pending) // max(1, commit_chunks)))
        for lo in range(0, len(pending), per_chunk):
            chunk = pending[lo : lo + per_chunk]
            started = datetime.now(timezone.utc)
            # per-bucket row counts ride on the write itself
            counts = Observation()
            cached.filter(F.col("url_bucket").isin(chunk)).observe(
                counts,
                *[F.count_if(F.col("url_bucket") == b).alias(str(b)) for b in chunk],
            ).write.mode("overwrite").partitionBy("url_bucket").parquet(out_path)
            finished = datetime.now(timezone.utc)
            n = counts.get
            rows = [
                (run_id, stage, int(b), int(n[str(b)]), started, finished, "ok")
                for b in chunk
            ]
            local_frame(spark, rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(lineage_path)
        cached.unpersist()
    return spark.read.parquet(out_path)


def run_global_stage(
    spark: SparkSession,
    stage: str,
    df_fn,
    out_path: str,
    lineage_path: str,
    run_id: str,
    resume: bool = True,
) -> DataFrame:
    """Non-bucketed stage (CC, global dedup): one lineage row with
    partition_id=-1 and the row count observed on the write; skipped
    entirely when already ok."""
    if (
        resume
        and -1 in done_buckets(spark, lineage_path, stage)
        and _exists(spark, out_path)
    ):
        return spark.read.parquet(out_path)
    started = datetime.now(timezone.utc)
    count = Observation()
    df_fn().observe(count, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(out_path)
    finished = datetime.now(timezone.utc)
    n = count.get["n"]
    local_frame(
        spark, [(run_id, stage, -1, int(n), started, finished, "ok")], LINEAGE_SCHEMA
    ).coalesce(1).write.mode("append").parquet(lineage_path)
    return spark.read.parquet(out_path)


def status_report(lineage: DataFrame, n_buckets: int) -> DataFrame:
    """A8 status report (documentrepository.py:3721-3779 get_status):
    per stage, how many buckets exist (ok lineage rows) vs todo.
    Global stages (partition_id = -1) count as a single bucket.
    Output (stage, n_ok, n_todo, last_finished)."""
    ok = lineage.filter(F.col("status") == "ok")
    per = ok.groupBy("stage").agg(
        F.countDistinct("partition_id").cast("long").alias("n_ok"),
        F.max(F.col("partition_id") == -1).alias("is_global"),
        F.max("finished").alias("last_finished"),
    )
    total = F.when(F.col("is_global"), F.lit(1)).otherwise(F.lit(n_buckets))
    return per.select(
        "stage",
        "n_ok",
        F.greatest(total - F.col("n_ok"), F.lit(0)).cast("long").alias("n_todo"),
        "last_finished",
    )


def build_stats(lineage: DataFrame) -> DataFrame:
    """A9 build-log stats (devel.py:589-646 analyze_buildstats /
    analyze_timestats): per (run_id, stage) — completed partitions,
    total rows, and wall-clock elapsed (first start → last finish,
    real per-chunk timestamps from run_bucketed_stage).
    Output (run_id, stage, n_partitions, n_rows, elapsed_sec)."""
    ok = lineage.filter(F.col("status") == "ok")
    return ok.groupBy("run_id", "stage").agg(
        F.countDistinct("partition_id").cast("long").alias("n_partitions"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        (
            F.unix_timestamp(F.max("finished")) - F.unix_timestamp(F.min("started"))
        ).cast("long").alias("elapsed_sec"),
    )


def _fs_path(spark: SparkSession, path: str):
    """(the session's Hadoop FileSystem for `path`, its Path): a
    `file://`, `hdfs://` or `s3a://` root probes as a local path does."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _exists(spark: SparkSession, path: str) -> bool:
    """`path` holds a parquet file at any depth, stopping the listing
    at the first one."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return False
    files = fs.listFiles(p, True)
    while files.hasNext():
        if files.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def new_run_id() -> str:
    return f"run-{int(time.time() * 1000):x}"
