"""Incremental ingest via Structured Streaming (Trigger.AvailableNow).

The reference has NO streaming runtime — its incremental behavior is
mtime-based per-doc `needed()` checks plus batch re-runs
(documentstore.py:400-470; SURVEY.md §2.10), which
streaming/resume.py reproduces as lineage anti-joins.  This module
is the *other* idiomatic Spark expression of the same contract:
treat the pages table as an append-only source, process
everything-available-then-stop, and let the checkpoint directory
carry the "which files are done" state that ferenda keeps in
DocumentEntry JSON.

The one event-time quantity the input contract carries is
`warc_ts` (the crawl capture time), and WARC drops genuinely arrive
out of order at ingest — `crawl_window_stats` is the late-data
operator for it: tumbling event-time windows + watermark, so
per-host crawl-rate stats finalize exactly once per window and
arbitrarily-late records are dropped instead of growing state
forever.  The reference itself has no late-data semantics
(mtime-based needed(), documentstore.py:400-470), so nothing beyond
that is fabricated.

Use when pages arrive as rolling parquet drops; use resume.py when
re-running over a static snapshot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ferenda_spark.operators.extract import extract_docs
from ferenda_spark.pipeline import page_fp_expr
from ferenda_spark.sources.pages import PAGES_SCHEMA


def stream_pages(spark: SparkSession, pages_dir: str, max_files: int = 64) -> DataFrame:
    """Streaming scan of a pages parquet directory.  maxFilesPerTrigger
    bounds micro-batch memory at scale."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(pages_dir)
    )


def run_extract_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files: int = 64,
) -> None:
    """pages stream → extract stage → parquet sink, processing all
    available input then stopping (Trigger.AvailableNow).  Re-running
    after new files land processes only the new files — the streaming
    twin of run_pipeline skipping the buckets its lineage records
    done.  Blocks until the batch drains."""
    docs = extract_docs(stream_pages(spark, pages_dir, max_files))
    q = (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def crawl_window_stats(
    pages: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "warc_ts",
    key: Column | None = None,
    bytes_expr: Column | None = None,
) -> DataFrame:
    """Event-time crawl-rate stats with late-data semantics: tumbling
    `window` counts+bytes per url host, WARC records arriving up to
    `watermark` late still land in their window, older ones are
    dropped (bounded state — at 10^12 pages the window state table
    would otherwise grow with the full crawl's time span).

    Output (window_start: unix secs, host, n_pages, n_bytes).  The
    same plan runs batch (withWatermark is a no-op there) — that
    batch twin IS the DuckDB-checkable contract: epoch-aligned
    tumbling buckets, per-key partial-aggregated counts.  On a
    stream, append mode emits each window exactly once, when the
    watermark passes its end."""
    k = (
        key
        if key is not None
        else F.coalesce(F.parse_url(F.col("url"), F.lit("HOST")), F.lit(""))
    )
    b = bytes_expr if bytes_expr is not None else F.octet_length("html")
    return (
        pages.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"), k.alias("host")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.coalesce(F.sum(b), F.lit(0)).cast("long").alias("n_bytes"),
        )
        .select(
            # NTZ sources (plain parquet timestamps) need the LTZ hop
            # before the epoch cast; the session tz is pinned UTC so
            # the hop is value-preserving
            F.col("w.start").cast("timestamp_ltz").cast("long").alias("window_start"),
            "host",
            "n_pages",
            "n_bytes",
        )
    )


def run_crawl_stats_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    max_files: int = 64,
) -> None:
    """pages stream → watermarked windowed agg → parquet, append
    mode: a window's row is written exactly once, after the
    watermark (carried across runs by the checkpoint) passes its
    end; records later than the watermark are dropped.  Blocks until
    available input drains (Trigger.AvailableNow; the default
    no-data micro-batch then flushes newly-finalized windows)."""
    stats = crawl_window_stats(
        stream_pages(spark, pages_dir, max_files), window, watermark
    )
    q = (
        stats.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def dedup_pages_stream(
    pages: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Exact dedup-on-ingest: keep the FIRST arrival of each
    (url, content-fingerprint) pair; re-fetches of an unchanged page
    inside the watermark horizon are dropped before any downstream
    work (a recrawl stream is mostly unchanged pages — dropping them
    at the door is the single biggest ingest saving).

    `dropDuplicatesWithinWatermark` keeps one state row per distinct
    key seen within the horizon and expires it as the watermark
    passes — bounded state (RocksDB state store at 10^9+ keys),
    unlike an unwatermarked dropDuplicates whose seen-set grows with
    the whole crawl forever.  The fingerprint is the same sha2-256
    content test the batch recrawl detector uses
    (pipeline.page_fingerprints), so stream and batch agree on what
    "changed" means.  The batch twin of this operator is
    dropDuplicates on the same key (catalog `dedup_exact`)."""
    return (
        pages.withColumn("_fp", page_fp_expr())
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["url", "_fp"])
        .drop("_fp")
    )


def run_dedup_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files: int = 64,
) -> None:
    """pages stream → dedup-on-ingest → parquet (append); the
    checkpoint carries the seen-set across runs, so a duplicate
    arriving in a LATER drop (within the watermark) is still
    dropped."""
    out = dedup_pages_stream(stream_pages(spark, pages_dir, max_files), watermark)
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
