"""Pages source + generic table I/O.

In production the pages table is Iceberg
(`spark.table("cc.pages")`, bucket-partitioned on url-host for
intra-site cross-reference locality — north rule). This sandbox has
no Iceberg runtime jars, so tables round-trip through partitioned
parquet with the same layout; `write_table`/`read_table` are the
single seam where `format("iceberg")` would slot in.

Synthetic pages are generated *distributed*: `spark.range(n)` →
`mapInPandas` calling the pure per-doc generator — no driver-side
corpus, so bench-scale corpora (10^5-10^6 docs) build in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ferenda_spark.config import PipelineConfig

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def synth_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    cfg: PipelineConfig | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic pages DataFrame of n_docs rows, built on executors."""
    cfg = cfg or PipelineConfig()
    partitions = partitions or max(8, min(256, n_docs // 256 or 8))

    def gen(batches):
        import pandas as pd

        from ferenda_spark.datagen import pages_rows

        for pdf in batches:
            ids = pdf["id"].tolist()
            if not ids:
                continue
            rows = []
            for i in ids:
                rows.extend(pages_rows(seed, int(i), int(i) + 1, n_docs, cfg))
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_docs, 1, partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


def synth_pages_v2(
    spark: SparkSession,
    n_docs: int,
    n_new: int = 0,
    change_every: int = 5,
    seed: int = 42,
    seed2: int = 137,
    cfg: PipelineConfig | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic SNAPSHOT 2 of the `synth_pages(n_docs, seed)`
    corpus: a full recrawl where every change_every-th doc is revised
    in place (same url/docid, new content from seed2), n_new docs are
    brand new, and the rest recrawl byte-identical — the input shape
    for `pipeline.incremental_kg` / `streaming.stateful`."""
    cfg = cfg or PipelineConfig()
    total = n_docs + n_new
    partitions = partitions or max(8, min(256, total // 256 or 8))

    def gen(batches):
        import pandas as pd

        from ferenda_spark.datagen import pages_rows_v2

        for pdf in batches:
            ids = pdf["id"].tolist()
            if not ids:
                continue
            rows = []
            for i in ids:
                rows.extend(
                    pages_rows_v2(
                        seed, seed2, int(i), int(i) + 1, n_docs, n_new,
                        change_every, cfg,
                    )
                )
            yield pd.DataFrame(rows)

    return spark.range(0, total, 1, partitions).mapInPandas(
        gen, schema=PAGES_SCHEMA
    )


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Hive-bucketed materialization — the table-level co-location
    the Iceberg `bucket(N, col)` partition transform provides at
    deployment (SURVEY.md §2.1 S5/S6 sink seam).  Every downstream
    equi-join or aggregation on `bucket_col` between tables bucketed
    the same way elides its shuffle entirely: Catalyst sees the
    matching output partitioning and drops the Exchange on both
    sides (asserted in test_query_layer's bucketed-join test and
    tools/explain_audit.py).  At 100 TB this is the difference
    between re-shuffling the 10^13-row triples table on every
    relate/annotation pass and reading it pre-placed: bucket once at
    write time, join shuffle-free forever after.

    sortBy(bucket_col) additionally makes the per-bucket files
    sort-merge-ready (no per-task sort before SMJ).  `path` makes it
    an external table (data at `path`, metadata in the session
    catalog); required in tests to keep data out of the default
    warehouse."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        w = w.sortBy(bucket_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(name)
