"""Continuous KG maintenance: recrawl stream → incremental rebuilds.

Composes the two §2.10 pieces into the production loop the target
deployment runs forever: recrawl drops land as append-only parquet
(Iceberg snapshots at deployment), each micro-batch flows through
`pipeline.incremental_kg` against the previous version's stored
stage tables, and the refreshed state plus the materialized triples
are committed as a new numbered version whose pointer file flips
LAST.  This is the reference's DocumentEntry/needed() lifecycle
(/root/reference/ferenda/documentstore.py:400-470) as a Structured
Streaming sink instead of per-doc JSON files on disk.

Exactly-once without a transaction log:

- the version number IS the foreachBatch ``batch_id``, which Spark
  replays deterministically from the checkpoint after a crash;
- a replayed batch whose version is already committed (pointer ≥
  batch_id) is skipped — the standard transactional-foreachBatch
  guard, needed also because re-applying would read and overwrite
  the same parquet directories;
- a crash BEFORE the pointer flip leaves a partial ``v{n}``
  directory that no reader ever sees (readers resolve through the
  pointer) and that the replay simply overwrites.

State layout under ``state_root``::

    _LATEST              ← committed version number (atomic rename)
    v{n}/fingerprints/   ← (url, page_fp) for every url ever seen
    v{n}/docs|segments|mentions/   ← stored Python-stage outputs
    v{n}/triples/        ← the materialized canonical graph
    v{n}/labels|canon|edges/   ← the rest of the recrawl's tail tables
    v{n}/meta.json       ← batch id, mode, delta/triple counts

Versions are pruned to ``retain`` after each successful commit —
the parquet analog of Iceberg snapshot expiry; keep more for time
travel.  Unlike `streaming/stateful.changed_pages_stream` (whose
per-url fingerprint lives in the state store), the fingerprint
table here is ordinary columnar state: joinable, inspectable, and
shared with the batch `incremental_kg` path, so a batch backfill
and the streaming loop can hand the same state back and forth.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferenda_spark.config import PipelineConfig
from ferenda_spark.pipeline import (
    KGResult,
    KGState,
    build_kg,
    incremental_kg,
    page_fingerprints,
)
from ferenda_spark.streaming.ingest import stream_pages

STATE_TABLES = ("fingerprints", "docs", "segments", "mentions")
#: prior-tail tables the recrawl's delta-scoped relational tail
#: (pipeline._delta_tail) reuses; every version stores them, the
#: bootstrap included
TAIL_TABLES = ("labels", "canon", "triples", "edges")


def _pointer(state_root: str) -> str:
    return os.path.join(state_root, "_LATEST")


def latest_version(state_root: str) -> int | None:
    """Committed version per the pointer file, None before bootstrap."""
    try:
        with open(_pointer(state_root)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _vdir(state_root: str, version: int, name: str = "") -> str:
    d = os.path.join(state_root, f"v{version}")
    return os.path.join(d, name) if name else d


def load_state(spark: SparkSession, state_root: str, version: int) -> KGState:
    return KGState(
        *[
            spark.read.parquet(_vdir(state_root, version, t))
            for t in STATE_TABLES + TAIL_TABLES
        ]
    )


def _merged_fingerprints(prior_fp: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Fingerprints for every url ever seen: the batch's own
    fingerprints override the prior record; untouched urls carry
    forward (same merge contract as incremental_kg's stage tables)."""
    fresh = page_fingerprints(batch)
    if prior_fp is None:
        return fresh
    keys = fresh.select("url").distinct()
    return prior_fp.join(F.broadcast(keys), "url", "left_anti").unionByName(fresh)


def apply_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_root: str,
    batch_id: int,
    cfg: PipelineConfig | None = None,
    retain: int = 2,
) -> KGResult | None:
    """One transactional maintenance step: returns the committed
    KGResult, or None when version ``batch_id`` is already committed
    (crash replay after the pointer flipped — skip, don't re-read
    and overwrite the same state)."""
    cfg = cfg or PipelineConfig()
    prior_v = latest_version(state_root)
    if prior_v is not None and prior_v >= batch_id:
        return None
    if prior_v is not None and batch.limit(1).count() == 0:
        return None  # empty drain — nothing to commit

    # A drained micro-batch can hold SEVERAL versions of one url
    # (multi-version recrawl drops — the case the pages schema's
    # warc_ts exists for).  Everything below assumes one row per
    # url (fingerprint merge, delta join, stage rebuild), so resolve
    # to latest-warc_ts-wins FIRST; without this, duplicate (url,
    # fp) rows enter the persisted fingerprint table and every later
    # batch's left-join fans out — compounding state corruption.
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.sha2(F.coalesce(F.col("text"), F.lit("")), 256))
    )
    batch = (
        batch.withColumn("_vrn", F.row_number().over(w))
        .filter(F.col("_vrn") == 1)
        .drop("_vrn")
    )

    if prior_v is None:
        kg = build_kg(spark, batch, cfg)
        state, n_delta, mode = None, batch.select("url").distinct().count(), "bootstrap"
    else:
        state = load_state(spark, state_root, prior_v)
        kg, delta_urls = incremental_kg(spark, batch, state, cfg)
        n_delta, mode = delta_urls.count(), "incremental"

    # stage order: segments first (materializes the one persisted
    # cut), then the tables derived from it — each write is the next
    # version's stored input, so lineage never chains across batches
    vdir = _vdir(state_root, batch_id)
    if os.path.exists(vdir):  # partial dir from a pre-pointer crash
        shutil.rmtree(vdir)
    kg.segments.write.parquet(_vdir(state_root, batch_id, "segments"))
    kg.docs.write.parquet(_vdir(state_root, batch_id, "docs"))
    kg.mentions.write.parquet(_vdir(state_root, batch_id, "mentions"))
    prior_fp = state.fingerprints if state is not None else None
    _merged_fingerprints(prior_fp, batch).write.parquet(
        _vdir(state_root, batch_id, "fingerprints")
    )
    n_triples = kg.triples.count()
    kg.triples.write.parquet(_vdir(state_root, batch_id, "triples"))
    # tail tables: the next batch's delta-scoped relational tail
    # (labels = corpus-wide (url, entity_label); canon map; relate
    # edges — all production outputs anyway)
    kg.linked.select("url", "entity_label").write.parquet(
        _vdir(state_root, batch_id, "labels")
    )
    kg.canon.write.parquet(_vdir(state_root, batch_id, "canon"))
    kg.edges.write.parquet(_vdir(state_root, batch_id, "edges"))
    with open(os.path.join(vdir, "meta.json"), "w") as f:
        json.dump(
            {
                "batch_id": batch_id,
                "mode": mode,
                "delta_urls": n_delta,
                "triples": n_triples,
                "prior_version": prior_v,
            },
            f,
        )

    # commit: pointer flips last, atomically
    tmp = _pointer(state_root) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(batch_id))
    os.replace(tmp, _pointer(state_root))

    # everything is on disk now — release the build's persisted
    # cuts so a forever-running loop doesn't accrete executor storage
    kg.release()

    # snapshot expiry (never the version just committed).  Floor of
    # 2: the KGResult returned below is LAZY and its lineage reads
    # the PRIOR version's parquet (incremental_kg joins against the
    # stored stage tables) — expiring that version here would make
    # the caller's first action on the result throw FileNotFound.
    live = sorted(
        int(d[1:])
        for d in os.listdir(state_root)
        if d.startswith("v") and d[1:].isdigit()
    )
    keep = max(retain, 2)
    for old in live[:-keep] if retain > 0 else []:
        shutil.rmtree(_vdir(state_root, old), ignore_errors=True)
    return kg


def maintain_kg_stream(
    spark: SparkSession,
    pages_dir: str,
    state_root: str,
    checkpoint_dir: str,
    max_files: int = 64,
    cfg: PipelineConfig | None = None,
    retain: int = 2,
) -> None:
    """Drain all available recrawl drops through the maintenance
    loop (Trigger.AvailableNow), then stop.  Re-running after new
    drops land processes only the new files; killing it mid-batch
    and re-running replays the interrupted batch idempotently."""
    os.makedirs(state_root, exist_ok=True)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(spark, batch_df, state_root, int(batch_id), cfg, retain)

    q = (
        stream_pages(spark, pages_dir, max_files)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
