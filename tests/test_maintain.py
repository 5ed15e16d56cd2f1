"""Continuous KG maintenance (streaming/maintain.py): recrawl drops
→ foreachBatch → incremental_kg against stored state, versioned
commits with a last-flipped pointer.

Invariants:
- after draining a bootstrap drop and a recrawl drop, the committed
  triples equal a FULL rebuild of the recrawl snapshot (the same
  incremental == full contract as tests/test_incremental.py, now
  through the streaming sink);
- a replayed batch (crash after commit, before checkpoint write) is
  skipped, not re-applied onto its own output;
- a partial version dir (crash before the pointer flip) is invisible
  to readers and overwritten idempotently on replay.
"""

import json
import os
import shutil

from ferenda_spark.pipeline import build_kg
from ferenda_spark.sources.pages import synth_pages, synth_pages_v2
from ferenda_spark.streaming.maintain import (
    apply_batch,
    latest_version,
    maintain_kg_stream,
)

N, N_NEW, EVERY = 40, 6, 5


def _triples_set(df):
    return {
        (r.subj, r.pred, r.obj)
        for r in df.select("subj", "pred", "obj").collect()
    }


def test_stream_maintenance_equals_full_rebuild(spark, tmp_path):
    src = str(tmp_path / "pages")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # drop 1: the initial crawl
    synth_pages(spark, N, seed=42).write.mode("append").parquet(src)
    maintain_kg_stream(spark, src, state, ckpt, cfg=None)
    v0 = latest_version(state)
    assert v0 is not None
    meta0 = json.load(open(os.path.join(state, f"v{v0}", "meta.json")))
    assert meta0["mode"] == "bootstrap"

    # drop 2: a full recrawl (changed + new + byte-identical rows)
    pages2 = synth_pages_v2(spark, N, n_new=N_NEW, change_every=EVERY, seed=42)
    pages2.write.mode("append").parquet(src)
    maintain_kg_stream(spark, src, state, ckpt, cfg=None)
    v1 = latest_version(state)
    assert v1 is not None and v1 > v0
    meta1 = json.load(open(os.path.join(state, f"v{v1}", "meta.json")))
    assert meta1["mode"] == "incremental"
    # only revised + new urls entered the Python stages
    assert meta1["delta_urls"] == N // EVERY + N_NEW

    committed = spark.read.parquet(os.path.join(state, f"v{v1}", "triples"))
    full = build_kg(spark, pages2)
    assert _triples_set(committed) == _triples_set(full.triples)
    assert committed.count() == full.triples.count()
    assert meta1["triples"] == committed.count()

    # fingerprint state covers every url ever seen
    fp = spark.read.parquet(os.path.join(state, f"v{v1}", "fingerprints"))
    assert fp.count() == N + N_NEW

    # a third drain with nothing new commits nothing
    maintain_kg_stream(spark, src, state, ckpt, cfg=None)
    assert latest_version(state) == v1


def test_replayed_batch_is_skipped(spark, tmp_path):
    state = str(tmp_path / "state")
    os.makedirs(state)
    pages = synth_pages(spark, 10, seed=42)
    assert apply_batch(spark, pages, state, batch_id=0) is not None
    before = os.path.getmtime(os.path.join(state, "v0", "meta.json"))
    # crash-after-commit replay: pointer already at 0 → no-op
    assert apply_batch(spark, pages, state, batch_id=0) is None
    assert os.path.getmtime(os.path.join(state, "v0", "meta.json")) == before


def test_partial_version_dir_is_overwritten(spark, tmp_path):
    state = str(tmp_path / "state")
    os.makedirs(state)
    pages = synth_pages(spark, 10, seed=42)
    apply_batch(spark, pages, state, batch_id=0)

    # simulate a crash before the pointer flip: a half-written v1
    partial = os.path.join(state, "v1", "triples")
    os.makedirs(partial)
    open(os.path.join(partial, "part-zzz.parquet"), "w").write("junk")
    assert latest_version(state) == 0  # readers never see v1

    pages2 = synth_pages_v2(spark, 10, n_new=2, change_every=5, seed=42)
    kg = apply_batch(spark, pages2, state, batch_id=1)
    assert kg is not None
    assert latest_version(state) == 1
    committed = spark.read.parquet(os.path.join(state, "v1", "triples"))
    assert _triples_set(committed) == _triples_set(build_kg(spark, pages2).triples)


def test_snapshot_expiry_retains_recent(spark, tmp_path):
    state = str(tmp_path / "state")
    os.makedirs(state)
    for b in range(3):
        pages = synth_pages(spark, 8 + b, seed=42)
        apply_batch(spark, pages, state, batch_id=b, retain=2)
    vs = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert vs == ["v1", "v2"]
    shutil.rmtree(state)


def test_multi_version_batch_resolves_latest(spark, tmp_path):
    """A drained micro-batch holding SEVERAL warc_ts versions of one
    url must resolve latest-wins BEFORE state lands: exactly one
    fingerprint row per url, and the stored state equals a rebuild
    from the latest versions only (no duplicate doc/segment rows
    compounding into later batches)."""
    import pyspark.sql.functions as F

    state = str(tmp_path / "state")
    os.makedirs(state)
    pages = synth_pages(spark, 8, seed=42)
    # duplicate every url: an older shadow version with other text
    older = pages.withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 7 DAYS")
    ).withColumn("text", F.concat(F.lit("STALE "), F.col("text")))
    batch = pages.unionByName(older)
    kg = apply_batch(spark, batch, state, batch_id=0)
    assert kg is not None
    fp = spark.read.parquet(os.path.join(state, "v0", "fingerprints"))
    assert fp.count() == fp.select("url").distinct().count() == 8
    want = _triples_set(build_kg(spark, pages).triples)
    got = spark.read.parquet(os.path.join(state, "v0", "triples"))
    assert _triples_set(got) == want
    shutil.rmtree(state)


def test_retain_floor_keeps_result_readable(spark, tmp_path):
    """retain=1 must not expire the prior version that backs the
    just-returned LAZY KGResult: acting on the result after commit
    still works (expiry floors at 2 live versions)."""
    state = str(tmp_path / "state")
    os.makedirs(state)
    apply_batch(spark, synth_pages(spark, 8, seed=42), state, batch_id=0,
                retain=1)
    pages2 = synth_pages_v2(spark, 8, n_new=2, change_every=4, seed=42)
    kg = apply_batch(spark, pages2, state, batch_id=1, retain=1)
    assert kg is not None
    assert kg.triples.count() > 0  # lineage reads v0 — must still exist
    shutil.rmtree(state)
