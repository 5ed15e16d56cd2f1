"""The materialized pipeline (`run_pipeline`) against the in-memory one.

Both modes run the one stage sequence, so on the same pages they give
the same triples and edges; a `run_pipeline` result carries the tail
tables the delta-scoped recrawl reads, so a recrawl over its state
equals the full rebuild of the new snapshot.  Lineage row counts are
observed on each stage's write and must match what was stored.  One
`run_pipeline` call is shared by every test in this module."""

import os
from collections import Counter

import pytest
from pyspark.sql import DataFrameReader

from ferenda_spark.config import PipelineConfig
from ferenda_spark.pipeline import build_kg, incremental_kg, kg_state, run_pipeline
from ferenda_spark.sources.pages import synth_pages, synth_pages_v2

N = 20
CFG = PipelineConfig(url_buckets=8)
TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_uri", "lang", "datatype")
#: stage -> stored table; the first four are bucketed
STAGES = {
    "extract": "docs",
    "segment": "segments",
    "mentions": "mentions",
    "emit": "triples_raw",
    "canonicalize": "canon",
    "rewrite": "triples",
    "relate": "edges",
    "validate": "warnings",
}
BUCKETED = ("extract", "segment", "mentions", "emit")
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture(scope="module")
def pages1(spark):
    return synth_pages(spark, N, 42, CFG, partitions=2)


@pytest.fixture(scope="module")
def materialized(spark, pages1, tmp_path_factory):
    """(out_root, run_pipeline result, the session's partition
    overwrite mode after the run) of the v1 snapshot, run with that
    mode set to STATIC."""
    root = str(tmp_path_factory.mktemp("run_pipeline"))
    prior = spark.conf.get(OVERWRITE_MODE)
    spark.conf.set(OVERWRITE_MODE, "STATIC")
    try:
        rp = run_pipeline(spark, pages1, root, CFG, run_id="r1")
        mode_after = spark.conf.get(OVERWRITE_MODE)
    finally:
        spark.conf.set(OVERWRITE_MODE, prior)
    return root, rp, mode_after


@pytest.fixture(scope="module")
def built(spark, pages1):
    kg = build_kg(spark, pages1, CFG)
    yield kg
    kg.release()


def _triples(kg) -> Counter:
    return Counter(tuple(r) for r in kg.triples.select(*TRIPLE_COLS).collect())


def _edges(kg) -> Counter:
    cols = sorted(kg.edges.columns)
    return Counter(tuple(r) for r in kg.edges.select(*cols).collect())


def test_run_pipeline_equals_build_kg(materialized, built):
    _, rp, _ = materialized
    assert tuple(rp.triples.columns) == TRIPLE_COLS
    got = _triples(rp)
    assert sum(got.values()) > 0
    assert got == _triples(built)
    assert _edges(rp) == _edges(built)


def test_run_pipeline_state_carries_the_tail_tables(pages1, materialized):
    _, rp, _ = materialized
    state = kg_state(pages1, rp)
    for table in (state.labels, state.canon, state.triples, state.edges):
        assert table is not None
    assert state.labels.columns == ["url", "entity_label"]


def test_recrawl_over_a_run_pipeline_state_equals_full_rebuild(
    spark, pages1, materialized
):
    _, rp, _ = materialized
    pages2 = synth_pages_v2(spark, N, n_new=4, change_every=5, seed=42, cfg=CFG)
    inc, delta_urls = incremental_kg(spark, pages2, kg_state(pages1, rp), CFG)
    full = build_kg(spark, pages2, CFG)
    try:
        assert delta_urls.count() > 0
        assert _triples(inc) == _triples(full)
        assert _edges(inc) == _edges(full)
    finally:
        inc.release()
        full.release()


def test_lineage_counts_equal_the_stored_tables(spark, materialized):
    root, _, _ = materialized
    lineage = spark.read.parquet(os.path.join(root, "lineage")).collect()
    assert {r["stage"] for r in lineage} == set(STAGES)
    for stage, table in STAGES.items():
        stored = spark.read.parquet(os.path.join(root, table))
        got = {r["partition_id"]: r["n_rows"] for r in lineage if r["stage"] == stage}
        if stage in BUCKETED:
            counts = dict(stored.groupBy("url_bucket").count().collect())
            want = {b: counts.get(b, 0) for b in range(CFG.url_buckets)}
        else:
            want = {-1: stored.count()}
        assert got == want, stage


def test_run_pipeline_leaves_the_session_overwrite_mode_alone(materialized):
    """Dynamic partition overwrite is set on the bucketed writer only.
    That every bucket survives the chunked overwrites under the STATIC
    session is checked by test_lineage_counts_equal_the_stored_tables."""
    _, _, mode_after = materialized
    assert mode_after == "STATIC"


def test_noop_rerun_adds_no_lineage_rows(spark, pages1, materialized, monkeypatch):
    root, rp, _ = materialized
    lin = os.path.join(root, "lineage")
    before = spark.read.parquet(lin).count()
    read = []
    real_parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        read.extend(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    again = run_pipeline(spark, pages1, root, CFG, run_id="r2")
    monkeypatch.undo()
    # the rerun decides what to skip from one lineage read
    assert read.count(lin) == 1
    assert spark.read.parquet(lin).count() == before
    assert _triples(again) == _triples(rp)
