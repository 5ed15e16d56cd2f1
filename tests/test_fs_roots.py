"""Resume and maintenance on a root given as a URI.

`run_global_stage` and `maintain.load_state` probe for their tables
through the session's Hadoop FileSystem, so a `file://` root (and by
the same API an `hdfs://` or `s3a://` one) behaves as a local path:
a finished stage is skipped on resume, and a stored version's tail
tables are found.  A probe through `os.path` reports such a root as
missing."""

from ferenda_spark.sources.pages import synth_pages
from ferenda_spark.streaming.maintain import TAIL_TABLES, apply_batch, load_state
from ferenda_spark.streaming.resume import run_global_stage


def test_run_global_stage_skips_a_finished_stage_at_a_uri_root(spark, tmp_path):
    root = tmp_path.as_uri()
    out, lin = f"{root}/canon", f"{root}/lineage"
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(1, "v1")], "id int, marker string")

    run_global_stage(spark, "g", build, out, lin, "r1")
    got = run_global_stage(spark, "g", build, out, lin, "r2")
    assert calls == [1]
    assert [r["marker"] for r in got.collect()] == ["v1"]
    assert spark.read.parquet(lin).count() == 1


def test_load_state_finds_the_tail_tables_at_a_uri_root(spark, tmp_path):
    state = tmp_path / "state"
    state.mkdir()
    assert apply_batch(spark, synth_pages(spark, 8, seed=42), str(state), 0)
    loaded = load_state(spark, state.as_uri(), 0)
    for t in TAIL_TABLES:
        assert getattr(loaded, t) is not None, t
    assert loaded.triples.count() > 0
