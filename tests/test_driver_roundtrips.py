"""Driver round-trips of a build: `build_kg`'s only Spark action is the
connected-components probe, the operators after it plan lazily, and a
session builds its gazetteer once; and of a query: annotations.rq plans
its WHERE clause once.  Jobs are counted per job group through the
status tracker; join strategies are read from `explain`."""

import time
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from ferenda_spark import pipeline
from ferenda_spark.config import PipelineConfig
from ferenda_spark.operators.canonicalize import connected_components, rewrite_triples
from ferenda_spark.operators.graphquery import pred_stats
from ferenda_spark.operators.link import gazetteer_df, link_names
from ferenda_spark.operators.relate import annotations, relate_edges
from ferenda_spark.operators.sparql import run_sparql
from ferenda_spark.pipeline import build_kg
from ferenda_spark.sources import synth_pages
from tests.test_sparql import ANNOTATIONS_RQ

CFG = PipelineConfig()


def _jobs(spark, group: str, want_some: bool = False) -> list:
    """Job ids started under `group`, once the listener bus has caught
    up with the jobs already run."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = list(sc.statusTracker().getJobIdsForGroup(group))
    deadline = time.monotonic() + 10
    while want_some and not ids and time.monotonic() < deadline:
        time.sleep(0.1)
        ids = list(sc.statusTracker().getJobIdsForGroup(group))
    return ids


@contextmanager
def _group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield name
    finally:
        sc._jsc.clearJobGroup()


def _fresh(tag: str) -> str:
    return f"{tag}-{uuid.uuid4().hex[:8]}"


@pytest.fixture(scope="module")
def kg(spark):
    kg = build_kg(spark, synth_pages(spark, 25, 42, CFG, partitions=4), CFG)
    kg.triples.count()
    yield kg
    kg.release()


def _joins_on(df, capsys, *keys) -> dict:
    """{key: the join operators of df's physical plan keyed on it}."""
    capsys.readouterr()
    df.explain()
    plan = capsys.readouterr().out
    return {
        k: [
            ln.strip().lstrip(":+- *()0123456789").split(" ")[0]
            for ln in plan.splitlines()
            if "Join [" in ln and f"[{k}#" in ln
        ]
        for k in keys
    }


def test_build_kg_runs_only_the_cc_probe(spark, monkeypatch):
    pages = synth_pages(spark, 25, 42, CFG, partitions=4)
    build, cc = _fresh("build"), _fresh("cc")
    real_cc = pipeline.connected_components

    def cc_in_own_group(*args, **kwargs):
        spark.sparkContext.setJobGroup(cc, cc)
        try:
            return real_cc(*args, **kwargs)
        finally:
            spark.sparkContext.setJobGroup(build, build)

    monkeypatch.setattr(pipeline, "connected_components", cc_in_own_group)
    with _group(spark, build):
        kg = build_kg(spark, pages, CFG)
    try:
        assert _jobs(spark, build) == []
        assert _jobs(spark, cc, want_some=True)
    finally:
        kg.release()


def test_gazetteer_df_link_starts_no_job(spark):
    names = spark.createDataFrame(
        [("u1", "IETF Secretariat"), ("u2", "Internet Enigneering Task Force")],
        "url string, publisher_name string",
    )
    with _group(spark, _fresh("link")) as g:
        linked = link_names(names, gazetteer_df(spark, CFG), CFG)
    assert _jobs(spark, g) == []
    assert gazetteer_df(spark, CFG) is gazetteer_df(spark, PipelineConfig())
    got = {r["url"]: r["link_method"] for r in linked.collect()}
    assert got == {"u1": "exact", "u2": "fuzzy"}


def test_second_link_names_call_starts_no_job(spark):
    """Any gazetteer DataFrame is collected on its first use only."""
    gaz = spark.createDataFrame(
        [("acme", "Acme Standards Body", ["ACME"]), ("zen", "Zenith Group", None)],
        "slug string, label string, alt_labels array<string>",
    )
    names = spark.createDataFrame(
        [("u1", "acme"), ("u2", "Zenith Grup"), ("u3", "nobody")],
        "url string, publisher_name string",
    )
    link_names(names, gaz, CFG)
    with _group(spark, _fresh("link2")) as g:
        linked = link_names(names, gaz, CFG)
    assert _jobs(spark, g) == []
    got = {r["url"]: (r["entity_label"], r["link_method"]) for r in linked.collect()}
    assert got == {
        "u1": ("Acme Standards Body", "exact"),
        "u2": ("Zenith Group", "fuzzy"),
        "u3": (None, None),
    }


def test_exact_and_fuzzy_agree_on_a_shared_name(spark):
    """Two entities naming the same lowercase name: the first gazetteer
    row wins it, in the exact pass and in the fuzzy pass alike."""
    gaz = spark.createDataFrame(
        [("a", "First Body", ["Shared Name"]), ("b", "Second Body", ["shared name"])],
        "slug string, label string, alt_labels array<string>",
    )
    names = spark.createDataFrame(
        [("u1", "SHARED NAME"), ("u2", "Shared Nme")],
        "url string, publisher_name string",
    )
    got = {
        r["url"]: (r["entity_label"], r["link_method"])
        for r in link_names(names, gaz, CFG).collect()
    }
    assert got == {"u1": ("First Body", "exact"), "u2": ("First Body", "fuzzy")}


def _triples(spark):
    return spark.createDataFrame(
        [
            ("http://x/a", "http://p/q", "http://x/b", True, None, None),
            ("http://x/c", "http://p/q", "lit", False, "en", None),
        ],
        "subj string, pred string, obj string, obj_is_uri boolean, "
        "lang string, datatype string",
    )


def test_rewrite_triples_starts_no_job_and_broadcasts_a_small_map(spark, capsys):
    edges = spark.createDataFrame(
        [("http://x/b", "http://x/a"), ("http://x/c", "http://x/b")],
        "src string, dst string",
    )
    canon = connected_components(edges)
    with _group(spark, _fresh("rewrite")) as g:
        out = rewrite_triples(_triples(spark), canon)
    assert _jobs(spark, g) == []
    joins = _joins_on(out, capsys, "subj", "obj")
    assert joins == {"subj": ["BroadcastHashJoin"], "obj": ["BroadcastHashJoin"]}
    assert sorted((r["subj"], r["obj"]) for r in out.collect()) == [
        ("http://x/a", "http://x/a"),
        ("http://x/a", "lit"),
    ]


def test_relate_edges_starts_no_job_and_broadcasts_a_small_directory(
    spark, kg, capsys
):
    with _group(spark, _fresh("relate")) as g:
        edges = relate_edges(kg.triples, kg.doc_directory)
    assert _jobs(spark, g) == []
    joins = _joins_on(edges, capsys, "src_uri", "dst_uri")
    assert joins == {
        "src_uri": ["BroadcastHashJoin"], "dst_uri": ["BroadcastHashJoin"]
    }
    assert edges.count() > 0


def test_cc_probe_runs_jobs_and_its_map_is_exact(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    )
    with _group(spark, _fresh("cc")) as g:
        canon = connected_components(edges)
    assert _jobs(spark, g, want_some=True)
    rows = sorted((r["uri"], r["canon_uri"]) for r in canon.collect())
    assert rows == [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")]


@pytest.fixture(scope="module")
def stored(spark, kg, tmp_path_factory):
    """The module's KG written as parquet and read back, as a store is
    served, plus the doc with the most triples in its isPartOf tree."""
    path = str(tmp_path_factory.mktemp("store") / "triples")
    kg.triples.write.parquet(path)
    store = spark.read.parquet(path)
    doc = (
        annotations(store).groupBy("doc_uri").count()
        .orderBy(F.desc("count"), "doc_uri").first()["doc_uri"]
    )
    return store, doc


def _plan_counts(df) -> dict:
    """Operator counts of df's executed plan: the AQE final plan for
    Generate and SortMergeJoin, and the whole adaptive plan (final and
    initial) for parquet scans, so exchange reuse does not hide a copy
    of the WHERE clause."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return {
        "Generate": final.count(" Generate "),
        "SortMergeJoin": final.count("SortMergeJoin"),
        "Scan parquet": plan.count("Scan parquet"),
    }


def test_annotations_rq_evaluates_its_where_clause_once(spark, stored):
    """annotations.rq on a stored KG: the isPartOf* walk starts from the
    ground doc URI, the UNION joins `?s ?p ?o` once, and both CONSTRUCT
    templates come from one Generate over one solution set.  Compiled
    once per template and per UNION branch, with the whole-relation
    isPartOf closure in each copy, the same query ran 11 jobs over 31
    parquet scans on this store; compiled once it runs 7 over 21."""
    store, doc = stored
    stats = pred_stats(store)
    with _group(spark, _fresh("annotations")) as g:
        df = run_sparql(store, ANNOTATIONS_RQ, params={"uri": doc}, stats=stats)
        rows = df.collect()
    assert len(_jobs(spark, g, want_some=True)) <= 7
    counts = _plan_counts(df)
    assert counts["Generate"] == 1
    assert counts["SortMergeJoin"] == 0
    assert counts["Scan parquet"] <= 21
    native = {
        (r["subj"], r["pred"], r["obj"])
        for r in annotations(store).filter(F.col("doc_uri") == doc).collect()
    }
    assert native <= {(r["subj"], r["pred"], r["obj"]) for r in rows}
