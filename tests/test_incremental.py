"""Incremental KG rebuild (pipeline.incremental_kg).

The invariant that makes incremental updates trustworthy: rebuilding
only the recrawl delta and merging with stored stage tables yields
EXACTLY the triples/edges a full rebuild of the new snapshot yields
(the reference's needed() skip, documentstore.py:400-470, must be
observationally invisible).  Also asserts the efficiency contract:
the Python stages run only over the delta.
"""

import re

import pytest
from pyspark.sql import functions as F

from ferenda_spark.pipeline import build_kg, incremental_kg, kg_state
from ferenda_spark.sources.pages import PAGES_SCHEMA, synth_pages, synth_pages_v2

N, N_NEW, EVERY = 60, 8, 5


@pytest.fixture(scope="module")
def v1(spark):
    """(pages, materialized build_kg) of the v1 snapshot, built once
    for every test in this module."""
    pages1 = synth_pages(spark, N, seed=42)
    kg1 = build_kg(spark, pages1)
    kg1.triples.count()  # materialize v1
    return pages1, kg1


@pytest.fixture(scope="module")
def v2(spark):
    """(pages, build_kg) of the v2 snapshot: the full rebuild an
    incremental rebuild of it must equal."""
    pages2 = synth_pages_v2(spark, N, n_new=N_NEW, change_every=EVERY, seed=42)
    return pages2, build_kg(spark, pages2)


def _triples(kg):
    return {
        (r.subj, r.pred, r.obj, r.obj_is_uri)
        for r in kg.triples.select("subj", "pred", "obj", "obj_is_uri").collect()
    }


def _edges(kg):
    return {
        (r.src_url, r.dst_url, r.pred)
        for r in kg.edges.select("src_url", "dst_url", "pred").collect()
    }


def test_incremental_equals_full_rebuild(spark, v1, v2):
    pages1, kg1 = v1
    pages2, full = v2
    inc, delta_urls = incremental_kg(spark, pages2, kg_state(pages1, kg1))

    # delta = revised (every 5th of 60 = 12) + new (8); unchanged
    # recrawls must NOT re-enter the Python stages
    deltas = {r.url for r in delta_urls.collect()}
    assert len(deltas) == N // EVERY + N_NEW
    assert inc.docs.count() == full.docs.count()

    assert _triples(inc) == _triples(full)
    # multiset equality, not just set: same row count too
    assert inc.triples.count() == full.triples.count()
    assert _edges(inc) == _edges(full)
    # the revision is real: v2 differs from v1
    assert _triples(inc) != _triples(kg1)


def test_chained_incremental_stays_delta_scoped(spark, v1):
    """Round 2 of incremental building must still run the
    delta-scoped tail: kg_state() of an INCREMENTAL result carries
    the tail tables (labels/canon/triples/edges — the contract that
    result.linked is the corpus-wide label table), and the chained
    rebuild still equals a full rebuild of the round-3 snapshot."""
    pages1, kg1 = v1
    pages2 = synth_pages_v2(spark, N, n_new=N_NEW, change_every=EVERY, seed=42)
    inc2, _ = incremental_kg(spark, pages2, kg_state(pages1, kg1))
    inc2.triples.count()

    st2 = kg_state(pages2, inc2)
    # the tail tables the next round's _delta_tail reads
    assert st2.labels is not None
    assert st2.canon is not None and st2.triples is not None
    assert st2.edges is not None

    pages3 = synth_pages_v2(spark, N, n_new=N_NEW, change_every=3, seed=42)
    inc3, delta3 = incremental_kg(spark, pages3, st2)
    full3 = build_kg(spark, pages3)
    assert _triples(inc3) == _triples(full3)
    assert inc3.triples.count() == full3.triples.count()
    assert _edges(inc3) == _edges(full3)
    assert delta3.count() > 0


def test_delta_detection_is_exact(spark, v1):
    """Byte-identical recrawls are skipped even though warc_ts and
    row order differ; revised + new urls are all caught."""
    pages1, kg1 = v1
    pages2 = synth_pages_v2(spark, N, n_new=N_NEW, change_every=EVERY, seed=42)
    _, delta_urls = incremental_kg(spark, pages2, kg_state(pages1, kg1))
    got = {r.url for r in delta_urls.collect()}

    v1 = {r.url: bytes(r.html) for r in pages1.collect()}
    expect = {
        r.url
        for r in pages2.collect()
        if r.url not in v1 or bytes(r.html) != v1[r.url]
    }
    assert got == expect


def test_incremental_plan_is_delta_sized(spark, v1):
    """The extract/segment Python stages read only delta pages: the
    merged segments table contains exactly |delta| urls' worth of
    fresh rows, the rest reused (checked via the stored-table
    anti-join surviving in the plan, not a full re-derive)."""
    pages1, kg1 = v1
    pages2 = synth_pages_v2(spark, N, n_new=N_NEW, change_every=EVERY, seed=42)
    inc, delta_urls = incremental_kg(spark, pages2, kg_state(pages1, kg1))
    n_delta = delta_urls.count()
    fresh = inc.segments.join(delta_urls, "url", "left_semi")
    reused = inc.segments.join(delta_urls, "url", "left_anti")
    assert fresh.select("url").distinct().count() == n_delta
    # reused rows are exactly the prior table minus replaced urls
    prior_kept = kg1.segments.join(delta_urls, "url", "left_anti")
    assert reused.count() == prior_kept.count()


def test_docid_collision_reworks_an_unchanged_url(spark, v1, v2):
    """A new url whose html copies an unchanged page with another
    title mints that page's doc URI, so the unchanged url joins the
    rework set although its content did not change: the rework set is
    larger than the delta.  Were it not reworked, its title triple
    would be dropped with the kept prior rows of that doc URI and the
    rebuild would differ from the full one."""
    pages1, kg1 = v1
    pages2, _ = v2
    html1 = {r.url: bytes(r.html) for r in pages1.collect()}
    page = min(
        (r for r in pages2.collect() if html1.get(r.url) == bytes(r.html)),
        key=lambda r: r.url,
    )
    title = re.search(rb"<title>(.*?)</title>", page.html).group(1)
    copy = page.asDict() | {
        "url": page.url + "-copy",
        "html": bytes(page.html).replace(title, b"Copied " + title),
    }
    pages2c = pages2.unionByName(spark.createDataFrame([copy], PAGES_SCHEMA))
    full = build_kg(spark, pages2c)
    inc, delta_urls = incremental_kg(spark, pages2c, kg_state(pages1, kg1))

    deltas = {r.url for r in delta_urls.collect()}
    assert page.url not in deltas and copy["url"] in deltas
    # the collision is real: both urls own one doc URI
    owners = (
        full.doc_directory.groupBy("doc_uri")
        .agg(F.collect_set("url").alias("urls"))
        .filter(F.array_contains("urls", page.url))
        .collect()
    )
    assert len(owners) == 1
    assert set(owners[0].urls) == {page.url, copy["url"]}

    assert _triples(inc) == _triples(full)
    assert inc.triples.count() == full.triples.count()
    assert _edges(inc) == _edges(full)
