"""Relate stage: cross-document dependency edges + annotations.

Reference semantics (documentrepository.py:2043-2105
relate_dependencies): for every URI-valued object in a doc's graph —
excluding rdf:type / owl:sameAs predicates — find the document that
owns that URI and record a dependency edge. Ferenda does this as a
per-doc Python probe loop with MRU reordering; here it is one
self-join of the triples table against the doc-URI directory,
equi-joined on canonicalized URI. Skew (popular targets) is handled
by AQE skew-join splitting (enabled in session.py) — the join key
distribution is the citation in-degree, which is Zipf by
construction.

Annotations (res/sparql/annotations.rq:1-20): all triples of
resources reachable via dcterms:isPartOf* from a doc, plus triples of
anything that dcterms:references those parts. Document containment
is bounded (depth <= 3 by the section grammar), so isPartOf* is 3
unrolled self-joins, not an iterative closure (SURVEY.md §4 item 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferenda_spark.config import DCT, OWL_SAMEAS, RDF_TYPE, PipelineConfig


def doc_part(uri_col):
    """Strip a fragment: the owning resource of '<doc>#S1.2' is '<doc>'."""
    return F.split(uri_col, "#", 2).getItem(0)


def relate_edges(triples: DataFrame, doc_directory: DataFrame) -> DataFrame:
    """triples + doc_directory(doc_uri, url) -> edges(src_url,
    dst_url, pred, src_uri, dst_uri).

    Only URI objects, excluding rdf:type and owl:sameAs
    (documentrepository.py:2052-2059), and excluding self-edges
    (doc citing itself resolves to a doc-internal part, not a dep).

    Planned lazily: this starts no Spark job.  The directory is a
    two-column projection of the segments table (cached in build_kg,
    stored in run_pipeline), and its size statistics are what the
    planner needs: a directory under the broadcast threshold
    broadcasts, turning both directory joins into map-side probes —
    two shuffles of the refs table saved.  A corpus-sized directory
    (the 10^12-doc regime) sort-merges on the bucketed key instead,
    with AQE re-sizing the joins at runtime and splitting the
    Zipf-skewed dst side.
    """
    refs = (
        triples.filter(F.col("obj_is_uri"))
        .filter(~F.col("pred").isin([RDF_TYPE, OWL_SAMEAS]))
        .select(
            doc_part(F.col("subj")).alias("src_uri"),
            doc_part(F.col("obj")).alias("dst_uri"),
            "pred",
        )
        .filter(F.col("src_uri") != F.col("dst_uri"))
    )
    src_dir = doc_directory.select(
        F.col("doc_uri").alias("src_uri"), F.col("url").alias("src_url")
    )
    dst_dir = doc_directory.select(
        F.col("doc_uri").alias("dst_uri"), F.col("url").alias("dst_url")
    )
    return (
        refs.join(src_dir, "src_uri", "inner")
        .join(dst_dir, "dst_uri", "inner")  # AQE splits skewed dst keys
        .select("src_url", "dst_url", "pred", "src_uri", "dst_uri")
        .dropDuplicates(["src_url", "dst_url", "pred"])
    )


def annotations(triples: DataFrame, max_depth: int = 3) -> DataFrame:
    """Per-doc annotation graph: triples of every resource whose
    isPartOf* root is the doc, plus inbound dcterms:references onto
    those resources. Returns (doc_uri, subj, pred, obj)."""
    is_part = triples.filter(F.col("pred") == DCT + "isPartOf").select(
        F.col("subj").alias("part"), F.col("obj").alias("parent")
    )
    # resource -> root doc in <= max_depth hops (containment tree)
    closure = is_part.select("part", F.col("parent").alias("root"))
    hop = closure
    for _ in range(max_depth - 1):
        hop = (
            hop.alias("a")
            .join(
                is_part.alias("b"),
                F.col("a.root") == F.col("b.part"),
                "inner",
            )
            .select(F.col("a.part").alias("part"), F.col("b.parent").alias("root"))
        )
        closure = closure.union(hop)
    # keep only roots that are docs (no '#')
    closure = closure.filter(~F.col("root").contains("#")).distinct()
    self_rows = (
        triples.select(doc_part(F.col("subj")).alias("root"))
        .filter(~F.col("root").contains("#"))
        .distinct()
        .select(F.col("root").alias("part"), F.col("root"))
    )
    member = closure.union(self_rows).distinct()

    own = triples.join(
        member, triples["subj"] == member["part"], "inner"
    ).select(F.col("root").alias("doc_uri"), "subj", "pred", "obj")

    inbound = (
        triples.filter(F.col("pred") == DCT + "references")
        .join(member, triples["obj"] == member["part"], "inner")
        .select(F.col("root").alias("doc_uri"), "subj", "pred", "obj")
    )
    # the reference's annotations.rq pulls the FULL description of
    # each citing resource (its WHERE binds ?s ?p ?o for branch-2
    # solutions, res/sparql/annotations.rq) — not just the citation
    # edge; test_sparql.py asserts this operator == that verbatim
    # query, which is how this under-inclusion was caught
    citers = inbound.select("doc_uri", F.col("subj").alias("citer")).distinct()
    citing_desc = triples.join(
        citers, triples["subj"] == citers["citer"], "inner"
    ).select("doc_uri", "subj", "pred", "obj")
    return own.union(inbound).union(citing_desc).distinct()
