"""End-to-end KG construction: pages -> triples + edges.

The parse->relate lifecycle of the reference
(documentrepository.py:127-172 entry points; trace SURVEY.md §3)
restated as a sequence of DataFrame jobs:

  pages --extract--> docs --segment--> segments
        --mentions--> mentions --link/mint/emit--> triples_raw
        --CC--> canon --rewrite--> triples --relate--> edges

The sequence is written once (`_kg`); the two modes differ only in
what happens at each stage's cut:
- build_kg(): fully lazy, in-memory (tests, benchmarks of raw
  throughput) — persisted cuts at `segments` (consumed 3×), the
  linked doc rows and the final triples.
- run_pipeline(): materialized, each stage written (bucketed by url
  or subject where the stage is per-document) with lineage rows ->
  checkpoint-resume (north rule).
Both return the same triples and edges, and both carry the tables the
delta-scoped recrawl (`incremental_kg`) reads back.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ferenda_spark.config import OWL_SAMEAS, RDF_TYPE, PipelineConfig
from ferenda_spark.operators.canonicalize import connected_components, rewrite_triples
from ferenda_spark.operators.emit import (
    doc_uri_col,
    emit_doc_triples,
    emit_mention_triples,
    emit_sameas_triples,
    emit_section_triples,
    validate_required_predicates,
    validate_unique_resources,
)
from ferenda_spark.operators.extract import extract_docs
from ferenda_spark.operators.link import gazetteer_df, link_names
from ferenda_spark.operators.mentions import detect_mentions, mention_target_uri
from ferenda_spark.operators.relate import doc_part, relate_edges
from ferenda_spark.operators.segment import segment_sections
from ferenda_spark.streaming.resume import (
    new_run_id,
    run_bucketed_stage,
    run_global_stage,
    with_bucket,
)


@dataclass
class KGResult:
    docs: DataFrame
    segments: DataFrame
    mentions: DataFrame
    triples: DataFrame
    canon: DataFrame
    edges: DataFrame
    # CC input + url directory — exposed so downstream oracles can
    # independently recompute canon/edges from the same inputs
    sameas: DataFrame
    doc_directory: DataFrame
    # T4 + T5 validation warnings (subject, warning)
    warnings: DataFrame
    # emission inputs — exposed so the kg_triples oracle can
    # independently recompute emit -> CC -> rewrite in SQL from the
    # SAME upstream tables (the Python FSM/link stages stay
    # golden-pytest-checked; the relational layer gets a DuckDB twin).
    # `linked` is the linked doc rows (the emit_doc_triples input) for
    # build_kg and run_pipeline results: an incremental_kg result
    # carries the corpus-wide 2-column (url, entity_label) label table
    # here instead, which is all kg_state and emit_sameas_triples read
    linked: DataFrame
    mentions_t: DataFrame
    # every DataFrame the build persisted — a long-running caller
    # (streaming/maintain.py applies one build per micro-batch,
    # forever) unpersists these after materializing, or executor
    # storage grows without bound
    cached: tuple = ()

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()


def _link_docs(
    spark: SparkSession, segments: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """The doc rows of `segments` linked against the gazetteer (the
    emit_doc_triples and emit_sameas_triples input).  Persisted: both
    emitters read it, and the gazetteer join + fuzzy pass run once."""
    return link_names(
        segments.filter(F.col("kind") == "doc").withColumn(
            "publisher_name", F.col("meta")["publisher_name"]
        ),
        gazetteer_df(spark, cfg),
        cfg,
    ).persist(StorageLevel.MEMORY_AND_DISK)


def _doc_directory(segments: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(doc_uri, url) of every doc row of `segments` with a docid."""
    return segments.filter(
        (F.col("kind") == "doc") & F.col("docid").isNotNull()
    ).select(doc_uri_col(cfg, F.col("docid")).alias("doc_uri"), "url")


def _assemble_triples(
    segments: DataFrame,
    mentions: DataFrame,
    linked: DataFrame,
    cfg: PipelineConfig,
) -> tuple[DataFrame, DataFrame]:
    """(triples_raw, mentions_t) from segment + mention tables and the
    linked doc rows of the same documents (`_link_docs`)."""
    # docid is stamped on every segment/mention row at segmentation
    # time, so the |docs|-sized equi-joins the reference's relate
    # step implies simply do not exist here (SURVEY.md §4)
    sections = segments.filter(
        (F.col("kind") == "section") & F.col("docid").isNotNull()
    )
    m = mention_target_uri(mentions, cfg).filter(F.col("docid").isNotNull())

    triples_raw = (
        emit_doc_triples(linked, cfg)
        .unionByName(emit_section_triples(sections, cfg))
        .unionByName(emit_mention_triples(m, cfg))
        .unionByName(emit_sameas_triples(linked, cfg))
    )
    return triples_raw, m


def _kg(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig, cut) -> KGResult:
    """The stage sequence, written once for both modes.

    `cut(stage, make, key)` returns a stage's output table: `make()`
    plans it, and `key` names the column a stored copy is bucketed by
    (None for a global stage).  The cut is where that output becomes
    reusable, in memory for build_kg and as a stored, resumable table
    for run_pipeline."""
    docs = cut("extract", lambda: extract_docs(pages), "url")
    segments = cut("segment", lambda: segment_sections(docs), "url")
    mentions = cut("mentions", lambda: detect_mentions(segments), "url")
    linked = _link_docs(spark, segments, cfg)
    raw, mentions_t = _assemble_triples(segments, mentions, linked, cfg)
    triples_raw = cut("emit", lambda: raw, "subj")
    # owl:sameAs triples are emitted ONLY by emit_sameas_triples
    # (over the persisted `linked` distinct labels), so CC's input
    # comes straight from that emitter instead of filtering the full
    # triples_raw union — which means triples_raw has exactly ONE
    # consumer (the rewrite) and needs no multi-million-row persist:
    # its upstream segments/mentions are cached and the emit layer
    # is pure column work.  connected_components eagerly
    # localCheckpoints its (tiny) edge input, so no persist here
    # either.
    sameas = emit_sameas_triples(linked, cfg).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    canon = cut("canonicalize", lambda: connected_components(sameas), None)
    triples = cut("rewrite", lambda: rewrite_triples(triples_raw, canon), None)
    doc_directory = _doc_directory(segments, cfg)
    edges = cut("relate", lambda: relate_edges(triples, doc_directory), None)
    # T4/T5 validation stage (the reference logs-and-continues; the
    # count is the metric)
    warnings = cut(
        "validate",
        lambda: validate_required_predicates(triples).unionByName(
            validate_unique_resources(segments, cfg.max_resources)
        ),
        None,
    )
    return KGResult(
        docs, segments, mentions, triples, canon, edges, sameas, doc_directory,
        warnings, linked, mentions_t, cached=(linked,),
    )


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
) -> KGResult:
    """Lazy in-memory pipeline (no intermediate tables).  Two cuts are
    persisted: `segments` (read by mentions, link, emit, the directory
    and validation) and the final `triples`, the fan-out point (caller
    count, relate, validation) — the canonical table rather than the
    pre-rewrite raw union: one full materialization instead of two."""
    persisted = []

    def cut(stage, make, key):
        df = make()
        if stage in ("segment", "rewrite"):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(df)
        return df

    kg = _kg(spark, pages, cfg or PipelineConfig(), cut)
    kg.cached += tuple(persisted)
    return kg


#: stage -> the table run_pipeline stores its output in
_STAGE_TABLE = {
    "extract": "docs",
    "segment": "segments",
    "mentions": "mentions",
    "emit": "triples_raw",
    "canonicalize": "canon",
    "rewrite": "triples",
    "relate": "edges",
    "validate": "warnings",
}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    cfg: PipelineConfig | None = None,
    run_id: str | None = None,
    resume: bool = True,
) -> KGResult:
    """Materialized pipeline with per-bucket lineage + resume: each
    stage of build_kg's sequence is written under `out_root` and read
    back, a bucketed stage one `url_bucket` partition per bucket, and
    a stage already recorded in the lineage table is not recomputed."""
    cfg = cfg or PipelineConfig()
    run_id = run_id or new_run_id()
    nb = cfg.url_buckets
    lineage = os.path.join(out_root, "lineage")

    def cut(stage, make, key):
        out = os.path.join(out_root, _STAGE_TABLE[stage])
        if key is None:
            return run_global_stage(spark, stage, make, out, lineage, run_id, resume)
        return run_bucketed_stage(
            spark, stage, with_bucket(make(), nb, col=key), out, lineage, run_id,
            nb, resume,
        )

    return _kg(spark, pages, cfg, cut)


# ------------------------------------------------- incremental rebuild


@dataclass
class KGState:
    """Prior-build state the incremental rebuild needs: the stored
    Python-stage outputs, per-url content fingerprints, and the tail
    tables the delta-scoped relational tail (`_delta_tail`) reuses.
    In production these are the tables run_pipeline materializes
    (Iceberg at deployment), and `fingerprints` is a 2-column
    projection of the prior pages snapshot — the DataFrame analog of
    the reference's DocumentEntry.orig_updated record
    (documententry.py:50; documentstore.py:400-470).  Every producer
    (build_kg, run_pipeline, incremental_kg via kg_state, and
    streaming/maintain.py's stored versions) carries all eight."""

    fingerprints: DataFrame  # (url, page_fp)
    docs: DataFrame
    segments: DataFrame
    mentions: DataFrame
    labels: DataFrame  # (url, entity_label) of prior linked
    canon: DataFrame  # (uri, canon_uri) prior CC output
    triples: DataFrame  # prior FINAL (post-rewrite) triples
    edges: DataFrame  # prior relate output


def _fp_expr() -> F.Column:
    return F.sha2(
        F.coalesce(
            F.col("html"), F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
        ),
        256,
    )


def page_fingerprints(pages: DataFrame) -> DataFrame:
    """(url, page_fp): sha2-256 of the raw html bytes (falling back
    to the utf-8 text for html-less rows) — the same content-change
    test as streaming/stateful._fingerprint, as a pure column expr
    so it pushes into the pages scan."""
    return pages.select("url", _fp_expr().alias("page_fp"))


def kg_state(pages: DataFrame, kg: KGResult) -> KGState:
    """Bundle a completed build into the state an incremental
    rebuild consumes."""
    return KGState(
        page_fingerprints(pages),
        kg.docs,
        kg.segments,
        kg.mentions,
        kg.linked.select("url", "entity_label"),
        kg.canon,
        kg.triples,
        kg.edges,
    )


def incremental_kg(
    spark: SparkSession,
    new_pages: DataFrame,
    state: KGState,
    cfg: PipelineConfig | None = None,
) -> tuple[KGResult, DataFrame]:
    """Incremental rebuild from a recrawl snapshot: the reference's
    needed() skip (documentstore.py:400-470) at table scale.

    The expensive Python stages (extract/FSM/mention scan — the
    measured >90% of build cost) run ONLY over pages whose content
    fingerprint changed or that were never seen; unchanged and
    not-recrawled urls reuse their stored stage rows verbatim.  The
    relational tail is delta-scoped too (see _delta_tail:
    canonicalization stays a global FIXPOINT — the CC still sees the
    full sameAs population — but only touched components and touched
    documents are re-derived).  Work
    scales as O(|delta|) Python + O(|delta|) emit/rewrite + a few
    narrow-column corpus scans, the right split at 10^12 pages where
    the recrawl delta is a small fraction.

    Returns (result, delta_urls); `result.triples` is bit-for-bit
    the full rebuild of the new snapshot (tests/test_incremental.py
    asserts multiset equality against build_kg on the same input).
    """
    cfg = cfg or PipelineConfig()
    prior_fp = state.fingerprints.select(
        "url", F.col("page_fp").alias("_prior_fp")
    )
    # the change test joins NARROW projections only — hashing
    # projects (url, fp) before the join, so the shuffle moves
    # 2 short columns, never the html payload (at 100 TB the
    # payload-through-shuffle variant IS the pipeline's cost)
    delta_urls = (
        new_pages.select("url", _fp_expr().alias("_fp"))
        .join(prior_fp, "url", "left")
        .filter(
            F.col("_prior_fp").isNull() | (F.col("_fp") != F.col("_prior_fp"))
        )
        .select("url")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # materialize the delta keys before the payload semi-join below
    # is planned.  Uncounted, they have no size yet, so the join is
    # planned as a sort-merge: the snapshot, html included, is
    # shuffled once before AQE switches to a broadcast (1.4 MB for a
    # 204-page snapshot, seen in the executed plan; a 400-doc recrawl
    # also ran one more job).  Counted, the join is a map-side
    # broadcast and the html is scanned but never shuffled
    delta_urls.count()
    delta_pages = new_pages.join(delta_urls, "url", "left_semi").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    d_docs = extract_docs(delta_pages)
    # persisted: feeds detect_mentions AND the segments merge — the
    # delta's FSM pass must run once, not once per consumer
    d_segments = segment_sections(d_docs).persist(StorageLevel.MEMORY_AND_DISK)
    d_mentions = detect_mentions(d_segments)

    def merge(prior: DataFrame, delta: DataFrame) -> DataFrame:
        # replace changed urls, keep everything else (urls absent
        # from the new snapshot stay — the reference keeps parsed
        # docs unless explicitly purged); project the stored table
        # to the stage schema so run_pipeline outputs (which carry
        # url_bucket) merge cleanly
        return prior.select(*delta.columns).join(
            delta_urls, "url", "left_anti"
        ).unionByName(delta)

    docs = merge(state.docs, d_docs)
    mentions = merge(state.mentions, d_mentions)
    # the merged segments table stays UNPERSISTED: the delta tail cuts
    # its rework slice from the delta and stored tables and reads the
    # merged one only for validation, and a persist would force a
    # full-corpus cache materialization back into the rebuild's
    # critical path
    segments = merge(state.segments, d_segments)
    result = _delta_tail(
        spark, state, delta_urls, d_segments, d_mentions,
        docs, segments, mentions, cfg,
    )
    result.cached = result.cached + (delta_pages, d_segments, delta_urls)
    return result, delta_urls


def _delta_tail(
    spark: SparkSession,
    state: KGState,
    delta_urls: DataFrame,
    d_segments: DataFrame,
    d_mentions: DataFrame,
    docs: DataFrame,
    segments: DataFrame,
    mentions: DataFrame,
    cfg: PipelineConfig,
) -> KGResult:
    """Delta-scoped relational tail: identical output to the tail of
    `_kg` over the merged tables (tests/test_incremental.py asserts
    multiset equality against a full rebuild), with work bounded by
    the touched-document set instead of the corpus.

    Canonicalization stays a GLOBAL FIXPOINT — the connected-
    components run still sees the complete sameAs population (the
    label table is corpus-wide but 2 columns and label-count small) —
    what is delta-scoped is the *recomputation*: only documents whose
    content changed, whose docid collides with one that did, or whose
    stored triples reference a node in a component whose canonical
    root changed are re-emitted and re-rewritten; everything else is
    kept verbatim from the prior triples table.

    Soundness of the kept/rework split:
    - every FINAL triple is doc-scoped (subjects are doc URIs or
      doc#frag URIs; owl:sameAs rows are consumed by rewrite), so
      provenance is recoverable from the subject alone;
    - a stored row can rewrite differently under the new canon map
      only if its stored obj value is an old root of a component
      with a remapped member, or a previously-unmapped node that
      gained a mapping — exactly the set S below;
    - a component with ANY remapped member has ALL its stored-value
      forms in S (stored values of mapped nodes are always the old
      root), so partial component splits cannot leak stale rows;
    - docid collisions (two urls minting one doc URI) are closed
      over: every url sharing a rework doc URI is reworked too, so
      kept and rework subject sets are disjoint and the per-set
      dropDuplicates equals the global one.

    Reference semantics: the per-doc needed() skip of
    documentstore.py:400-470 extended to the relate/canonicalize
    stages the reference recomputes globally on every run.

    One rework path serves every recrawl: the rework slice is the
    delta's own stage rows plus the stored rows of any url beyond the
    delta that the closure pulled in, which is empty in the common
    case.  Join strategies are left to the planner and AQE, which
    reads the cached key tables' sizes at run time; the only actions
    here are the candidate-label materialization, the label-diff
    probe and, when labels changed, the CC probe."""

    # (1) corpus label table: stored labels for unchanged urls, a
    # fresh gazetteer link for the delta (link_names is per-row
    # deterministic, so this equals a full relink).  d_linked feeds
    # the label-diff probe, the label table and the rework slice.
    d_linked = _link_docs(spark, d_segments, cfg)
    labels_tbl = (
        state.labels.select("url", "entity_label")
        .join(delta_urls, "url", "left_anti")
        .unionByName(d_linked.select("url", "entity_label"))
    )
    sameas = emit_sameas_triples(labels_tbl, cfg).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )

    # (2) label-diff probe: the sameAs population is a pure function
    # of the DISTINCT label set, and only delta urls can change it.
    # Candidates = labels the delta touches (prior labels of delta
    # urls + fresh delta labels); the set changed iff a candidate's
    # presence differs between the old and new corpus-wide label
    # tables (non-candidate labels belong to untouched urls and are
    # in both by construction).  Unchanged set -> the prior canon
    # map IS the new one: the CC re-run and the remap diff are
    # skipped outright — the common recrawl case.  The probe is pure
    # DataFrame algebra ending in one isEmpty action — candidate
    # labels never transit the driver, matching the file's bounded-
    # driver discipline (at 10^12 pages a few-percent delta can
    # touch millions of labels).
    cand = (
        state.labels.join(delta_urls, "url", "left_semi")
        .select("entity_label")
        .unionByName(d_linked.select("entity_label"))
        .filter(F.col("entity_label").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # materialize cand (and d_linked beneath it) BEFORE the probe:
    # both appear twice in the probe's plan, and parallel subtree
    # scans of a cold cache each recompute the gazetteer+fuzzy pass
    cand.count()
    new_has = labels_tbl.join(cand, "entity_label", "left_semi").select(
        "entity_label"
    ).distinct().withColumn("_n", F.lit(1))
    old_has = state.labels.join(cand, "entity_label", "left_semi").select(
        "entity_label"
    ).distinct().withColumn("_o", F.lit(1))
    labels_unchanged = (
        old_has.join(new_has, "entity_label", "full_outer")
        .filter(F.col("_o").isNull() | F.col("_n").isNull())
        .isEmpty()
    )

    # (3) rework scope: doc URIs whose rows must be re-derived —
    # changed docs (prior AND new docids: a changed docid may collide
    # with an unchanged doc's), plus canon-hit docs.  prior_dir is
    # persisted: the rework scope, the rework slice and the directory
    # all read it — one stored-segments scan instead of three
    prior_dir = _doc_directory(state.segments, cfg).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    d_dir = _doc_directory(d_segments, cfg)
    rework_doc_uris = prior_dir.join(delta_urls, "url", "left_semi").select(
        "doc_uri"
    ).union(d_dir.select("doc_uri"))
    if labels_unchanged:
        canon = state.canon
    else:
        # full-population CC (small: bounded by distinct labels x
        # mint templates; size-aware inside), then S = stored-value
        # forms of every node in a touched component.  Final triples
        # have doc-scoped subjects only, so the canon probe needs
        # just the obj side: a 2-column pruned scan of the prior
        # table, which keeps nothing when no component remapped
        canon = connected_components(sameas)
        old = state.canon.select("uri", F.col("canon_uri").alias("_old"))
        new = canon.select("uri", F.col("canon_uri").alias("_new"))
        s_vals = (
            old.join(new, "uri", "full_outer")
            .filter(
                F.coalesce(F.col("_old"), F.col("uri"))
                != F.coalesce(F.col("_new"), F.col("uri"))
            )
            .select(F.coalesce(F.col("_old"), F.col("uri")).alias("obj"))
        )
        canon_hit = state.triples.join(s_vals, "obj", "left_semi").select(
            doc_part(F.col("subj")).alias("doc_uri")
        )
        rework_doc_uris = rework_doc_uris.union(canon_hit)
    rw_uris = rework_doc_uris.distinct().persist(StorageLevel.MEMORY_AND_DISK)

    # (4) kept prior triples: subjects owned by untouched docs
    kept = (
        state.triples.withColumn("_sb", doc_part(F.col("subj")))
        .join(rw_uris, F.col("_sb") == F.col("doc_uri"), "left_anti")
        .drop("_sb")
    )

    # (5) re-emit + rewrite ONLY the rework slice: the rows of every
    # url sharing a rework doc URI (docid-collision closure).  Beyond
    # the delta, whose stage rows and links are already cached, that
    # is `extra` — urls reworked for a collision or a canon hit — and
    # their rows are cut from the stored tables.  Since the delta is
    # part of the rework set, this equals the merged tables semi-
    # joined on the rework urls.  `extra` is empty in the common case;
    # it is persisted so that AQE sees it empty once cached and drops
    # every stored-table branch before planning their exchanges (a
    # 60-doc recrawl ran 48 jobs with it unpersisted, 40 persisted)
    extra = (
        prior_dir.join(rw_uris, "doc_uri", "left_semi")
        .select("url")
        .join(delta_urls, "url", "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_segments = state.segments.select(*d_segments.columns).join(
        extra, "url", "left_semi"
    )
    e_linked = _link_docs(spark, e_segments, cfg)
    triples_raw, _ = _assemble_triples(
        d_segments.unionByName(e_segments),
        d_mentions.unionByName(
            state.mentions.select(*d_mentions.columns).join(
                extra, "url", "left_semi"
            )
        ),
        d_linked.unionByName(e_linked),
        cfg,
    )
    # persist the REWORK slice only: the kept side is already
    # materialized storage (the prior triples table — parquet in
    # production, a cached DF in-memory), so caching the union would
    # re-write ~the whole corpus into executor memory per rebuild;
    # consumers re-scan kept columnar instead, and every consumer of
    # the union (count, edges, validations) shares the cached rework
    rework = rewrite_triples(triples_raw, canon).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    triples = kept.unionByName(rework)

    # directory from the PERSISTED prior projection + delta doc rows
    # (identical to a merged-segments projection, without re-scanning
    # the stored segments lineage for every relate_edges join)
    doc_directory = prior_dir.join(delta_urls, "url", "left_anti").unionByName(
        d_dir
    )

    # (6) edges: prior edge rows survive iff neither endpoint doc was
    # reworked; reworked sources re-relate from their new refs, and
    # kept docs citing a reworked target re-resolve against the new
    # directory.  The three classes partition edges by endpoint
    # membership; the terminal dropDuplicates collapses docid-
    # collision residue exactly like the full relate does.
    kept_edges = (
        state.edges
        .join(rw_uris, F.col("src_uri") == F.col("doc_uri"), "left_anti")
        .join(rw_uris, F.col("dst_uri") == F.col("doc_uri"), "left_anti")
    )
    add_src = relate_edges(rework, doc_directory)
    kept_hit = (
        kept.filter(
            F.col("obj_is_uri")
            & ~F.col("pred").isin([RDF_TYPE, OWL_SAMEAS])
        )
        .withColumn("_ob", doc_part(F.col("obj")))
        .join(rw_uris, F.col("_ob") == F.col("doc_uri"), "left_semi")
        .drop("_ob")
    )
    add_dst = relate_edges(kept_hit, doc_directory)
    edges = (
        kept_edges.unionByName(add_src)
        .unionByName(add_dst)
        .dropDuplicates(["src_url", "dst_url", "pred"])
    )

    warnings = validate_required_predicates(triples).unionByName(
        validate_unique_resources(segments, cfg.max_resources)
    )
    # contract for CHAINED incremental builds: kg_state() reads
    # linked.select(url, entity_label) — labels_tbl IS that table
    # corpus-wide, so the next round's delta tail stays engaged;
    # mentions_t likewise stays the corpus-wide (lazy) emission input
    corpus_mentions_t = mention_target_uri(mentions, cfg).filter(
        F.col("docid").isNotNull()
    )
    return KGResult(
        docs, segments, mentions, triples, canon, edges, sameas, doc_directory,
        warnings, labels_tbl, corpus_mentions_t,
        cached=(d_linked, cand, prior_dir, rw_uris, extra, e_linked, rework),
    )
