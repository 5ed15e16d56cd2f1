"""End-to-end KG construction: pages -> triples + edges.

The parse->relate lifecycle of the reference
(documentrepository.py:127-172 entry points; trace SURVEY.md §3)
restated as a sequence of DataFrame jobs:

  pages --extract--> docs --segment--> segments
        --mentions--> mentions --link/mint/emit--> triples_raw
        --CC--> canon --rewrite--> triples --relate--> edges

Two modes:
- build_kg(): fully lazy, in-memory (tests, benchmarks of raw
  throughput) — one persisted cut at `segments` (consumed 3×).
- run_pipeline(): materialized, each stage written bucketed-by-url
  with per-partition lineage rows -> checkpoint-resume (north rule).
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
from ferenda_spark.operators.relate import relate_edges
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
    sameas: DataFrame | None = None
    doc_directory: DataFrame | None = None
    # T4 + T5 validation warnings (subject, warning)
    warnings: DataFrame | None = None
    # emission inputs — exposed so the kg_triples oracle can
    # independently recompute emit -> CC -> rewrite in SQL from the
    # SAME upstream tables (the Python FSM/link stages stay
    # golden-pytest-checked; the relational layer gets a DuckDB twin).
    # `linked` is the linked doc rows (the emit_doc_triples input) for
    # build_kg and run_pipeline-shaped results only: an incremental_kg
    # result with the delta-scoped tail carries the corpus-wide
    # 2-column (url, entity_label) label table here instead, which is
    # all kg_state and emit_sameas_triples read
    linked: DataFrame | None = None
    mentions_t: DataFrame | None = None
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


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    extra_sameas: DataFrame | None = None,
) -> KGResult:
    """Lazy in-memory pipeline (no intermediate tables)."""
    cfg = cfg or PipelineConfig()
    docs = extract_docs(pages)
    segments = segment_sections(docs).persist(StorageLevel.MEMORY_AND_DISK)
    mentions = detect_mentions(segments)
    return _finish_kg(spark, docs, segments, mentions, cfg, extra_sameas)


def _finish_kg(
    spark: SparkSession,
    docs: DataFrame,
    segments: DataFrame,
    mentions: DataFrame,
    cfg: PipelineConfig,
    extra_sameas: DataFrame | None = None,
) -> KGResult:
    """Relational tail of the pipeline (emit → CC → rewrite →
    relate → validate) over ANY segments/mentions tables — shared by
    the full build and the incremental rebuild, which is what makes
    incremental == full-rebuild an exact invariant: both feed the
    same deterministic tail, they only differ in how the Python
    stages produced the inputs."""
    linked = _link_docs(spark, segments, cfg)
    triples_raw, mentions_t = _assemble_triples(segments, mentions, linked, cfg)
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
    if extra_sameas is not None:
        sameas = sameas.unionByName(extra_sameas.select("src", "dst"))
    canon = connected_components(sameas)
    # triples is the fan-out point (caller count, relate_edges,
    # validations all read it) — persist HERE, the canonical final
    # table, rather than the pre-rewrite raw union: one full
    # materialization instead of two
    triples = rewrite_triples(triples_raw, canon).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    doc_directory = _doc_directory(segments, cfg)
    edges = relate_edges(triples, doc_directory)
    warnings = validate_required_predicates(triples).unionByName(
        validate_unique_resources(segments, cfg.max_resources)
    )
    return KGResult(
        docs, segments, mentions, triples, canon, edges, sameas, doc_directory,
        warnings, linked, mentions_t, cached=(segments, linked, triples),
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    cfg: PipelineConfig | None = None,
    run_id: str | None = None,
    resume: bool = True,
) -> KGResult:
    """Materialized pipeline with per-bucket lineage + resume."""
    cfg = cfg or PipelineConfig()
    run_id = run_id or new_run_id()
    nb = cfg.url_buckets
    lineage = os.path.join(out_root, "lineage")

    def p(name: str) -> str:
        return os.path.join(out_root, name)

    docs = run_bucketed_stage(
        spark, "extract", with_bucket(extract_docs(pages), nb),
        p("docs"), lineage, run_id, nb, resume,
    )
    segments = run_bucketed_stage(
        spark, "segment", with_bucket(segment_sections(docs), nb),
        p("segments"), lineage, run_id, nb, resume,
    )
    mentions = run_bucketed_stage(
        spark, "mentions", with_bucket(detect_mentions(segments), nb),
        p("mentions"), lineage, run_id, nb, resume,
    )

    raw, _ = _assemble_triples(
        segments, mentions, _link_docs(spark, segments, cfg), cfg
    )
    triples_raw = run_bucketed_stage(
        spark, "emit", with_bucket(raw, nb, col="subj"),
        p("triples_raw"), lineage, run_id, nb, resume,
    )
    canon = run_global_stage(
        spark, "canonicalize",
        lambda: connected_components(
            triples_raw.filter(F.col("pred") == OWL_SAMEAS).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
        ),
        p("canon"), lineage, run_id, resume,
    )
    triples = run_global_stage(
        spark, "rewrite",
        lambda: with_bucket(rewrite_triples(triples_raw, canon), nb, col="subj"),
        p("triples"), lineage, run_id, resume,
    )
    doc_directory = _doc_directory(segments, cfg)
    edges = run_global_stage(
        spark, "relate",
        lambda: relate_edges(triples, doc_directory),
        p("edges"), lineage, run_id, resume,
    )
    sameas = triples_raw.filter(F.col("pred") == OWL_SAMEAS).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    # T4/T5 validation stage: warnings materialize next to the data
    # (the reference logs-and-continues; the count is the metric)
    warnings = run_global_stage(
        spark, "validate",
        lambda: validate_required_predicates(triples).unionByName(
            validate_unique_resources(segments, cfg.max_resources)
        ),
        p("warnings"), lineage, run_id, resume,
    )
    return KGResult(
        docs, segments, mentions, triples, canon, edges, sameas, doc_directory,
        warnings,
    )


# ------------------------------------------------- incremental rebuild


@dataclass
class KGState:
    """Prior-build state the incremental rebuild needs: the stored
    Python-stage outputs plus per-url content fingerprints.  In
    production these are the `docs`/`segments`/`mentions` Iceberg
    tables run_pipeline already materializes, and `fingerprints` is
    a 2-column projection of the prior pages snapshot — the
    DataFrame analog of the reference's DocumentEntry.orig_updated
    record (documententry.py:50; documentstore.py:400-470).

    The optional tail tables (labels/canon/triples/edges — all
    run_pipeline/Iceberg materializations too) switch the relational
    tail from global recomputation to the delta-scoped rebuild in
    `_delta_tail`; when any is absent the rebuild falls back to the
    always-correct global tail (`_finish_kg`)."""

    fingerprints: DataFrame  # (url, page_fp)
    docs: DataFrame
    segments: DataFrame
    mentions: DataFrame
    labels: DataFrame | None = None  # (url, entity_label) of prior linked
    canon: DataFrame | None = None  # (uri, canon_uri) prior CC output
    triples: DataFrame | None = None  # prior FINAL (post-rewrite) triples
    edges: DataFrame | None = None  # prior relate output


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
        labels=(
            kg.linked.select("url", "entity_label")
            if kg.linked is not None
            else None
        ),
        canon=kg.canon,
        triples=kg.triples,
        edges=kg.edges,
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
    relational tail is delta-scoped too when the prior tail tables
    are available (see _delta_tail: canonicalization stays a global
    FIXPOINT — the CC still sees the full sameAs population — but
    only touched components and touched documents are re-derived);
    without them it falls back to the global _finish_kg tail.  Work
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
    if (
        state.labels is not None
        and state.canon is not None
        and state.triples is not None
    ):
        # delta-scoped tail: prior tail tables present, so emit/
        # rewrite/relate run only over touched documents.  The merged
        # segments table stays UNPERSISTED here — the delta tail cuts
        # its rework slice from the delta and stored tables and reads
        # the merged one only for validation, and a persist would
        # force a full-corpus cache materialization back into the
        # rebuild's critical path.
        segments = merge(state.segments, d_segments)
        result = _delta_tail(
            spark, state, delta_urls, d_segments, d_mentions,
            docs, segments, mentions, cfg,
        )
    else:
        segments = merge(state.segments, d_segments).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        result = _finish_kg(spark, docs, segments, mentions, cfg)
    result.cached = result.cached + (delta_pages, d_segments, delta_urls)
    return result, delta_urls


def _subj_doc(col: F.Column) -> F.Column:
    """Owning doc URI of a (possibly '#frag'-suffixed) resource."""
    return F.split(col, "#", 2).getItem(0)


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
    """Delta-scoped relational tail: identical output to _finish_kg
    over the merged tables (tests/test_incremental.py asserts
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
            _subj_doc(F.col("subj")).alias("doc_uri")
        )
        rework_doc_uris = rework_doc_uris.union(canon_hit)
    rw_uris = rework_doc_uris.distinct().persist(StorageLevel.MEMORY_AND_DISK)

    # (4) kept prior triples: subjects owned by untouched docs
    kept = (
        state.triples.withColumn("_sb", _subj_doc(F.col("subj")))
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
    if state.edges is not None:
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
            .withColumn("_ob", _subj_doc(F.col("obj")))
            .join(rw_uris, F.col("_ob") == F.col("doc_uri"), "left_semi")
            .drop("_ob")
        )
        add_dst = relate_edges(kept_hit, doc_directory)
        edges = (
            kept_edges.unionByName(add_src)
            .unionByName(add_dst)
            .dropDuplicates(["src_url", "dst_url", "pred"])
        )
    else:
        edges = relate_edges(triples, doc_directory)

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
