"""Traced run: per-layer numbers from spans around each layer's public
functions, called from here with a persist()+count() barrier after
each call so a span holds that layer's work and nothing downstream.

Every layer runs in its own `setJobGroup`; the status tracker gives
its jobs, tasks and failed tasks, and the Spark event log (enabled for
traced runs only, see run.py) its shuffle and spill bytes.  Every
traced run, whatever its workload, walks the same layers over its own
seeded corpus, so each prints every per-layer metric:

  after a warm-up build: staged build (sources .. validate), fused
  build (pipeline), annotation queries on the fused build's stored
  triples (graphquery, sparql), recrawl (pipeline), and one build of
  the recrawl snapshot at local[1] (scaling)

`run_pipeline` (the materialized path with lineage and resume) is not
walked: it takes 40-70 s, more than a traced run has left.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame
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
from ferenda_spark.operators.graphquery import pred_stats
from ferenda_spark.operators.link import gazetteer_df, link_names
from ferenda_spark.operators.mentions import detect_mentions, mention_target_uri
from ferenda_spark.operators.relate import relate_edges
from ferenda_spark.operators.segment import segment_sections
from ferenda_spark.operators.sparql import parse_sparql, run_sparql
from ferenda_spark.pipeline import KGState, build_kg, incremental_kg, kg_state
from ferenda_spark.session import get_spark
from ferenda_spark.sources.pages import read_table, synth_pages_v2

import sysmon
from workloads import ANNOTATIONS_RQ, digest, expected_annotations, log, write_pages

LAYERS = (
    "sources", "extract", "segment", "mentions", "link", "emit",
    "canonicalize", "relate", "validate", "pipeline", "graphquery", "sparql",
)
STATE_TABLES = (
    "fingerprints", "docs", "segments", "mentions", "labels", "canon", "triples", "edges",
)
#: queries timed through the sparql layer (parse / compile / execute)
TRACE_QUERIES = 2


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.metrics: dict[str, dict] = {}
        self.spans: list[tuple[str, float, float]] = []

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}

    def add(self, name: str, value: float, unit: str) -> None:
        old = self.metrics.get(name, {"value": 0})["value"]
        self.put(name, old + value, unit)

    @contextmanager
    def group(self, layer: str):
        """Jobs started inside belong to `layer`; outside any layer,
        jobs (checks, ratios) belong to the untraced group."""
        self.sc.setJobGroup(layer, layer)
        try:
            yield
        finally:
            self.sc.setJobGroup("kgbench", "untraced")

    @contextmanager
    def span(self, layer: str, name: str = "busy_s"):
        with self.group(layer):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                t1 = time.perf_counter()
                self.spans.append((f"{layer}.{name}", t0, t1))
                self.add(f"{layer}.{name}", t1 - t0, "s")

    def job_counts(self, layers) -> None:
        st = self.sc.statusTracker()
        for layer in layers:
            jobs = st.getJobIdsForGroup(layer)
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    s = st.getStageInfo(sid)
                    if s is not None:
                        tasks += s.numCompletedTasks
                        failed += s.numFailedTasks
            self.put(f"{layer}.jobs", len(jobs), "count")
            self.put(f"{layer}.tasks", tasks, "count")
            self.put(f"{layer}.failed_tasks", failed, "count")


def barrier(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def shuffle_spill(event_dir: Path) -> dict[str, dict[str, float]]:
    """Shuffle bytes written and bytes spilled to disk per job group,
    from the Spark event logs in `event_dir`."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"shuffle": 0, "spill": 0})
    logs = [Path(d) / f for d, _, fs in os.walk(event_dir) for f in fs]
    for path in logs:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if group is None or not tm:
                        continue
                    w = tm.get("Shuffle Write Metrics") or {}
                    out[group]["shuffle"] += w.get("Shuffle Bytes Written", 0)
                    out[group]["spill"] += tm.get("Disk Bytes Spilled", 0)
    return out


def _staged_build(tr: Tracer, spark, pages_path: str, cfg: PipelineConfig, ref, tally):
    """build_kg's stages one public call at a time; returns the staged
    wall time (the sum of the spans)."""
    with tr.span("sources", "scan_s"):
        pages, n = barrier(read_table(spark, pages_path))
    tr.put("sources.rows", n, "count")
    with tr.span("extract"):
        docs, n = barrier(extract_docs(pages))
    tr.put("extract.rows_out", n, "count")
    with tr.span("segment"):
        segments, n = barrier(segment_sections(docs))
    tr.put("segment.rows_out", n, "count")
    with tr.span("mentions"):
        mentions, n_m = barrier(detect_mentions(segments))
    tr.put("mentions.rows_out", n_m, "count")
    resolved = mention_target_uri(mentions, cfg).filter(F.col("target_uri").isNotNull()).count()
    tr.put("mentions.resolved_ratio", ratio(resolved, n_m), "ratio")

    doc_rows = segments.filter(F.col("kind") == "doc")
    with tr.span("link"):
        linked, n_l = barrier(link_names(
            doc_rows.withColumn("publisher_name", F.col("meta")["publisher_name"]),
            gazetteer_df(spark, cfg),
            cfg,
        ))
    tr.put("link.rows_out", n_l, "count")
    labelled = linked.filter(F.col("entity_label").isNotNull()).count()
    tr.put("link.hit_ratio", ratio(labelled, n_l), "ratio")

    with tr.span("emit"):
        sections = segments.filter((F.col("kind") == "section") & F.col("docid").isNotNull())
        m = mention_target_uri(mentions, cfg).filter(F.col("docid").isNotNull())
        raw, n_raw = barrier(
            emit_doc_triples(linked, cfg)
            .unionByName(emit_section_triples(sections, cfg))
            .unionByName(emit_mention_triples(m, cfg))
            .unionByName(emit_sameas_triples(linked, cfg))
        )
    tr.put("emit.rows_out", n_raw, "count")

    with tr.span("canonicalize", "cc_s"):
        sameas = emit_sameas_triples(linked, cfg).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        canon, _ = barrier(connected_components(sameas))
    with tr.span("canonicalize", "rewrite_s"):
        triples, n_t = barrier(rewrite_triples(raw, canon))
    tr.put("canonicalize.components", canon.select("canon_uri").distinct().count(), "count")
    tr.put("canonicalize.dedup_ratio", ratio(n_t, n_raw), "ratio")
    tally.record(digest(triples) == ref, "staged build triples != build_kg triples")

    with tr.span("relate"):
        directory = doc_rows.filter(F.col("docid").isNotNull()).select(
            doc_uri_col(cfg, F.col("docid")).alias("doc_uri"), "url"
        )
        edges, n_e = barrier(relate_edges(triples, directory))
    tr.put("relate.edges", n_e, "count")
    owner = lambda c: F.split(F.col(c), "#", 2).getItem(0)  # noqa: E731
    cross_refs = (
        triples.filter(F.col("obj_is_uri") & ~F.col("pred").isin([RDF_TYPE, OWL_SAMEAS]))
        .select(owner("subj").alias("s"), owner("obj").alias("o"), "pred")
        .filter(F.col("s") != F.col("o"))
        .distinct()
        .count()
    )
    tr.put("relate.resolve_ratio", ratio(n_e, cross_refs), "ratio")

    with tr.span("validate"):
        _, n_w = barrier(
            validate_required_predicates(triples).unionByName(
                validate_unique_resources(segments, cfg.max_resources)
            )
        )
    tr.put("validate.warnings", n_w, "count")
    staged = sum(t1 - t0 for name, t0, t1 in tr.spans)
    spark.catalog.clearCache()
    return staged


def _recrawl(tr: Tracer, spark, work: Path, kg, pages_path: str, docs: int, seed: int, tally):
    """incremental_kg over the stored 8-table state of the fused build
    against a snapshot with every 50th doc revised and docs/50 new; its
    delta is checked against the snapshot.  Returns the snapshot's path
    and the digest of incremental_kg's triples, which the local[1]
    build_kg of the snapshot must reproduce."""
    state = kg_state(read_table(spark, pages_path), kg)
    for name in STATE_TABLES:
        getattr(state, name).write.mode("overwrite").parquet(str(work / "state" / name))
    n_new = max(1, docs // 50)
    v2 = str(work / "pages_v2")
    synth_pages_v2(spark, docs, n_new=n_new, change_every=50, seed=seed).write.mode(
        "overwrite"
    ).parquet(v2)
    stored = KGState(*[read_table(spark, str(work / "state" / n)) for n in STATE_TABLES])
    with tr.group("pipeline"):
        t0 = time.perf_counter()
        kg2, delta_urls = incremental_kg(spark, read_table(spark, v2), stored)
        t1 = time.perf_counter()
        kg2.triples.count()
        t2 = time.perf_counter()
    tr.put("pipeline.incremental_call_s", t1 - t0, "s")
    tr.put("pipeline.incremental_count_s", t2 - t1, "s")
    n_delta = delta_urls.count()
    tr.put("pipeline.delta_urls", n_delta, "count")
    tr.put("pipeline.delta_ratio", ratio(n_delta, docs + n_new), "ratio")
    revised = len(range(0, docs, 50))
    tally.record(n_delta == revised + n_new, f"recrawl delta {n_delta} != {revised} + {n_new}")
    got = digest(kg2.triples)
    kg2.release()
    return v2, got


def reference_digest(spark, pages_path: str) -> tuple[int, int]:
    """Digest of `build_kg`'s triples over the stored pages."""
    kg = build_kg(spark, read_table(spark, pages_path))
    ref = digest(kg.triples)
    kg.release()
    spark.catalog.clearCache()
    return ref


def _queries(tr: Tracer, spark, store: DataFrame, seed: int, tally) -> None:
    """The annotation CONSTRUCT for a few seeded doc URIs, with parse /
    compile / execute timed apart; each result is checked against the
    native operator."""
    with tr.span("graphquery", "pred_stats_s"):
        stats = pred_stats(store)
    uris = sorted(
        r["subj"] for r in store.filter(F.col("pred") == RDF_TYPE)
        .filter(~F.col("subj").contains("#")).select("subj").distinct().collect()
    )
    draws = random.Random(seed).sample(uris, min(TRACE_QUERIES, len(uris)))
    expected = expected_annotations(store, set(draws))
    parse, compile_, execute, rows_out = [], [], [], []
    for u in draws:
        with tr.group("sparql"):
            t0 = time.perf_counter()
            parse_sparql(ANNOTATIONS_RQ, {"uri": u})
            t1 = time.perf_counter()
            df = run_sparql(store, ANNOTATIONS_RQ, params={"uri": u}, stats=stats)
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
        parse.append((t1 - t0) * 1e3)
        compile_.append((t2 - t1) * 1e3)
        execute.append((t3 - t2) * 1e3)
        rows_out.append(len(rows))
        got = {(r["subj"], r["pred"], r["obj"]) for r in rows}
        tally.record(got == expected[u], f"annotations.rq != native for {u}")
    tr.put("sparql.parse_ms", statistics.median(parse), "ms")
    tr.put("sparql.compile_ms", statistics.median(compile_), "ms")
    tr.put("sparql.execute_ms", statistics.median(execute), "ms")
    tr.put("sparql.rows_out", statistics.median(rows_out), "count")


def _event_metrics(tr: Tracer, work: Path, layers) -> None:
    per_group = shuffle_spill(work / "eventlog")
    for layer in layers:
        v = per_group.get(layer, {"shuffle": 0, "spill": 0})
        tr.put(f"{layer}.shuffle_mb", v["shuffle"] / 2**20, "MB")
        tr.put(f"{layer}.spill_mb", v["spill"] / 2**20, "MB")


def walk(spark, work: Path, seed: int, scale, tally, cpus: int) -> dict:
    """The traced walk; stops `spark` (and the local[1] session it
    starts) before returning the per-layer metrics."""
    tr = Tracer(spark)
    pages_path = str(work / "pages")
    cfg = PipelineConfig()
    try:
        write_pages(spark, pages_path, scale.docs, seed)
        # warm-up build (JIT, Python workers); its digest is the reference
        ref = reference_digest(spark, pages_path)
        log("warm-up done")
        staged_s = _staged_build(tr, spark, pages_path, cfg, ref, tally)
        log(f"staged build {staged_s:.3f}s")

        with tr.group("pipeline"):
            t0 = time.perf_counter()
            kg = build_kg(spark, read_table(spark, pages_path))
            t1 = time.perf_counter()
            kg.triples.count()
            t2 = time.perf_counter()
        fused_s = t2 - t0
        tr.put("pipeline.build_call_s", t1 - t0, "s")
        tr.put("pipeline.count_s", t2 - t1, "s")
        tr.put("trace.overhead_s", staged_s - fused_s, "s")
        log(f"fused build {fused_s:.3f}s")

        # the serve_annotations store: build_kg's triples as parquet
        kg.triples.write.mode("overwrite").parquet(str(work / "store"))
        _queries(tr, spark, read_table(spark, str(work / "store")), seed, tally)
        log("queries done")
        v2, recrawled = _recrawl(tr, spark, work, kg, pages_path, scale.docs, seed, tally)
        kg.release()
        log("recrawl done")
        tr.job_counts(LAYERS)
    finally:
        # the event log is complete once the context stops; the JVM
        # stays up (warm) for the single-core build
        spark.stop()
    _event_metrics(tr, work, LAYERS)

    # the single-core build is of the recrawl snapshot (2% more docs
    # than the fused build it is compared with), so that it also gives
    # the full build the recrawl must equal
    spark1 = get_spark("kgbench-1core", master="local[1]")
    try:
        t0 = time.perf_counter()
        kg = build_kg(spark1, read_table(spark1, v2))
        kg.triples.count()
        one_s = time.perf_counter() - t0
        tally.record(digest(kg.triples) == recrawled, "incremental_kg triples != build_kg of v2")
    finally:
        sysmon.stop_spark(spark1)
    tr.put("scaling.build_1core_s", one_s, "s")
    tr.put("scaling.eff_1v4", one_s / (cpus * fused_s), "ratio")
    log(f"local[1] build {one_s:.3f}s")
    log("spans " + json.dumps([(n, round(t0, 4), round(t1, 4)) for n, t0, t1 in tr.spans]))
    return tr.metrics
