"""Workload set-up, measured operations and output checks.

Each workload object has `setup()` (untimed by the loop, counted in
`setup_s`) and `op(i) -> (seconds, output_triples, ok)`, one operation
of the measured closed loop.  Every operation is checked; a failed
check or a raised error counts against `Tally`, never aborts the run.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferenda_spark.config import DCT
from ferenda_spark.operators.graphquery import pred_stats
from ferenda_spark.operators.relate import annotations
from ferenda_spark.operators.sparql import run_sparql
from ferenda_spark.pipeline import build_kg
from ferenda_spark.sources.pages import read_table, synth_pages

#: the reference's per-document annotation CONSTRUCT, verbatim (the
#: same text tests/test_sparql.py pins as ANNOTATIONS_RQ)
ANNOTATIONS_RQ = Path(__file__).with_name("annotations.rq").read_text()

TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_uri", "lang", "datatype")

#: queries run before the serve_annotations loop measures
WARMUP_QUERIES = 4


@dataclass(frozen=True)
class Scale:
    docs: int  # corpus size of every workload
    query_draws: int  # doc URIs drawn for serve_annotations


SCALES = {
    "default": Scale(docs=2000, query_draws=64),
    # smoke test: every check runs, in a fraction of the time
    "tiny": Scale(docs=200, query_draws=16),
}


class Tally:
    """Operations attempted and failed (raised, or failed a check)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# CHECK FAILED: {what}", file=sys.stderr)
        return ok


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def digest(triples: DataFrame) -> tuple[int, int]:
    """Order-independent multiset digest: (row count, sum of row hashes)."""
    h = F.xxhash64(*TRIPLE_COLS).cast("decimal(38,0)")
    r = triples.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def write_pages(spark: SparkSession, path: str, n_docs: int, seed: int) -> None:
    synth_pages(spark, n_docs, seed).write.mode("overwrite").parquet(path)


class FullBuild:
    """`build_kg` from the stored pages table to the counted triples."""

    def __init__(self, spark, work: Path, seed: int, scale: Scale, tally: Tally):
        self.spark, self.seed, self.scale, self.tally = spark, seed, scale, tally
        self.pages = str(work / "pages")
        self.ref: tuple[int, int] | None = None

    def setup(self) -> None:
        write_pages(self.spark, self.pages, self.scale.docs, self.seed)
        # warm-up build: JIT, Python workers, codegen; its digest is the
        # reference every measured rep must reproduce
        kg = build_kg(self.spark, read_table(self.spark, self.pages))
        self.ref = digest(kg.triples)
        kg.release()
        self.tally.record(self.ref[0] > 0, "warm-up build produced no triples")

    def op(self, i: int) -> tuple[float, int, bool]:
        pages = read_table(self.spark, self.pages)
        t0 = time.perf_counter()
        kg = build_kg(self.spark, pages)
        n = kg.triples.count()
        dt = time.perf_counter() - t0
        ok = digest(kg.triples) == self.ref
        kg.release()
        self.spark.catalog.clearCache()
        return dt, n, ok


def expected_annotations(store: DataFrame, uris: set[str]) -> dict[str, set]:
    """The CONSTRUCT result of annotations.rq per doc URI, derived from
    the native `relate.annotations` operator: its rows are the plain
    `?s ?p ?o` triples, and every `dcterms:references` row whose object
    is a member of the doc (the doc itself or an isPartOf* descendant
    within three hops) adds the `?part dcterms:isReferencedBy ?s`
    back-link."""
    part_of, refs, ref_by = DCT + "isPartOf", DCT + "references", DCT + "isReferencedBy"
    rows = (
        annotations(store)
        .filter(F.col("doc_uri").isin(sorted(uris)))
        .collect()
    )
    by_doc: dict[str, list] = {u: [] for u in uris}
    for r in rows:
        by_doc[r["doc_uri"]].append((r["subj"], r["pred"], r["obj"]))
    out = {}
    for u, triples in by_doc.items():
        parents: dict[str, set] = {}
        for s, p, o in triples:
            if p == part_of:
                parents.setdefault(s, set()).add(o)

        def member(x: str) -> bool:
            frontier = {x}
            for _ in range(4):  # zero to three isPartOf hops
                if u in frontier:
                    return True
                frontier = set().union(*(parents.get(y, set()) for y in frontier))
            return False

        want = set(triples)
        want |= {(o, ref_by, s) for s, p, o in triples if p == refs and member(o)}
        out[u] = want
    return out


class ServeAnnotations:
    """Closed loop, one client: annotations.rq through `run_sparql` for
    doc URIs drawn uniformly (with replacement) by seed."""

    def __init__(self, spark, work: Path, seed: int, scale: Scale, tally: Tally):
        self.spark, self.seed, self.scale, self.tally = spark, seed, scale, tally
        self.pages = str(work / "pages")
        self.store_path = str(work / "store")

    def setup(self) -> None:
        write_pages(self.spark, self.pages, self.scale.docs, self.seed)
        log("pages written")
        kg = build_kg(self.spark, read_table(self.spark, self.pages))
        kg.triples.write.mode("overwrite").parquet(self.store_path)
        log("store written")
        uris = sorted(
            r["doc_uri"]
            for r in kg.doc_directory.select("doc_uri").distinct().collect()
        )
        kg.release()
        self.spark.catalog.clearCache()
        self.store = read_table(self.spark, self.store_path)
        self.stats = pred_stats(self.store)
        self.draws = random.Random(self.seed).choices(uris, k=self.scale.query_draws)
        self.expected = expected_annotations(self.store, set(self.draws))
        log("native reference computed")
        # warm-up queries, from the end of the draws: the first few
        # queries of a session are slower.  Like every measured query,
        # each is checked against the native operator
        for i in range(-WARMUP_QUERIES, 0):
            _, _, ok = self.op(i)
            self.tally.record(ok, f"annotations.rq != native for {self.draws[i]}")

    def op(self, i: int) -> tuple[float, int, bool]:
        uri = self.draws[i % len(self.draws)]
        t0 = time.perf_counter()
        rows = run_sparql(
            self.store, ANNOTATIONS_RQ, params={"uri": uri}, stats=self.stats
        ).collect()
        dt = time.perf_counter() - t0
        got = {(r["subj"], r["pred"], r["obj"]) for r in rows}
        return dt, len(rows), got == self.expected[uri]


WORKLOADS = {"full_build": FullBuild, "serve_annotations": ServeAnnotations}


def measure(op, seconds: float, tally: Tally) -> list[tuple[float, int]]:
    """Run `op` back to back until `seconds` have elapsed (at least
    once); returns (seconds, triples) of every operation that returned."""
    done = []
    t_end = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        try:
            dt, n, ok = op(i)
        except Exception:  # noqa: BLE001 - a failed operation is counted
            traceback.print_exc()
            tally.record(False, f"operation {i} raised")
        else:
            tally.record(ok, f"operation {i} output differs from reference")
            done.append((dt, n))
        i += 1
    return done
