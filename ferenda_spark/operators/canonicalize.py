"""sameAs canonicalization: connected components + triple rewrite.

Reference semantics: ferenda loads an owl:sameAs graph and rewrites
URIs through a 1-hop equivalence dict
(sources/general/graphanalyze.py:171-176, 271-277) and expands
sameAs closures in queries (:178-225). At web scale the closure is a
*connected components* problem; we use the alternating
large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public literature),
which converges in O(log d) rounds, so the deliberately huge chain
component (FIXTURES.md §4) costs ~log(n) shuffles, not n.

Skew note: both stars are groupBy-min aggregations — Spark performs
partial (map-side) aggregation, so a hot component's key does not
concentrate rows on one reducer the way a join would; no manual
salting needed here. Each round localCheckpoints to truncate plan
lineage (SURVEY.md §4 item 3).

Component label = lexicographic min member ("canonical URI").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferenda_spark.session import local_frame


def _large_star(e: DataFrame) -> DataFrame:
    sym = (
        e.select("u", "v")
        .union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("minv"))
    m = F.least(F.col("u"), F.col("minv")).alias("m")
    return (
        sym.join(mins, "u")
        .select("u", "v", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    o = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        o.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    root = mins.select("u", F.col("m").alias("v"))
    return rewired.union(root).distinct()


def _driver_cc(spark, rows) -> DataFrame:
    """Union-find on the driver for dimension-sized edge sets: one
    job (the caller's limit-probe collect) instead of ~2 per star
    round — the iterative distributed algorithm costs O(rounds)
    driver round-trips, which becomes the pipeline's Amdahl serial
    floor when the equivalence population is tiny (the common case:
    only multi-minted entities produce sameAs edges).

    The map is a `LocalRelation` (session.local_frame) and carries no
    hint: the planner sizes it from its exact statistics, so joins
    against a small map broadcast it in a JVM-only job, and a
    full-outer diff against it (the delta tail) plans without a hint
    it cannot honour.  Collecting it starts no job."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = find(row["u"]), find(row["v"])
        if a != b:
            # union by label order so the root is always the min —
            # the component label IS the lexicographic min member
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    srt = sorted((x, find(x)) for x in parent)
    all_nodes = {x for x, _ in srt} | {r for _, r in srt}
    out = sorted((x, find(x)) for x in all_nodes)
    return local_frame(spark, out, "uri string, canon_uri string")


#: cap on the distributed path's star rounds (it converges in O(log d))
MAX_STAR_ROUNDS = 30


def connected_components(
    edges: DataFrame, driver_threshold: int = 100_000
) -> DataFrame:
    """edges(src, dst) -> canon_map(uri, canon_uri).

    canon_uri is the lexicographically smallest member of each
    component; every member (including the root) gets a row.

    Size-aware strategy: an edge set of at most `driver_threshold`
    edges is solved with driver-side union-find — identical output,
    one job, and a LocalRelation map (see _driver_cc); larger sets
    run the distributed large-star/small-star iteration, whose
    O(log d) rounds are the only scale-safe option when the closure
    itself exceeds driver memory, and whose map is left for AQE to
    size at runtime.  The threshold counts DISTINCT UNDIRECTED
    edges (the probe runs after the dedup below); the 100k default
    keeps the collected Python Row list in the tens-of-MB range —
    well clear of the multi-GB object-overhead cliff a
    million-edge-of-URIs collect would sit on."""
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # ONE job decides the strategy AND feeds the driver path: a
    # limit-probe collect returns the complete edge set iff it is
    # under the threshold (the limit didn't truncate).  It is the
    # only Spark action of a small build's canonicalization.
    probe = e.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        return _driver_cc(e.sparkSession, probe)
    e = e.localCheckpoint(eager=True)
    prev_sig = None
    for i in range(MAX_STAR_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # convergence probe every OTHER round: the probe is a driver
        # action, and on a shrinking edge set an extra star round is
        # cheaper than an extra round-trip — halving the serial
        # driver fraction that caps scaling at high core counts
        if i % 2 == 0:
            continue
        sig = e.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        cur = (sig["n"], sig["h"])
        if cur == prev_sig:
            break
        prev_sig = cur
    members = e.select(F.col("u").alias("uri"), F.col("v").alias("canon_uri"))
    roots = e.select(F.col("v").alias("uri")).distinct().withColumn(
        "canon_uri", F.col("uri")
    )
    return members.union(roots).distinct()


def rewrite_triples(triples: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Rewrite subj and (URI-valued) obj through the canonical map,
    then dropDuplicates — ferenda's equivs-dict rewrite
    (graphanalyze.py:271-277) generalized to the full closure.

    owl:sameAs statements are consumed here: after rewriting they
    would collapse into self-loops, so they are dropped — the
    canon_map table itself is the canonical record of equivalence.

    Two left joins + coalesce, planned lazily: this starts no Spark
    job.  The join strategy comes from the map's statistics, with no
    hint.  A map from connected_components' driver path is a
    LocalRelation whose exact size the planner knows, so both joins
    broadcast it and the triples table is never shuffled for them.  A
    distributed-path or stored map is sized by the planner and AQE
    the same way, falling back to a shuffle join when it is too large
    to broadcast.
    """
    from ferenda_spark.config import OWL_SAMEAS

    triples = triples.filter(F.col("pred") != OWL_SAMEAS)
    cm_s = canon_map.select(
        F.col("uri").alias("subj"), F.col("canon_uri").alias("_cs")
    )
    cm_o = canon_map.select(
        F.col("uri").alias("obj"), F.col("canon_uri").alias("_co")
    )
    return (
        triples.join(cm_s, "subj", "left")
        .join(cm_o, "obj", "left")
        .select(
            F.coalesce(F.col("_cs"), F.col("subj")).alias("subj"),
            F.col("pred"),
            F.when(F.col("obj_is_uri"), F.coalesce(F.col("_co"), F.col("obj")))
            .otherwise(F.col("obj"))
            .alias("obj"),
            F.col("obj_is_uri"),
            F.col("lang"),
            F.col("datatype"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
