"""P4 faux-bold strip, T4/T5 validations, J2 entry decoration,
A8/A9 status reports, and per-chunk bucket commits."""

import os
import tempfile
from datetime import datetime, timezone

from pyspark.sql import functions as F

from ferenda_spark.operators.emit import (
    validate_required_predicates,
    validate_unique_resources,
)
from ferenda_spark.operators.extract import strip_faux_bold
from ferenda_spark.operators.query import decorate_entries, entry_mismatches
from ferenda_spark.streaming.resume import (
    LINEAGE_SCHEMA,
    build_stats,
    done_parts,
    run_bucketed_stage,
    run_global_stage,
    status_report,
    with_bucket,
)


def test_strip_faux_bold(spark):
    # rfc.py:461-467: overstrike bold 'B\bB\bBold' -> 'Bold'
    df = spark.createDataFrame(
        [("B\x08B\x08Bold text",), ("plain",), ("_\x08u_\x08n_\x08derline",)], ["t"]
    )
    got = [r["s"] for r in df.select(strip_faux_bold(F.col("t")).alias("s")).collect()]
    assert got == ["Bold text", "plain", "underline"]


def test_validate_unique_resources(spark):
    segs = spark.createDataFrame(
        [
            ("u1", "section", "S1"),
            ("u1", "section", "S1"),  # duplicate frag within one doc
            ("u1", "section", "S2"),
            ("u2", "section", "S1"),  # same frag other doc: fine
            ("u2", "doc", ""),
            ("u3", "section", "S1"),
            ("u3", "section", "S2"),
            ("u3", "section", "S3"),
        ],
        ["url", "kind", "frag_id"],
    )
    warns = validate_unique_resources(segs, max_resources=2).collect()
    by_subject = {r["subject"]: r["warning"] for r in warns}
    assert by_subject["u1#S1"] == "resource encountered twice"
    assert "u3" in by_subject and "over 2 resources (3)" in by_subject["u3"]
    assert set(by_subject) == {"u1#S1", "u3"}


def test_validate_required_predicates(spark):
    from ferenda_spark.config import RDF_TYPE

    triples = spark.createDataFrame(
        [
            ("s1", RDF_TYPE, "T"),
            ("s1", "p:x", "v"),
            ("s2", "p:x", "v"),  # missing rdf:type
        ],
        ["subj", "pred", "obj"],
    )
    warns = validate_required_predicates(triples).collect()
    assert [r["subject"] for r in warns] == ["s2"]


def test_graph_diff(spark):
    from ferenda_spark.operators.emit import graph_diff

    a = spark.createDataFrame(
        [("s1", "p", "o"), ("s1", "p", "o"), ("s2", "p", "o")],
        ["subj", "pred", "obj"],
    )
    b = spark.createDataFrame(
        [("s1", "p", "o"), ("s2", "p", "o"), ("s3", "p", "o")],
        ["subj", "pred", "obj"],
    )
    got = {(r["op"], r["subj"]) for r in graph_diff(a, b).collect()}
    # duplicate s1 row in `a` is spurious (multiplicity-aware);
    # s3 only in `b` is missing
    assert got == {("spurious", "s1"), ("missing", "s3")}
    assert graph_diff(a, a).count() == 0


def test_decorate_entries_and_mismatches(spark):
    faceted = spark.createDataFrame(
        [("u:1", 2013), ("u:2", 2014)], ["uri", "year"]
    )
    entries = spark.createDataFrame(
        [("u:1", "Title 1"), ("u:3", "Orphan")], ["uri", "title"]
    )
    dec = decorate_entries(faceted, entries).collect()
    # matched entry decorated with the facet columns; orphan dropped
    assert [(r["uri"], r["title"], r["year"]) for r in dec] == [("u:1", "Title 1", 2013)]
    mism = entry_mismatches(faceted, entries).collect()
    assert [r["uri"] for r in mism] == ["u:3"]


def _lineage_rows(spark):
    t = lambda s: datetime(2026, 8, 17, 12, 0, s, tzinfo=timezone.utc)
    rows = [
        ("r1", "extract", 0, 10, t(0), t(5), "ok"),
        ("r1", "extract", 1, 12, t(5), t(9), "ok"),
        ("r1", "canonicalize", -1, 3, t(9), t(11), "ok"),
        ("r1", "segment", 0, 30, t(11), t(20), "ok"),
    ]
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)


def test_status_report(spark):
    rep = {r["stage"]: r for r in status_report(_lineage_rows(spark), 4).collect()}
    assert (rep["extract"]["n_ok"], rep["extract"]["n_todo"]) == (2, 2)
    # global stage counts as one bucket, fully done
    assert (rep["canonicalize"]["n_ok"], rep["canonicalize"]["n_todo"]) == (1, 0)
    assert (rep["segment"]["n_ok"], rep["segment"]["n_todo"]) == (1, 3)


def test_build_stats(spark):
    st = {r["stage"]: r for r in build_stats(_lineage_rows(spark)).collect()}
    assert (st["extract"]["n_partitions"], st["extract"]["n_rows"]) == (2, 22)
    assert st["extract"]["elapsed_sec"] == 9  # first start -> last finish
    assert st["canonicalize"]["elapsed_sec"] == 2


def test_bucketed_stage_per_chunk_commit_and_partial_resume(spark):
    nb = 8
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "stage")
        lin = os.path.join(tmp, "lineage")

        def data(marker):
            rows = [(f"https://x/{i}", marker) for i in range(200)]
            return with_bucket(
                spark.createDataFrame(rows, ["url", "marker"]), nb
            )

        run_bucketed_stage(spark, "s", data("v1"), out, lin, "r1", nb, set())
        lineage = spark.read.parquet(lin)
        # per-chunk commits leave >1 distinct (started, finished) group
        n_groups = lineage.select("started", "finished").distinct().count()
        assert n_groups >= 2
        # simulate a kill after the first chunk: keep only the lineage
        # rows of the earliest commit group
        first = lineage.orderBy("finished").first()["finished"]
        keep = lineage.filter(F.col("finished") == first).collect()
        kept_buckets = {r["partition_id"] for r in keep}
        assert 0 < len(kept_buckets) < nb
        import shutil

        shutil.rmtree(lin)
        spark.createDataFrame(keep, LINEAGE_SCHEMA).write.parquet(lin)
        # resume with CHANGED data: committed buckets must be reused
        # (still v1), only the uncommitted ones recompute (v2)
        run_bucketed_stage(
            spark, "s", data("v2"), out, lin, "r2", nb, done_parts(spark, lin)["s"]
        )
        got = spark.read.parquet(out).select("url_bucket", "marker").distinct().collect()
        for r in got:
            want = "v1" if r["url_bucket"] in kept_buckets else "v2"
            assert r["marker"] == want, (r, kept_buckets)


def test_global_stage_crash_between_write_and_lineage(spark):
    """Crash window of run_global_stage: output parquet landed but
    the lineage append never ran.  On resume the stage must re-run
    (done set lacks -1) and the overwrite must be idempotent; once
    lineage IS present, the builder must not be invoked again."""
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "canon")
        lin = os.path.join(tmp, "lineage")
        calls = []

        def build(marker):
            def fn():
                calls.append(marker)
                return spark.createDataFrame(
                    [(1, marker)], ["id", "marker"]
                )
            return fn

        # simulate the crash: the stage's write succeeded but the
        # process died before the lineage append -> out exists, no
        # lineage file at all
        build("v1")().write.mode("overwrite").parquet(out)
        assert not os.path.exists(lin)

        done = done_parts(spark, lin).get("g", set())
        got = run_global_stage(spark, "g", build("v2"), out, lin, "r2", done)
        # re-ran (idempotent overwrite), did not trust the orphan output
        assert calls == ["v1", "v2"]
        assert [r["marker"] for r in got.collect()] == ["v2"]
        lineage = spark.read.parquet(lin).collect()
        assert [(r["stage"], r["partition_id"], r["status"]) for r in lineage] == [
            ("g", -1, "ok")
        ]

        # lineage now ok -> a further resume skips the builder entirely
        done = done_parts(spark, lin)["g"]
        got2 = run_global_stage(spark, "g", build("v3"), out, lin, "r3", done)
        assert calls == ["v1", "v2"]
        assert [r["marker"] for r in got2.collect()] == ["v2"]
