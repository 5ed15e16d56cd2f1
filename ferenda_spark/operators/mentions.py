"""Mention stage: sections -> mentions, plus mention -> URI formatting.

The scan (reference: citationparser.py:65-165 grammar application
with claim-masking — a later grammar only sees spans no earlier
grammar claimed) has two engines:

- ``jvm`` (default): pure Catalyst expressions. Per pattern,
  ``regexp_extract_all`` yields the match texts and ``split`` the
  between-match gaps, whose cumulative lengths reconstruct the match
  offsets; claim-masking is an interval-overlap ``filter``/``exists``
  over the higher-priority patterns' kept arrays. No Python worker
  and no Arrow transfer of the text corpus — at web scale the scan
  otherwise ships every byte of text out of the JVM a second time
  (the FSM segmentation pass being the first).
- ``python``: the original vectorized pandas UDF over the compiled
  registry (``functions.patterns.scan_text``) — kept as the
  executable semantic reference; a differential pytest holds the two
  engines byte-identical. The registry regexes must stay in the
  portable dialect subset (they do: literal classes, ``\\d``,
  non-capturing groups) since the jvm engine hands them to Java.

The reference's recursive tree markup stays a join against entities
instead. URI formatting (uriformatter.py:32-52 rule-dict semantics)
is pure column expressions keyed by pattern name in both engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferenda_spark.config import PipelineConfig

_MENTION_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("pattern", T.StringType()),
            T.StructField("mention_text", T.StringType()),
            T.StructField("captured", T.MapType(T.StringType(), T.StringType())),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)


@F.pandas_udf(_MENTION_STRUCT)
def _scan_udf(texts: pd.Series) -> pd.Series:
    from ferenda_spark.functions.patterns import scan_text

    return texts.map(lambda t: scan_text(t) if t else [])


#: trailing-punctuation strip for url matches, as a Java regex
#: (patterns._URL_TRAILING as a char class anchored at end)
_URL_STRIP_RX = r"[.,;:)\]}>'\"!?]+$"


_MENTION_ARR_DDL = (
    "array<struct<pattern:string,mention_text:string,"
    "captured:map<string,string>,start:int,end:int>>"
)


def _let(bindings: dict, body):
    """Let-binding for Catalyst expressions: evaluate each binding
    ONCE, expose them to `body` as lambda-variable references.

    Catalyst duplicates an expression everywhere its Column is
    reused (no common-subexpression elimination inside lambda
    bodies), so a regexp_extract_all referenced per array element
    re-scans the text per element — measured 18× slower than the
    pandas UDF.  transform over a one-element struct array turns
    each binding into a cheap variable lookup; `body` receives the
    struct lambda variable."""
    wrapper = F.array(F.struct(*[v.alias(k) for k, v in bindings.items()]))
    return F.element_at(F.transform(wrapper, body), 1)


def _pattern_matches_built(w, name: str, cap_names: list):
    """Mention-struct array for ONE pattern from let-bound arrays
    (w[name_full], w[name_parts], w[name_cap_*]).

    Offset reconstruction: with parts = split(text, rx) and
    full = regexp_extract_all(text, rx, 0),
    text = parts[0] + full[0] + parts[1] + full[1] + …, so one O(n)
    aggregate carries (chars consumed so far) and appends each
    mention struct with start = pos + len(gap)."""
    fl = w[f"{name}_full"]
    pt = w[f"{name}_parts"]
    n = F.size(fl)
    idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    zipped = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(fl, i).alias("m"),
            F.element_at(pt, i).alias("gap"),
            *[
                F.element_at(w[f"{name}_cap_{c}"], i).alias(f"cap_{c}")
                for c in cap_names
            ],
        ),
    )
    init = F.struct(
        F.lit(0).alias("pos"),
        F.expr("array()").cast(_MENTION_ARR_DDL).alias("ms"),
    )

    def step(acc, x):
        start = acc["pos"] + F.length(x["gap"])
        raw = x["m"]
        txt = F.regexp_replace(raw, _URL_STRIP_RX, "") if name == "url" else raw
        if cap_names:
            cap = F.map_from_arrays(
                F.array(*[F.lit(c) for c in cap_names]),
                F.array(*[x[f"cap_{c}"] for c in cap_names]),
            )
        else:
            cap = F.create_map().cast("map<string,string>")
        mention = F.struct(
            F.lit(name).alias("pattern"),
            txt.alias("mention_text"),
            cap.alias("captured"),
            start.cast("int").alias("start"),
            (start + F.length(txt)).cast("int").alias("end"),
        )
        return F.struct(
            (start + F.length(raw)).alias("pos"),
            F.array_append(acc["ms"], mention).alias("ms"),
        )

    arr = F.aggregate(zipped, init, step, lambda acc: acc["ms"])
    if name == "url":
        arr = F.filter(arr, lambda m: m["mention_text"] != "")
    return arr


def _jvm_scan_col(text):
    """All patterns with claim-masking, priority order: a match
    survives iff it overlaps no kept match of any earlier pattern
    (patterns.scan_text semantics, expression-for-expression).
    Every regex runs exactly once per row: the extract/split arrays
    are let-bound, and the per-pattern mention arrays are let-bound
    again before the masking chain (which references each array up
    to P times)."""
    from ferenda_spark.functions.patterns import PATTERNS

    bindings = {}
    for pname, rx, groups in PATTERNS:
        bindings[f"{pname}_full"] = F.regexp_extract_all(
            text, F.lit(rx.pattern), F.lit(0)
        )
        bindings[f"{pname}_parts"] = F.split(text, rx.pattern, -1)
        for g, cap in groups.items():
            bindings[f"{pname}_cap_{cap}"] = F.regexp_extract_all(
                text, F.lit(rx.pattern), F.lit(g)
            )

    def masked(w):
        arrs = {
            pname: _pattern_matches_built(w, pname, list(groups.values()))
            for pname, _, groups in PATTERNS
        }
        return _let(
            {pname: arrs[pname] for pname in arrs},
            lambda wa: _mask_and_sort(wa, [p for p, _, _ in PATTERNS]),
        )

    return _let(bindings, masked)


#: (py4j gateway, _jvm_scan_col(F.col("text"))) for the live JVM
_text_scan: tuple = (None, None)


def _text_scan_col():
    """The scan of the `text` column, built once per live JVM: the
    expression is the same for every build, and assembling it takes
    a few thousand py4j calls.  A new gateway (the JVM was restarted)
    builds it again."""
    global _text_scan
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if _text_scan[0] is not gateway or gateway is None:
        _text_scan = (gateway, _jvm_scan_col(F.col("text")))
    return _text_scan[1]


def _mask_and_sort(wa, names: list):
    # NOTE scale bound: the exists() probe is pairwise — O(M²) in
    # mentions per SECTION (JVM codegen comparisons: ~10 s at 10^5
    # mentions in one section, fine at the corpus' real section
    # sizes).  The python engine (patterns.scan_text) is the
    # O(M log M) path for link-farm-shaped rows.
    claimed = None
    for pname in names:
        arr = wa[pname]
        if claimed is None:
            claimed = arr
        else:

            def unclaimed(prior):
                return lambda m: ~F.exists(
                    prior,
                    lambda c: (c["start"] < m["end"]) & (m["start"] < c["end"]),
                )

            claimed = F.concat(claimed, F.filter(arr, unclaimed(claimed)))
    return F.array_sort(
        claimed,
        lambda l, r: F.when(l["start"] < r["start"], F.lit(-1))
        .when(l["start"] > r["start"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def detect_mentions(segments: DataFrame, engine: str = "jvm") -> DataFrame:
    """segments -> mentions(url, frag_id, pattern, mention_text,
    captured, start, end). Scans section text and the doc-level
    abstract row alike.  engine='jvm' (default) keeps the scan in
    Catalyst expressions; engine='python' runs the pandas-UDF
    reference implementation."""
    scan = _text_scan_col() if engine == "jvm" else _scan_udf(F.col("text"))
    return (
        segments.select(
            "url",
            "docid",
            "frag_id",
            F.explode(scan).alias("m"),
        )
        .select(
            "url",
            "docid",
            "frag_id",
            F.col("m.pattern").alias("pattern"),
            F.col("m.mention_text").alias("mention_text"),
            F.col("m.captured").alias("captured"),
            F.col("m.start").alias("start"),
            F.col("m.end").alias("end"),
        )
    )


def mention_target_uri(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Attach `target_uri` per mention via the formatter rule dict.

    section_internal needs the subject document's own URI; the
    docid rides on every mention row (stamped at segmentation —
    SURVEY.md §4: avoid a |docs|-sized join by construction).
    """
    base = f"{cfg.base_uri}/res/{cfg.alias}"
    own_docid = F.col("docid")
    target = (
        F.when(
            F.col("pattern") == "sec_of_rfc",
            F.concat(
                F.lit(base + "/"),
                F.col("captured")["rfc"],
                F.lit("#S"),
                F.col("captured")["section"],
            ),
        )
        .when(
            F.col("pattern") == "rfc",
            F.concat(F.lit(base + "/"), F.col("captured")["rfc"]),
        )
        .when(F.col("pattern") == "url", F.col("mention_text"))
        .when(
            F.col("pattern") == "section_internal",
            F.concat(
                F.lit(base + "/"), own_docid, F.lit("#S"), F.col("captured")["section"]
            ),
        )
        .otherwise(F.lit(None))
    )
    return mentions.withColumn("target_uri", target)
