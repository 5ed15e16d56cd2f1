"""Entity linking: name mentions -> gazetteer entities -> minted URIs.

Reference semantics (documentrepository.py:528-575 lookup_resource):
exact label match first, then fuzzy (difflib.get_close_matches,
cutoff 0.8) with a warning. The gazetteer is small (dimension-sized)
— classic broadcast join; the fuzzy pass only runs on the exact-miss
remainder, as a vectorized pandas UDF scoring each candidate name
against the broadcast label list.

Both passes read one driver-side (name_lower, label) list, built once
per gazetteer DataFrame, and `gazetteer_df` builds that DataFrame once
per session: repeated builds in a session run no gazetteer job.
"""

from __future__ import annotations

import weakref

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferenda_spark.config import PipelineConfig
from ferenda_spark.session import local_frame

GAZETTEER_SCHEMA = T.StructType(
    [
        T.StructField("slug", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("alt_labels", T.ArrayType(T.StringType()), True),
    ]
)


class _Gazetteer:
    """One gazetteer's (name_lower, label) pairs, which the fuzzy pass
    reads, and the exact pass's lookup table built from them: the two
    passes agree on the label of every name."""

    def __init__(self, spark: SparkSession, rows) -> None:
        # a label and its alt labels, first gazetteer row first: the
        # first row naming a lowercase name wins it
        pairs: dict[str, str] = {}
        for label, alt_labels in rows:
            for name in (label, *(alt_labels or ())):
                if name is not None:
                    pairs.setdefault(name.lower(), label)
        self.pairs = list(pairs.items())
        self.lookup = local_frame(
            spark, self.pairs, "name_lower string, label string"
        )


#: gazetteer DataFrame -> its _Gazetteer; filled without a Spark job
#: by gazetteer_df, and by one collect for any other gazetteer
_GAZETTEERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
#: (session, the DataFrame gazetteer_df returns for it), latest session
_session_gaz: tuple = (None, None)


def gazetteer_df(spark: SparkSession, cfg: PipelineConfig | None = None) -> DataFrame:
    """The built-in gazetteer (slug, label, alt_labels), one DataFrame
    per session.  Its rows do not depend on `cfg` (the minted URIs do,
    and they are not columns here)."""
    global _session_gaz
    from ferenda_spark.datagen import gazetteer_rows

    if _session_gaz[0] is not spark:
        rows = [
            (g["slug"], g["label"], g["alt_labels"]) for g in gazetteer_rows(cfg)
        ]
        gaz = local_frame(spark, rows, GAZETTEER_SCHEMA)
        _GAZETTEERS[gaz] = _Gazetteer(spark, [(r[1], r[2]) for r in rows])
        _session_gaz = (spark, gaz)
    return _session_gaz[1]


def _gazetteer(gaz: DataFrame) -> _Gazetteer:
    g = _GAZETTEERS.get(gaz)
    if g is None:
        rows = gaz.select("label", "alt_labels").collect()
        g = _GAZETTEERS[gaz] = _Gazetteer(gaz.sparkSession, rows)
    return g


def link_names(
    names: DataFrame,
    gaz: DataFrame,
    cfg: PipelineConfig,
    name_col: str = "publisher_name",
) -> DataFrame:
    """names(..., name_col) -> + entity_label, link_method.

    Exact pass: broadcast equi-join on lowercase name.
    Fuzzy pass: only exact-miss rows, difflib ratio >= cfg.fuzzy_cutoff
    against the broadcast candidate list (mirrors get_close_matches).
    A gazetteer from `gazetteer_df` starts no job here; any other is
    collected once, on its first use.
    """
    g = _gazetteer(gaz)
    exact = names.join(
        F.broadcast(g.lookup),
        F.lower(F.col(name_col)) == F.col("name_lower"),
        "left",
    ).drop("name_lower")

    names_l = [n for n, _ in g.pairs]
    by_name = dict(g.pairs)
    cutoff = cfg.fuzzy_cutoff

    @F.pandas_udf(T.StringType())
    def fuzzy_match(s: pd.Series) -> pd.Series:
        import difflib

        def best(v):
            if not v:
                return None
            got = difflib.get_close_matches(v.lower(), names_l, n=1, cutoff=cutoff)
            return by_name[got[0]] if got else None

        return s.map(best)

    # difflib is O(|label|²) per candidate — run it once per DISTINCT
    # unmatched surface form (misspellings repeat across a corpus:
    # web-scale name distributions are Zipf), then broadcast-join the
    # tiny resolution table back onto the rows.  Whether a name
    # exact-matches is a function of the name alone, so hit/miss
    # never splits rows of one surface form across branches — which
    # is what lets this stay ONE scan of `names` (exact left-join,
    # fuzzy-resolution left-join, coalesce) instead of the
    # hits/misses filter pair + union that would scan the upstream
    # (a segment-table slice) twice per consumer.
    miss_names = (
        exact.filter(F.col("label").isNull())
        .select(F.col(name_col).alias("_fz_name"))
        .distinct()
        .withColumn("_fz_label", fuzzy_match(F.col("_fz_name")))
    )
    return (
        exact.join(
            F.broadcast(miss_names),
            exact[name_col] == miss_names["_fz_name"],
            "left",
        )
        .drop("_fz_name")
        .withColumn(
            "link_method",
            F.when(F.col("label").isNotNull(), F.lit("exact")).when(
                F.col("_fz_label").isNotNull(), F.lit("fuzzy")
            ),
        )
        .withColumn("entity_label", F.coalesce("label", "_fz_label"))
        .drop("label", "_fz_label")
    )
