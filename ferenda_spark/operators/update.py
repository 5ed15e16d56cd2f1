"""SPARQL 1.1 Update front-end, Spark-functionally: `run_update`
takes the triples DataFrame and the update text and returns the NEW
triples DataFrame — the store is never mutated in place (DataFrames
are immutable; the caller persists the result, which is exactly the
reference's TripleStore.update() contract re-expressed for a
copy-on-write lake: /root/reference/ferenda/triplestore.py:164-183
runs the update against Fuseki/Sesame and `clear()` drops contexts).

Supported operations (';'-chained, each evaluated against the state
left by the previous one, per spec §3):

  INSERT DATA { ground quads }      DELETE DATA { ground quads }
  DELETE WHERE { patterns }
  DELETE { template } INSERT { template } WHERE { group }
  INSERT { template } WHERE { group }   (and DELETE-only form)
  CLEAR ALL | CLEAR GRAPH <g>       DROP ALL | DROP GRAPH <g>

Term-exact: ground literals keep lang tags / datatypes ("x"@en only
matches the @en row), IRIs match URI rows — the DATA/template quad
parser records term typing, unlike pattern matching which compares
term strings.  WITH / USING / named-graph quads are refused loudly.

Scale notes (the plans, not just the semantics):
- DELETE compiles to one LEFT ANTI join of the store against the
  instantiated delete set on the six term columns (null-safe); a
  query-sized delete set broadcasts under AQE, so the store is
  never shuffled for small deletes.
- INSERT is unionByName + dropDuplicates over the term columns —
  one key shuffle, the same copy-on-write cost as an Iceberg MERGE
  batch; chain several operations in one request to amortize it.
- CLEAR/DROP with a `graph` column is a pushed-down filter; without
  one, CLEAR ALL is limit(0) (schema kept, no scan).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ferenda_spark.operators.sparql import (
    SparqlSyntaxError,
    _compile_group,
    _empty_group,
    _parse_group,
    _parse_prologue,
    _resolve,
    _tokenize,
)
from ferenda_spark.session import local_frame

#: the engine's term columns, in store order
_TERM_COLS = ("subj", "pred", "obj", "obj_is_uri", "lang", "datatype")

#: trailing path quantifier on a subject/predicate template token —
#: property paths are query syntax, not QuadPattern syntax (Update
#: grammar); a path modifier surviving into a template would emit a
#: predicate string no store row has, silently deleting nothing
_PATH_MOD_RE = re.compile(r"(\*|\+|\{\d*,?\d*\})$")


def _ground_object(tok: str, prefixes: dict) -> tuple[str, bool, str | None, str | None]:
    """One object-position token -> (value, is_uri, lang, datatype).
    Literals keep their @lang / ^^<dt> tag (the tokenizer carries it
    on the token); IRIs and prefixed names resolve to URI terms."""
    if tok.startswith('"'):
        m = re.fullmatch(r'("(?:[^"\\]|\\.)*")(@[A-Za-z0-9-]+|\^\^\S+)?', tok)
        if not m:
            raise SparqlSyntaxError(f"cannot parse literal {tok!r}")
        val = _resolve(m.group(1), prefixes)
        tag = m.group(2)
        if tag is None:
            return val, False, None, None
        if tag.startswith("@"):
            return val, False, tag[1:], None
        return val, False, None, _resolve(tag[2:], prefixes)
    return _resolve(tok, prefixes), True, None, None


def _parse_quads(
    toks: list[str], i: int, prefixes: dict, allow_vars: bool
) -> tuple[list, int]:
    """Parse the body of a DATA block or an update template starting
    AFTER its '{': triples with '.' separators plus ';' (shared
    subject) and ',' (shared subject+predicate) lists.  Returns
    (entries, index past '}') where each entry is
    (s, p, (obj_value, is_uri, lang, dt)) and a variable term is the
    plain '?name' string (objects: ('?name', None, None, None))."""
    entries: list = []
    s = p = None

    def term(tok, *, object_pos=False):
        if tok.startswith("?"):
            if not allow_vars:
                raise SparqlSyntaxError(
                    "INSERT DATA / DELETE DATA take ground triples only"
                )
            return (tok, None, None, None) if object_pos else tok
        if object_pos:
            return _ground_object(tok, prefixes)
        if (
            tok in ("/", "|", "^", "(", ")", "!")
            or _PATH_MOD_RE.search(tok)
            or (tok.startswith("<") and not tok.endswith(">"))
        ):
            raise SparqlSyntaxError(
                f"property-path syntax {tok!r} is not allowed in "
                "update templates/quads (Update grammar: QuadPattern "
                "takes ground predicates or variables)"
            )
        return _resolve(tok, prefixes)

    while i < len(toks):
        t = toks[i]
        if t == "}":
            return entries, i + 1
        if t.upper() == "GRAPH":
            raise SparqlSyntaxError(
                "named-graph quads are not supported in updates — "
                "address the graph with CLEAR/DROP GRAPH or a "
                "graph-scoped WHERE"
            )
        s = term(t)
        i += 1
        while True:  # ';' predicate-object list
            p = term(toks[i])
            i += 1
            while True:  # ',' object list
                entries.append((s, p, term(toks[i], object_pos=True)))
                i += 1
                if i < len(toks) and toks[i] == ",":
                    i += 1
                    continue
                break
            if i < len(toks) and toks[i] == ";":
                i += 1
                if i < len(toks) and toks[i] in ("}", "."):
                    break  # trailing ';'
                continue
            break
        if i < len(toks) and toks[i] == ".":
            i += 1
    raise SparqlSyntaxError("unterminated quad block (missing '}')")


def _quads_df(spark, entries, like: DataFrame) -> DataFrame:
    """Ground entries -> a literal DataFrame in the triples schema
    (query-sized: broadcasts in the joins below)."""
    rows = [
        (s, p, o[0], bool(o[1]), o[2], o[3]) for s, p, o in entries
    ]
    df = local_frame(
        spark,
        rows,
        "subj string, pred string, obj string, obj_is_uri boolean, "
        "lang string, datatype string",
    )
    return _align(df, like)


def _align(df: DataFrame, like: DataFrame) -> DataFrame:
    """Project df to the term columns `like` actually has (lang /
    datatype are optional in the engine schema), keeping any extra
    non-term columns of the store out of the comparison."""
    cols = [c for c in _TERM_COLS if c in like.columns]
    return df.select(*cols)


def _instantiate(sols: DataFrame, entries: list) -> DataFrame:
    """Template entries × solutions -> triples-schema DataFrame.
    Variable objects re-emit their matched term metadata (same rule
    as CONSTRUCT in run_sparql); ground objects carry the typing the
    quad parser recorded (literals stay literals — more exact than
    CONSTRUCT's IRI default).  Rows with any unbound variable are
    not generated (spec §3.1.3)."""
    parts = []
    for s, p, (ov, o_uri, o_lang, o_dt) in entries:
        def nm(t):
            return F.col(t[1:]) if t.startswith("?") else F.lit(t)

        if ov.startswith("?") and o_uri is None:
            v = ov[1:]
            isuri = (
                F.coalesce(F.col(f"_isuri_{v}"), F.lit(False))
                if f"_isuri_{v}" in sols.columns
                else F.lit(True)
            )
            lang = (
                F.col(f"_lang_{v}") if f"_lang_{v}" in sols.columns
                else F.lit(None).cast("string")
            )
            dt = (
                F.col(f"_dt_{v}") if f"_dt_{v}" in sols.columns
                else F.lit(None).cast("string")
            )
        else:
            isuri = F.lit(bool(o_uri))
            lang = F.lit(o_lang).cast("string")
            dt = F.lit(o_dt).cast("string")
        parts.append(
            sols.select(
                nm(s).alias("subj"),
                nm(p).alias("pred"),
                nm(ov).alias("obj"),
                isuri.alias("obj_is_uri"),
                lang.alias("lang"),
                dt.alias("datatype"),
            ).filter(
                F.col("subj").isNotNull()
                & F.col("pred").isNotNull()
                & F.col("obj").isNotNull()
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.distinct()


def _delete(store: DataFrame, dels: DataFrame) -> DataFrame:
    """store ∖ dels on the term columns: one LEFT ANTI join with
    null-safe equality (lang/datatype are NULL-heavy); a small
    delete set broadcasts under AQE so the store side stays put."""
    dels = _align(dels, store).alias("d")
    cond = None
    for c in (c for c in _TERM_COLS if c in store.columns):
        eq = F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = eq if cond is None else cond & eq
    return (
        store.alias("s")
        .join(dels, cond, "left_anti")
        .select(*store.columns)
    )


def _insert(
    store: DataFrame, ins: DataFrame, small: bool = False
) -> DataFrame:
    """store ∪ ins with set semantics: dedup the (query-sized) batch
    and append only the genuinely-new rows.  Inserts target the
    DEFAULT graph (templates/DATA never carry a graph), so on a
    multi-graph store the existence probe compares against
    default-graph rows only — a triple present in a named graph is
    still added to the default graph, and rows the insert never
    touched (named-graph copies, extra store columns) are preserved
    verbatim rather than run through a store-wide dropDuplicates
    that could collapse or arbitrarily replace them.

    Plan — the store must NEVER shuffle for a small insert, and a
    plain `batch LEFT ANTI store` cannot deliver that: left-anti
    hash joins only build on the RIGHT side, so the huge store can
    never be the broadcast side and both sides sort-merge-shuffle.
    Instead the existence probe runs store-side-out:

      hits = store LEFT SEMI batch   (right side batch: broadcast,
                                      store is scan-only)
      new  = batch LEFT ANTI hits    (hits ≤ |batch| rows: broadcast)

    so a 3-row INSERT DATA against a 10^12-triple store is two
    broadcast joins over one store scan, zero store shuffles.  The
    dedup shuffles only the BATCH.

    `small=True` (INSERT DATA: the batch is a parsed ground-quad
    list, bounded by the update text itself) adds explicit broadcast
    hints; template inserts leave the decision to AQE, which
    broadcasts the semi/anti RIGHT sides at runtime when their
    observed size allows — the join ORDER above is what makes that
    possible in both cases."""
    term_cols = [c for c in _TERM_COLS if c in store.columns]
    batch = _align(ins, store).dropDuplicates(term_cols).alias("d")
    tgt = (
        store.filter(F.col("graph").isNull())
        if "graph" in store.columns
        else store
    )
    cond = None
    for c in term_cols:
        eq = F.col(f"d.{c}").eqNullSafe(F.col(f"s.{c}"))
        cond = eq if cond is None else cond & eq
    probe = F.broadcast(batch) if small else batch
    hits = (
        tgt.alias("s")
        .join(probe, cond, "left_semi")
        .select(*[F.col(c).alias(c) for c in store.columns])
        .alias("s")
    )
    new_rows = batch.join(
        F.broadcast(hits) if small else hits, cond, "left_anti"
    )
    return store.unionByName(new_rows, allowMissingColumns=True)


def run_update(
    triples: DataFrame,
    text: str,
    params: dict | None = None,
    max_path_hops: int = 3,
) -> DataFrame:
    """Execute a SPARQL Update request (the subset above) against
    the triples table and return the resulting triples table.
    Operations chain with ';' and each sees its predecessors'
    effects; within one DELETE/INSERT..WHERE the WHERE and both
    templates all read the pre-operation state (spec §3.1.3).

    Error contract: malformed input of ANY shape raises
    SparqlSyntaxError (same as parse_sparql — never a bare
    IndexError/ValueError from token lookahead)."""
    if params:
        text = text % params
    try:
        return _run_update_toks(triples, _tokenize(text), max_path_hops)
    except SparqlSyntaxError:
        raise
    except (IndexError, ValueError) as e:
        raise SparqlSyntaxError(f"malformed update: {e}") from e


def _run_update_toks(
    triples: DataFrame, toks: list[str], max_path_hops: int
) -> DataFrame:
    prefixes: dict = {}
    i = _parse_prologue(toks, 0, prefixes)
    store = triples
    first = True
    while i < len(toks):
        if not first:
            if toks[i] != ";":
                raise SparqlSyntaxError(
                    f"expected ';' between update operations, got {toks[i]!r}"
                )
            # the Update grammar re-allows a prologue after each ';'
            i = _parse_prologue(toks, i + 1, prefixes)
            if i >= len(toks):
                break  # trailing ';'
        first = False
        kw = toks[i].upper()
        if kw in ("WITH", "USING", "LOAD", "COPY", "MOVE", "ADD", "CREATE"):
            raise SparqlSyntaxError(f"unsupported update form {kw}")
        if kw in ("CLEAR", "DROP"):
            # SILENT is accepted and meaningless here (nothing errors)
            i += 1
            if i < len(toks) and toks[i].upper() == "SILENT":
                i += 1
            tgt = toks[i].upper() if i < len(toks) else ""
            if tgt in ("ALL", "DEFAULT", "NAMED"):
                i += 1
                # scoping on a multi-graph store: the default graph
                # is the NULL-graph rows, NAMED is everything else; a
                # graph-less store IS the default graph, so NAMED is
                # a no-op there (there are no named graphs to drop)
                if tgt == "ALL":
                    store = store.limit(0)
                elif tgt == "DEFAULT":
                    store = (
                        store.filter(F.col("graph").isNotNull())
                        if "graph" in store.columns
                        else store.limit(0)
                    )
                elif "graph" in store.columns:  # NAMED
                    store = store.filter(F.col("graph").isNull())
            elif tgt == "GRAPH":
                g = _resolve(toks[i + 1], prefixes)
                i += 2
                if "graph" in store.columns:
                    store = store.filter(
                        ~F.col("graph").eqNullSafe(F.lit(g))
                    )
                else:
                    raise SparqlSyntaxError(
                        "CLEAR/DROP GRAPH needs a graph column in the store"
                    )
            else:
                raise SparqlSyntaxError(
                    "CLEAR/DROP take ALL, DEFAULT, NAMED or GRAPH <g>"
                )
            continue
        if kw in ("INSERT", "DELETE"):
            nxt = toks[i + 1].upper() if i + 1 < len(toks) else ""
            if nxt == "DATA":
                if toks[i + 2] != "{":
                    raise SparqlSyntaxError(f"{kw} DATA needs '{{'")
                entries, i = _parse_quads(toks, i + 3, prefixes, allow_vars=False)
                qdf = _quads_df(store.sparkSession, entries, store)
                store = (
                    _insert(store, qdf, small=True) if kw == "INSERT"
                    else _delete(store, qdf)
                )
                continue
            if kw == "DELETE" and nxt == "WHERE":
                # DELETE WHERE { P }: P is both pattern and template
                if toks[i + 2] != "{":
                    raise SparqlSyntaxError("DELETE WHERE needs '{'")
                entries, i = _parse_quads(toks, i + 3, prefixes, allow_vars=True)
                g = _empty_group()
                g["patterns"] = [(s, p, o[0]) for s, p, o in entries]
                sols, _ = _compile_group(store, g, max_path_hops)
                store = _delete(store, _instantiate(sols, entries))
                continue
            # templated form: DELETE {t} [INSERT {t2}] WHERE {g} or
            # INSERT {t} WHERE {g}
            del_entries = ins_entries = None
            if kw == "DELETE":
                if toks[i + 1] != "{":
                    raise SparqlSyntaxError("DELETE needs '{ template }'")
                del_entries, i = _parse_quads(toks, i + 2, prefixes, allow_vars=True)
                if i < len(toks) and toks[i].upper() == "INSERT":
                    if toks[i + 1] != "{":
                        raise SparqlSyntaxError("INSERT needs '{ template }'")
                    ins_entries, i = _parse_quads(
                        toks, i + 2, prefixes, allow_vars=True
                    )
            else:
                if toks[i + 1] != "{":
                    raise SparqlSyntaxError("INSERT needs '{ template }'")
                ins_entries, i = _parse_quads(toks, i + 2, prefixes, allow_vars=True)
            if i >= len(toks) or toks[i].upper() != "WHERE" or toks[i + 1] != "{":
                raise SparqlSyntaxError(
                    "templated DELETE/INSERT needs WHERE { ... }"
                )
            g, i = _parse_group(toks, i + 2, prefixes)
            sols, _ = _compile_group(store, g, max_path_hops)
            # both templates instantiate against the same solution
            # set over the pre-operation store, THEN delete, THEN
            # insert (spec §3.1.3 ordering)
            new = store
            if del_entries:
                new = _delete(new, _instantiate(sols, del_entries))
            if ins_entries:
                new = _insert(new, _instantiate(sols, ins_entries))
            store = new
            continue
        raise SparqlSyntaxError(f"unsupported update operation {toks[i]!r}")
    return store
