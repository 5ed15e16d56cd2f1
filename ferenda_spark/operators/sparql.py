"""SPARQL text front-end: run the reference's .rq files directly.

ferenda ships its graph queries as SPARQL template files
(/root/reference/ferenda/res/sparql/annotations.rq, interpolated
with %(uri)s and executed through rdflib/a remote store — triple
store select/construct surface, devel.py:1098,1119).  This module
parses the subset those templates use and compiles it onto
graphquery's distributed BGP engine, so the VERBATIM reference
query text runs against the Spark triples table:

  PREFIX declarations · SELECT [DISTINCT] ?v ... / SELECT COUNT(*)
  / CONSTRUCT { template } / ASK (a lazy LIMIT-1 existence probe)
  / DESCRIBE <iri>|?v [WHERE] (simple subject description: a pushed
  isin scan for ground IRIs, a semi-join for pattern-bound vars)
  · subqueries { SELECT ... } (evaluated bottom-up against the
  dataset, aggregation/LIMIT before the outward compatible join —
  spec §12; usable as UNION branches) · SELECT (expr AS ?alias)
  projection expressions (§18.2.4.2 Extend, via the BIND
  translator; in an aggregated SELECT they evaluate AFTER
  Aggregation — embedded aggregate calls become hidden aggregate
  columns, so (SUM(?x)/COUNT(?x) AS ?r), expressions over group
  keys and chained alias references work) · FROM <g> dataset
  clauses · basic graph
  patterns ('a' = rdf:type) · OPTIONAL { ... } (exact §18.5
  compatible-merge LeftJoin, any body content incl. nested
  OPTIONALs/UNIONs/subqueries) · { ... } UNION
  { ... } chains (branches may be subqueries) · GRAPH <g> { ... } · BIND(?a AS ?b) (keeps term
  metadata) and BIND(expr AS ?b) with CONCAT/UCASE/LCASE/STRLEN/
  SUBSTR/REPLACE/IF/COALESCE/ABS/ROUND/CEIL/FLOOR, plus IRI()/URI()
  constructors marking the computed term a resource (SPARQL-side
  URI minting, usable in CONSTRUCT) · FILTER with
  comparisons, && || !, ?x IN (...), STR(), STRSTARTS()/STRENDS()/
  CONTAINS(), BOUND(), isUri()/isIRI()/isLiteral()/lang()/datatype(),
  REGEX(?v, "pat"[, "imsq"]) -> RLIKE, LANGMATCHES(LANG(?v), "range")
  (RFC 4647 basic filtering), exact STRBEFORE/STRAFTER and
  ENCODE_FOR_URI (RFC 3986 per-code-point percent-encoding) special
  forms, binary + - * / and unary minus over TRY_CAST doubles
  (division is try_divide — a type error or /0 drops the row, never
  an ANSI task failure), ?x NOT IN (...), sameTerm(a, b) (full
  four-component term identity: value/kind/lang/datatype),
  isNumeric() (TRY_CAST relational reading) and isBlank() (constant
  false — every node is a minted IRI, blank nodes are skolemized by
  construction; both NULL-propagate for unbound), the hash family
  MD5/SHA1/SHA256/SHA384/SHA512 (§17.4.4, lowercase hex over UTF-8
  bytes), and the xsd:dateTime accessors YEAR/MONTH/DAY/HOURS/
  MINUTES/SECONDS/TZ (§17.4.5; literal-clock exact — the offset is
  stripped before the cast, TZ reads it off the lexical form,
  SECONDS keeps the fraction; engine extension: gYear/gYearMonth
  lexical forms are padded so the corpus' dcterms:issued works)
  · VALUES ?v { ... } (an
  isin() filter, pushed into the pattern scans; over a
  maybe-unbound variable, the exact compatible-merge broadcast join
  — unbound rows multiply by the value list and take each value)
  and the table form VALUES (?a ?b) { (..) .. } (broadcast inner
  join, same compatible-merge when a variable may be unbound)
  · property paths
  pred+ / pred* / pred{m,n} (bounded; see graphquery), sequences
  a/b (rewritten to a chain of patterns through hidden fresh vars),
  inverse ^a (swapped endpoints), alternation a|b (a UNION of
  branches; SPARQL precedence — sequence binds tighter), quantified
  parenthesized paths (a/b)+ (a|b)* (bounded closure over the
  composed edge relation), negated property sets !a / !(a|^b)
  (Not-In-pushed scan + endpoint-swapped inverse part), quantified
  NPS !(a|^b)+ / !a* / !a{m,n} (bounded closure over the complement
  edge relation; composes as an element of quantified bodies) ·
  MINUS / FILTER NOT EXISTS / FILTER EXISTS
  (LEFT ANTI / LEFT SEMI joins on shared variables; with disjoint
  domains each form gets its exact divergent spec semantics — MINUS
  keeps everything, [NOT] EXISTS is an all-or-nothing probe) ·
  UNION branches that skip a join variable (exact compatible-merge:
  per-branch equi-joins, NULL-signature split for per-row unbound
  join vars — see _compat_join) ·
  ORDER BY [ASC|DESC] / LIMIT / OFFSET
  (compiled to the top-(offset+limit) TakeOrderedAndProject plan,
  never a global sort) ·
  GROUP BY ?v... with projected aggregates (AGG(...) AS ?alias) —
  COUNT([DISTINCT] ?v|*), SUM/AVG (TRY_CAST numeric), MIN/MAX
  (engine term order), SAMPLE (deterministic min),
  GROUP_CONCAT(?v; SEPARATOR="s") (sorted members) — and HAVING over
  aggregate expressions (compiled to hidden agg columns + a
  post-aggregation filter; one shuffle, map-side partial agg)

This is the COMPLETE construct inventory of the reference's shipped
query corpus (every .rq under /root/reference — annotations.rq,
rfc-annotations.rq, describe-base/with-subdocs.rq, sfs_*.rq,
keyword_*.rq, dv/avg/prop-annotations.rq) — each of those files
parses and runs verbatim here (tests/test_sparql.py runs the whole
corpus).  GRAPH <g> scopes matching to rows whose `graph` column
equals g when the triples table has one, and is a no-op on a
single-graph table (the reference's GRAPH blocks select a
triplestore context, storage addressing rather than query logic —
ferenda/triplestore.py).

Parsing happens once on the driver (microseconds, plain strings);
everything data-sized stays in the compiled DataFrame plan.  Not a
full SPARQL 1.1 implementation — it raises loudly on syntax it does
not cover rather than guessing.
"""

from __future__ import annotations

import contextvars
import re

from pyspark.sql import DataFrame

from ferenda_spark.operators.graphquery import (
    _fold_patterns,
    _join,
    _visible,
    emit_templates,
    use_graph_var,
)
from ferenda_spark.session import local_frame

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

#: FROM NAMED <g> dataset clauses of the query being compiled:
#: restrict which graphs a GRAPH ?var may range over (spec §13.2).
#: Set by run_sparql around compilation, read in _compile_group's
#: variable-graph branch.  Compile-time only.
_ACTIVE_FROM_NAMED: contextvars.ContextVar = contextvars.ContextVar(
    "ferenda_from_named", default=()
)

_TOKEN_RE = re.compile(
    r"""
      <[^>\s]*>                                 # IRI (never spans spaces,
                                                #  so '?x < 5 … ?y > 2'
                                                #  cannot read as one)
    | "(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9-]+              # literal (+lang tag,
        |\^\^<[^>\s]*>                                #  +bracketed dt IRI —
        |\^\^[A-Za-z_][\w-]*:[\w.-]*)?                #  +prefixed dt; never
                                                      #  swallows ')' etc.
    | \?[A-Za-z_]\w*                            # variable
    | [A-Za-z_][\w-]*:[\w.-]*[*+]?              # prefixed name (+path mod)
    | [A-Za-z_][A-Za-z0-9_]*                    # bare keyword / 'a'
    | \d+(?:\.\d+)?                             # number
    | [{}().;,/^]                               # punctuation / path ops
    | [*+]                                      # standalone path modifier
    | \|\| | && | != | <= | >=                  # two-char operators
    | [<>=!|&-]                                 # one-char operators
                                                #  (never merged runs: '|<iri>'
                                                #  must not lex as one token)
    """,
    re.VERBOSE,
)


class SparqlSyntaxError(ValueError):
    pass


def _tokenize(text: str) -> list[str]:
    # full-line comments only (a '#' inside an IRI must survive)
    lines = [ln for ln in text.splitlines() if not ln.lstrip().startswith("#")]
    return _TOKEN_RE.findall("\n".join(lines))


def _sql_str(val: str) -> str:
    """Escape a python string for inlining into a Spark SQL string
    literal.  Backslash FIRST (Spark's parser treats ``\\`` as an
    escape introducer inside string literals, so a bare backslash
    in e.g. sameTerm(?x, "a\\b") would silently re-interpret), then
    standard quote doubling."""
    return val.replace("\\", "\\\\").replace("'", "''")


def _resolve(term: str, prefixes: dict[str, str]) -> str:
    """One token -> engine term (``?var`` kept, IRIs/literals
    resolved to plain strings — graphquery matches on the string)."""
    if term.startswith("?"):
        if re.fullmatch(r"\?_pv\d+", term):
            raise SparqlSyntaxError(
                "?_pv<N> variable names are reserved for path rewriting"
            )
        return term
    if term.startswith("<"):
        return term[1:-1]
    if term.startswith('"'):
        m = re.match(r'"((?:[^"\\]|\\.)*)"', term)
        return m.group(1).replace('\\"', '"').replace("\\\\", "\\")
    if term == "a":
        return _RDF_TYPE
    if ":" in term:
        mod = ""
        if term.endswith(("*", "+")):
            term, mod = term[:-1], term[-1]
        pfx, local = term.split(":", 1)
        if pfx not in prefixes:
            raise SparqlSyntaxError(f"undeclared prefix {pfx!r}")
        return prefixes[pfx] + local + mod
    raise SparqlSyntaxError(f"cannot parse term {term!r}")


def _empty_group() -> dict:
    return {
        "patterns": [],
        "optionals": [],
        "filters": [],
        "unions": [],
        "binds": [],
        "graphs": [],
        "minus": [],
        "values": [],
        "subgroups": [],
        "subselects": [],
        "binds_expr": [],
        "values_multi": [],
    }


def _inline(into: dict, sub: dict) -> None:
    for k in into:
        into[k] += sub[k]


def _parse_group(toks: list[str], i: int, prefixes: dict) -> tuple[dict, int]:
    """Parse tokens of one { } group starting AFTER its '{'.
    Returns ({patterns, optionals, filters, unions, binds, graphs},
    next_index)."""
    g = _empty_group()
    while i < len(toks):
        t = toks[i]
        if t == "}":
            return g, i + 1
        if t == ".":
            i += 1
            continue
        if t == "{":  # subgroup, subquery, or a UNION chain
            if i + 1 < len(toks) and toks[i + 1].upper() == "SELECT":
                sub, i = _parse_subselect(toks, i + 1, prefixes)
                if not (i < len(toks) and toks[i].upper() == "UNION"):
                    g["subselects"].append(sub)
                    continue
                # a subquery AS a UNION branch (spec: any branch is a
                # GroupGraphPattern, which may be a subselect): wrap
                # it in its own group so the union compile evaluates
                # it bottom-up like any other branch
                wrap = _empty_group()
                wrap["subselects"].append(sub)
                alts = [wrap]
            else:
                sub, i = _parse_group(toks, i + 1, prefixes)
                alts = [sub]
            while i < len(toks) and toks[i].upper() == "UNION":
                if toks[i + 1] != "{":
                    raise SparqlSyntaxError("UNION must be followed by '{'")
                if toks[i + 2].upper() == "SELECT":
                    sq, i = _parse_subselect(toks, i + 2, prefixes)
                    wrap = _empty_group()
                    wrap["subselects"].append(sq)
                    alts.append(wrap)
                else:
                    sub, i = _parse_group(toks, i + 2, prefixes)
                    alts.append(sub)
            if len(alts) < 2:
                # a bare nested group: inlining is sound only when the
                # group carries nothing scope-sensitive — OPTIONAL and
                # FILTER (and anything built on them) scope to their
                # enclosing group (spec §18.2.2), so hoisting them
                # would left-join/filter against the OUTER solutions
                sub = alts[0]
                if any(sub[k] for k in sub if k not in ("patterns", "values")):
                    g["subgroups"].append(sub)
                else:
                    _inline(g, sub)
            else:
                g["unions"].append(alts)
            continue
        if t.upper() == "OPTIONAL":
            if toks[i + 1] != "{":
                raise SparqlSyntaxError("OPTIONAL must be followed by '{'")
            sub, i = _parse_group(toks, i + 2, prefixes)
            # any group content is allowed in an OPTIONAL body —
            # group-scoped FILTERs apply before the left join, and
            # nested OPTIONALs / UNIONs / subqueries compile
            # recursively; the LeftJoin itself is the exact
            # compatible-merge (_compat_left)
            g["optionals"].append(sub)
            continue
        if t.upper() == "GRAPH":
            # GRAPH <g> { ... }: the reference uses this to address a
            # triplestore context; we scope to the `graph` column
            gterm = _resolve(toks[i + 1], prefixes)
            if toks[i + 2] != "{":
                raise SparqlSyntaxError("GRAPH <g> must be followed by '{'")
            sub, i = _parse_group(toks, i + 3, prefixes)
            g["graphs"].append((gterm, sub))
            continue
        if t.upper() == "BIND":
            # BIND(?src AS ?dst) keeps term metadata (the corpus'
            # form); BIND(expr AS ?dst) compiles the expression via
            # the FILTER translator (CONCAT/IF/COALESCE/UCASE/... )
            if toks[i + 1] != "(":
                raise SparqlSyntaxError("BIND needs '( expr AS ?var )'")
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                if toks[j] == "(":
                    depth += 1
                elif toks[j] == ")":
                    depth -= 1
                j += 1
            if depth:
                raise SparqlSyntaxError("unbalanced BIND parens")
            inner = toks[i + 2 : j - 1]
            d2, k_as = 0, None
            for k, tk in enumerate(inner):
                if tk == "(":
                    d2 += 1
                elif tk == ")":
                    d2 -= 1
                elif d2 == 0 and tk.upper() == "AS":
                    k_as = k
            if (
                k_as is None
                or k_as != len(inner) - 2
                or not inner[-1].startswith("?")
            ):
                raise SparqlSyntaxError("BIND needs '( expr AS ?var )'")
            dst = inner[-1][1:]
            expr = inner[:k_as]
            if len(expr) == 1 and expr[0].startswith("?"):
                g["binds"].append((expr[0][1:], dst))
            else:
                expr, is_uri = _strip_iri_wrapper(expr)
                refs = [tk[1:] for tk in expr if tk.startswith("?")]
                g["binds_expr"].append(
                    (_filter_sql(expr, prefixes), dst, refs, is_uri)
                )
            i = j
            continue
        if t.upper() == "VALUES":
            # single-variable form VALUES ?v { t1 t2 } compiles to an
            # isin() filter Catalyst pushes into the pattern scans
            # (bound var) or a broadcast compatible-merge join
            # (maybe-unbound var); the table form
            # VALUES (?a ?b) { ("x" "y") ... } to a broadcast inner
            # join on a literal DataFrame.  UNDEF is refused (it
            # would need per-cell compatible-merge).  Per-term
            # uri-ness is captured so a filled-in value carries
            # correct term metadata.
            if toks[i + 1].startswith("?") and toks[i + 2] == "{":
                var = toks[i + 1][1:]
                j = toks.index("}", i + 3)
                vals = [_resolve(tk, prefixes) for tk in toks[i + 3 : j]]
                uris = [not tk.startswith('"') for tk in toks[i + 3 : j]]
                if not vals:
                    raise SparqlSyntaxError("empty VALUES list")
                g["values"].append((var, vals, uris))
                i = j + 1
                continue
            if toks[i + 1] != "(":
                raise SparqlSyntaxError(
                    "VALUES needs ?v { ... } or (?v ...) { (...) ... }"
                )
            j = i + 2
            vars_ = []
            while j < len(toks) and toks[j].startswith("?"):
                vars_.append(toks[j][1:])
                j += 1
            if not vars_ or toks[j] != ")" or toks[j + 1] != "{":
                raise SparqlSyntaxError(
                    "VALUES table form needs (?v ...) { (...) ... }"
                )
            j += 2
            rows, uri_rows = [], []
            while j < len(toks) and toks[j] == "(":
                row, urow, j = [], [], j + 1
                while j < len(toks) and toks[j] != ")":
                    if toks[j].upper() == "UNDEF":
                        raise SparqlSyntaxError(
                            "UNDEF in VALUES is not supported — it "
                            "needs per-cell compatible-merge"
                        )
                    urow.append(not toks[j].startswith('"'))
                    row.append(_resolve(toks[j], prefixes))
                    j += 1
                if j >= len(toks) or len(row) != len(vars_):
                    raise SparqlSyntaxError(
                        "VALUES row arity mismatch or unclosed row"
                    )
                rows.append(tuple(row))
                uri_rows.append(tuple(urow))
                j += 1
            if j >= len(toks) or toks[j] != "}" or not rows:
                raise SparqlSyntaxError("malformed VALUES table")
            g["values_multi"].append((vars_, rows, uri_rows))
            i = j + 1
            continue
        if t.upper() == "MINUS":
            if toks[i + 1] != "{":
                raise SparqlSyntaxError("MINUS must be followed by '{'")
            sub, i = _parse_group(toks, i + 2, prefixes)
            g["minus"].append(("minus", sub))
            continue
        if (
            t.upper() == "FILTER"
            and i + 3 < len(toks)
            and toks[i + 1].upper() == "NOT"
            and toks[i + 2].upper() == "EXISTS"
            and toks[i + 3] == "{"
        ):
            # FILTER NOT EXISTS { ... }: same anti-join compile as
            # MINUS when variables are shared; tagged because the two
            # diverge for solutions sharing NO variable (spec §8.3.3
            # vs §8.1.1) and the compiler implements both exactly
            sub, i = _parse_group(toks, i + 4, prefixes)
            g["minus"].append(("not_exists", sub))
            continue
        if (
            t.upper() == "FILTER"
            and i + 2 < len(toks)
            and toks[i + 1].upper() == "EXISTS"
            and toks[i + 2] == "{"
        ):
            # FILTER EXISTS { ... }: the positive mirror — a
            # left-semi join on the shared variables (or an
            # all-or-nothing 1-row probe with disjoint domains)
            sub, i = _parse_group(toks, i + 3, prefixes)
            g["minus"].append(("exists", sub))
            continue
        if t.upper() == "FILTER":
            if toks[i + 1] != "(":
                raise SparqlSyntaxError("FILTER must be followed by '('")
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                if toks[j] == "(":
                    depth += 1
                elif toks[j] == ")":
                    depth -= 1
                j += 1
            if depth:
                raise SparqlSyntaxError("unbalanced FILTER parens")
            g["filters"].append(_filter_sql(toks[i + 2 : j - 1], prefixes))
            i = j
            continue
        # triple pattern: s path o (. | ; path o ...)
        s = _resolve(t, prefixes)
        i += 1
        while True:
            alts, quant, i = _parse_path(toks, i, prefixes)
            o = _resolve(toks[i], prefixes)
            _emit_path(g, s, alts, o, prefixes, quant)
            i += 1
            if i < len(toks) and toks[i] == ";":
                i += 1
                continue
            break
    raise SparqlSyntaxError("unterminated group (missing '}')")


def _parse_path_elt(toks, i, prefixes) -> tuple[tuple[bool, str], int]:
    """One property-path element at predicate position:
    ``[^]term[*|+|{m,n}]`` -> ((inverted, pred-with-quantifier),
    next index).  A variable predicate is allowed but takes no
    modifiers (plain SPARQL).  ``!iri`` / ``!(a|^b)`` negated
    property sets (spec §9.1) parse to a ("nps", fwd, invs)
    predicate marker — compiled as a Not-In-pushed scan (plus an
    endpoint-swapped part for inverse members); a quantified NPS
    ``!(a|b)+`` becomes a ("path", ...) marker — the bounded closure
    of the complement edge relation, same pipeline as a quantified
    parenthesized path."""
    inv = False
    if toks[i] == "^":
        inv, i = True, i + 1
    if toks[i] == "!":
        i += 1
        fwd, invs = [], []
        parens = toks[i] == "("
        if parens:
            i += 1
        while True:
            m_inv = toks[i] == "^"
            if m_inv:
                i += 1
            t = _resolve(toks[i], prefixes)
            i += 1
            if t.startswith("?") or t[-1] in "*+":
                raise SparqlSyntaxError(
                    "a negated property set takes plain IRIs only"
                )
            (invs if m_inv else fwd).append(t)
            if parens and i < len(toks) and toks[i] == "|":
                i += 1
                continue
            break
        if parens:
            if i >= len(toks) or toks[i] != ")":
                raise SparqlSyntaxError(
                    "unclosed '(' in negated property set"
                )
            i += 1
        if i < len(toks) and toks[i] in ("*", "+", "{"):
            # quantified NPS !(a|^b)+ / !a* / !a{m,n}: compiled
            # exactly like a quantified parenthesized path whose
            # body is the single NPS step — a bounded Kleene closure
            # (graphquery.closure_pairs, or graphquery.frontier_nodes
            # from a ground endpoint) over the complement edge
            # relation (the _nps_scan).  The ("path", ...) marker
            # reuses the whole pathgroup pipeline; a zero lower
            # bound gets the same zero-hop identity handling as
            # (a|b)* (ground endpoint preferred — the var-var
            # identity needs the store's node set).
            if toks[i] == "*":
                lo, hi = 0, None
                i += 1
            elif toks[i] == "+":
                lo, hi = 1, None
                i += 1
            else:
                j = toks.index("}", i)
                spec = "".join(toks[i + 1 : j])
                m = re.fullmatch(r"(\d*)(,)?(\d*)", spec)
                if not m or not spec:
                    raise SparqlSyntaxError(f"bad path quantifier {{{spec}}}")
                lo_s, comma, hi_s = m.groups()
                lo = int(lo_s) if lo_s else 0
                hi = int(hi_s) if hi_s else (None if comma else lo)
                if hi is not None and (hi < 1 or hi < lo):
                    raise SparqlSyntaxError(f"bad path quantifier {{{spec}}}")
                i = j + 1
            body = [[(False, ("nps", tuple(fwd), tuple(invs)))]]
            return (inv, ("path", body, lo, hi)), i
        return (inv, ("nps", tuple(fwd), tuple(invs))), i
    p = _resolve(toks[i], prefixes)
    i += 1
    if p.startswith("?"):
        return (inv, p), i
    if i < len(toks) and toks[i] in ("*", "+"):
        p += toks[i]
        i += 1
    elif i < len(toks) and toks[i] == "{":
        # path quantifier pred{m,n} / pred{,n} / pred{n}
        j = toks.index("}", i)
        spec = "".join(toks[i + 1 : j])
        if not re.fullmatch(r"\d*,\d*|\d+", spec):
            raise SparqlSyntaxError(f"bad path quantifier {{{spec}}}")
        p += "{" + spec + "}"
        i = j + 1
    return (inv, p), i


def _parse_path(toks, i, prefixes) -> tuple[list, tuple | None, int]:
    """Predicate-position property path (SPARQL 1.1 §9 subset):
    ``elt(/elt)*`` sequences, ``|`` alternation of sequences,
    ``^`` inverse per element, quantifiers per element, optional
    outer parens — which may themselves carry a quantifier,
    ``(a/b)+`` / ``(a|b)*`` / ``(a/b){2,3}``.  Returns (branches,
    quant, next index) where each branch is a list of
    (inverted, pred) steps — one branch means a plain sequence,
    several mean a UNION — and quant is None for an unquantified
    path or (lo, hi) for a quantified parenthesized one (hi None =
    engine max_path_hops).  A quantified parenthesized path
    compiles to a bounded Kleene closure over the composed edge
    relation of its body (graphquery.closure_pairs ∘ _alts_pairs, or
    a frontier_nodes walk from a ground endpoint), not a pattern
    rewrite."""
    parens = toks[i] == "("
    if parens:
        i += 1
    alts: list[list] = []
    seq: list = []
    while True:
        elt, i = _parse_path_elt(toks, i, prefixes)
        seq.append(elt)
        if i < len(toks) and toks[i] == "/":
            i += 1
            continue
        if i < len(toks) and toks[i] == "|":
            alts.append(seq)
            seq = []
            i += 1
            continue
        break
    alts.append(seq)
    quant = None
    if parens:
        if i >= len(toks) or toks[i] != ")":
            raise SparqlSyntaxError("unclosed '(' in property path")
        i += 1
        if i < len(toks) and toks[i] in ("*", "+"):
            quant = (0, None) if toks[i] == "*" else (1, None)
            i += 1
        elif i < len(toks) and toks[i] == "{":
            try:
                j = toks.index("}", i)
            except ValueError:
                raise SparqlSyntaxError("unclosed '{' path quantifier")
            spec = "".join(toks[i + 1 : j])
            m = re.fullmatch(r"(\d*)(,)?(\d*)", spec)
            if not m or not spec:
                raise SparqlSyntaxError(f"bad path quantifier {{{spec}}}")
            lo_s, comma, hi_s = m.groups()
            lo = int(lo_s) if lo_s else 0
            hi = (
                int(hi_s) if hi_s else (None if comma else lo)
            )
            if hi is not None and (hi < 1 or hi < lo):
                raise SparqlSyntaxError(f"bad path quantifier {{{spec}}}")
            quant = (lo, hi)
            i = j + 1
    return alts, quant, i


def _emit_path(
    g: dict, s: str, alts: list, o: str, prefixes: dict, quant=None
) -> None:
    """Rewrite a parsed property path into plain triple patterns on
    the group: a sequence chains patterns through fresh ``?_pv<N>``
    variables (projected away at the end of the group's compile), an
    inverse step swaps its endpoints, and an alternation becomes a
    UNION of single-sequence branches (each branch binds exactly the
    endpoints, so the union is a clean column-aligned unionByName).
    A quantified parenthesized path (quant = (lo, hi)) is NOT
    rewritten — it becomes one pattern whose predicate is the
    ("path", alts, lo, hi) marker, compiled by graphquery to a
    bounded closure over the body's composed edge relation.
    Purely algebraic — every step still compiles to the engine's
    equi-join / bounded-closure machinery."""
    if quant is not None:
        for seq in alts:
            for _inv, p in seq:
                if not isinstance(p, str):
                    continue  # ("nps", ...) markers compose freely
                if p.startswith("?"):
                    raise SparqlSyntaxError(
                        "variable predicates inside a quantified "
                        "parenthesized path are not supported"
                    )
                if p.endswith("*") or re.search(r"\{0?,\d*\}$|\{0\}$", p):
                    raise SparqlSyntaxError(
                        "zero-lower-bound element quantifier inside a "
                        "quantified parenthesized path is not supported"
                    )
        g["patterns"].append((s, ("path", alts, quant[0], quant[1]), o))
        return
    ctr = prefixes.setdefault("\x00pv", [0])

    def emit_seq(grp, seq):
        cur = s
        for k, (inv, p) in enumerate(seq):
            if k == len(seq) - 1:
                tgt = o
            else:
                tgt = f"?_pv{ctr[0]}"
                ctr[0] += 1
            grp["patterns"].append((tgt, p, cur) if inv else (cur, p, tgt))
            cur = tgt

    if len(alts) == 1:
        emit_seq(g, alts[0])
    else:
        branches = []
        for seq in alts:
            b = _empty_group()
            emit_seq(b, seq)
            branches.append(b)
        g["unions"].append(branches)


def _strip_iri_wrapper(expr: list) -> tuple[list, bool]:
    """A top-level ``IRI(...)`` / ``URI(...)`` wrapper around a BIND
    or projection expression (spec §17.4.2.8): the computed term is
    a URI — strip the wrapper and flag it so the bound variable's
    term metadata says so (CONSTRUCT re-emits it as a resource, not
    a literal).  No relative-IRI base resolution: the engine's
    stores hold absolute IRIs, matching the reference's COIN-minted
    URI space."""
    if (
        len(expr) >= 3
        and expr[0].upper() in ("IRI", "URI")
        and expr[1] == "("
        and expr[-1] == ")"
    ):
        d = 0
        for k, tk in enumerate(expr[1:], 1):
            if tk == "(":
                d += 1
            elif tk == ")":
                d -= 1
            if d == 0 and k != len(expr) - 1:
                return expr, False  # the '(' closes early: not a wrapper
        return expr[2:-1], True
    return expr, False


_FILTER_OPS = {"&&": "AND", "||": "OR", "!": "NOT", "=": "="}


def _balanced(toks: list[str], i: int) -> tuple[list[str], int]:
    """toks[i] must be '('; return (inner tokens, index past the
    matching ')')."""
    if i >= len(toks) or toks[i] != "(":
        raise SparqlSyntaxError("expected '('")
    d, j = 1, i + 1
    while j < len(toks) and d:
        if toks[j] == "(":
            d += 1
        elif toks[j] == ")":
            d -= 1
        j += 1
    if d:
        raise SparqlSyntaxError("unbalanced parens")
    return toks[i + 1 : j - 1], j


def _term_meta(tok: str, prefixes: dict) -> tuple[str, str, str, str]:
    """One term token (?var / IRI / plain literal) -> SQL for
    (value, is-uri, language tag, datatype) — the engine's four
    term-identity components, used by sameTerm.  Variable metadata
    columns default like the filter compiler: a var bound only in
    subject/predicate position is an IRI by RDF construction."""
    if tok.startswith("?"):
        v = tok[1:]
        return (
            v,
            f"coalesce(_isuri_{v}, false)",
            f"coalesce(_lang_{v}, '')",
            f"coalesce(_dt_{v}, '')",
        )
    if tok.startswith('"'):
        # the tokenizer carries @lang / ^^<dt> on the literal token —
        # sameTerm must see them ("chat"@en is NOT the plain "chat")
        m = re.fullmatch(r'("(?:[^"\\]|\\.)*")(@[A-Za-z0-9-]+|\^\^\S+)?', tok)
        if not m:
            raise SparqlSyntaxError(f"cannot parse literal {tok!r}")
        val = _sql_str(_resolve(m.group(1), prefixes))
        tag = m.group(2)
        lang = tag[1:] if tag and tag.startswith("@") else ""
        dt = (
            _sql_str(_resolve(tag[2:], prefixes))
            if tag and tag.startswith("^^")
            else ""
        )
        return (f"'{val}'", "false", f"'{lang}'", f"'{dt}'")
    if tok.startswith("<") or ":" in tok:
        val = _sql_str(_resolve(tok, prefixes))
        return (f"'{val}'", "true", "''", "''")
    raise SparqlSyntaxError(f"sameTerm operand {tok!r} is not a term")

#: SPARQL function -> Spark SQL function, 1:1 argument order.
#: SUBSTR is 1-based in both; REPLACE is regex-based in both.
_SQL_FUNCS = {
    "CONCAT": "concat",
    "UCASE": "upper",
    "LCASE": "lower",
    "STRLEN": "length",
    "SUBSTR": "substring",
    "REPLACE": "regexp_replace",
    "IF": "if",
    "COALESCE": "coalesce",
    "ABS": "abs",
    "ROUND": "round",
    "CEIL": "ceil",
    "FLOOR": "floor",
    # hash functions (spec §17.4.4): SPARQL and Spark both hash the
    # UTF-8 bytes and emit lowercase hex.  SHA256/384/512 are special
    # forms below (Spark spells them sha2(expr, bits)).
    "MD5": "md5",
    "SHA1": "sha1",
    # ENCODE_FOR_URI is a special form below (Spark url_encode is
    # form-encoding, space becomes '+' not %20 — the exact RFC 3986
    # encoding is built per code point instead).
    # STRBEFORE/STRAFTER are special forms
    # below (substring_index alone diverges on a missing separator:
    # it returns the whole string where SPARQL returns "")
}

#: aggregate keyword -> handled by _parse_agg / _agg_sql
_AGG_FUNCS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}


def _parse_agg(toks: list[str], i: int, prefixes: dict) -> tuple[dict, int]:
    """Parse an aggregate call starting at toks[i] (the function
    keyword): ``FUNC([DISTINCT] ?v|*[; SEPARATOR="s"])``.  Returns
    ({func, var, distinct, sep}, next index)."""
    func = toks[i].upper()
    if func not in _AGG_FUNCS:
        raise SparqlSyntaxError(f"unknown aggregate {toks[i]!r}")
    if toks[i + 1] != "(":
        raise SparqlSyntaxError(f"{func} needs '('")
    i += 2
    distinct = False
    if toks[i].upper() == "DISTINCT":
        distinct, i = True, i + 1
    var = None
    if toks[i] == "*":
        if func != "COUNT":
            raise SparqlSyntaxError(f"{func}(*) is not valid SPARQL")
        i += 1
    elif toks[i].startswith("?"):
        var = toks[i][1:]
        i += 1
    else:
        raise SparqlSyntaxError(f"{func}() takes ?var" + ("" if func != "COUNT" else " or *"))
    sep = " "
    if toks[i] == ";":
        if toks[i + 1].upper() != "SEPARATOR" or toks[i + 2] != "=":
            raise SparqlSyntaxError("expected SEPARATOR=\"...\" after ';'")
        if func != "GROUP_CONCAT" or not toks[i + 3].startswith('"'):
            raise SparqlSyntaxError("SEPARATOR is only valid in GROUP_CONCAT")
        sep = _resolve(toks[i + 3], prefixes)
        i += 4
    if toks[i] != ")":
        raise SparqlSyntaxError(f"unclosed {func}(...)")
    return {"func": func, "var": var, "distinct": distinct, "sep": sep}, i + 1


def _agg_sql(a: dict) -> str:
    """Aggregate spec -> Spark SQL aggregate expression over the
    solution columns.  Numeric aggregates (SUM/AVG) TRY_CAST the
    lexical term to DOUBLE — a non-numeric member becomes NULL and is
    ignored, the same relational reading of SPARQL's type-error rule
    as _numeric_casts.  MIN/MAX order terms lexically (the engine's
    term ordering, same as ORDER BY).  SAMPLE picks the minimum —
    the spec allows any member; a deterministic choice keeps query
    results reproducible.  GROUP_CONCAT sorts members before joining
    for the same reason."""
    func, v, d = a["func"], a["var"], "DISTINCT " if a["distinct"] else ""
    if func == "COUNT":
        return f"count({d}{v})" if v else "count(1)"
    if func in ("SUM", "AVG"):
        return f"{func.lower()}({d}TRY_CAST({v} AS DOUBLE))"
    if func in ("MIN", "MAX"):
        return f"{func.lower()}({v})"
    if func == "SAMPLE":
        return f"min({v})"
    sep = _sql_str(a["sep"])
    coll = "collect_set" if a["distinct"] else "collect_list"
    return f"array_join(sort_array({coll}({v})), '{sep}')"


def _filter_sql(toks: list[str], prefixes: dict) -> str:
    """FILTER tokens -> Spark SQL boolean expression over variable
    columns.  Covers the corpus' full function set: comparisons,
    && || !, ?x IN (...), STR(?x) (identity — terms are already
    strings), STRSTARTS -> startswith, isUri/isIRI -> the term's
    captured `_isuri_` metadata column (the compiler defaults it to
    TRUE for variables bound only in subject/predicate position,
    which are IRIs by RDF construction)."""
    out = []
    i, n = 0, len(toks)
    while i < n:
        t = toks[i]
        u = t.upper()
        if t.startswith("?"):
            out.append(t[1:])
        elif u == "STR":
            # STR(?x): engine terms are plain strings; drop the call,
            # the following parens survive as grouping
            pass
        elif u == "STRSTARTS":
            out.append("startswith")
        elif u == "STRENDS":
            out.append("endswith")
        elif u == "CONTAINS":
            out.append("contains")
        elif u == "BOUND":
            # BOUND(?x) -> x IS NOT NULL (OPTIONAL leaves NULLs)
            if not (
                i + 3 < n
                and toks[i + 1] == "("
                and toks[i + 2].startswith("?")
                and toks[i + 3] == ")"
            ):
                raise SparqlSyntaxError("BOUND() takes one variable")
            out.append(f"({toks[i + 2][1:]} IS NOT NULL)")
            i += 4
            continue
        elif u in ("ISURI", "ISIRI", "ISLITERAL", "LANG", "DATATYPE"):
            if not (
                i + 3 < n
                and toks[i + 1] == "("
                and toks[i + 2].startswith("?")
                and toks[i + 3] == ")"
            ):
                raise SparqlSyntaxError(f"{t}() takes one variable")
            v = toks[i + 2][1:]
            if u in ("ISURI", "ISIRI"):
                out.append(f"coalesce(_isuri_{v}, false)")
            elif u == "ISLITERAL":
                out.append(f"(NOT coalesce(_isuri_{v}, false))")
            elif u == "LANG":
                # SPARQL lang() is "" for plain literals
                out.append(f"coalesce(_lang_{v}, '')")
            else:
                out.append(f"_dt_{v}")
            i += 4
            continue
        elif u == "REGEX":
            # REGEX(?x, "pat"[, "flags"]) -> RLIKE with the flags
            # folded into the pattern as an inline group.  SPARQL
            # REGEX and Spark RLIKE are both unanchored partial
            # matches, so the semantics line up directly.
            if not (
                i + 5 < n
                and toks[i + 1] == "("
                and toks[i + 2].startswith("?")
                and toks[i + 3] == ","
                and toks[i + 4].startswith('"')
            ):
                raise SparqlSyntaxError(
                    'REGEX needs (?var, "pattern"[, "flags"])'
                )
            v = toks[i + 2][1:]
            pat = _resolve(toks[i + 4], prefixes)
            i += 5
            if toks[i] == ",":
                if not toks[i + 1].startswith('"'):
                    raise SparqlSyntaxError("REGEX flags must be a string")
                fl = _resolve(toks[i + 1], prefixes)
                if not re.fullmatch(r"[imsq]*", fl):
                    raise SparqlSyntaxError(f"unsupported REGEX flags {fl!r}")
                if "q" in fl:
                    pat = re.escape(pat)
                    fl = fl.replace("q", "")
                if fl:
                    pat = f"(?{fl}){pat}"
                i += 2
            if toks[i] != ")":
                raise SparqlSyntaxError("unclosed REGEX(...)")
            try:
                # parse-time validation: a broken pattern must raise
                # here on the driver, not crash executor tasks at
                # collect time.  (Python re as a syntax proxy for
                # Java's engine — it refuses a few Java-only
                # constructs like possessive quantifiers, loudly.)
                re.compile(pat)
            except re.error as e:
                raise SparqlSyntaxError(
                    f"invalid REGEX pattern {pat!r}: {e}"
                ) from e
            esc = _sql_str(pat)
            out.append(f"({v} RLIKE '{esc}')")
            i += 1
            continue
        elif u == "LANGMATCHES":
            # LANGMATCHES(LANG(?v), "range"): RFC 4647 basic
            # filtering over the captured language-tag metadata —
            # exact tag or prefix-followed-by-'-', case-insensitive;
            # "*" matches any nonempty tag
            ok = (
                i + 8 < n
                and toks[i + 1] == "("
                and toks[i + 2].upper() == "LANG"
                and toks[i + 3] == "("
                and toks[i + 4].startswith("?")
                and toks[i + 5] == ")"
                and toks[i + 6] == ","
                and toks[i + 7].startswith('"')
                and toks[i + 8] == ")"
            )
            if not ok:
                raise SparqlSyntaxError(
                    'LANGMATCHES needs (LANG(?var), "range")'
                )
            v = toks[i + 4][1:]
            rng = _sql_str(_resolve(toks[i + 7], prefixes).lower())
            tag = f"lower(coalesce(_lang_{v}, ''))"
            if rng == "*":
                out.append(f"({tag} != '')")
            else:
                out.append(
                    f"({tag} = '{rng}' OR {tag} LIKE '{rng}-%')"
                )
            i += 9
            continue
        elif u == "ENCODE_FOR_URI":
            # exact RFC 3986 percent-encoding (spec §17.4.2.7):
            # unreserved characters pass, everything else becomes
            # the uppercase-hex %-encoding of its UTF-8 bytes.
            # Spark's url_encode is form-encoding (space -> '+'),
            # so this is built per code point: split to chars
            # (Spark splits on code points, astral chars intact —
            # verified against urllib.parse.quote incl. emoji),
            # encode each, join.  Pure Catalyst expressions.
            if not (
                i + 3 < n
                and toks[i + 1] == "("
                and toks[i + 2].startswith("?")
                and toks[i + 3] == ")"
            ):
                raise SparqlSyntaxError("ENCODE_FOR_URI needs (?var)")
            v = toks[i + 2][1:]
            out.append(
                f"array_join(transform(split({v}, ''), _c -> "
                "CASE WHEN _c RLIKE '^[A-Za-z0-9._~-]$' THEN _c "
                "ELSE regexp_replace(hex(encode(_c, 'UTF-8')), "
                "'(..)', '%$1') END), '')"
            )
            i += 4
            continue
        elif u in ("STRBEFORE", "STRAFTER"):
            # exact SPARQL semantics including the missing-separator
            # case (SPARQL: "", Spark substring_index: whole string)
            # and the empty separator (STRBEFORE→"", STRAFTER→s,
            # which instr('x','')==1 gives for free)
            if not (
                i + 5 < n
                and toks[i + 1] == "("
                and toks[i + 2].startswith("?")
                and toks[i + 3] == ","
                and toks[i + 4].startswith('"')
                and toks[i + 5] == ")"
            ):
                raise SparqlSyntaxError(f'{t} needs (?var, "separator")')
            v = toks[i + 2][1:]
            sep = _sql_str(_resolve(toks[i + 4], prefixes))
            pos = f"instr({v}, '{sep}')"
            if u == "STRBEFORE":
                out.append(
                    f"if({pos} > 0, substring({v}, 1, {pos} - 1), '')"
                )
            else:
                out.append(
                    f"if({pos} > 0, "
                    f"substring({v}, {pos} + length('{sep}')), '')"
                )
            i += 6
            continue
        elif u == "SAMETERM":
            # sameTerm(a, b) (spec §17.4.1.8): value AND term
            # metadata (kind / language tag / datatype) must all
            # agree — plain string equality alone would call "x"@en
            # and "x"^^xsd:token the same term.  Operands are single
            # terms (?var, IRI, or literal).  An unbound operand is
            # a SPARQL type error: the result must be NULL (so the
            # row drops under plain FILTER and STILL drops under
            # NOT) — the metadata legs coalesce to definite values,
            # so the NULL must be forced by an explicit unbound
            # guard, not left to `=` propagation alone.
            if not (
                i + 5 < n
                and toks[i + 1] == "("
                and toks[i + 3] == ","
                and toks[i + 5] == ")"
            ):
                raise SparqlSyntaxError("sameTerm needs (term, term)")
            av, au, al, ad = _term_meta(toks[i + 2], prefixes)
            bv, bu, bl, bd = _term_meta(toks[i + 4], prefixes)
            out.append(
                f"(CASE WHEN {av} IS NULL OR {bv} IS NULL THEN NULL "
                f"ELSE {av} = {bv} AND {au} = {bu} AND {al} = {bl} "
                f"AND {ad} = {bd} END)"
            )
            i += 6
            continue
        elif u == "ISNUMERIC":
            # isNumeric(?x) (spec §17.4.2.4): true for numeric
            # literals.  The store keeps lexical forms, so the
            # engine's reading is "literal whose lexical form parses
            # as a number" (TRY_CAST, the same relational reading as
            # _numeric_casts).  NULL-propagating: unbound is a type
            # error, and under NOT the row must still drop.
            if not (
                i + 3 < n
                and toks[i + 1] == "("
                and toks[i + 2].startswith("?")
                and toks[i + 3] == ")"
            ):
                raise SparqlSyntaxError("isNumeric() takes one variable")
            v = toks[i + 2][1:]
            out.append(
                f"(CASE WHEN {v} IS NULL THEN NULL ELSE "
                f"NOT coalesce(_isuri_{v}, false) "
                f"AND TRY_CAST({v} AS DOUBLE) IS NOT NULL END)"
            )
            i += 4
            continue
        elif u == "ISBLANK":
            # isBlank(?x): constant false for bound terms — the
            # engine's stores hold COIN-minted absolute IRIs and
            # literals only (every node the pipeline emits gets a
            # minted URI; blank nodes are skolemized by
            # construction), so no term is ever a blank node.
            # NULL-propagating for unbound, as above.
            if not (
                i + 3 < n
                and toks[i + 1] == "("
                and toks[i + 2].startswith("?")
                and toks[i + 3] == ")"
            ):
                raise SparqlSyntaxError("isBlank() takes one variable")
            v = toks[i + 2][1:]
            out.append(f"(CASE WHEN {v} IS NULL THEN NULL ELSE false END)")
            i += 4
            continue
        elif u in ("SHA256", "SHA384", "SHA512"):
            # SPARQL's SHA-2 family -> Spark sha2(expr, bits); the
            # bit width is the function name's suffix.  The argument
            # may be any expression — compiled recursively.
            inner, j = _balanced(toks, i + 1)
            arg = _filter_sql(inner, prefixes)
            out.append(f"sha2({arg}, {u[3:]})")
            i = j
            continue
        elif u in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ"):
            # xsd:dateTime component accessors (spec §17.4.5) over
            # the store's lexical forms.  Exact literal-clock
            # semantics: the timezone suffix is stripped BEFORE the
            # timestamp cast (Spark would otherwise normalize an
            # offset-carrying literal to session time, changing
            # HOURS/DAY); TZ reads the suffix straight off the
            # lexical form.  Engine extension beyond the spec's
            # dateTime-only domain: xsd:gYear / xsd:gYearMonth
            # lexical forms ('2013', '2013-05' — the corpus'
            # dcterms:issued shape) are padded to a full date first,
            # so YEAR/MONTH work over real document metadata.  A
            # non-parseable lexical form is a type error: TRY_CAST
            # yields NULL and the solution drops.
            if not (
                i + 3 < n
                and toks[i + 1] == "("
                and toks[i + 2].startswith("?")
                and toks[i + 3] == ")"
            ):
                raise SparqlSyntaxError(f"{t}() takes one variable")
            v = toks[i + 2][1:]
            zone = r"(Z|[+-]\\d{2}:\\d{2})$"
            if u == "TZ":
                out.append(f"regexp_extract({v}, '{zone}', 1)")
            else:
                bare = f"regexp_replace({v}, '{zone}', '')"
                lex = (
                    f"CASE WHEN {bare} RLIKE '^\\\\d{{4}}$' "
                    f"THEN concat({bare}, '-01-01') "
                    f"WHEN {bare} RLIKE '^\\\\d{{4}}-\\\\d{{2}}$' "
                    f"THEN concat({bare}, '-01') ELSE {bare} END"
                )
                ts = f"TRY_CAST({lex} AS TIMESTAMP)"
                part = {
                    "YEAR": "year",
                    "MONTH": "month",
                    "DAY": "day",
                    "HOURS": "hour",
                    "MINUTES": "minute",
                }.get(u)
                if part:
                    out.append(f"{part}({ts})")
                else:
                    # SECONDS is xsd:decimal incl. the fraction
                    out.append(
                        f"CAST(date_part('SECOND', {ts}) AS DOUBLE)"
                    )
            i += 4
            continue
        elif u in _SQL_FUNCS:
            # direct SPARQL->Spark SQL function mapping; arity and
            # argument types are checked by the Spark analyzer at
            # plan time (driver-side AnalysisException, not a task
            # failure)
            out.append(_SQL_FUNCS[u])
        elif u == "IN":
            out.append("IN")
        elif u == "NOT":
            # `?x NOT IN (...)` (spec §17.4.1.10) and boolean NOT
            out.append("NOT")
        elif t in ("+", "-", "*", "/"):
            # binary numeric arithmetic; operand vars are TRY_CAST to
            # DOUBLE by _numeric_casts (type-error row drops, and
            # double division by zero is IEEE Infinity, never an ANSI
            # task failure).  Unary minus is not supported — a
            # leading '-' has no left operand and raises downstream.
            out.append(t)
        elif t in ("(", ")", ","):
            out.append(t)
        elif t in _FILTER_OPS:
            out.append(_FILTER_OPS[t])
        elif re.fullmatch(r"[<>]=?|!=", t):
            out.append(t)
        elif t.startswith('"'):
            out.append("'" + _sql_str(_resolve(t, prefixes)) + "'")
        elif t.startswith("<"):
            out.append("'" + _sql_str(t[1:-1]) + "'")
        elif re.fullmatch(r"\d+(\.\d+)?", t):
            out.append(t)
        elif ":" in t:  # prefixed IRI used as a comparison constant
            out.append("'" + _sql_str(_resolve(t, prefixes)) + "'")
        else:
            raise SparqlSyntaxError(f"unsupported FILTER token {t!r}")
        i += 1
    return " ".join(_numeric_casts(out))


def _numeric_casts(out: list[str]) -> list[str]:
    """SPARQL compares numeric-typed literals numerically; the store
    keeps lexical forms, so a comparison against a bare number casts
    the variable side (TRY_CAST: a non-numeric value becomes NULL
    and the row drops — the relational reading of SPARQL's
    type-error-drops-solution rule, and ANSI-mode safe).  Arithmetic
    operators cast BOTH variable operands — string + string would
    otherwise be an ANSI analysis error."""
    ops = {"<", ">", "<=", ">=", "=", "!="}
    arith = {"+", "-", "*", "/"}

    # fold unary minus into its numeric literal first ("-" is unary
    # when nothing operand-shaped precedes it), so '-5' is one token
    # for the cast logic below
    merged: list[str] = []
    for tok in out:
        if (
            merged
            and merged[-1] == "-"
            and re.fullmatch(r"\d+(\.\d+)?", tok)
            and (
                len(merged) < 2
                or not (
                    re.fullmatch(r"[A-Za-z_]\w*|\)|-?\d+(\.\d+)?", merged[-2])
                    or merged[-2].startswith("'")
                )
            )
        ):
            merged[-1] = "-" + tok
        else:
            merged.append(tok)
    out = merged

    def cast_ident(k):
        if re.fullmatch(r"[A-Za-z_]\w*", out[k]) and out[k].upper() not in (
            "AND", "OR", "NOT", "IN",
        ):
            out[k] = f"TRY_CAST({out[k]} AS DOUBLE)"

    def operand_shaped(t):
        return bool(
            re.fullmatch(r"[A-Za-z_]\w*|\)|-?\d+(\.\d+)?", t)
            or t.startswith("'")
        )

    for k, t in enumerate(out):
        if t in arith and 0 < k < len(out) - 1 and operand_shaped(out[k - 1]):
            # binary arithmetic over TRY_CAST doubles: a non-castable
            # variable becomes NULL and the row drops — the engine's
            # relational reading of SPARQL's numeric-type-error rule
            cast_ident(k - 1)
            cast_ident(k + 1)
        elif t == "-" and k < len(out) - 1 and (
            k == 0 or not operand_shaped(out[k - 1])
        ):
            # unary numeric negation of a variable
            cast_ident(k + 1)

    def castable(t):
        return operand_shaped(t) or t.startswith(("TRY_CAST(", "CAST("))

    # division must be try_divide: Spark ANSI raises DIVIDE_BY_ZERO
    # even over doubles, where the engine's rule is type-error-drops
    # (NULL comparison is never true)
    k = 0
    while k < len(out):
        if out[k] == "/":
            if (
                k == 0
                or k == len(out) - 1
                or not castable(out[k - 1])
                or not castable(out[k + 1])
            ):
                raise SparqlSyntaxError(
                    "division operands must be simple terms "
                    "(variable or number)"
                )
            out[k - 1 : k + 2] = [f"try_divide({out[k - 1]}, {out[k + 1]})"]
            continue
        k += 1

    def is_num(t):
        return bool(re.fullmatch(r"-?\d+(\.\d+)?", t))

    def is_ident(t):
        return bool(re.fullmatch(r"[A-Za-z_]\w*", t)) and t.upper() not in (
            "AND", "OR", "NOT", "IN",
        )

    for k, t in enumerate(out):
        if t in ops and 0 < k < len(out) - 1:
            left, right = out[k - 1], out[k + 1]
            if is_num(right) and is_ident(left):
                out[k - 1] = f"TRY_CAST({left} AS DOUBLE)"
            elif is_num(left) and is_ident(right):
                out[k + 1] = f"TRY_CAST({right} AS DOUBLE)"
    return out


def parse_sparql(text: str, params: dict | None = None) -> dict:
    """Parse the supported SPARQL subset (optionally %-interpolating
    `params` first, the reference's template convention) into
    {form, select_vars, template, where}.

    Contract: malformed input of ANY shape raises SparqlSyntaxError
    (never a bare IndexError/ValueError from token lookahead) —
    fuzz-enforced in tests/test_sparql_properties.py."""
    if params:
        text = text % params
    try:
        return _parse_toks(_tokenize(text))
    except SparqlSyntaxError:
        raise
    except (IndexError, ValueError) as e:
        raise SparqlSyntaxError(f"malformed query: {e}") from e


def _parse_prologue(toks: list[str], i: int, prefixes: dict) -> int:
    """Consume a run of PREFIX declarations starting at toks[i] into
    `prefixes`; returns the index past the run.  Shared by the query
    parser and the Update front-end (which re-allows a prologue after
    each ';', per the Update grammar)."""
    while i < len(toks) and toks[i].upper() == "PREFIX":
        pfx = toks[i + 1]
        if not pfx.endswith(":") and ":" in pfx:
            pfx = pfx.split(":", 1)[0] + ":"
        iri = toks[i + 2]
        # tokenizer may merge 'pfx:' into one prefixed-name token
        if not iri.startswith("<"):
            raise SparqlSyntaxError("PREFIX needs '<iri>'")
        prefixes[pfx.rstrip(":")] = iri[1:-1]
        i += 3
    return i


def _parse_toks(toks: list[str]) -> dict:
    prefixes: dict = {}
    i = _parse_prologue(toks, 0, prefixes)
    form = toks[i].upper()
    i += 1
    out: dict = {
        "form": form,
        "select_vars": [],
        "template": [],
        "count": False,
        "from_graphs": [],
        "from_named": [],
        "aggs": [],
        "proj": [],
        "proj_exprs": [],
        "proj_hidden_aggs": [],
        "agg_proj_exprs": [],
        "group_by": [],
        "having": None,
        "having_aggs": [],
        "describe_vars": [],
        "describe_iris": [],
    }
    if form == "SELECT":
        i = _parse_select_head(toks, i, prefixes, out)
        # FROM <g> dataset clauses (documentrepository.facet_query
        # emits one); scoped like GRAPH — a filter on the `graph`
        # column for multi-graph tables, identity otherwise.
        # FROM NAMED <g> builds the named-graph dataset that
        # GRAPH ?var ranges over (spec §13.2).
        while toks[i].upper() == "FROM":
            if toks[i + 1].upper() == "NAMED":
                out["from_named"].append(_resolve(toks[i + 2], prefixes))
                i += 3
            else:
                out["from_graphs"].append(_resolve(toks[i + 1], prefixes))
                i += 2
    elif form == "ASK":
        # boolean existence probe; no projection head
        pass
    elif form == "DESCRIBE":
        # DESCRIBE <iri>... ?v... [WHERE { ... }] — simple subject
        # description (all store triples whose subject is a described
        # resource; no blank-node closure, the store has no bnodes)
        while i < len(toks):
            t = toks[i]
            if t.startswith("?"):
                out["describe_vars"].append(t[1:])
                i += 1
            elif t.startswith("<") or (":" in t and t.upper() != "WHERE"):
                out["describe_iris"].append(_resolve(t, prefixes))
                i += 1
            else:
                break
        if not out["describe_vars"] and not out["describe_iris"]:
            raise SparqlSyntaxError("DESCRIBE needs at least one resource")
    elif form == "CONSTRUCT":
        if toks[i] != "{":
            raise SparqlSyntaxError("CONSTRUCT needs '{ template }'")
        tmpl, i = _parse_group(toks, i + 1, prefixes)
        if any(tmpl[k] for k in tmpl if k != "patterns"):
            raise SparqlSyntaxError("CONSTRUCT template must be plain triples")
        for ts, tp, to in tmpl["patterns"]:
            # path sugar (sequences introduce ?_pv vars, quantifiers
            # ride on the pred or arrive as a ("path", ...) marker)
            # describes matching, not emission
            if not isinstance(tp, str) or tp[-1] in "*+}" or any(
                term.startswith("?_pv") for term in (ts, tp, to)
            ):
                raise SparqlSyntaxError(
                    "property paths are not allowed in a CONSTRUCT "
                    "template"
                )
        out["template"] = tmpl["patterns"]
    else:
        raise SparqlSyntaxError(f"unsupported query form {form!r}")
    if form == "DESCRIBE" and (
        i >= len(toks) or toks[i].upper() != "WHERE"
    ):
        # ground DESCRIBE <iri>...: no pattern to evaluate
        if out["describe_vars"]:
            raise SparqlSyntaxError("DESCRIBE ?var needs a WHERE pattern")
        out["where"] = None
    elif form == "ASK" and toks[i] == "{":
        # ASK { ... } — the WHERE keyword is optional (spec §17)
        out["where"], i = _parse_group(toks, i + 1, prefixes)
    else:
        if toks[i].upper() != "WHERE" or toks[i + 1] != "{":
            raise SparqlSyntaxError("expected WHERE { ... }")
        out["where"], i = _parse_group(toks, i + 2, prefixes)
    out["order_by"], out["limit"], out["offset"] = [], None, 0
    i = _parse_modifiers(toks, i, prefixes, out)
    if i < len(toks):
        raise SparqlSyntaxError(f"unexpected trailing token {toks[i]!r}")
    if form in ("ASK", "DESCRIBE") and (
        out["order_by"] or out["limit"] is not None or out["offset"]
        or out["group_by"] or out["having"] is not None
    ):
        raise SparqlSyntaxError(f"{form} takes no solution modifiers")
    _route_proj_exprs(out)
    _validate_select(out)
    return out


def _route_proj_exprs(out: dict) -> None:
    """Route SELECT projection expressions to their evaluation
    point.  Plain SELECT: BINDs at the end of the WHERE group (the
    spec's Extend over the group's solutions).  Aggregated SELECT
    (spec §18.2.4.2: Extend is applied AFTER Aggregation): computed
    post-groupBy in _run_select, in head order so a later expression
    may reference an earlier alias."""
    if (
        out["aggs"] or out["group_by"] or out["having"] is not None
        or out["proj_hidden_aggs"]
    ):
        out["agg_proj_exprs"] = out["proj_exprs"]
        out["proj_exprs"] = []
    else:
        for pe in out["proj_exprs"]:
            out["where"]["binds_expr"].append(pe)


def _parse_select_head(toks: list[str], i: int, prefixes: dict, out: dict) -> int:
    """SELECT projection clause (after the SELECT keyword):
    [DISTINCT] then any mix of ?var / * / (AGG(...) AS ?alias),
    or the reference's bare COUNT(*).  Fills select_vars/aggs/proj
    on `out`, returns the next index."""
    if toks[i].upper() == "DISTINCT":
        i += 1  # solutions are projected with set semantics anyway
    if toks[i].upper() == "COUNT":
        # bare SELECT COUNT(*): the reference's store-size query
        # (triplestore.py triple_count, FusekiStore)
        if toks[i + 1 : i + 4] != ["(", "*", ")"]:
            raise SparqlSyntaxError(
                "aggregates other than bare COUNT(*) need "
                "(AGG(...) AS ?alias)"
            )
        out["count"] = True
        i += 4
    while i < len(toks):
        t = toks[i]
        if t.startswith("?"):
            out["select_vars"].append(t[1:])
            out["proj"].append(t[1:])
            i += 1
        elif t == "*":
            i += 1
        elif t == "(":
            # all three parenthesized forms — (AGG(...) AS ?a),
            # (expr-with-aggregates AS ?a), (plain expr AS ?a) —
            # share the balanced-close / top-level-AS scan
            depth, j = 1, i + 1
            while j < len(toks) and depth:
                if toks[j] == "(":
                    depth += 1
                elif toks[j] == ")":
                    depth -= 1
                j += 1
            if depth:
                raise SparqlSyntaxError("unclosed '(expr AS ?alias)'")
            inner = toks[i + 1 : j - 1]
            d2, k_as = 0, None
            for k, tk in enumerate(inner):
                if tk == "(":
                    d2 += 1
                elif tk == ")":
                    d2 -= 1
                elif d2 == 0 and tk.upper() == "AS":
                    k_as = k
            if (
                k_as is None
                or k_as != len(inner) - 2
                or not inner[-1].startswith("?")
            ):
                raise SparqlSyntaxError(
                    "projection expression needs (expr AS ?alias)"
                )
            dst = inner[-1][1:]
            expr, is_uri = _strip_iri_wrapper(inner[:k_as])
            if not is_uri and expr and expr[0].upper() in _AGG_FUNCS:
                # plain projected aggregate: (AGG([DISTINCT] ?v|*) AS ?a)
                agg, k_end = _parse_agg(expr, 0, prefixes)
                if k_end == len(expr):
                    agg["alias"] = dst
                    out["aggs"].append(agg)
                    out["proj"].append(dst)
                    i = j
                    continue
            # projection expression (spec §18.2.4.2 Extend):
            # (expr AS ?alias) — compiled via the BIND/FILTER
            # expression translator.  Aggregate calls inside the
            # expression are rewritten to hidden aggregate columns
            # (same trick as HAVING); routing decides later whether
            # the expression evaluates pre-projection (a BIND at the
            # end of the WHERE group) or post-aggregation (spec:
            # Extend is applied AFTER Aggregation) — see
            # _route_proj_exprs
            rewritten, k = [], 0
            while k < len(expr):
                if (
                    expr[k].upper() in _AGG_FUNCS
                    and k + 1 < len(expr)
                    and expr[k + 1] == "("
                ):
                    agg, k = _parse_agg(expr, k, prefixes)
                    agg["alias"] = f"_pa{len(out['proj_hidden_aggs'])}"
                    out["proj_hidden_aggs"].append(agg)
                    rewritten.append("?" + agg["alias"])
                else:
                    rewritten.append(expr[k])
                    k += 1
            refs = [tk[1:] for tk in rewritten if tk.startswith("?")]
            out["proj_exprs"].append(
                (_filter_sql(rewritten, prefixes), dst, refs, is_uri)
            )
            out["select_vars"].append(dst)
            out["proj"].append(dst)
            i = j
        else:
            break
    return i


def _parse_modifiers(
    toks: list[str], i: int, prefixes: dict, out: dict, end_at_brace: bool = False
) -> int:
    """Solution modifiers: GROUP BY / HAVING / ORDER BY / LIMIT /
    OFFSET.  With end_at_brace (subqueries) the loop stops at the
    first '}' without consuming it; otherwise it runs to the end of
    the token stream.  Unknown tokens raise."""
    while i < len(toks):
        kw = toks[i].upper()
        if end_at_brace and kw == "}":
            break
        if kw == "ORDER" and i + 1 < len(toks) and toks[i + 1].upper() == "BY":
            i += 2
            while i < len(toks):
                t = toks[i]
                if t.upper() in ("ASC", "DESC") and toks[i + 1] == "(":
                    if not toks[i + 2].startswith("?") or toks[i + 3] != ")":
                        raise SparqlSyntaxError("ORDER BY needs (?var)")
                    out["order_by"].append((toks[i + 2][1:], t.upper() == "DESC"))
                    i += 4
                elif t.startswith("?"):
                    out["order_by"].append((t[1:], False))
                    i += 1
                else:
                    break
            if not out["order_by"]:
                raise SparqlSyntaxError("empty ORDER BY")
        elif kw == "GROUP" and i + 1 < len(toks) and toks[i + 1].upper() == "BY":
            i += 2
            while i < len(toks) and toks[i].startswith("?"):
                out["group_by"].append(toks[i][1:])
                i += 1
            if not out["group_by"]:
                raise SparqlSyntaxError("empty GROUP BY")
        elif kw == "HAVING":
            if i + 1 >= len(toks) or toks[i + 1] != "(":
                raise SparqlSyntaxError("HAVING needs '( ... )'")
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                if toks[j] == "(":
                    depth += 1
                elif toks[j] == ")":
                    depth -= 1
                j += 1
            if depth:
                raise SparqlSyntaxError("unbalanced HAVING parens")
            inner = toks[i + 2 : j - 1]
            # rewrite aggregate calls to hidden agg columns, then
            # reuse the FILTER-expression translation
            rewritten, k = [], 0
            while k < len(inner):
                if (
                    inner[k].upper() in _AGG_FUNCS
                    and k + 1 < len(inner)
                    and inner[k + 1] == "("
                ):
                    agg, k = _parse_agg(inner, k, prefixes)
                    agg["alias"] = f"_h{len(out['having_aggs'])}"
                    out["having_aggs"].append(agg)
                    rewritten.append("?" + agg["alias"])
                else:
                    rewritten.append(inner[k])
                    k += 1
            out["having"] = _filter_sql(rewritten, prefixes)
            i = j
        elif kw == "LIMIT":
            out["limit"] = int(toks[i + 1])
            i += 2
        elif kw == "OFFSET":
            out["offset"] = int(toks[i + 1])
            i += 2
        else:
            break
    return i


def _validate_select(out: dict) -> None:
    """Spec §18.2.4 Grouping: in an aggregated SELECT every plainly
    projected variable must be a grouping key, and HAVING is only
    meaningful over groups."""
    if out["aggs"] or out["agg_proj_exprs"]:
        # every introduced name (aggregate alias, expression alias)
        # must be fresh — a duplicate would make the projection
        # ambiguous (spec: Extend/Aggregation bind unbound vars)
        names = (
            list(out["group_by"])
            + [a["alias"] for a in out["aggs"]]
            + [pe[1] for pe in out["agg_proj_exprs"]]
        )
        dups = sorted({n for n in names if names.count(n) > 1})
        if dups:
            raise SparqlSyntaxError(
                f"duplicate binding(s) {dups} in aggregated SELECT"
            )
    if out["agg_proj_exprs"]:
        # spec §18.2.4.2 over an aggregated group: an expression may
        # reference group keys, aggregate aliases and earlier
        # expression aliases only (everything else is not a single
        # value per group)
        allowed = set(out["group_by"])
        allowed |= {a["alias"] for a in out["aggs"]}
        allowed |= {a["alias"] for a in out["proj_hidden_aggs"]}
        for _sql, dst, refs, _is_uri in out["agg_proj_exprs"]:
            bad = [r for r in refs if r not in allowed]
            if bad:
                raise SparqlSyntaxError(
                    f"projection expression for ?{dst} references "
                    f"{bad} — in an aggregated SELECT an expression "
                    "may only use GROUP BY keys, aggregate aliases "
                    "and earlier expression aliases"
                )
            if dst in allowed:
                raise SparqlSyntaxError(
                    "projection expression would rebind "
                    f"already-bound variable ?{dst}"
                )
            allowed.add(dst)
    if (
        out["aggs"] or out["group_by"] or out["having"] is not None
        or out["proj_hidden_aggs"]
    ):
        expr_aliases = {pe[1] for pe in out["agg_proj_exprs"]}
        ungrouped = [
            v for v in out["select_vars"]
            if v not in out["group_by"] and v not in expr_aliases
        ]
        if ungrouped:
            raise SparqlSyntaxError(
                f"variable(s) {ungrouped} are projected but neither "
                "aggregated nor in GROUP BY"
            )
        if out["count"]:
            raise SparqlSyntaxError(
                "bare COUNT(*) cannot be combined with GROUP BY — "
                "use (COUNT(*) AS ?alias)"
            )
        if not out["proj"]:
            raise SparqlSyntaxError("aggregated SELECT projects nothing")


def _parse_subselect(toks: list[str], i: int, prefixes: dict) -> tuple[dict, int]:
    """Subquery (spec §12): ``{ SELECT ... WHERE { ... } modifiers }``
    with `i` at the SELECT keyword.  Evaluated bottom-up against the
    dataset (never against outer bindings) and joined outward on its
    projected variables, exactly the spec's algebra.  Returns
    (sub-query dict, index past the closing brace)."""
    sub: dict = {
        "form": "SELECT",
        "select_vars": [],
        "aggs": [],
        "proj": [],
        "proj_exprs": [],
        "proj_hidden_aggs": [],
        "agg_proj_exprs": [],
        "count": False,
        "group_by": [],
        "having": None,
        "having_aggs": [],
    }
    i = _parse_select_head(toks, i + 1, prefixes, sub)
    if toks[i].upper() != "WHERE" or toks[i + 1] != "{":
        raise SparqlSyntaxError("subquery needs WHERE { ... }")
    sub["where"], i = _parse_group(toks, i + 2, prefixes)
    sub["order_by"], sub["limit"], sub["offset"] = [], None, 0
    i = _parse_modifiers(toks, i, prefixes, sub, end_at_brace=True)
    if i >= len(toks) or toks[i] != "}":
        raise SparqlSyntaxError("unterminated subquery (missing '}')")
    _route_proj_exprs(sub)
    _validate_select(sub)
    return sub, i + 1


#: hidden term-metadata column prefixes (mirrors graphquery._META)
_META = ("_isuri_", "_lang_", "_dt_")

#: cap on the NULL-signature split in _compat_join: 2^(maybe-null
#: shared vars on the left) × 2^(on the right) equi-join pieces; past
#: this the query is pathological and we refuse rather than explode
#: the plan
_COMPAT_MAX_PIECES = 16


def _compat_join(left: DataFrame, lnull: set, right: DataFrame, rnull: set):
    """Inner join of two solution sets under SPARQL compatible-merge
    semantics (spec §18.5 Join): two mappings merge when they agree
    on every variable bound in BOTH; a variable unbound (NULL) on one
    side takes the other side's binding.

    Compiled as pure equi-joins, never a theta-join: shared variables
    that are statically always-bound join directly; each shared
    variable that MAY be per-row unbound (from an OPTIONAL or a UNION
    branch that skipped it) splits its side by IS NULL, and every
    (left-piece, right-piece) pair equi-joins on the variables bound
    in both pieces — 2^k pieces for k maybe-null shared vars (k is
    0 for every reference-corpus query, so this costs nothing on the
    common path).  The split keys the join on runtime NULL-ness, so
    it is exact even when a branch binds a variable only for some
    rows."""
    shared = sorted(_visible(left) & _visible(right))
    ln = [v for v in shared if v in lnull]
    rn = [v for v in shared if v in rnull]
    if not ln and not rn:
        return _join(left, right)
    if (1 << len(ln)) * (1 << len(rn)) > _COMPAT_MAX_PIECES:
        raise SparqlSyntaxError(
            f"compatible-merge over {len(ln) + len(rn)} maybe-unbound "
            "shared variables exceeds the plan-size cap — bind them "
            "in every branch"
        )
    from pyspark.sql import functions as F

    pieces = []
    for lmask in range(1 << len(ln)):
        lnulls = {v for k, v in enumerate(ln) if lmask >> k & 1}
        lpart = left
        for v in ln:
            lpart = lpart.filter(
                F.col(v).isNull() if v in lnulls else F.col(v).isNotNull()
            )
        for rmask in range(1 << len(rn)):
            rnulls = {v for k, v in enumerate(rn) if rmask >> k & 1}
            rpart = right
            for v in rn:
                rpart = rpart.filter(
                    F.col(v).isNull() if v in rnulls else F.col(v).isNotNull()
                )
            # a var unbound on one side takes the other side's
            # binding: drop the all-NULL copy (and its metadata) so
            # _join keeps the bound one; unbound on both keeps
            # left's NULL column
            ldrop = [v for v in lnulls if v not in rnulls]
            rdrop = sorted(rnulls)
            lp = lpart.drop(*ldrop, *[f"{m}{v}" for v in ldrop for m in _META])
            rp = rpart.drop(*rdrop, *[f"{m}{v}" for v in rdrop for m in _META])
            pieces.append(_join(lp, rp))
    out = pieces[0]
    for p_ in pieces[1:]:
        out = out.unionByName(p_, allowMissingColumns=True)
    return out


def _compat_left(
    left: DataFrame, lnull: set, right: DataFrame, rnull: set
) -> DataFrame:
    """LeftJoin of two solution sets under SPARQL compatible-merge
    (spec §18.5): every compatible pair merges (an unbound side takes
    the other's binding), and a left solution with NO compatible
    partner survives alone with the right-only variables unbound.

    Pure equi-join plan, mirroring _compat_join: when no shared
    variable is maybe-unbound this IS one left equi-join (the path
    every well-designed OPTIONAL takes); otherwise the merged pairs
    come from _compat_join and the unmatched left rows from a
    NULL-signature split where each (left-piece, right-piece) pair
    anti-joins on the variables bound in both (or a lazy 1-row probe
    when the pair shares no definitely-bound variable — such a left
    row is unmatched only if that right piece is empty).  Disjoint
    domains (no shared variable at all) are the spec's cross-merge:
    one lazy left join on an always-true condition yields the cross
    product when the right is nonempty and the left row alone when
    it is empty."""
    from pyspark.sql import functions as F

    shared = sorted(_visible(left) & _visible(right))
    if not shared:
        drop = [
            c for c in ("_ground",)
            if c in right.columns and c in left.columns
        ]
        return left.join(right.drop(*drop), F.lit(True), "left")
    ln = [v for v in shared if v in lnull]
    rn = [v for v in shared if v in rnull]
    if not ln and not rn:
        return _join(left, right, "left")
    inner = _compat_join(left, lnull, right, rnull)
    pieces = []
    for lmask in range(1 << len(ln)):
        lnulls = {v for k, v in enumerate(ln) if lmask >> k & 1}
        lp = left
        for v in ln:
            lp = lp.filter(
                F.col(v).isNull() if v in lnulls else F.col(v).isNotNull()
            )
        for rmask in range(1 << len(rn)):
            rnulls = {v for k, v in enumerate(rn) if rmask >> k & 1}
            rp = right
            for v in rn:
                rp = rp.filter(
                    F.col(v).isNull() if v in rnulls
                    else F.col(v).isNotNull()
                )
            keys = [
                v for v in shared if v not in lnulls and v not in rnulls
            ]
            if keys:
                lp = lp.join(rp.select(*keys).distinct(), keys, "left_anti")
            else:
                probe = rp.limit(1).select(F.lit(1).alias("_e"))
                lp = lp.join(probe, F.lit(True), "left_anti")
        pieces.append(lp)
    unmatched = pieces[0]
    for p_ in pieces[1:]:
        unmatched = unmatched.unionByName(p_, allowMissingColumns=True)
    return inner.unionByName(unmatched, allowMissingColumns=True)


def _joined_nulls(
    left: DataFrame, lnull: set, right: DataFrame, rnull: set
) -> tuple[DataFrame, set]:
    """Compat-join two groups and propagate the maybe-unbound set: a
    variable stays maybe-unbound only if no side binds it surely —
    maybe-null on both, or visible on just one side and maybe-null
    there (the join/merge fills it from the sure side otherwise)."""
    out = _compat_join(left, lnull, right, rnull)
    lvis, rvis = _visible(left), _visible(right)
    return out, (lnull & rnull) | (lnull - rvis) | (rnull - lvis)


def _merge_nulls(left: tuple, parts: list) -> set:
    """Maybe-unbound set of Union(Join(P,B1)..Join(P,Bn)) given
    (visible, nulls) of P and of each branch: per-branch join nulls
    (same rule as _joined_nulls), plus any variable missing from some
    branch-join entirely (unionByName fills it with NULL)."""
    lvis, lnull = left
    outs = []
    for pvis, pnull in parts:
        vis = lvis | pvis
        nul = (lnull & pnull) | (lnull - pvis) | (pnull - lvis)
        outs.append((vis, nul))
    allvis = set().union(*(v for v, _ in outs))
    return set().union(*(n for _, n in outs)) | {
        v for v in allvis if any(v not in vis for vis, _ in outs)
    }


def _same_sure_keys(df: DataFrame, nulls: set, parts: list) -> bool:
    """Does every UNION branch share the same visible variables with
    the solutions `df`, none of them maybe-unbound on either side?
    Then Join(P, Union(B1..Bn)) is one equi-join on those keys."""
    keys = {frozenset(_visible(df) & _visible(p)) for p, _ in parts}
    if len(keys) != 1:
        return False
    (k,) = keys
    return not (k & nulls) and not any(k & n for _, n in parts)


def _values_compat(
    df: DataFrame, nulls: set, vars_: list, rows: list, uri_rows: list
) -> tuple[DataFrame, set]:
    """Exact compatible-merge of an inline VALUES table onto the
    solution set when one or more of its variables is maybe-unbound
    (spec §10.2 / §18.5: solutions merge iff they agree on shared
    BOUND variables; the merged solution takes the inline value
    where the solution side is unbound — so an unbound row
    multiplies by the matching inline rows).  One broadcast join on
    the query-sized literal table, then unbound cells are filled
    with the value and its term metadata (inline terms here are
    plain IRIs/strings — lang/datatype tags are not carried by this
    engine's VALUES).  All VALUES variables are unconditionally
    bound afterwards."""
    from pyspark.sql import functions as F

    data = [tuple(r) + tuple(u) for r, u in zip(rows, uri_rows)]
    schema = ", ".join(
        [f"_vv_{v} string" for v in vars_]
        + [f"_vu_{v} boolean" for v in vars_]
    )
    vdf = local_frame(df.sparkSession, data, schema).distinct()
    cond = None
    for v in vars_:
        c = F.col(v) == F.col(f"_vv_{v}")
        if v in nulls:
            c = c | F.col(v).isNull()
        cond = c if cond is None else cond & c
    out = df.join(F.broadcast(vdf), cond, "inner")
    for v in vars_:
        if v not in nulls:
            out = out.drop(f"_vv_{v}", f"_vu_{v}")
            continue
        # the fill flag must be captured BEFORE the coalesce rebinds v
        out = out.withColumn("_vfill", F.col(v).isNull())
        out = out.withColumn(v, F.coalesce(F.col(v), F.col(f"_vv_{v}")))
        fills = {
            "_isuri_": F.col(f"_vu_{v}"),
            "_lang_": F.lit(None).cast("string"),
            "_dt_": F.lit(None).cast("string"),
        }
        for m, fill in fills.items():
            mc = f"{m}{v}"
            if mc in out.columns:
                out = out.withColumn(
                    mc,
                    F.when(F.col("_vfill"), fill).otherwise(F.col(mc)),
                )
        out = out.drop("_vfill", f"_vv_{v}", f"_vu_{v}")
    return out, nulls - set(vars_)


def _compile_group(
    triples: DataFrame, g: dict, max_path_hops: int
) -> tuple[DataFrame, set]:
    """Group graph pattern -> (solutions DataFrame, maybe-unbound
    variable names).  The DataFrame carries term-metadata companion
    columns for CONSTRUCT; the set tracks which visible variables can
    be NULL per-row (bound under OPTIONAL, or skipped by a UNION
    branch) so joins onto this group use exact compatible-merge."""
    from pyspark.sql import functions as F

    df, nulls = None, set()
    if g["patterns"]:
        df = _fold_patterns(triples, g["patterns"], max_path_hops)
    for gterm, sub in g["graphs"]:
        # GRAPH <g> { ... }: scope the store to that graph's rows when
        # the table is multi-graph; a single-graph table IS the
        # default graph, so scoping is the identity (matching the
        # reference's use of GRAPH purely as context addressing).
        # GRAPH ?g { ... }: quad semantics — every pattern scan in the
        # subgroup also binds the `graph` column to ?g (see
        # graphquery._ACTIVE_GRAPH_VAR), so the shared-variable joins
        # enforce same-graph matching and ?g projects like any other
        # variable.  FROM NAMED <g>... restricts which graphs ?g may
        # range over (spec §13.2's named-graph dataset).
        if gterm.startswith("?"):
            if "graph" not in triples.columns:
                raise SparqlSyntaxError(
                    "GRAPH ?var needs a multi-graph store "
                    "(a `graph` column); this store is single-graph"
                )
            scoped = triples
            named = _ACTIVE_FROM_NAMED.get()
            if named:
                scoped = scoped.filter(F.col("graph").isin(list(named)))
            with use_graph_var(gterm[1:]):
                sdf, snull = _compile_group(scoped, sub, max_path_hops)
            if df is None:
                df, nulls = sdf, snull
            else:
                df, nulls = _joined_nulls(df, nulls, sdf, snull)
            continue
        scoped = (
            triples.filter(F.col("graph") == gterm)
            if "graph" in triples.columns
            else triples
        )
        sdf, snull = _compile_group(scoped, sub, max_path_hops)
        if df is None:
            df, nulls = sdf, snull
        else:
            df, nulls = _joined_nulls(df, nulls, sdf, snull)
    for sub in g["subgroups"]:
        # a bare nested group whose contents are scope-sensitive
        # (e.g. it contains an OPTIONAL): evaluated to its own
        # solution set first, then joined outward compatibly —
        # Join(P, LeftJoin(...)), the spec's algebra, not a hoist
        sdf, snull = _compile_group(triples, sub, max_path_hops)
        if df is None:
            df, nulls = sdf, snull
        else:
            df, nulls = _joined_nulls(df, nulls, sdf, snull)
    for sq in g["subselects"]:
        # subquery (spec §12): evaluated bottom-up against the
        # dataset — its projection, aggregation and LIMIT apply
        # BEFORE the join outward on its projected variables
        ssols, snull = _compile_group(triples, sq["where"], max_path_hops)
        sdf, snull = _run_select(ssols, snull, sq)
        if df is None:
            df, nulls = sdf, snull
        else:
            df, nulls = _joined_nulls(df, nulls, sdf, snull)
    for alts in g["unions"]:
        parts = [_compile_group(triples, a, max_path_hops) for a in alts]
        # union-side maybe-unbound vars: unbound in some branch, or
        # maybe-unbound within one
        uvis = set().union(*(_visible(p) for p, _ in parts))
        unull = set().union(*(n for _, n in parts)) | {
            v for v in uvis if any(v not in _visible(p) for p, _ in parts)
        }
        if df is None:
            u = parts[0][0]
            for p_, _ in parts[1:]:
                u = u.unionByName(p_, allowMissingColumns=True)
            df, nulls = u, unull
        elif _same_sure_keys(df, nulls, parts):
            # Join(P, Union(B1..Bn)) = Union(Join(P,B1)..Join(P,Bn)),
            # and when every branch shares the same join keys with P,
            # none of them maybe-unbound on either side, the join
            # distributes: union the branches first and join once, so
            # P is read once (annotations.rq's ?s ?p ?o against its
            # two ?s-keyed branches)
            u = parts[0][0]
            for p_, _ in parts[1:]:
                u = u.unionByName(p_, allowMissingColumns=True)
            df, nulls = _joined_nulls(df, nulls, u, unull)
        else:
            # otherwise each branch equi-joins onto the prior
            # solutions on the variables IT binds — SPARQL
            # compatible-merge, branch by branch, still nothing but
            # equi-joins
            joined = [
                _compat_join(df, nulls, p_, n_) for p_, n_ in parts
            ]
            u = joined[0]
            for j in joined[1:]:
                u = u.unionByName(j, allowMissingColumns=True)
            df, nulls = u, _merge_nulls(
                (_visible(df), nulls), [(_visible(p), n) for p, n in parts]
            )
    for opt in g["optionals"]:
        # parser emits full sub-groups (any group content — nested
        # OPTIONALs, UNIONs, subqueries; group-scoped filters apply
        # before the left join per spec §18.2.2); compile
        # recursively, then LeftJoin under exact compatible-merge.
        # Variables introduced by the OPTIONAL side become
        # maybe-unbound.
        gdf, gnull = _compile_group(triples, opt, max_path_hops)
        if df is None:
            df, nulls = gdf, gnull
        else:
            new_vars = _visible(gdf) - _visible(df)
            df = _compat_left(df, nulls, gdf, gnull)
            nulls |= new_vars | (gnull & _visible(df))
    if df is None:
        raise SparqlSyntaxError("empty WHERE group")
    for src, dst in g["binds"]:
        df = df.withColumn(dst, F.col(src))
        if src in nulls:
            nulls.add(dst)
        for m in ("_isuri_", "_lang_", "_dt_"):
            if f"{m}{src}" in df.columns:
                df = df.withColumn(f"{m}{dst}", F.col(f"{m}{src}"))
    for sql, dst, refs, is_uri in g["binds_expr"]:
        # expression BIND: result is a computed plain literal (cast
        # to the engine's string term type, no lang/datatype) — or a
        # URI when the expression was wrapped in IRI()/URI()
        if dst in df.columns:
            raise SparqlSyntaxError(
                f"BIND would rebind already-bound variable ?{dst}"
            )
        for r in refs:
            if r not in df.columns:
                raise SparqlSyntaxError(
                    f"BIND expression references unbound variable ?{r}"
                )
        # term-metadata functions (isNumeric/sameTerm/...) inside a
        # BIND expression: same backfill rule as the filters loop —
        # a var bound only in subject/predicate position is an IRI
        # by RDF construction
        for kind, mv in re.findall(r"_(isuri|lang|dt)_(\w+)", sql):
            mcol = f"_{kind}_{mv}"
            if mcol not in df.columns:
                df = df.withColumn(
                    mcol,
                    F.lit(True) if kind == "isuri"
                    else F.lit(None).cast("string"),
                )
        df = df.withColumn(dst, F.expr(sql).cast("string"))
        df = df.withColumn(f"_isuri_{dst}", F.lit(bool(is_uri)))
        if any(r in nulls for r in refs):
            nulls.add(dst)
    for kind, sub in g["minus"]:
        # negation compiles to a LEFT ANTI join on the shared
        # variables — the engine's native anti-join (J8), one
        # shuffle, AQE-broadcast when the negated side is small.
        # Solutions sharing NO variable are where the two forms
        # diverge (spec §8.3.3): MINUS removes nothing (no domain
        # overlap -> no compatible pair counts), NOT EXISTS drops
        # every solution iff the group matches at all.
        mdf, _ = _compile_group(triples, sub, max_path_hops)
        shared = sorted(_visible(df) & _visible(mdf))
        how = "left_semi" if kind == "exists" else "left_anti"
        if shared:
            df = df.join(mdf.select(*shared).distinct(), shared, how)
        elif kind in ("not_exists", "exists"):
            # all-or-nothing, kept lazy/distributed: a 1-row probe of
            # the group; (anti|semi)-join on an always-true condition
            # keeps the input iff the probe is (empty|nonempty)
            probe = mdf.limit(1).select(F.lit(1).alias("_e"))
            df = df.join(probe, F.lit(True), how)
        # else: MINUS with disjoint domains is the identity
    for var, vals, uris in g["values"]:
        if var not in df.columns:
            raise SparqlSyntaxError(
                f"VALUES variable ?{var} is not bound by the group"
            )
        if var not in nulls:
            df = df.filter(F.col(var).isin(vals))
            continue
        # maybe-unbound var: exact SPARQL compatible-merge — a row
        # with the var unbound is compatible with EVERY inline value
        # (it multiplies by the value list and takes each value); a
        # bound row survives iff its value is in the list.  One
        # broadcast join on a query-sized literal table, then the
        # unbound side is filled in (value + term metadata).
        df, nulls = _values_compat(
            df, nulls, [var], [(x,) for x in vals], [(u,) for u in uris]
        )
    for vars_, rows, uri_rows in g["values_multi"]:
        # table form: explicit-broadcast inner join on the inline
        # rows (query-sized by construction, never the store)
        for v in vars_:
            if v not in df.columns:
                raise SparqlSyntaxError(
                    f"VALUES variable ?{v} is not bound by the group"
                )
        if any(v in nulls for v in vars_):
            df, nulls = _values_compat(
                df, nulls, list(vars_), rows, uri_rows
            )
            continue
        vdf = local_frame(
            df.sparkSession, rows, ", ".join(f"{v} string" for v in vars_)
        ).distinct()
        df = df.join(F.broadcast(vdf), list(vars_), "inner")
    for f in g["filters"]:
        # term-metadata functions on a variable bound only in
        # subject/predicate position: those are IRIs by RDF
        # construction — isUri TRUE, lang/datatype NULL
        for kind, v in re.findall(r"_(isuri|lang|dt)_(\w+)", f):
            col = f"_{kind}_{v}"
            if col not in df.columns:
                df = df.withColumn(
                    col,
                    F.lit(True) if kind == "isuri"
                    else F.lit(None).cast("string"),
                )
        df = df.filter(F.expr(f))
    # fresh ?_pv<N> variables introduced by sequence-path rewriting
    # are scope-local plumbing: project them (and their metadata)
    # away so they neither join across groups nor reach SELECT *
    pv = [
        c for c in df.columns
        if re.fullmatch(r"(?:_isuri_|_lang_|_dt_)?_pv\d+", c)
    ]
    if pv:
        df = df.drop(*pv)
        nulls -= set(pv)
    return df, nulls


def _run_select(
    sols: DataFrame, nulls: set, q: dict
) -> tuple[DataFrame, set]:
    """SELECT-clause evaluation over a compiled solution set:
    projection / bare COUNT(*) / grouped aggregation / HAVING /
    ORDER-LIMIT-OFFSET.  Shared by top-level SELECT queries and
    subqueries (spec §12).  Returns (DataFrame, maybe-unbound set of
    the projected columns) so a subquery's output can compat-join
    outward."""
    from pyspark.sql import functions as F

    if (
        q["aggs"] or q["group_by"] or q["having"] is not None
        or q["proj_hidden_aggs"]
    ):
        # grouped/aggregated SELECT: aggregate over the DISTINCT
        # visible solutions (set semantics, consistent with bare
        # COUNT(*) below), map-side partial aggregation for free
        all_aggs = q["aggs"] + q["having_aggs"] + q["proj_hidden_aggs"]
        needed = set(q["group_by"]) | {
            a["var"] for a in all_aggs if a["var"]
        }
        for v in sorted(needed):
            if v not in sols.columns:
                sols = sols.withColumn(v, F.lit(None).cast("string"))
        base = sols.select(*sorted(_visible(sols))).distinct()
        exprs = [
            F.expr(_agg_sql(a)).alias(a["alias"]) for a in all_aggs
        ]
        if exprs:
            out = base.groupBy(*q["group_by"]).agg(*exprs)
        else:  # GROUP BY with no aggregates: just the keys
            out = base.select(*q["group_by"]).distinct()
        if q["having"] is not None:
            out = out.filter(F.expr(q["having"]))
        # Extend after Aggregation (spec §18.2.4.2): projection
        # expressions over group keys / aggregate aliases, in head
        # order (a later expression may reference an earlier alias);
        # the hidden _pa<N> aggregate columns are dropped by the
        # projection below.  The alias keeps its natural Catalyst
        # type (consistent with plain aggregate aliases — COUNT is a
        # long, SUM a double — and it makes ORDER BY ?alias numeric
        # where the expression is numeric).
        for sql, dst, _refs, _is_uri in q["agg_proj_exprs"]:
            out = out.withColumn(dst, F.expr(sql))
        vars_ = q["proj"]
        out = out.select(*vars_)
        # group keys keep their input nullability; every aggregate
        # except COUNT can be NULL (SUM/AVG of no numeric member,
        # MIN/MAX/SAMPLE of nothing never happens per-group, but be
        # conservative — an overestimate only costs compat-join
        # pieces if the alias later joins)
        out_nulls = (nulls & set(q["group_by"])) | {
            a["alias"] for a in q["aggs"] if a["func"] != "COUNT"
        } | {pe[1] for pe in q["agg_proj_exprs"]}
    else:
        vars_ = q["select_vars"] or sorted(
            c for c in sols.columns
            if not c.startswith(("_isuri_", "_lang_", "_dt_"))
            and c != "_ground"
        )
        # SPARQL projects unbound variables as NULL (the reference's
        # sfs_forfattningskommentar.rq selects a ?desc no pattern
        # binds); Spark would reject the missing column instead
        filled = set()
        for v in vars_:
            if v not in sols.columns:
                sols = sols.withColumn(v, F.lit(None).cast("string"))
                filled.add(v)
        if q["count"]:
            # solutions over a triple SET: bag COUNT(*) == set count
            return (
                sols.select(*vars_)
                .distinct()
                .agg(F.count(F.lit(1)).alias("count"))
            ), set()
        out = sols.select(*vars_).distinct()
        out_nulls = (nulls & set(vars_)) | filled
    if q["order_by"]:
        cols = [
            F.col(v).desc() if d else F.col(v).asc()
            for v, d in q["order_by"]
        ]
        # tie-break on all projected vars so pages are stable
        cols += [F.col(v) for v in vars_]
        if q["limit"] is not None:
            # top-(offset+limit) plan — TakeOrderedAndProject,
            # bounded per-partition heaps, never a global sort
            # (same shape as query.paginate)
            hi = q["offset"] + q["limit"]
            out = out.orderBy(*cols).limit(hi)
            if q["offset"]:
                from pyspark.sql import Window

                w = Window.orderBy(*cols)
                out = (
                    out.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") > q["offset"])
                    .drop("_rn")
                )
        else:
            out = out.orderBy(*cols)
    else:
        if q["offset"]:
            raise SparqlSyntaxError(
                "OFFSET without ORDER BY is non-deterministic"
            )
        if q["limit"] is not None:
            out = out.limit(q["limit"])
    return out, out_nulls


def run_sparql(
    triples: DataFrame,
    text: str,
    params: dict | None = None,
    max_path_hops: int = 3,
    stats: dict | None = None,
) -> DataFrame:
    """Execute a SPARQL text (the supported subset) against the
    triples table.  SELECT returns one column per projected variable
    (set semantics); CONSTRUCT returns the engine triples schema,
    ready for rdfio.to_ntriples or a triplestore sink.

    stats: optional graphquery.pred_stats() dict — predicate
    frequencies used for cost-based BGP join ordering during this
    compile (scoped via graphquery.use_stats so the whole recursive
    group compile sees it)."""
    from ferenda_spark.operators.graphquery import use_stats

    if stats is None:
        # keep any ambient use_stats() scope the caller established
        return _run_sparql(triples, text, params, max_path_hops)
    with use_stats(stats):
        return _run_sparql(triples, text, params, max_path_hops)


def _run_sparql(
    triples: DataFrame,
    text: str,
    params: dict | None = None,
    max_path_hops: int = 3,
) -> DataFrame:
    q = parse_sparql(text, params)
    from pyspark.sql import functions as F

    if q["from_graphs"] and "graph" in triples.columns:
        triples = triples.filter(F.col("graph").isin(q["from_graphs"]))
    sols, nulls = (None, set())
    if q["where"] is not None:
        tok = _ACTIVE_FROM_NAMED.set(tuple(q.get("from_named") or ()))
        try:
            sols, nulls = _compile_group(triples, q["where"], max_path_hops)
        finally:
            _ACTIVE_FROM_NAMED.reset(tok)

    if q["form"] == "DESCRIBE":
        # simple subject description: every store triple whose
        # subject is a described resource (SPARQL leaves DESCRIBE's
        # exact shape to the service — spec §16.4; the store has no
        # blank nodes, so subject rows ARE the bounded description)
        cols = ["subj", "pred", "obj", "obj_is_uri"] + [
            c for c in ("lang", "datatype") if c in triples.columns
        ]
        proj = triples.select(*cols)
        if sols is None:
            # ground-only form: isin pushes into the parquet scan
            return proj.filter(
                F.col("subj").isin(q["describe_iris"])
            ).distinct()
        res = None
        for v in q["describe_vars"]:
            if v not in sols.columns:
                raise SparqlSyntaxError(
                    f"DESCRIBE variable ?{v} is not bound by the pattern"
                )
            part = sols.select(F.col(v).alias("_d")).filter(
                F.col("_d").isNotNull()
            )
            res = part if res is None else res.unionByName(part)
        if q["describe_iris"]:
            idf = local_frame(
                sols.sparkSession, [(u,) for u in q["describe_iris"]], "_d string"
            )
            res = idf if res is None else res.unionByName(idf)
        # resource set is small relative to the store: distinct then
        # semi-join (AQE broadcasts it)
        return proj.join(
            res.distinct(), F.col("subj") == F.col("_d"), "left_semi"
        ).distinct()

    if q["form"] == "ASK":
        # boolean existence probe, kept lazy and distributed: LIMIT 1
        # stops the scan at the first surviving solution
        return sols.limit(1).agg(
            (F.count(F.lit(1)) > 0).alias("ask")
        )

    if q["form"] == "SELECT":
        out, _ = _run_select(sols, nulls, q)
        return out

    # CONSTRUCT: one output triple per template entry per solution,
    # variable objects re-emitted with their matched term metadata
    def term(t):
        return F.col(t[1:]) if t.startswith("?") else F.lit(t)

    rows = []
    for s, p, o in q["template"]:
        if o.startswith("?"):
            v = o[1:]
            # no metadata column => the variable was bound only in
            # subject/predicate position, which is an IRI by RDF
            # construction (rfc-annotations.rq's ?obsoleter/?updater)
            isuri = (
                F.coalesce(F.col(f"_isuri_{v}"), F.lit(False))
                if f"_isuri_{v}" in sols.columns
                else F.lit(True)
            )
            lang = (
                F.col(f"_lang_{v}")
                if f"_lang_{v}" in sols.columns
                else F.lit(None).cast("string")
            )
            dt = (
                F.col(f"_dt_{v}")
                if f"_dt_{v}" in sols.columns
                else F.lit(None).cast("string")
            )
        else:
            # ground template object: a full implementation would
            # sniff IRI-vs-literal from the token; template objects
            # in the reference's files are IRIs or variables
            isuri = F.lit(True)
            lang = F.lit(None).cast("string")
            dt = F.lit(None).cast("string")
        rows.append((term(s), term(p), term(o), isuri, lang, dt))
    return emit_templates(sols, rows)
