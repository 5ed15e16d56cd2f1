"""Property-based checks of the SPARQL surface against INDEPENDENT
models: the parser against a renderer round-trip (pure Python,
hypothesis), and the BGP compiler against a naive in-memory
solution-set evaluator (seeded random graphs, one Spark session).

The naive evaluator implements SPARQL BGP/OPTIONAL semantics from
the spec definition (solution mappings + compatible-merge), sharing
no code with the DataFrame compiler.
"""

from __future__ import annotations

import os
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ferenda_spark.operators.graphquery import bgp
from ferenda_spark.operators.sparql import parse_sparql

EX = "http://ex.org/"

# ---------------------------------------------------------------
# 1. parser round-trip: render(structure) -> parse -> structure
# ---------------------------------------------------------------

_var = st.integers(0, 4).map(lambda i: f"?v{i}")
_iri = st.integers(0, 4).map(lambda i: EX + f"x{i}")
_lit = st.integers(0, 4).map(lambda i: f"lit{i}")

_subj = st.one_of(_var, _iri)
_pred = st.one_of(_var, _iri)
_obj = st.one_of(_var, _iri, _lit)
_triple = st.tuples(_subj, _pred, _obj)


def _render_term(t, rnd: random.Random) -> str:
    if t.startswith("?"):
        return t
    if t.startswith(EX):
        # randomly choose full-IRI or prefixed-name spelling
        return f"<{t}>" if rnd.random() < 0.5 else "ex:" + t[len(EX):]
    return '"%s"' % t


def _render(patterns, optionals, rnd: random.Random) -> str:
    """Structure -> SPARQL text, exercising both '.'-terminated
    statements and ';' predicate lists for shared subjects."""
    def stmts(pats):
        out, i = [], 0
        while i < len(pats):
            s, p, o = pats[i]
            parts = [
                f"{_render_term(s, rnd)} {_render_term(p, rnd)} "
                f"{_render_term(o, rnd)}"
            ]
            # fold following patterns with the SAME subject into ';'
            while (
                rnd.random() < 0.5
                and i + 1 < len(pats)
                and pats[i + 1][0] == s
            ):
                i += 1
                _, p2, o2 = pats[i]
                parts.append(
                    f"{_render_term(p2, rnd)} {_render_term(o2, rnd)}"
                )
            out.append(" ;\n  ".join(parts) + " .")
            i += 1
        return "\n".join(out)

    body = stmts(patterns)
    for group in optionals:
        body += "\nOPTIONAL {\n" + stmts(group) + "\n}"
    return (
        "PREFIX ex: <" + EX + ">\nSELECT * WHERE {\n" + body + "\n}"
    )


@settings(max_examples=100, deadline=None)
@given(
    st.lists(_triple, min_size=1, max_size=6),
    st.lists(st.lists(_triple, min_size=1, max_size=2), max_size=2),
    st.integers(0, 2**31),
)
def test_parse_roundtrip(patterns, optionals, seed):
    rnd = random.Random(seed)
    q = parse_sparql(_render(patterns, optionals, rnd))
    assert q["form"] == "SELECT"
    assert q["where"]["patterns"] == patterns
    # optionals parse to full sub-groups (patterns + filters)
    assert [o["patterns"] for o in q["where"]["optionals"]] == optionals
    assert all(not o["filters"] for o in q["where"]["optionals"])


# ---------------------------------------------------------------
# 2. BGP compiler vs naive evaluator
# ---------------------------------------------------------------

SCHEMA = (
    "subj string, pred string, obj string, obj_is_uri boolean, "
    "lang string, datatype string"
)


def _naive_match(triples, pat, sols):
    out = []
    for sol in sols:
        for t in triples:
            b, ok = dict(sol), True
            for term, val in zip(pat, t):
                if term.startswith("?"):
                    v = term[1:]
                    if v in b and b[v] != val:
                        ok = False
                        break
                    b[v] = val
                elif term != val:
                    ok = False
                    break
            if ok:
                out.append(b)
    return out


def _naive_bgp(triples, patterns, optionals=()):
    """Spec-definition evaluator: fold patterns over solution
    mappings; OPTIONAL = left join of the group's own solutions on
    compatible shared bindings."""
    sols = [{}]
    for p in patterns:
        sols = _naive_match(triples, p, sols)
    for group in optionals:
        gs = [{}]
        for p in group:
            gs = _naive_match(triples, p, gs)
        joined = []
        for s in sols:
            hits = [
                g for g in gs
                if all(s[k] == g[k] for k in g if k in s)
            ]
            if hits:
                joined += [{**s, **g} for g in hits]
            else:
                joined.append(s)
        sols = joined
    return sols


def _gen_case(rnd: random.Random):
    """A random graph + a random connected-enough query.  Terms draw
    from a small vocab so joins actually hit; optionals are forced
    to share a variable with the mains (a disconnected OPTIONAL is a
    no-op in the compiler by design)."""
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    lits = [f"L{i}" for i in range(3)]
    triples = list(
        {
            (
                rnd.choice(nodes),
                rnd.choice(preds),
                rnd.choice(nodes + lits),
            )
            for _ in range(rnd.randint(3, 12))
        }
    )

    def term(kind_pool, var_p=0.5, max_var=3):
        if rnd.random() < var_p:
            return f"?v{rnd.randint(0, max_var)}"
        return rnd.choice(kind_pool)

    mains = [
        (term(nodes), term(preds, 0.3), term(nodes + lits))
        for _ in range(rnd.randint(1, 3))
    ]
    main_vars = {t for pat in mains for t in pat if t.startswith("?")}
    optionals = []
    if main_vars and rnd.random() < 0.6:
        anchor = rnd.choice(sorted(main_vars))
        optionals.append(
            [(anchor, term(preds, 0.2), f"?w{rnd.randint(0, 1)}")]
        )
    return triples, mains, optionals


@pytest.mark.parametrize("seed", range(14))
def test_bgp_matches_naive_evaluator(spark, seed):
    rnd = random.Random(1000 + seed)
    triples, mains, optionals = _gen_case(rnd)
    rows = [
        (s, p, o, o.startswith("http://"), None, None)
        for s, p, o in triples
    ]
    g = spark.createDataFrame(rows, SCHEMA)

    got_df = bgp(g, mains, optionals=optionals)
    vars_ = sorted(got_df.columns)
    got = {tuple(r[v] for v in vars_) for r in got_df.collect()}

    want = {
        tuple(sol.get(v) for v in vars_)
        for sol in _naive_bgp(triples, mains, optionals)
    }
    assert got == want, (mains, optionals, sorted(triples))


def test_repeated_var_in_one_pattern(spark):
    """?x <p> ?x is an equality constraint (diagonal), one column."""
    rows = [
        ("a", EX + "p0", "a", True, None, None),
        ("a", EX + "p0", "b", True, None, None),
    ]
    g = spark.createDataFrame(rows, SCHEMA)
    got = bgp(g, [("?x", EX + "p0", "?x")])
    assert got.columns == ["x"]
    assert [tuple(r) for r in got.collect()] == [("a",)]


# ---------------------------------------------------------------
# 3. full text front-end (render -> run_sparql) vs naive evaluator,
#    including UNION chains and FILTER
# ---------------------------------------------------------------

from ferenda_spark.operators.sparql import (  # noqa: E402
    SparqlSyntaxError,
    run_sparql,
)


def _naive_query(triples, mains, optionals, unions, filters):
    """mains/optionals as in _naive_bgp; unions: list of
    alternative-pattern-lists merged by (engine-guarded) shared-var
    equi-join; filters: (var, != value) pairs."""
    sols = [{}]
    for p in mains:
        sols = _naive_match(triples, p, sols)
    for alts in unions:
        usols = []
        for alt in alts:
            asols = [{}]
            for p in alt:
                asols = _naive_match(triples, p, asols)
            usols += asols
        merged = []
        for s in sols:
            for u in usols:
                if all(s[k] == u[k] for k in u if k in s):
                    merged.append({**s, **u})
        sols = merged
    for group in optionals:
        gs = [{}]
        for p in group:
            gs = _naive_match(triples, p, gs)
        joined = []
        for s in sols:
            hits = [g for g in gs if all(s[k] == g[k] for k in g if k in s)]
            joined += [{**s, **g} for g in hits] if hits else [s]
        sols = joined
    for var, val in filters:
        # != on an unbound var: SPARQL type error drops the row, and
        # SQL NULL-comparison drops it too — same outcome
        sols = [s for s in sols if s.get(var) is not None and s[var] != val]
    return sols


def _render_full(mains, optionals, unions, filters, rnd):
    body = []
    for s, p, o in mains:
        body.append(
            f"{_render_term(s, rnd)} {_render_term(p, rnd)} "
            f"{_render_term(o, rnd)} ."
        )
    for alts in unions:
        rendered = []
        for alt in alts:
            stmts = "\n".join(
                f"{_render_term(s, rnd)} {_render_term(p, rnd)} "
                f"{_render_term(o, rnd)} ."
                for s, p, o in alt
            )
            rendered.append("{\n" + stmts + "\n}")
        body.append(" UNION ".join(rendered))
    for group in optionals:
        stmts = "\n".join(
            f"{_render_term(s, rnd)} {_render_term(p, rnd)} "
            f"{_render_term(o, rnd)} ."
            for s, p, o in group
        )
        body.append("OPTIONAL {\n" + stmts + "\n}")
    for var, val in filters:
        body.append(f'FILTER (?{var} != "{val}")')
    return (
        "PREFIX ex: <" + EX + ">\nSELECT * WHERE {\n"
        + "\n".join(body)
        + "\n}"
    )


def _gen_full_case(rnd: random.Random):
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    lits = [f"L{i}" for i in range(3)]
    triples = list(
        {
            (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes + lits))
            for _ in range(rnd.randint(4, 12))
        }
    )

    def term(pool, var_p=0.5, vmax=2):
        return (
            f"?v{rnd.randint(0, vmax)}" if rnd.random() < var_p
            else rnd.choice(pool)
        )

    mains = [
        (term(nodes), term(preds, 0.3), term(nodes + lits))
        for _ in range(rnd.randint(1, 2))
    ]
    main_vars = sorted(
        {t[1:] for pat in mains for t in pat if t.startswith("?")}
    )
    unions = []
    if main_vars and rnd.random() < 0.8:
        # both branches bind exactly the anchor var (engine contract)
        anchor = "?" + rnd.choice(main_vars)
        unions.append(
            [
                [(anchor, rnd.choice(preds), rnd.choice(nodes + lits))],
                [(anchor, rnd.choice(preds), rnd.choice(nodes + lits))],
            ]
        )
    optionals = []
    if main_vars and rnd.random() < 0.5:
        anchor = "?" + rnd.choice(main_vars)
        optionals.append([(anchor, term(preds, 0.2), "?w0")])
    filters = []
    if main_vars and rnd.random() < 0.6:
        filters.append((rnd.choice(main_vars), rnd.choice(lits + ["n1"])))
    return triples, mains, optionals, unions, filters


@pytest.mark.parametrize("seed", range(12))
def test_run_sparql_matches_naive_evaluator(spark, seed):
    rnd = random.Random(7000 + seed)
    triples, mains, optionals, unions, filters = _gen_full_case(rnd)
    rows = [
        (s, p, o, o.startswith("http://"), None, None)
        for s, p, o in triples
    ]
    g = spark.createDataFrame(rows, SCHEMA)
    text = _render_full(mains, optionals, unions, filters, rnd)

    got_df = run_sparql(g, text)
    vars_ = sorted(got_df.columns)
    got = {tuple(r[v] for v in vars_) for r in got_df.collect()}
    want = {
        tuple(sol.get(v) for v in vars_)
        for sol in _naive_query(triples, mains, optionals, unions, filters)
    }
    assert got == want, text


def test_union_branch_missing_join_var_compat_merge(spark):
    """A UNION branch that does not bind the shared variable merges
    compatibly (spec §18.5): its solutions keep the outer binding
    instead of being dropped on a NULL join key."""
    rows = [
        ("a", EX + "p0", "b", True, None, None),
        ("a", EX + "p1", "z1", False, None, None),
        ("q9", EX + "p2", "z2", False, None, None),
    ]
    g = spark.createDataFrame(rows, SCHEMA)
    q = (
        "PREFIX ex: <" + EX + "> SELECT * WHERE { "
        "?x ex:p0 ?y . "
        "{ ?x ex:p1 ?z . } UNION { ?q ex:p2 ?z . } }"
    )
    got = {
        tuple(r) for r in run_sparql(g, q).select("q", "x", "y", "z").collect()
    }
    assert got == {
        (None, "a", "b", "z1"),   # branch 1 equi-joins on ?x
        ("q9", "a", "b", "z2"),   # branch 2 compat-merges (?x from outer)
    }


@pytest.mark.parametrize("seed", range(8))
def test_union_compat_merge_matches_naive(spark, seed):
    """Randomized compatible-merge: branches may bind the anchor, a
    fresh var, or both; the naive evaluator is the spec definition."""
    rnd = random.Random(9000 + seed)
    triples, mains, _, _, _ = _gen_full_case(rnd)
    main_vars = sorted(
        {t[1:] for pat in mains for t in pat if t.startswith("?")}
    )
    if not main_vars:
        mains.append(("?v0", EX + "p0", "?v1"))
        main_vars = ["v0", "v1"]
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    anchor = "?" + rnd.choice(main_vars)

    def branch():
        # subject is the anchor, a fresh unshared var, or a constant
        subj = rnd.choice([anchor, "?u0", rnd.choice(nodes)])
        return [(subj, rnd.choice(preds), rnd.choice(nodes + ["?z0"]))]

    unions = [[branch(), branch()]]
    text = _render_full(mains, [], unions, [], rnd)
    g = spark.createDataFrame(
        [(s, p, o, o.startswith("http://"), None, None) for s, p, o in triples],
        SCHEMA,
    )
    got_df = run_sparql(g, text)
    vars_ = sorted(got_df.columns)
    got = {tuple(r[v] for v in vars_) for r in got_df.collect()}
    want = {
        tuple(sol.get(v) for v in vars_)
        for sol in _naive_query(triples, mains, [], unions, [])
    }
    assert got == want, text


def test_group_scoped_optional_compat_merge(spark):
    """OPTIONAL scopes to its enclosing group (spec §18.2.2): in
    ?d p2 ?w . { ?s p0 ?t OPTIONAL { ?s p1 ?w } } the LeftJoin runs
    inside the group, THEN the group joins outward compatibly — a
    row where the group left ?w unbound merges with EVERY outer ?w
    (per-row NULL-signature split), not hoisted into an outer-scoped
    left join."""
    rows = [
        (EX + "n1", EX + "p0", EX + "n2", True, None, None),
        (EX + "n1", EX + "p1", EX + "n2", True, None, None),  # opt hits
        (EX + "n3", EX + "p0", EX + "n4", True, None, None),  # opt misses
        (EX + "a", EX + "p2", EX + "n2", True, None, None),
        (EX + "b", EX + "p2", EX + "n9", True, None, None),
    ]
    g = spark.createDataFrame(rows, SCHEMA)
    q = (
        "PREFIX ex: <" + EX + "> SELECT * WHERE { ?d ex:p2 ?w . "
        "{ ?s ex:p0 ?t OPTIONAL { ?s ex:p1 ?w } } }"
    )
    got = {
        tuple(r)
        for r in run_sparql(g, q).select("d", "s", "t", "w").collect()
    }
    assert got == {
        # group row (n1,n2,w=n2) equi-joins outer ?w=n2 (d=a) only;
        # group row (n3,n4,w unbound) compat-merges with both outers
        (EX + "a", EX + "n1", EX + "n2", EX + "n2"),
        (EX + "a", EX + "n3", EX + "n4", EX + "n2"),
        (EX + "b", EX + "n3", EX + "n4", EX + "n9"),
    }


# ---------------------------------------------------------------
# 4. var-var zero-or-more paths (keyword_sfs.rq shape): the
#    algebraic zero-hop rewrite vs the spec expansion
# ---------------------------------------------------------------


def _naive_star_pairs(triples, pred, max_hops=3):
    """Spec expansion: transitive pairs 1..max_hops plus the
    zero-length identity over every term of the graph."""
    step = {(s, o) for s, p, o in triples if p == pred}
    pairs, frontier = set(step), set(step)
    for _ in range(max_hops - 1):
        frontier = {
            (a, d) for a, b in frontier for c, d in step if b == c
        }
        pairs |= frontier
    terms = {t for tr in triples for t in tr}
    return pairs | {(t, t) for t in terms}


@pytest.mark.parametrize("seed", range(8))
def test_varvar_star_path_matches_naive(spark, seed):
    """?a <p0> X . ?a <p1>* ?b . ?b <p2> ?c — the reference's
    keyword_sfs containment walk with BOTH path endpoints variable.
    The compiler's bound-endpoint identity rewrite must equal the
    spec's all-terms zero-hop expansion joined with the bindings."""
    rnd = random.Random(4000 + seed)
    nodes = [EX + f"n{i}" for i in range(5)]
    preds = [EX + f"p{i}" for i in range(3)]
    triples = list(
        {
            (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes + ["L0"]))
            for _ in range(rnd.randint(5, 14))
        }
    )
    anchor_obj = rnd.choice(nodes + ["L0"])
    mains = [
        ("?a", EX + "p0", anchor_obj),
        ("?a", EX + "p1*", "?b"),
        ("?b", EX + "p2", "?c"),
    ]
    rows = [
        (s, p, o, o.startswith("http://"), None, None)
        for s, p, o in triples
    ]
    g = spark.createDataFrame(rows, SCHEMA)
    got_df = bgp(g, mains)
    vars_ = sorted(got_df.columns)
    got = {tuple(r[v] for v in vars_) for r in got_df.collect()}

    star = _naive_star_pairs(triples, EX + "p1")
    sols = _naive_match(triples, ("?a", EX + "p0", anchor_obj), [{}])
    sols = [
        {**s, "b": b}
        for s in sols
        for (a, b) in star
        if a == s["a"]
    ]
    sols = _naive_match(triples, ("?b", EX + "p2", "?c"), sols)
    want = {tuple(s.get(v) for v in vars_) for s in sols}
    assert got == want, (sorted(triples), anchor_obj)


# ---------------------------------------------------------------
# 5. parser robustness: malformed input of ANY shape raises
#    SparqlSyntaxError, never a bare lookahead error
# ---------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=120))
def test_parser_never_crashes_on_garbage(s):
    try:
        parse_sparql(s)
    except SparqlSyntaxError:
        pass


def test_parser_clean_error_on_every_truncation():
    """Every token-boundary truncation of a real corpus query fails
    with SparqlSyntaxError (or parses, for prefix-only heads)."""
    path = "/root/reference/ferenda/sources/tech/res/sparql/rfc-annotations.rq"
    if not os.path.exists(path):
        pytest.skip("reference tree not present")
    text = open(path).read() % {"uri": "http://x/1"}
    for cut in range(0, len(text), 7):
        try:
            parse_sparql(text[:cut])
        except SparqlSyntaxError:
            pass


# ---------------------------------------------------------------
# 6. negation (MINUS / FILTER NOT EXISTS) vs the naive anti model
# ---------------------------------------------------------------


@pytest.mark.parametrize("seed", range(8))
def test_negation_matches_naive(spark, seed):
    rnd = random.Random(9000 + seed)
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    triples = list(
        {
            (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes + ["L0"]))
            for _ in range(rnd.randint(4, 12))
        }
    )
    mainp, negp = rnd.choice(preds), rnd.choice(preds)
    kw = "MINUS" if seed % 2 else "FILTER NOT EXISTS"
    text = (
        "PREFIX ex: <" + EX + "> SELECT * WHERE { "
        f"?a <{mainp}> ?b . {kw} {{ ?a <{negp}> ?c . }} }}"
    )
    rows = [
        (s, p, o, o.startswith("http://"), None, None)
        for s, p, o in triples
    ]
    g = spark.createDataFrame(rows, SCHEMA)
    got_df = run_sparql(g, text)
    vars_ = sorted(got_df.columns)
    got = {tuple(r[v] for v in vars_) for r in got_df.collect()}

    sols = _naive_match(triples, ("?a", mainp, "?b"), [{}])
    neg = _naive_match(triples, ("?a", negp, "?c"), [{}])
    neg_keys = {m["a"] for m in neg}
    want = {
        tuple(s.get(v) for v in vars_)
        for s in sols
        if s["a"] not in neg_keys
    }
    assert got == want, text


# ---------------------------------------------------------------
# 7. grouped aggregates vs a naive Python group-and-fold
# ---------------------------------------------------------------


def _naive_aggregate(triples, seed_rnd):
    """Random 2-pattern BGP { ?s <p> ?o . ?s <q> ?w } aggregated per
    ?s, folded by hand over the DISTINCT solution set."""
    sols = {
        (s1, o1, o2)
        for s1, p1, o1 in triples if p1 == EX + "p"
        for s2, p2, o2 in triples if p2 == EX + "q" and s2 == s1
    }
    groups: dict = {}
    for s, o, w in sols:
        groups.setdefault(s, []).append((o, w))
    out = {}
    for s, rows in groups.items():
        os_ = [o for o, _ in rows]
        nums = []
        for o in os_:
            try:
                nums.append(float(o))
            except ValueError:
                pass
        out[s] = (
            len(rows),                      # COUNT(?o) over solutions
            len(set(os_)),                  # COUNT(DISTINCT ?o)
            min(os_),                       # MIN lexical
            sum(nums) if nums else None,    # SUM numeric, else NULL
        )
    return out


@pytest.mark.parametrize("seed", range(8))
def test_aggregates_match_naive(spark, seed):
    rnd = random.Random(9100 + seed)
    subs = [EX + f"s{i}" for i in range(4)]
    objs = ["1", "2", "2.5", "w", "z", "10"]
    triples = {
        (rnd.choice(subs), EX + rnd.choice("pq"), rnd.choice(objs))
        for _ in range(rnd.randint(4, 18))
    }
    rows = [(s, p, o, False, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    got = {
        r["s"]: (r["n"], r["d"], r["lo"], r["sm"])
        for r in run_sparql(
            g,
            f"""SELECT ?s (COUNT(?o) AS ?n) (COUNT(DISTINCT ?o) AS ?d)
                       (MIN(?o) AS ?lo) (SUM(?o) AS ?sm)
                WHERE {{ ?s <{EX}p> ?o . ?s <{EX}q> ?w }} GROUP BY ?s""",
        ).collect()
    }
    assert got == _naive_aggregate(triples, rnd), sorted(triples)


@pytest.mark.parametrize("seed", range(6))
def test_aggregate_projection_exprs_match_naive(spark, seed):
    """Projection expressions over aggregates (Extend after
    Aggregation) vs the same fold computed by hand: a ratio of two
    aggregates, an aggregate+constant, and an expression over the
    group key — per ?s group over the DISTINCT solution set."""
    rnd = random.Random(9500 + seed)
    subs = [EX + f"s{i}" for i in range(4)]
    objs = ["1", "2", "2.5", "w", "z", "10"]
    triples = {
        (rnd.choice(subs), EX + rnd.choice("pq"), rnd.choice(objs))
        for _ in range(rnd.randint(4, 18))
    }
    rows = [(s, p, o, False, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    got = {
        r["s"]: (r["ratio"], r["n2"], r["tag"])
        for r in run_sparql(
            g,
            f"""SELECT ?s (SUM(?o)/COUNT(?o) AS ?ratio)
                       (COUNT(DISTINCT ?o)+1 AS ?n2)
                       (CONCAT(STR(?s), "#g") AS ?tag)
                WHERE {{ ?s <{EX}p> ?o . ?s <{EX}q> ?w }}
                GROUP BY ?s""",
        ).collect()
    }
    sols = {
        (s1, o1, o2)
        for s1, p1, o1 in triples if p1 == EX + "p"
        for s2, p2, o2 in triples if p2 == EX + "q" and s2 == s1
    }
    groups: dict = {}
    for s, o, w in sols:
        groups.setdefault(s, []).append(o)
    want = {}
    for s, os_ in groups.items():
        nums = []
        for o in os_:
            try:
                nums.append(float(o))
            except ValueError:
                pass
        want[s] = (
            (sum(nums) / len(os_)) if nums else None,
            float(len(set(os_)) + 1),
            s + "#g",
        )
    assert got == want, sorted(triples)


# ---------------------------------------------------------------
# 8. path sugar (sequence / inverse / alternation) vs naive chains
# ---------------------------------------------------------------


@pytest.mark.parametrize("seed", range(8))
def test_path_sugar_matches_naive(spark, seed):
    rnd = random.Random(9300 + seed)
    nodes = [EX + f"n{i}" for i in range(5)]
    triples = {
        (rnd.choice(nodes), EX + rnd.choice("pq"), rnd.choice(nodes))
        for _ in range(rnd.randint(3, 14))
    }
    rows = [(s, p, o, True, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    P, Q = EX + "p", EX + "q"

    def edges(pred):
        return {(s, o) for s, p, o in triples if p == pred}

    # sequence ?x <p>/<q> ?y
    want = {(x, y) for x, m in edges(P) for m2, y in edges(Q) if m == m2}
    got = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x <{P}>/<{Q}> ?y }}"
        ).collect()
    }
    assert got == want, ("seq", sorted(triples))

    # inverse ?x ^<p> ?y  ==  y p x
    want = {(o, s) for s, o in edges(P)}
    got = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x ^<{P}> ?y }}"
        ).collect()
    }
    assert got == want, ("inv", sorted(triples))

    # alternation ?x (<p>|<q>) ?y
    want = edges(P) | edges(Q)
    got = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x (<{P}>|<{Q}>) ?y }}"
        ).collect()
    }
    assert got == want, ("alt", sorted(triples))

    # inverse inside a sequence: ?x ^<p>/<q> ?y == exists m: m p x, m q y
    want = {
        (x, y) for m, x in edges(P) for m2, y in edges(Q) if m == m2
    }
    got = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x ^<{P}>/<{Q}> ?y }}"
        ).collect()
    }
    assert got == want, ("invseq", sorted(triples))


# ---------------------------------------------------------------
# 8b. quantified parenthesized paths vs naive composed closure
# ---------------------------------------------------------------


def _naive_closure(edges: set, lo: int, hi: int) -> set:
    """Pairs connected by lo..hi compositions of the edge set."""
    out, hop = set(), set(edges)
    for d in range(1, hi + 1):
        if d > 1:
            hop = {(a, c) for a, b in hop for b2, c in edges if b == b2}
        if d >= lo:
            out |= hop
    return out


@pytest.mark.parametrize("seed", range(8))
def test_quantified_group_path_matches_naive(spark, seed):
    """(a/b)+ / (a|b)+ / (a/b){m,n} against a brute-force closure of
    the naively composed edge relation, on random graphs — plus the
    ground-endpoint zero-or-more case (identity row included)."""
    rnd = random.Random(9700 + seed)
    nodes = [EX + f"n{i}" for i in range(5)]
    triples = {
        (rnd.choice(nodes), EX + rnd.choice("pq"), rnd.choice(nodes))
        for _ in range(rnd.randint(4, 16))
    }
    rows = [(s, p, o, True, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    P, Q = EX + "p", EX + "q"
    ep = {(s, o) for s, p, o in triples if p == P}
    eq = {(s, o) for s, p, o in triples if p == Q}
    seq_e = {(x, y) for x, m in ep for m2, y in eq if m == m2}

    # (p/q)+ : closure of the composed sequence edge, 1..3 hops
    want = _naive_closure(seq_e, 1, 3)
    got = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x (<{P}>/<{Q}>)+ ?y }}"
        ).collect()
    }
    assert got == want, ("seq+", sorted(triples))

    # (p|q)+ : closure of the union edge
    want = _naive_closure(ep | eq, 1, 3)
    got = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x (<{P}>|<{Q}>)+ ?y }}"
        ).collect()
    }
    assert got == want, ("alt+", sorted(triples))

    # (p|q){2,3} : explicit bounds
    want = _naive_closure(ep | eq, 2, 3)
    got = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x (<{P}>|<{Q}>){{2,3}} ?y }}"
        ).collect()
    }
    assert got == want, ("alt{2,3}", sorted(triples))

    # ground-endpoint (p|q)* : zero-hop identity plus the closure
    start = rnd.choice(nodes)
    want = {y for x, y in _naive_closure(ep | eq, 1, 3) if x == start}
    want.add(start)
    got = {
        r["y"]
        for r in run_sparql(
            g, f"SELECT ?y WHERE {{ <{start}> (<{P}>|<{Q}>)* ?y }}"
        ).collect()
    }
    assert got == want, ("ground*", start, sorted(triples))


# ---------------------------------------------------------------
# 8a2. chained OPTIONALs over maybe-unbound vars vs naive LeftJoin
# ---------------------------------------------------------------


@pytest.mark.parametrize("seed", range(8))
def test_chained_optionals_match_naive(spark, seed):
    """Non-well-designed OPTIONAL chains — a later OPTIONAL body
    reuses a variable that an earlier OPTIONAL may have left unbound
    — against the spec LeftJoin evaluated naively (_naive_bgp's
    dict-based merge treats an absent key as compatible-and-filled,
    the exact §18.5 rule)."""
    rnd = random.Random(9600 + seed)
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    triples = {
        (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes))
        for _ in range(rnd.randint(3, 12))
    }
    rows = [(s, p, o, True, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    P0, P1, P2 = preds

    main = [("?a", P0, "?b")]
    opts = [[("?b", P1, "?c")], [("?c", P2, "?d")]]
    want = {
        (s.get("a"), s.get("b"), s.get("c"), s.get("d"))
        for s in _naive_bgp(triples, main, opts)
    }
    got = {
        (r["a"], r["b"], r["c"], r["d"])
        for r in run_sparql(
            g,
            f"""SELECT ?a ?b ?c ?d WHERE {{
              ?a <{P0}> ?b .
              OPTIONAL {{ ?b <{P1}> ?c }}
              OPTIONAL {{ ?c <{P2}> ?d }}
            }}""",
        ).collect()
    }
    assert got == want, sorted(triples)


# ---------------------------------------------------------------
# 8b1. ENCODE_FOR_URI vs urllib.parse.quote on random unicode
# ---------------------------------------------------------------


@pytest.mark.parametrize("seed", range(4))
def test_encode_for_uri_matches_urllib(spark, seed):
    """Random unicode strings (ASCII, Latin-1, CJK, astral planes,
    percent signs) through ENCODE_FOR_URI must equal Python's
    urllib.parse.quote with the RFC 3986 unreserved set."""
    import urllib.parse

    rnd = random.Random(9400 + seed)
    pools = [
        lambda: chr(rnd.randint(32, 126)),
        lambda: chr(rnd.randint(0xA0, 0x2FF)),
        lambda: chr(rnd.randint(0x4E00, 0x4FFF)),
        lambda: chr(rnd.randint(0x1F300, 0x1F64F)),
        lambda: "%",
    ]
    vals = [
        "".join(rnd.choice(pools)() for _ in range(rnd.randint(0, 12)))
        for _ in range(12)
    ]
    rows = [(f"s{k}", "val", v, False, None, None)
            for k, v in enumerate(vals)]
    g = spark.createDataFrame(rows, SCHEMA)
    got = run_sparql(
        g, "SELECT ?s ?v (ENCODE_FOR_URI(?v) AS ?e) WHERE { ?s <val> ?v }"
    ).collect()
    assert len(got) == len({(f"s{k}", v) for k, v in enumerate(vals)})
    for r in got:
        assert r["e"] == urllib.parse.quote(r["v"], safe="-_.~"), repr(r["v"])


# ---------------------------------------------------------------
# 8b2. negated property sets vs naive complement evaluation
# ---------------------------------------------------------------


@pytest.mark.parametrize("seed", range(8))
def test_negated_property_set_matches_naive(spark, seed):
    """!(members) against the spec translation evaluated naively:
    forward triples whose predicate is not a forward member, union
    swapped triples whose predicate is not an inverse member."""
    rnd = random.Random(9900 + seed)
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(4)]
    triples = {
        (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes))
        for _ in range(rnd.randint(4, 16))
    }
    rows = [(s, p, o, True, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    fwd = rnd.sample(preds, rnd.randint(0, 2))
    invs = rnd.sample(preds, rnd.randint(0 if fwd else 1, 2))

    want = set()
    if fwd:
        want |= {(s, o) for s, p, o in triples if p not in fwd}
    if invs:
        want |= {(o, s) for s, p, o in triples if p not in invs}

    members = [f"<{p}>" for p in fwd] + [f"^<{p}>" for p in invs]
    q = f"SELECT ?x ?y WHERE {{ ?x !({'|'.join(members)}) ?y }}"
    got = {
        (r["x"], r["y"]) for r in run_sparql(g, q).collect()
    }
    assert got == want, (sorted(triples), fwd, invs)


@pytest.mark.parametrize("seed", range(6))
def test_quantified_nps_matches_naive(spark, seed):
    """!(members)+ and !(members){m,n} vs a naive bounded closure of
    the complement relation (spec §9.1 translation, then §9.3
    ZeroOrMorePath bounded to the engine's 3 hops)."""
    rnd = random.Random(10100 + seed)
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    triples = {
        (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes))
        for _ in range(rnd.randint(3, 12))
    }
    rows = [(s, p, o, True, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    fwd = rnd.sample(preds, rnd.randint(0, 2))
    invs = rnd.sample(preds, rnd.randint(0 if fwd else 1, 2))

    edges = set()
    if fwd:
        edges |= {(s, o) for s, p, o in triples if p not in fwd}
    if invs:
        edges |= {(o, s) for s, p, o in triples if p not in invs}

    def hops(n):
        cur, k = set(edges), 1
        while k < n:
            cur = {(a, d) for a, b in cur for c, d in edges if b == c}
            k += 1
        return cur

    lo, hi = sorted(rnd.sample([1, 2, 3], 2))
    want_plus = hops(1) | hops(2) | hops(3)
    want_rng = set()
    for k in range(lo, hi + 1):
        want_rng |= hops(k)

    members = [f"<{p}>" for p in fwd] + [f"^<{p}>" for p in invs]
    nps = f"!({'|'.join(members)})"
    got_plus = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x {nps}+ ?y }}"
        ).collect()
    }
    assert got_plus == want_plus, (sorted(triples), fwd, invs)
    got_rng = {
        (r["x"], r["y"])
        for r in run_sparql(
            g, f"SELECT ?x ?y WHERE {{ ?x {nps}{{{lo},{hi}}} ?y }}"
        ).collect()
    }
    assert got_rng == want_rng, (sorted(triples), fwd, invs, lo, hi)


# ---------------------------------------------------------------
# 8c. VALUES over a maybe-unbound variable vs naive compat-merge
# ---------------------------------------------------------------


@pytest.mark.parametrize("seed", range(8))
def test_values_over_unbound_matches_naive(spark, seed):
    """?s <p> ?o . OPTIONAL { ?o <q> ?v } VALUES ?v { ... } against
    the spec's compatible-merge evaluated naively: an unbound ?v
    multiplies by every inline value, a bound ?v filters."""
    rnd = random.Random(9800 + seed)
    nodes = [EX + f"n{i}" for i in range(5)]
    triples = {
        (rnd.choice(nodes), EX + rnd.choice("pq"), rnd.choice(nodes))
        for _ in range(rnd.randint(4, 14))
    }
    rows = [(s, p, o, True, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    P, Q = EX + "p", EX + "q"
    vals = rnd.sample(nodes, rnd.randint(1, 3))

    # naive: main pattern, left-join OPTIONAL, then compat-merge
    base = [(s, o) for s, p, o in triples if p == P]
    qmap = {}
    for s, p, o in triples:
        if p == Q:
            qmap.setdefault(s, []).append(o)
    sols = []
    for s, o in base:
        if o in qmap:
            sols += [(s, o, v) for v in qmap[o]]
        else:
            sols.append((s, o, None))
    want = set()
    for s, o, v in sols:
        if v is None:
            want |= {(s, o, val) for val in vals}
        elif v in vals:
            want.add((s, o, v))

    vlist = " ".join(f"<{v}>" for v in vals)
    got = {
        (r["s"], r["o"], r["v"])
        for r in run_sparql(
            g,
            f"""SELECT ?s ?o ?v WHERE {{
              ?s <{P}> ?o .
              OPTIONAL {{ ?o <{Q}> ?v }}
              VALUES ?v {{ {vlist} }}
            }}""",
        ).collect()
    }
    assert got == want, (sorted(triples), vals)


# ---------------------------------------------------------------
# 9. FILTER EXISTS (positive) vs naive semi-filter
# ---------------------------------------------------------------


@pytest.mark.parametrize("seed", range(8))
def test_exists_matches_naive(spark, seed):
    rnd = random.Random(9500 + seed)
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    triples = list(
        {
            (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes + ["L0"]))
            for _ in range(rnd.randint(4, 12))
        }
    )
    mainp, exp_ = rnd.choice(preds), rnd.choice(preds)
    text = (
        "SELECT * WHERE { "
        f"?a <{mainp}> ?b . FILTER EXISTS {{ ?a <{exp_}> ?c . }} }}"
    )
    rows = [
        (s, p, o, o.startswith("http://"), None, None)
        for s, p, o in triples
    ]
    g = spark.createDataFrame(rows, SCHEMA)
    got_df = run_sparql(g, text)
    vars_ = sorted(got_df.columns)
    got = {tuple(r[v] for v in vars_) for r in got_df.collect()}

    sols = _naive_match(triples, ("?a", mainp, "?b"), [{}])
    pos_keys = {m["a"] for m in _naive_match(triples, ("?a", exp_, "?c"), [{}])}
    want = {
        tuple(s.get(v) for v in vars_) for s in sols if s["a"] in pos_keys
    }
    assert got == want, text


# ---------------------------------------------------------------
# 10. subqueries (plain and grouped top-k) vs naive bottom-up eval
# ---------------------------------------------------------------


@pytest.mark.parametrize("seed", range(8))
def test_subquery_matches_naive(spark, seed):
    rnd = random.Random(9700 + seed)
    nodes = [EX + f"n{i}" for i in range(5)]
    P, Q = EX + "p", EX + "q"
    triples = list(
        {
            (rnd.choice(nodes), rnd.choice([P, Q]), rnd.choice(nodes))
            for _ in range(rnd.randint(5, 16))
        }
    )
    rows = [(s, p, o, True, None, None) for s, p, o in triples]
    g = spark.createDataFrame(rows, SCHEMA)
    p_edges = {(s, o) for s, p, o in triples if p == P}
    q_edges = {(s, o) for s, p, o in triples if p == Q}

    # plain projection subquery == semi restriction on ?a
    got = {
        tuple(r)
        for r in run_sparql(
            g,
            f"""SELECT ?a ?b WHERE {{ ?a <{P}> ?b .
                {{ SELECT ?a WHERE {{ ?a <{Q}> ?c }} }} }}""",
        ).collect()
    }
    want = {(a, b) for a, b in p_edges if any(s == a for s, _ in q_edges)}
    assert got == want, sorted(triples)

    # grouped top-k subquery joined outward, counts included
    k = rnd.randint(1, 3)
    got = {
        tuple(r)
        for r in run_sparql(
            g,
            f"""SELECT ?a ?b ?n WHERE {{ ?a <{P}> ?b .
                {{ SELECT ?a (COUNT(?c) AS ?n) WHERE {{ ?a <{Q}> ?c }}
                   GROUP BY ?a ORDER BY DESC(?n) ?a LIMIT {k} }} }}""",
        ).collect()
    }
    counts = {}
    for s, _ in q_edges:
        counts[s] = counts.get(s, 0) + 1
    topk = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    want = {
        (a, b, n) for a, n in topk for a2, b in p_edges if a2 == a
    }
    assert got == want, (sorted(triples), k)


# ---------------------------------------------------------------
# scalar builtins (hashes, dateTime accessors, isNumeric, sameTerm)
# vs an independent Python model of the documented semantics
# ---------------------------------------------------------------

_DT_POOL = [
    "2011-01-10T14:45:13.815-05:00",
    "2020-07-03T10:20:30Z",
    "1987-11-30T23:59:59",
    "2020-07-03",
    "2004-01",  # gYearMonth (engine padding extension)
    "1999",     # gYear
    "not a date",
    "2004-13",  # invalid month -> cast fails -> type error
    "",
]

_NUM_POOL = ["42", "4.5", "-3", "1e3", "x42", "", "4.5.6", "Alpha"]


def _naive_dt(lex: str, acc: str):
    """Independent model of the accessor semantics: strip the offset
    (literal clock), pad gYear/gYearMonth, parse ISO, else None."""
    import re as _re
    from datetime import datetime

    m = _re.search(r"(Z|[+-]\d{2}:\d{2})$", lex)
    tz = m.group(1) if m else ""
    if acc == "TZ":
        return tz if lex else None
    bare = lex[: len(lex) - len(tz)] if tz else lex
    if _re.fullmatch(r"\d{4}", bare):
        bare += "-01-01"
    elif _re.fullmatch(r"\d{4}-\d{2}", bare):
        bare += "-01"
    try:
        ts = datetime.fromisoformat(bare)
    except ValueError:
        return None
    if acc == "SECONDS":
        return str(ts.second + ts.microsecond / 1e6)
    return str(
        {
            "YEAR": ts.year,
            "MONTH": ts.month,
            "DAY": ts.day,
            "HOURS": ts.hour,
            "MINUTES": ts.minute,
        }[acc]
    )


@pytest.mark.parametrize("seed", range(6))
def test_builtins_match_naive_model(spark, seed):
    import hashlib

    rnd = random.Random(7000 + seed)
    acc = rnd.choice(
        ["YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ"]
    )
    hfn = rnd.choice(["MD5", "SHA1", "SHA256", "SHA512"])
    hmod = {"MD5": "md5", "SHA1": "sha1", "SHA256": "sha256", "SHA512": "sha512"}
    rows = [
        (f"s{i}", "at", rnd.choice(_DT_POOL), False, None, None)
        for i in range(rnd.randint(3, 9))
    ]
    g = spark.createDataFrame(rows, SCHEMA)
    got = {
        (r["s"], r["a"], r["h"])
        for r in run_sparql(
            g,
            f"""SELECT ?s ?a ?h WHERE {{ ?s <at> ?x .
                BIND({acc}(?x) AS ?a) BIND({hfn}(?x) AS ?h) }}""",
        ).collect()
    }
    want = {
        (s, _naive_dt(o, acc),
         hashlib.new(hmod[hfn], o.encode()).hexdigest())
        for s, _, o, _, _, _ in rows
    }
    assert got == want, (acc, hfn, rows)


@pytest.mark.parametrize("seed", range(4))
def test_isnumeric_matches_naive_model(spark, seed):
    rnd = random.Random(8000 + seed)
    rows = [
        (f"s{i}", "v", rnd.choice(_NUM_POOL), rnd.random() < 0.3, None, None)
        for i in range(rnd.randint(3, 10))
    ]

    def naive_isnum(o, isuri):
        if isuri:
            return False
        try:
            float(o)
            return True
        except ValueError:
            return False

    g = spark.createDataFrame(rows, SCHEMA)
    got = {
        (r["s"], r["o"])
        for r in run_sparql(
            g, "SELECT ?s ?o WHERE { ?s <v> ?o . FILTER(isNumeric(?o)) }"
        ).collect()
    }
    want = {(s, o) for s, _, o, u, _, _ in rows if naive_isnum(o, u)}
    assert got == want, rows


@pytest.mark.parametrize("seed", range(4))
def test_sameterm_matches_naive_model(spark, seed):
    rnd = random.Random(9000 + seed)
    vals = ["A", "B"]
    langs = [None, "en", "sv"]
    dts = [None, "xsd:token"]
    rows = []
    for i in range(rnd.randint(4, 10)):
        lang = rnd.choice(langs)
        rows.append(
            (f"s{i}", "label", rnd.choice(vals), False, lang,
             None if lang else rnd.choice(dts))
        )
    g = spark.createDataFrame(rows, SCHEMA)
    got = {
        (r["a"], r["b"])
        for r in run_sparql(
            g,
            """SELECT ?a ?b WHERE { ?a <label> ?la . ?b <label> ?lb .
               FILTER(sameTerm(?la, ?lb)) }""",
        ).collect()
    }
    term = {s: (o, u, l or "", d or "") for s, _, o, u, l, d in rows}
    want = {
        (a, b)
        for a in term
        for b in term
        if term[a] == term[b]
    }
    assert got == want, rows


# ---------------------------------------------------------------
# 11. the one-pass annotations.rq shapes: ground-endpoint frontier
#     walks, a UNION joined once, one emitter for every CONSTRUCT
#     template
# ---------------------------------------------------------------

from ferenda_spark.operators import sparql as sparql_mod  # noqa: E402

_P, _Q = EX + "p", EX + "q"

#: (path text, naive edge relation from (p-edges, q-edges), lo, hi)
_GROUND_PATHS = [
    (f"<{_P}>*", lambda ep, eq: ep, 0, 3),
    (f"<{_P}>+", lambda ep, eq: ep, 1, 3),
    (f"<{_P}>{{2,3}}", lambda ep, eq: ep, 2, 3),
    (f"<{_P}>{{0,1}}", lambda ep, eq: ep, 0, 1),
    (f"(<{_P}>|<{_Q}>)*", lambda ep, eq: ep | eq, 0, 3),
    (
        f"(<{_P}>/<{_Q}>)+",
        lambda ep, eq: {(a, c) for a, b in ep for b2, c in eq if b == b2},
        1,
        3,
    ),
    (
        f"(<{_P}>|^<{_Q}>){{1,2}}",
        lambda ep, eq: ep | {(b, a) for a, b in eq},
        1,
        2,
    ),
]


def _diamond_cycle_graph(rnd: random.Random) -> set:
    """A p-diamond n0 -> {n1, n2} -> n3 (n3 reached by two paths), a
    p-cycle back n3 -> n0, and random p/q edges on top."""
    nodes = [EX + f"n{i}" for i in range(6)]
    n0, n1, n2, n3 = nodes[:4]
    triples = {(n0, _P, n1), (n0, _P, n2), (n1, _P, n3), (n2, _P, n3), (n3, _P, n0)}
    triples |= {
        (rnd.choice(nodes), rnd.choice((_P, _Q)), rnd.choice(nodes))
        for _ in range(rnd.randint(2, 10))
    }
    return triples


@pytest.mark.parametrize("seed", range(4))
def test_ground_endpoint_paths_match_naive(spark, seed):
    """Ground-subject and ground-object p*, p+, p{m,n} and quantified
    parenthesized paths walk a frontier out from the constant, with
    no per-hop distinct; on diamonds and cycles they still equal the
    brute-force closure, and a both-ground path is an existence gate.
    One UNION query per seed holds every form, each binding its own
    variable; the direction alternates by seed so every form meets
    both."""
    rnd = random.Random(12000 + seed)
    triples = _diamond_cycle_graph(rnd)
    g = spark.createDataFrame(
        [(s, p, o, True, None, None) for s, p, o in triples], SCHEMA
    )
    ep = {(s, o) for s, p, o in triples if p == _P}
    eq = {(s, o) for s, p, o in triples if p == _Q}
    nodes = sorted({t for s, _, o in triples for t in (s, o)})
    start = rnd.choice(nodes + [EX + "absent"])
    branches, want, reach = [], set(), {}
    for k, (path, edges, lo, hi) in enumerate(_GROUND_PATHS):
        pairs = _naive_closure(edges(ep, eq), max(lo, 1), hi)
        zero = {start} if lo == 0 else set()
        reach[path] = {b for a, b in pairs if a == start} | zero
        if (seed + k) % 2 == 0:
            branches.append(f"{{ <{start}> {path} ?y{k} }}")
            want |= {(k, y) for y in reach[path]}
        else:
            branches.append(f"{{ ?y{k} {path} <{start}> }}")
            want |= {(k, y) for y in {a for a, b in pairs if b == start} | zero}
    text = "SELECT * WHERE { " + " UNION ".join(branches) + " }"
    got = {
        (k, r[f"y{k}"])
        for r in run_sparql(g, text).collect()
        for k in range(len(_GROUND_PATHS))
        if r[f"y{k}"] is not None
    }
    assert got == want, (text, sorted(triples))
    path = rnd.choice(sorted(reach))
    end = rnd.choice(nodes)
    ask = run_sparql(g, f"ASK {{ <{start}> {path} <{end}> }}").first()["ask"]
    assert ask == (end in reach[path]), (path, start, end, sorted(triples))


def _spy_union_rewrite(monkeypatch) -> list:
    """Record every decision of the compiler's union-first check."""
    seen = []
    real = sparql_mod._same_sure_keys

    def spy(*args):
        seen.append(real(*args))
        return seen[-1]

    monkeypatch.setattr(sparql_mod, "_same_sure_keys", spy)
    return seen


def _solutions(df) -> tuple[list, set]:
    vars_ = sorted(df.columns)
    return vars_, {tuple(r[v] for v in vars_) for r in df.collect()}


@pytest.mark.parametrize("seed", range(6))
def test_union_joined_once_matches_naive(spark, seed, monkeypatch):
    """Every branch shares the same surely-bound key with the patterns
    before it (the anchor; each branch may add fresh variables), so
    the branches are unioned first and joined once."""
    rnd = random.Random(13000 + seed)
    triples, mains, _, _, _ = _gen_full_case(rnd)
    mains.append(("?v0", EX + "p0", "?v1"))
    main_vars = sorted({t[1:] for pat in mains for t in pat if t.startswith("?")})
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    anchor = "?" + rnd.choice(main_vars)

    def branch(fresh):
        alt = [(anchor, rnd.choice(preds), fresh)]
        if rnd.random() < 0.5:
            alt.append((fresh, rnd.choice(preds), rnd.choice(nodes + ["?u9"])))
        return alt

    unions = [[branch("?u0"), branch("?u1"), branch("?u0")][: rnd.randint(2, 3)]]
    text = _render_full(mains, [], unions, [], rnd)
    g = spark.createDataFrame(
        [(s, p, o, o.startswith("http://"), None, None) for s, p, o in triples],
        SCHEMA,
    )
    seen = _spy_union_rewrite(monkeypatch)
    vars_, got = _solutions(run_sparql(g, text))
    assert seen == [True], text
    want = {
        tuple(sol.get(v) for v in vars_)
        for sol in _naive_query(triples, mains, [], unions, [])
    }
    assert got == want, text


def _naive_group(triples, pats, opt):
    """{ pats OPTIONAL { opt } } by the spec definition."""
    sols = [{}]
    for p in pats:
        sols = _naive_match(triples, p, sols)
    if not opt:
        return sols
    gs = [{}]
    for p in opt:
        gs = _naive_match(triples, p, gs)
    out = []
    for s in sols:
        hits = [h for h in gs if all(s[k] == h[k] for k in h if k in s)]
        out += [{**s, **h} for h in hits] if hits else [s]
    return out


def _render_group(pats, opt) -> str:
    body = " ".join(_render_pat(t) for t in pats)
    if opt:
        body += " OPTIONAL { " + " ".join(_render_pat(t) for t in opt) + " }"
    return "{ " + body + " }"


def _render_pat(t) -> str:
    return " ".join(x if x.startswith("?") else f"<{x}>" for x in t) + " ."


def _merge(left, right):
    return [
        {**s, **u}
        for s in left
        for u in right
        if all(s[k] == u[k] for k in u if k in s)
    ]


@pytest.mark.parametrize("seed", range(6))
def test_union_fallback_matches_naive(spark, seed, monkeypatch):
    """The compiler keeps the branch-by-branch join when the branches'
    keys differ, when a key is maybe-unbound on the left (bound by one
    branch of an earlier UNION only), or when a key is maybe-unbound
    inside a branch (bound under its OPTIONAL)."""
    rnd = random.Random(14000 + seed)
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    triples = list(
        {
            (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes + ["L0"]))
            for _ in range(rnd.randint(6, 14))
        }
    )

    def pat(s, o):
        return (s, rnd.choice(preds), o)

    mains = [pat("?a", "?b")]
    kind = seed % 3
    if kind == 0:  # keys differ: {a} against {a, b}
        first = []
        alts = [([pat("?a", "?z")], []), ([pat("?a", "?b")], [])]
    elif kind == 1:  # ?c maybe-unbound on the left
        first = [([pat("?a", "?c")], []), ([pat("?a", "?d")], [])]
        alts = [([pat("?c", "?z")], []), ([pat("?c", rnd.choice(nodes))], [])]
    else:  # ?b maybe-unbound inside a branch
        first = []
        alts = [([pat("?a", "?z")], [pat("?z", "?b")]), ([pat("?a", "?b")], [])]
    unions = [first, alts] if first else [alts]
    text = (
        "SELECT * WHERE { " + " ".join(_render_pat(t) for t in mains) + " "
        + " ".join(
            " UNION ".join(_render_group(p, o) for p, o in u) for u in unions
        )
        + " }"
    )
    g = spark.createDataFrame(
        [(s, p, o, o.startswith("http://"), None, None) for s, p, o in triples],
        SCHEMA,
    )
    seen = _spy_union_rewrite(monkeypatch)
    vars_, got = _solutions(run_sparql(g, text))
    assert seen[-1] is False, text
    sols = _naive_group(triples, mains, [])
    for u in unions:
        sols = _merge(sols, [s for p, o in u for s in _naive_group(triples, p, o)])
    want = {tuple(sol.get(v) for v in vars_) for sol in sols}
    assert got == want, (text, sorted(triples))


@pytest.mark.parametrize("seed", range(6))
def test_construct_templates_skip_unbound_matches_naive(spark, seed):
    """Several CONSTRUCT templates emitted in one pass: a template
    whose variable is unbound in a solution (OPTIONAL, or a UNION
    branch that skips it) yields nothing for that solution, and the
    others still do."""
    rnd = random.Random(15000 + seed)
    nodes = [EX + f"n{i}" for i in range(4)]
    preds = [EX + f"p{i}" for i in range(3)]
    triples = list(
        {
            (rnd.choice(nodes), rnd.choice(preds), rnd.choice(nodes + ["L0", "L1"]))
            for _ in range(rnd.randint(6, 14))
        }
    )
    p0, p1, p2 = (rnd.choice(preds) for _ in range(3))
    where = (
        f"?x <{p0}> ?y . {{ ?x <{p1}> ?w }} UNION {{ ?y <{p1}> ?v }} "
        f"OPTIONAL {{ ?y <{p2}> ?z }}"
    )
    templates = [
        ("?x", EX + "t0", "?y"),
        ("?x", EX + "t1", "?w"),
        ("?v", EX + "t2", "?x"),
        ("?y", EX + "t3", "?z"),
    ][: rnd.randint(2, 4)]
    text = (
        "CONSTRUCT { "
        + " ".join(_render_pat(t) for t in templates)
        + " } WHERE { " + where + " }"
    )
    g = spark.createDataFrame(
        [(s, p, o, o.startswith("http://"), None, None) for s, p, o in triples],
        SCHEMA,
    )
    got = {
        (r["subj"], r["pred"], r["obj"], r["obj_is_uri"])
        for r in run_sparql(g, text).collect()
    }
    sols = _naive_group(triples, [("?x", p0, "?y")], [])
    sols = _merge(
        sols,
        _naive_group(triples, [("?x", p1, "?w")], [])
        + _naive_group(triples, [("?y", p1, "?v")], []),
    )
    sols = [
        s2
        for s in sols
        for s2 in (_merge([s], _naive_group(triples, [("?y", p2, "?z")], [])) or [s])
    ]
    want = set()
    for sol in sols:
        for t in templates:
            terms = [sol.get(x[1:]) if x.startswith("?") else x for x in t]
            if None not in terms:
                want.add((*terms, terms[2].startswith("http://")))
    assert got == want, (text, sorted(triples))
