"""Distributed Turtle (RDF 1.1 TTL) reader + writer.

Reference parity: the reference ships every ontology it loads as
Turtle (`/root/reference/ferenda/res/vocab/*.ttl`, loaded by
resourceloader/triplestore through rdflib) and its test datasets are
Turtle documents (`/root/reference/test/files/datasets/*.ttl`); the
devel dumpstore/mkpatch tooling round-trips graphs through rdflib's
turtle serializer (devel.py:787-805).  rdflib parses one document on
one node; here the unit of parallelism is the FILE — a corpus of
Turtle documents (ontologies, per-document distilled graphs) parses
as one `mapInPandas` pass with one Python parser instance per file,
no shuffle, while the serializer is pure relational work (two
keyed aggregations) plus JVM string expressions.

Grammar coverage (https://www.w3.org/TR/turtle/): @prefix/@base and
the SPARQL-style PREFIX/BASE forms, IRIREF with \\uXXXX/\\UXXXXXXXX,
prefixed names incl. %-encoding and PN_LOCAL backslash escapes,
`a`, predicate/object lists (`;` `,`), short and long string
literals in both quote styles with ECHAR+UCHAR escapes, @lang and
^^datatype, numeric (integer/decimal/double) and boolean shorthand
mapped to the matching xsd datatypes, labeled (`_:x`) and anonymous
(`[ ... ]`) blank nodes, and RDF collections `( ... )` expanded to
rdf:first/rest/nil chains.  This is the full grammar minus nothing
the reference's shipped .ttl corpus uses (verified in
tests/test_turtle.py against all nine vocab files).

Blank nodes are skolemized to ``urn:bnode:<scope>:<label>`` IRIs
with a per-document scope, same contract as rdfio.parse_ntriples —
labels are document-scoped by the grammar, so distinct files can
never alias.

Scale notes: parsing is embarrassingly parallel per file (the
grammar is stateful *within* a document — @prefix bindings — so a
single multi-TB .ttl file is inherently sequential; at corpus scale
the data plane is N-Triples/N-Quads (rdfio) and Turtle is the
ontology/fixture format, thousands of small files).  Serialization
is groupBy(subj,pred) + groupBy(subj) — two partial-agg shuffles on
bounded keys — and every string expression is whole-stage-codegen'd;
prefix compression is a constant-folded CASE chain, no Python.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferenda_spark.operators.rdfio import escape_literal
from ferenda_spark.session import local_frame

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
XSD = "http://www.w3.org/2001/XMLSchema#"

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_is_uri", T.BooleanType()),
        T.StructField("lang", T.StringType()),
        T.StructField("datatype", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Writer (pure Catalyst)
# ---------------------------------------------------------------------------

#: conservative PN_LOCAL shape we compress into a prefixed name —
#: anything the real grammar would need escapes for falls back to a
#: full <IRI>, which is always valid Turtle.  Empty local names
#: (``dcterms:``) are allowed by the grammar and by this regex.
_SAFE_LOCAL = "^([A-Za-z_][A-Za-z0-9_-]*)?$"


def _pname_or_iri(col: Column, prefixes: dict[str, str] | None) -> Column:
    """Prefix-compress an IRI column: longest declared namespace
    wins, but only when the remainder is a conservative PN_LOCAL;
    otherwise emit ``<iri>`` verbatim.  Constant-folded when-chain,
    JVM-only."""
    out = F.concat(F.lit("<"), col, F.lit(">"))
    if not prefixes:
        return out
    # build shortest-namespace-first so the LONGEST namespace ends
    # up outermost in the when-chain and is therefore checked first
    # (longest declared namespace wins).
    for pfx, ns in sorted(prefixes.items(), key=lambda kv: len(kv[1])):
        local = F.substring(col, len(ns) + 1, 2**30)
        hit = col.startswith(ns) & local.rlike(_SAFE_LOCAL)
        out = F.when(hit, F.concat(F.lit(pfx + ":"), local)).otherwise(out)
    return out


def _obj_term(
    obj: Column,
    obj_is_uri: Column,
    lang: Column,
    datatype: Column,
    prefixes: dict[str, str] | None,
) -> Column:
    """Turtle object term.  Literals stay in explicit quoted form
    (no numeric/boolean shorthand) so write→parse round-trips are
    value-identical; the escape chain is the shared N-Triples ECHAR
    set, a strict subset of legal Turtle strings."""
    tag = (
        F.when(lang.isNotNull() & (lang != ""), F.concat(F.lit("@"), lang))
        .when(
            datatype.isNotNull() & (datatype != ""),
            F.concat(F.lit("^^"), _pname_or_iri(datatype, prefixes)),
        )
        .otherwise(F.lit(""))
    )
    return F.when(obj_is_uri, _pname_or_iri(obj, prefixes)).otherwise(
        F.concat(F.lit('"'), escape_literal(obj), F.lit('"'), tag)
    )


def turtle_header(prefixes: dict[str, str] | None) -> str:
    """The @prefix preamble, sorted for determinism."""
    if not prefixes:
        return ""
    return (
        "\n".join(
            f"@prefix {p}: <{ns}> ." for p, ns in sorted(prefixes.items())
        )
        + "\n"
    )


def to_turtle(
    triples: DataFrame,
    prefixes: dict[str, str] | None = None,
    distinct: bool = True,
) -> DataFrame:
    """triples table -> one-column DataFrame ``block``: one Turtle
    statement group per subject (``subj p o , o ; p o .``), object
    lists comma-grouped, everything deterministically sorted.

    Plan shape: optional set-dedup, groupBy(subj,pred) partial-agg
    collect, groupBy(subj) collect — the second shuffle reuses the
    subject hash — then codegen'd concat.  With ``prefixes=None``
    each block uses full IRIs and is a self-contained Turtle
    document (the multi-file dump mode); with prefixes the caller
    owes the `turtle_header` preamble (write_turtle does this)."""
    t = triples.select("subj", "pred", "obj", "obj_is_uri", "lang", "datatype")
    if distinct:
        t = t.dropDuplicates(["subj", "pred", "obj", "obj_is_uri", "lang", "datatype"])
    term = _obj_term(
        F.col("obj"), F.col("obj_is_uri"), F.col("lang"),
        F.col("datatype"), prefixes,
    )
    pred_term = F.when(F.col("pred") == RDF_TYPE, F.lit("a")).otherwise(
        _pname_or_iri(F.col("pred"), prefixes)
    )
    per_pred = (
        t.select("subj", pred_term.alias("p"), term.alias("o"))
        .groupBy("subj", "p")
        .agg(F.sort_array(F.collect_list("o")).alias("os"))
        .select(
            "subj",
            F.concat(
                F.col("p"), F.lit(" "),
                F.concat_ws(" ,\n        ", F.col("os")),
            ).alias("pline"),
        )
    )
    return (
        per_pred.groupBy("subj")
        .agg(F.sort_array(F.collect_list("pline")).alias("plines"))
        .select(
            F.concat(
                _pname_or_iri(F.col("subj"), prefixes),
                F.lit(" "),
                F.concat_ws(" ;\n    ", F.col("plines")),
                F.lit(" ."),
            ).alias("block")
        )
    )


def write_turtle(
    triples: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    single_file: bool = True,
) -> None:
    """Materialize a .ttl file tree.

    ``single_file=True`` (ontology/fixture-sized graphs — the shape
    the reference's rdflib serializer handles, always on one node)
    coalesces to one part and prepends the @prefix header inside
    that one partition.  ``single_file=False`` is the corpus-scale
    dump: prefixes are ignored so every part file is a
    self-contained prefix-free Turtle document, written straight
    from the JVM text sink with no Python in the path."""
    if single_file:
        header = turtle_header(prefixes)
        blocks = to_turtle(triples, prefixes).select(
            F.lit(1).alias("k"), F.col("block")
        )
        if header:
            spark = triples.sparkSession
            hdr = local_frame(
                spark,
                [(0, line) for line in header.splitlines()],
                "k int, block string",
            )
            blocks = hdr.unionByName(blocks)
        # total order without a driver collect: one partition, then
        # an in-partition sort (header key 0 first, blocks sorted)
        (
            blocks.coalesce(1)
            .sortWithinPartitions("k", "block")
            .select("block")
            .write.mode("overwrite")
            .text(path)
        )
    else:
        to_turtle(triples, None).write.mode("overwrite").text(path)


# ---------------------------------------------------------------------------
# Parser (one Python parser instance per document, mapInPandas)
# ---------------------------------------------------------------------------

_IRIREF = re.compile(r'<([^<>"{}|^`\\\x00-\x20]*)>')
_PNAME = re.compile(
    r"((?:[A-Za-z\u00C0-\uFFFF][\w\u00C0-\uFFFF.-]*)?):"
    r"((?:[\w\u00C0-\uFFFF:%-]|\\[_~.!$&'()*+,;=/?#@%-]|\.(?=[\w\u00C0-\uFFFF:%.-]))*)"
)
_BNODE = re.compile(r"_:([A-Za-z0-9\u00C0-\uFFFF_][\w\u00C0-\uFFFF.-]*)")
_LANGTAG = re.compile(r"@([A-Za-z]+(?:-[A-Za-z0-9]+)*)")
#: numeric shorthand per the exact W3C productions: DOUBLE requires
#: an exponent (and only then may the dot have no trailing digits);
#: DECIMAL requires digits AFTER the dot — so `1.` lexes as the
#: integer 1 followed by the statement terminator, not a number
_NUMBER = re.compile(
    r"[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+"
    r"|\d*\.\d+|\d+)"
)
_WS_COMMENT = re.compile(r"(?:\s+|#[^\n]*)+")
_UCHAR = re.compile(r"\\u([0-9a-fA-F]{4})|\\U([0-9a-fA-F]{8})")
_ECHAR_MAP = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape_string(raw: str) -> str:
    """ECHAR + UCHAR unescape for quoted literals."""
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            raise ValueError("turtle: dangling backslash in string")
        nxt = raw[i + 1]
        if nxt == "u" and i + 6 <= n:
            out.append(chr(int(raw[i + 2 : i + 6], 16)))
            i += 6
        elif nxt == "U" and i + 10 <= n:
            out.append(chr(int(raw[i + 2 : i + 10], 16)))
            i += 10
        elif nxt in _ECHAR_MAP:
            out.append(_ECHAR_MAP[nxt])
            i += 2
        else:
            raise ValueError(f"turtle: bad string escape \\{nxt}")
    return "".join(out)


def _unescape_iri(raw: str) -> str:
    return _UCHAR.sub(
        lambda m: chr(int(m.group(1) or m.group(2), 16)), raw
    )


def _unescape_local(raw: str) -> str:
    """PN_LOCAL_ESC: drop the backslash before the escaped char."""
    return re.sub(r"\\([_~.!$&'()*+,;=/?#@%-])", r"\1", raw)


class _TurtleDoc:
    """Recursive-descent parser over one Turtle document.  Yields
    (subj, pred, obj, obj_is_uri, lang, datatype) tuples.  Strict:
    any grammar violation raises ValueError with the byte offset —
    same corrupt-input contract as the binary codecs."""

    def __init__(self, text: str, scope: str, base: str = ""):
        self.s = text
        self.i = 0
        self.n = len(text)
        self.scope = scope
        self.base = base
        self.prefixes: dict[str, str] = {}
        self.anon = 0
        self.out: list[tuple] = []

    # -- low-level -----------------------------------------------------
    def _skip_ws(self) -> None:
        m = _WS_COMMENT.match(self.s, self.i)
        if m:
            self.i = m.end()

    def _err(self, msg: str) -> ValueError:
        ctx = self.s[self.i : self.i + 40].replace("\n", "\\n")
        return ValueError(f"turtle: {msg} at offset {self.i}: {ctx!r}")

    def _eat(self, tok: str) -> None:
        self._skip_ws()
        if not self.s.startswith(tok, self.i):
            raise self._err(f"expected {tok!r}")
        self.i += len(tok)

    def _peek(self) -> str:
        self._skip_ws()
        return self.s[self.i : self.i + 1]

    def _keyword(self, kw: str) -> bool:
        """Case-insensitive match of a bare keyword (PREFIX/BASE)."""
        self._skip_ws()
        end = self.i + len(kw)
        if self.s[self.i : end].lower() == kw and (
            end >= self.n or not self.s[end].isalnum()
        ):
            self.i = end
            return True
        return False

    # -- terms ---------------------------------------------------------
    def _resolve(self, iri: str) -> str:
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
            from urllib.parse import urljoin

            return urljoin(self.base, iri)
        return iri

    def _iri(self) -> str:
        """IRIREF | prefixed name | 'a' is handled by caller."""
        self._skip_ws()
        m = _IRIREF.match(self.s, self.i)
        if m:
            self.i = m.end()
            return self._resolve(_unescape_iri(m.group(1)))
        m = _PNAME.match(self.s, self.i)
        if m:
            pfx, local = m.group(1), m.group(2)
            if pfx not in self.prefixes:
                raise self._err(f"undeclared prefix {pfx!r}")
            self.i = m.end()
            return self.prefixes[pfx] + _unescape_local(local)
        raise self._err("expected IRI or prefixed name")

    def _bnode_iri(self, label: str | None = None) -> str:
        if label is None:
            self.anon += 1
            label = f"anon{self.anon}"
        return f"urn:bnode:{self.scope}:{label}"

    def _string(self) -> str:
        """Any of the four quoted-string forms; caller saw a quote."""
        s, i = self.s, self.i
        for q3 in ('"""', "'''"):
            if s.startswith(q3, i):
                qc = q3[0]
                j = i + 3
                while j < self.n:
                    c = s[j]
                    if c == "\\":
                        j += 2
                        continue
                    if c == qc:
                        # count the quote run: a run of r>=3 closes
                        # the string, with the first r-3 quotes
                        # belonging to the content (maximal munch)
                        r = 1
                        while j + r < self.n and s[j + r] == qc:
                            r += 1
                        if r >= 3:
                            end = j + r - 3
                            self.i = j + r
                            return _unescape_string(s[i + 3 : end])
                        j += r
                        continue
                    j += 1
                raise self._err("unterminated long string")
        q = s[i]
        j = i + 1
        while j < self.n:
            c = s[j]
            if c == "\\":
                j += 2
                continue
            if c == q:
                self.i = j + 1
                return _unescape_string(s[i + 1 : j])
            if c in "\n\r":
                break
            j += 1
        raise self._err("unterminated string")

    def _literal(self) -> tuple[str, bool, str | None, str | None]:
        val = self._string()
        lang = dt = None
        m = _LANGTAG.match(self.s, self.i)
        if m:
            lang = m.group(1)
            self.i = m.end()
        elif self.s.startswith("^^", self.i):
            self.i += 2
            dt = self._iri()
        return (val, False, lang, dt)

    def _object(self) -> tuple[str, bool, str | None, str | None]:
        self._skip_ws()
        c = self.s[self.i : self.i + 1]
        if not c:
            raise self._err("expected object")
        if c in "\"'":
            return self._literal()
        if c == "[":
            return (self._bnode_property_list(), True, None, None)
        if c == "(":
            return (self._collection(), True, None, None)
        m = _BNODE.match(self.s, self.i)
        if m:
            self.i = m.end()
            return (self._bnode_iri(m.group(1)), True, None, None)
        # boolean / numeric shorthand — only when not a prefixed
        # name (PNAME match takes priority for e.g. `true:x`)
        if not _PNAME.match(self.s, self.i):
            for kw, dtl in (("true", "boolean"), ("false", "boolean")):
                if self.s.startswith(kw, self.i) and not (
                    self.s[self.i + len(kw) : self.i + len(kw) + 1].isalnum()
                ):
                    self.i += len(kw)
                    return (kw, False, None, XSD + dtl)
            m = _NUMBER.match(self.s, self.i)
            if m:
                raw = m.group(0)
                self.i = m.end()
                if "e" in raw.lower():
                    dt = XSD + "double"
                elif "." in raw:
                    dt = XSD + "decimal"
                else:
                    dt = XSD + "integer"
                return (raw, False, None, dt)
        return (self._iri(), True, None, None)

    # -- productions ---------------------------------------------------
    def _verb(self) -> str:
        self._skip_ws()
        if (
            self.s.startswith("a", self.i)
            and self.s[self.i + 1 : self.i + 2] in (" ", "\t", "\n", "\r", "<", "[", "(", '"', "'")
        ):
            self.i += 1
            return RDF_TYPE
        return self._iri()

    def _emit(self, s: str, p: str, o, uri: bool, lang, dt) -> None:
        self.out.append((s, p, o, uri, lang, dt))

    def _predicate_object_list(self, subj: str) -> None:
        while True:
            pred = self._verb()
            while True:
                o, uri, lang, dt = self._object()
                self._emit(subj, pred, o, uri, lang, dt)
                if self._peek() == ",":
                    self.i += 1
                    continue
                break
            if self._peek() == ";":
                # the grammar's (';' (verb objectList)?)* allows any
                # number of empty slots: consume the whole ';' run
                while self._peek() == ";":
                    self.i += 1
                if self._peek() in (".", "]", ""):
                    return
                continue
            return

    def _bnode_property_list(self) -> str:
        self._eat("[")
        node = self._bnode_iri()
        if self._peek() != "]":
            self._predicate_object_list(node)
        self._eat("]")
        return node

    def _collection(self) -> str:
        self._eat("(")
        items: list[tuple] = []
        while self._peek() != ")":
            items.append(self._object())
        self._eat(")")
        if not items:
            return RDF_NIL
        nodes = [self._bnode_iri() for _ in items]
        for k, (o, uri, lang, dt) in enumerate(items):
            self._emit(nodes[k], RDF_FIRST, o, uri, lang, dt)
            nxt = nodes[k + 1] if k + 1 < len(items) else RDF_NIL
            self._emit(nodes[k], RDF_REST, nxt, True, None, None)
        return nodes[0]

    def _subject(self) -> str:
        self._skip_ws()
        c = self.s[self.i : self.i + 1]
        if c == "(":
            return self._collection()
        m = _BNODE.match(self.s, self.i)
        if m:
            self.i = m.end()
            return self._bnode_iri(m.group(1))
        return self._iri()

    def _directive(self) -> bool:
        self._skip_ws()
        if self.s.startswith("@prefix", self.i) or self._keyword("prefix"):
            if self.s.startswith("@prefix", self.i):
                self.i += len("@prefix")
            self._skip_ws()
            m = _PNAME.match(self.s, self.i)
            if not m or m.group(2):
                raise self._err("expected PNAME_NS in prefix directive")
            pfx = m.group(1)
            self.i = m.end()
            self._skip_ws()
            m2 = _IRIREF.match(self.s, self.i)
            if not m2:
                raise self._err("expected IRIREF in prefix directive")
            self.prefixes[pfx] = self._resolve(_unescape_iri(m2.group(1)))
            self.i = m2.end()
            if self._peek() == ".":
                self.i += 1
            return True
        if self.s.startswith("@base", self.i) or self._keyword("base"):
            if self.s.startswith("@base", self.i):
                self.i += len("@base")
            self._skip_ws()
            m2 = _IRIREF.match(self.s, self.i)
            if not m2:
                raise self._err("expected IRIREF in base directive")
            self.base = self._resolve(_unescape_iri(m2.group(1)))
            self.i = m2.end()
            if self._peek() == ".":
                self.i += 1
            return True
        return False

    def parse(self) -> list[tuple]:
        while True:
            self._skip_ws()
            if self.i >= self.n:
                return self.out
            if self.s[self.i] == "@" or (
                self.s[self.i : self.i + 7].lower().startswith(("prefix", "base"))
                and self._looks_like_directive()
            ):
                if self._directive():
                    continue
            if self.s[self.i] == "[":
                subj = self._bnode_property_list()
                if self._peek() != ".":
                    self._predicate_object_list(subj)
            else:
                subj = self._subject()
                self._predicate_object_list(subj)
            self._eat(".")

    def _looks_like_directive(self) -> bool:
        """PREFIX/BASE keyword vs a bare-iri-looking subject: a
        subject at statement start can't be an unquoted bare word
        unless it's a prefixed name containing ':' right after."""
        m = _PNAME.match(self.s, self.i)
        return m is None  # 'prefix' with no ':' → SPARQL directive


def parse_turtle_text(
    text: str, scope: str = "mem", base: str = ""
) -> list[tuple]:
    """Parse one Turtle document to triple tuples (test/driver
    entry; executors go through parse_turtle_docs)."""
    return _TurtleDoc(text, scope, base).parse()


def parse_docs_with(
    parse_fn,
    docs: DataFrame,
    col: str = "doc",
    scope_col: str | None = None,
) -> DataFrame:
    """Shared document→triples mapInPandas wrapper for the RDF text
    parsers (Turtle / RDF/XML / RDFa distill): one ``parse_fn(text,
    scope)`` call per document row — per-file parallelism,
    Arrow-batched both ways, output schema = the KG triples table.
    Skolem scope is ``scope_col`` when given, else a stable
    per-document hash of the text."""
    import hashlib

    import pandas as pd

    cols = [col] + ([scope_col] if scope_col else [])
    src = docs.select(*cols)
    sc = scope_col

    def run(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[tuple] = []
            scopes = pdf[sc] if sc else [None] * len(pdf)
            for text, scope in zip(pdf[col], scopes):
                if text is None:
                    continue
                if scope is None:
                    scope = hashlib.md5(text.encode()).hexdigest()[:8]
                rows.extend(parse_fn(text, str(scope)))
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in TRIPLE_SCHEMA.fields],
            )

    return src.mapInPandas(run, TRIPLE_SCHEMA)


def parse_turtle_docs(
    docs: DataFrame, col: str = "doc", scope_col: str | None = None
) -> DataFrame:
    """DataFrame of whole Turtle documents -> triples table (see
    parse_docs_with)."""
    return parse_docs_with(parse_turtle_text, docs, col, scope_col)


def read_turtle(spark, path: str) -> DataFrame:
    """Directory/glob of .ttl files -> triples table.  wholetext
    scan (one row per file, the grammar's natural unit), file-name
    skolem scope, mapInPandas parse."""
    docs = (
        spark.read.text(path, wholetext=True)
        .select(
            F.col("value").alias("doc"),
            F.substring(F.md5(F.input_file_name()), 1, 8).alias("_scope"),
        )
    )
    return parse_turtle_docs(docs, "doc", "_scope")
