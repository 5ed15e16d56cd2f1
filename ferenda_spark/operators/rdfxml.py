"""Distributed RDF/XML reader + writer.

Reference parity: the reference's per-document *distilled* metadata
file IS RDF/XML — `distilled/{basefile}.rdf`, written with rdflib's
``graph.serialize(format="xml")`` (documentrepository.py:2729-2732)
and read back with ``Graph().parse(format="xml")``
(documentrepository.py:2052, triplestore add_serialized
format="xml" at :2020).  rdflib handles one file on one node; here
the unit of parallelism is the DOCUMENT — a corpus of distilled
.rdf files parses as one `mapInPandas` pass (stdlib ElementTree per
document, Arrow-batched), and serialization is the same
two-keyed-aggregation relational plan as the Turtle writer with
codegen'd XML escaping.

Parser coverage (https://www.w3.org/TR/rdf-syntax-grammar/):
rdf:Description and typed node elements, rdf:about / rdf:ID /
rdf:nodeID, property elements with rdf:resource / rdf:nodeID /
rdf:datatype, text literals with inherited xml:lang, nested node
elements, rdf:parseType="Resource" / "Literal" / "Collection",
property attributes (shorthand literal triples), rdf:li container
item renumbering, and xml:base-relative IRI resolution.  Out of
scope (unused by rdflib's writer and the reference corpus):
rdf:ID-on-property reification and rdf:bagID (both raise, so a file
that needs them fails loudly rather than dropping statements).

Blank nodes skolemize to ``urn:bnode:<scope>:<label>`` with a
per-document scope — the same contract as rdfio/turtle.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
from urllib.parse import urljoin

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ferenda_spark.operators.turtle import (
    RDF_FIRST,
    RDF_NIL,
    RDF_NS,
    RDF_REST,
    RDF_TYPE,
    TRIPLE_SCHEMA,
)
from ferenda_spark.session import local_frame

_RDF = "{" + RDF_NS + "}"
_XML_NS = "http://www.w3.org/XML/1998/namespace"
_XMLLITERAL = RDF_NS + "XMLLiteral"

#: rdf:* attributes that are syntax, not property attributes —
#: plain-IRI form, compared AFTER _split_qname
_SYNTAX_ATTRS = {
    RDF_NS + a
    for a in (
        "about", "ID", "nodeID", "resource", "datatype", "parseType",
        "li", "bagID", "aboutEach", "aboutEachPrefix",
    )
}


def _split_qname(tag: str) -> str:
    """ElementTree '{ns}local' -> IRI ns+local."""
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


class _RdfXmlDoc:
    """One RDF/XML document -> triple tuples.  Strict: grammar
    violations raise ValueError (same corrupt-input contract as the
    Turtle parser and the binary codecs)."""

    def __init__(self, text: str, scope: str, base: str = ""):
        try:
            self.root = ET.parse(io.StringIO(text)).getroot()
        except ET.ParseError as e:
            raise ValueError(f"rdfxml: not well-formed XML: {e}") from e
        self.scope = scope
        self.base = base
        self.anon = 0
        self.li = 0
        self.out: list[tuple] = []

    def _bnode(self, label: str | None = None) -> str:
        if label is None:
            self.anon += 1
            label = f"anon{self.anon}"
        return f"urn:bnode:{self.scope}:{label}"

    def _resolve(self, iri: str, base: str) -> str:
        if base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
            return urljoin(base, iri)
        return iri

    def _emit(self, s, p, o, uri, lang, dt) -> None:
        self.out.append((s, p, o, uri, lang, dt))

    def parse(self) -> list[tuple]:
        root = self.root
        base = root.get("{%s}base" % _XML_NS, self.base)
        lang = root.get("{%s}lang" % _XML_NS)
        if _split_qname(root.tag) == RDF_NS + "RDF":
            for child in root:
                self._node_element(child, base, lang)
        else:
            self._node_element(root, base, lang)
        return self.out

    # -- node elements ---------------------------------------------------
    def _node_element(self, el: ET.Element, base: str, lang: str | None) -> str:
        base = el.get("{%s}base" % _XML_NS, base)
        lang = el.get("{%s}lang" % _XML_NS, lang)
        about = el.get(_RDF + "about")
        rid = el.get(_RDF + "ID")
        nid = el.get(_RDF + "nodeID")
        if el.get(_RDF + "bagID") is not None:
            raise ValueError("rdfxml: rdf:bagID is not supported")
        if about is not None:
            subj = self._resolve(about, base)
        elif rid is not None:
            subj = self._resolve("#" + rid, base)
        elif nid is not None:
            subj = self._bnode(nid)
        else:
            subj = self._bnode()
        tag_iri = _split_qname(el.tag)
        if tag_iri != RDF_NS + "Description":
            self._emit(subj, RDF_TYPE, tag_iri, True, None, None)
        saved_li = self.li
        # property attributes on the node element
        for k, v in el.attrib.items():
            iri = _split_qname(k)
            if iri in _SYNTAX_ATTRS or iri.startswith(_XML_NS):
                continue
            if iri == RDF_TYPE:
                self._emit(subj, RDF_TYPE, self._resolve(v, base), True, None, None)
            else:
                self._emit(subj, iri, v, False, lang, None)
        self.li = 0
        for prop in el:
            self._property_element(subj, prop, base, lang)
        self.li = saved_li
        return subj

    # -- property elements -------------------------------------------------
    def _pred_iri(self, el: ET.Element) -> str:
        iri = _split_qname(el.tag)
        if iri == RDF_NS + "li":
            self.li += 1
            return f"{RDF_NS}_{self.li}"
        return iri

    def _property_element(
        self, subj: str, el: ET.Element, base: str, lang: str | None
    ) -> None:
        base = el.get("{%s}base" % _XML_NS, base)
        lang = el.get("{%s}lang" % _XML_NS, lang)
        pred = self._pred_iri(el)
        if el.get(_RDF + "ID") is not None:
            raise ValueError("rdfxml: property reification (rdf:ID) unsupported")
        ptype = el.get(_RDF + "parseType")
        res = el.get(_RDF + "resource")
        nid = el.get(_RDF + "nodeID")
        dt = el.get(_RDF + "datatype")
        prop_attrs = {
            _split_qname(k): v
            for k, v in el.attrib.items()
            if _split_qname(k) not in _SYNTAX_ATTRS
            and not _split_qname(k).startswith(_XML_NS)
            and _split_qname(k) != RDF_NS + "parseType"
        }
        children = list(el)

        if ptype == "Resource":
            node = self._bnode()
            self._emit(subj, pred, node, True, None, None)
            saved_li = self.li
            self.li = 0
            for sub in children:
                self._property_element(node, sub, base, lang)
            self.li = saved_li
            return
        if ptype == "Literal":
            inner = (el.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in children
            )
            self._emit(subj, pred, inner, False, None, _XMLLITERAL)
            return
        if ptype == "Collection":
            nodes = [self._bnode() for _ in children]
            self._emit(subj, pred, nodes[0] if nodes else RDF_NIL, True, None, None)
            for k, c in enumerate(children):
                obj = self._node_element(c, base, lang)
                self._emit(nodes[k], RDF_FIRST, obj, True, None, None)
                nxt = nodes[k + 1] if k + 1 < len(nodes) else RDF_NIL
                self._emit(nodes[k], RDF_REST, nxt, True, None, None)
            return
        if ptype is not None:
            raise ValueError(f"rdfxml: unknown parseType {ptype!r}")

        if res is not None or nid is not None:
            obj = self._resolve(res, base) if res is not None else self._bnode(nid)
            self._emit(subj, pred, obj, True, None, None)
            # property attributes describe the OBJECT node
            for iri, v in prop_attrs.items():
                if iri == RDF_TYPE:
                    self._emit(obj, RDF_TYPE, self._resolve(v, base), True, None, None)
                else:
                    self._emit(obj, iri, v, False, lang, None)
            return
        if children:
            if len(children) != 1:
                raise ValueError(
                    "rdfxml: property element with multiple node children"
                )
            obj = self._node_element(children[0], base, lang)
            self._emit(subj, pred, obj, True, None, None)
            return
        if prop_attrs:
            # shorthand: bnode object described by the attributes
            node = self._bnode()
            self._emit(subj, pred, node, True, None, None)
            for iri, v in prop_attrs.items():
                if iri == RDF_TYPE:
                    self._emit(node, RDF_TYPE, self._resolve(v, base), True, None, None)
                else:
                    self._emit(node, iri, v, False, lang, None)
            return
        # plain literal (possibly empty — reference fixture has
        # <dc:publisher></dc:publisher>)
        val = el.text or ""
        self._emit(subj, pred, val, False, None if dt else lang, dt)


def parse_rdfxml_text(
    text: str, scope: str = "mem", base: str = ""
) -> list[tuple]:
    """Parse one RDF/XML document to triple tuples."""
    return _RdfXmlDoc(text, scope, base).parse()


def parse_rdfxml_docs(
    docs: DataFrame, col: str = "doc", scope_col: str | None = None
) -> DataFrame:
    """DataFrame of whole RDF/XML documents -> triples table (one
    ElementTree parse per row inside mapInPandas — per-file
    parallelism, no shuffle; shared wrapper turtle.parse_docs_with)."""
    from ferenda_spark.operators.turtle import parse_docs_with

    return parse_docs_with(parse_rdfxml_text, docs, col, scope_col)


def read_rdfxml(spark, path: str) -> DataFrame:
    """Directory/glob of .rdf files -> triples table (wholetext
    scan, one row per file, file-hash skolem scope)."""
    docs = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("doc"),
        F.substring(F.md5(F.input_file_name()), 1, 8).alias("_scope"),
    )
    return parse_rdfxml_docs(docs, "doc", "_scope")


# ---------------------------------------------------------------------------
# Writer (pure Catalyst)
# ---------------------------------------------------------------------------

#: XML escaping for text content and (double-quoted) attribute
#: values.  Carriage returns are escaped as numeric char refs even in
#: TEXT content — XML 1.0 §2.11 normalizes raw \r (and \r\n) to \n
#: on every parse, which would silently corrupt literals; char refs
#: expand after normalization and survive.  Attributes additionally
#: escape \n/\t (attribute-value normalization folds them to spaces).
def _xml_escape(col: Column, attr: bool = False) -> Column:
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    out = F.replace(out, F.lit("\r"), F.lit("&#13;"))
    if attr:
        out = F.replace(out, F.lit('"'), F.lit("&quot;"))
        out = F.replace(out, F.lit("\n"), F.lit("&#10;"))
        out = F.replace(out, F.lit("\t"), F.lit("&#9;"))
    return out


#: C0 controls other than \t\n\r are not representable in XML 1.0 at
#: all (illegal even as character references) — a literal containing
#: one cannot be serialized as RDF/XML; fail loudly rather than emit
#: an unparseable document
_XML_ILLEGAL = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"


#: predicate IRI -> (namespace, NCName local) split at the last
#: /, # or : — the same heuristic rdflib's writer uses.  The local
#: part must be an NCName; IRIs whose tail isn't splittable this way
#: can't be serialized as RDF/XML at all (the grammar requires QName
#: element names), so the writer nulls the row out and to_rdfxml
#: raises via an assertion column on the first offender.
_LOCAL_RE = r"([A-Za-z_][A-Za-z0-9_.-]*)$"


def _ns_local(pred: Column) -> tuple[Column, Column]:
    local = F.regexp_extract(pred, _LOCAL_RE, 1)
    ns = F.substring(pred, F.lit(1), F.length(pred) - F.length(local))
    return ns, local


def to_rdfxml(triples: DataFrame, distinct: bool = True) -> DataFrame:
    """triples table -> one-column DataFrame ``block``: one
    ``<rdf:Description rdf:about=...>...</rdf:Description>`` element
    per subject, property elements sorted, each carrying its own
    inline ``xmlns:p`` declaration so every block is self-contained
    under any rdf:RDF root (write_rdfxml adds it).  Same plan shape
    as turtle.to_turtle: optional set-dedup + ONE groupBy(subj)
    aggregation of codegen'd per-triple strings."""
    t = triples.select("subj", "pred", "obj", "obj_is_uri", "lang", "datatype")
    if distinct:
        t = t.dropDuplicates(["subj", "pred", "obj", "obj_is_uri", "lang", "datatype"])
    ns, local = _ns_local(F.col("pred"))
    open_tag = F.concat(
        F.lit("  <p:"), local,
        F.lit(' xmlns:p="'), _xml_escape(ns, attr=True), F.lit('"'),
    )
    lit_attrs = F.concat(
        F.when(
            F.col("lang").isNotNull() & (F.col("lang") != ""),
            F.concat(F.lit(' xml:lang="'), F.col("lang"), F.lit('"')),
        ).otherwise(F.lit("")),
        F.when(
            F.col("datatype").isNotNull() & (F.col("datatype") != ""),
            F.concat(
                F.lit(' rdf:datatype="'),
                _xml_escape(F.col("datatype"), attr=True),
                F.lit('"'),
            ),
        ).otherwise(F.lit("")),
    )
    # execution-time guard instead of an extra eager scan: a
    # predicate with no NCName tail can't be a QName element name —
    # fail the job with the offending IRI in the message
    prop = F.when(
        local == "",
        F.raise_error(
            F.concat(
                F.lit("rdfxml: predicate has no NCName tail: "),
                F.col("pred"),
            )
        ),
    ).when(
        ~F.col("obj_is_uri") & F.col("obj").rlike(_XML_ILLEGAL),
        F.raise_error(
            F.concat(
                F.lit("rdfxml: literal contains XML-1.0-illegal "
                      "control characters (subject "),
                F.col("subj"), F.lit(")"),
            )
        ),
    ).when(
        F.col("obj_is_uri"),
        F.concat(
            open_tag, F.lit(' rdf:resource="'),
            _xml_escape(F.col("obj"), attr=True), F.lit('"/>'),
        ),
    ).otherwise(
        F.concat(
            open_tag, lit_attrs, F.lit(">"),
            _xml_escape(F.col("obj")),
            F.lit("</p:"), local, F.lit(">"),
        )
    )
    return (
        t.select("subj", prop.alias("prop"))
        .groupBy("subj")
        .agg(F.sort_array(F.collect_list("prop")).alias("props"))
        .select(
            F.concat(
                F.lit('<rdf:Description xmlns:rdf="' + RDF_NS + '" rdf:about="'),
                _xml_escape(F.col("subj"), attr=True),
                F.lit('">\n'),
                F.concat_ws("\n", F.col("props")),
                F.lit("\n</rdf:Description>"),
            ).alias("block")
        )
    )


def write_rdfxml(triples: DataFrame, path: str) -> None:
    """Materialize one rdf:RDF document: root element + sorted
    Description blocks + closing tag, total order via a sort key and
    a single in-partition sort (no driver collect) — the distilled
    .rdf shape (documentrepository.py:2732).  Corpus-scale dumps
    stay on N-Triples/N-Quads; RDF/XML is the per-document metadata
    format, so single-file is the only mode."""
    spark = triples.sparkSession
    blocks = to_rdfxml(triples).select(F.lit(1).alias("k"), F.col("block"))
    shell = local_frame(
        spark,
        [(0, '<rdf:RDF xmlns:rdf="' + RDF_NS + '">'), (2, "</rdf:RDF>")],
        "k int, block string",
    )
    (
        shell.unionByName(blocks)
        .coalesce(1)
        .sortWithinPartitions("k", "block")
        .select("block")
        .write.mode("overwrite")
        .text(path)
    )
