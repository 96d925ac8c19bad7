"""RDF graph serializations for CONSTRUCT/DESCRIBE output (reference
S10, src/query.rs:155-175 via oxrdfio).

Every format is a column render of ``(s, p, o[, graph])`` rows to one
``line`` column, listed once in :data:`RENDERERS`.  :func:`to_rdf`
fetches the lines with one ``collect()`` and returns the document as a
string, so the graph must fit in driver memory; :func:`write_rdf` is
the route for graphs larger than the driver — a distributed text write
of the same lines.  Pretty-printed Turtle with prefix blocks is P2 (it
needs global prefix agreement); this module emits the line-oriented
subset every RDF parser accepts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from de_spark import terms


def _nt_terms(*names: str) -> Column:
    """The N-Triples forms of the named columns, space-separated."""
    return F.expr(f"concat_ws(' ', {', '.join(terms.ntriples_form(f'`{n}`') for n in names)})")


def render_ntriples(triples_raw: DataFrame) -> DataFrame:
    """(s,p,o) → one NT line per row, column ``line``."""
    return triples_raw.select(F.concat(_nt_terms("s", "p", "o"), F.lit(" .")).alias("line"))


def render_nquads(triples_raw: DataFrame) -> DataFrame:
    """(s,p,o,graph) → N-Quads lines (graph as the 4th term)."""
    return triples_raw.select(
        F.concat(_nt_terms("s", "p", "o", "graph"), F.lit(" .")).alias("line")
    )


def render_turtle_lines(triples_raw: DataFrame) -> DataFrame:
    """Subject-grouped Turtle: one ``<s> <p1> o1 ; <p2> o2 .`` statement
    per subject.  Grouping is a single aggregation; predicate-object
    pairs are sorted for determinism."""
    return (
        triples_raw.groupBy("s")
        .agg(F.array_sort(F.collect_list(_nt_terms("p", "o"))).alias("pos"))
        .select(
            F.concat(
                _nt_terms("s"), F.lit(" "), F.array_join(F.col("pos"), " ;\n    "), F.lit(" ."),
            ).alias("line")
        )
    )


def render_trig_lines(triples_raw: DataFrame) -> DataFrame:
    """Line-oriented TriG: one ``<g> { <s> <p> o . }`` block per triple.
    Verbose but valid TriG that stays a pure column render — no
    per-graph collect_list that would concentrate a whole graph into
    one row at scale."""
    return triples_raw.select(
        F.concat(
            _nt_terms("graph"), F.lit(" { "), _nt_terms("s", "p", "o"), F.lit(" . }")
        ).alias("line")
    )


def _xml_esc(col):
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    for a, b in (("<", "&lt;"), (">", "&gt;"), ('"', "&quot;")):
        out = F.replace(out, F.lit(a), F.lit(b))
    return out


def render_rdfxml_descriptions(triples_raw: DataFrame) -> DataFrame:
    """(s,p,o) → one ``<rdf:Description …>…</rdf:Description>`` line per
    subject (property elements grouped + sorted for determinism).
    :func:`to_rdf` wraps them in ``RDFXML_HEADER`` / ``RDFXML_FOOTER``
    for a complete document (reference S10 surface,
    src/query.rs:155-175 supports RdfXml output via oxrdfio)."""
    ns = F.regexp_extract("p", r"^(.*[/#])", 1)
    local = F.regexp_extract("p", r"([^/#]+)$", 1)
    o = F.col("o")
    kind = F.expr(terms.classify("o"))
    open_tag = F.concat(F.lit("<ns1:"), local, F.lit(' xmlns:ns1="'), _xml_esc(ns), F.lit('"'))
    dt = F.expr(terms.literal_datatype("o"))
    lang = F.expr(terms.literal_lang("o"))
    lit_attrs = (
        F.when(dt != "", F.concat(F.lit(' rdf:datatype="'), _xml_esc(dt), F.lit('"')))
        .when(lang != "", F.concat(F.lit(' xml:lang="'), lang, F.lit('"')))
        .otherwise(F.lit(""))
    )
    lit_elem = F.concat(
        open_tag, lit_attrs, F.lit(">"),
        _xml_esc(F.expr(terms.unescape_nt(terms.literal_value("o")))),
        F.lit("</ns1:"), local, F.lit(">"),
    )
    prop = (
        F.when(kind == terms.KIND_LITERAL, lit_elem)
        .when(kind == terms.KIND_BNODE,
              F.concat(open_tag, F.lit(' rdf:nodeID="'), F.expr("substring(o, 3)"), F.lit('"/>')))
        .otherwise(F.concat(open_tag, F.lit(' rdf:resource="'), _xml_esc(o), F.lit('"/>')))
    )
    subj_attr = F.when(
        F.col("s").startswith("_:"),
        F.concat(F.lit('rdf:nodeID="'), F.expr("substring(s, 3)"), F.lit('"')),
    ).otherwise(F.concat(F.lit('rdf:about="'), _xml_esc(F.col("s")), F.lit('"')))
    return (
        triples_raw.groupBy("s")
        .agg(
            F.array_sort(F.collect_list(prop)).alias("props"),
            F.first(subj_attr).alias("subj_attr"),
        )
        .select(
            F.concat(
                F.lit("<rdf:Description "), F.col("subj_attr"), F.lit(">"),
                F.array_join(F.col("props"), ""),
                F.lit("</rdf:Description>"),
            ).alias("line")
        )
    )


RDFXML_HEADER = (
    '<?xml version="1.0"?>\n'
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'
)
RDFXML_FOOTER = "</rdf:RDF>"


RENDERERS = {
    "nt": render_ntriples,
    "ntriples": render_ntriples,
    "nq": render_nquads,
    "nquads": render_nquads,
    "ttl": render_turtle_lines,
    "turtle": render_turtle_lines,
    # N3 is a superset of Turtle: the Turtle-lines rendering is a valid
    # N3 document (completes the reference's six graph formats)
    "n3": render_turtle_lines,
    "trig": render_trig_lines,
    "rdfxml": render_rdfxml_descriptions,
}


def _renderer(fmt: str):
    try:
        return RENDERERS[fmt]
    except KeyError:
        raise ValueError(f"unsupported RDF output format: {fmt!r}") from None


def write_rdf(triples_raw: DataFrame, path: str, fmt: str = "nt") -> None:
    _renderer(fmt)(triples_raw).write.mode("overwrite").text(path)


def to_rdf(triples: DataFrame, fmt: str = "nt") -> str:
    """The (s, p, o) graph as one ``fmt`` document, fetched in one
    ``collect()``.  Quad formats (nq, nquads, trig) name the graph
    ``file:///constructed``."""
    render = _renderer(fmt)
    if fmt in ("nq", "nquads", "trig"):
        triples = triples.withColumn("graph", F.lit("file:///constructed"))
    lines = [r["line"] for r in render(triples).collect()]
    if fmt == "rdfxml":
        lines = [RDFXML_HEADER, *lines, RDFXML_FOOTER]
    return "\n".join(lines)
