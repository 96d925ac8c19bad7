"""Turtle and TriG documents → triples.

The reference delegates non-NT parsing to oxrdfio and re-serializes to
N-Triples, dropping graph names (src/rdf2nt.rs:33-105).  Its RDF and
SPARQL parsers come from one stack, so a constant in a query names the
same term as the data it matches.  Here the same holds because a
document is read by the SPARQL ``Parser``
(de_spark.query.parser): its prologue (@prefix/@base, PREFIX/BASE,
RFC 3986 relative IRIs), its literal normalizer (long and single-quoted
literals in N-Triples form), its triples grammar (``;``/``,`` lists,
``a``, numbers, booleans, ``[ … ]`` property lists, ``( … )``
collections), its quad blocks (TriG ``GRAPH <g> {…}``, ``<g> {…}``,
``{…}``) and its grounding step (``[ … ]`` / ``( … )`` mint blank
nodes ``_:genidN``).

The router reads each file as one (path, content, graph) row and
parses many files in parallel inside ``mapInPandas``.
"""

from __future__ import annotations

from de_spark.query.parser import RDF, Parser

__all__ = ["RDF", "parse_trig", "parse_turtle"]


def parse_trig(
    text: str, graph: str | None = None, path: str | None = None
) -> tuple[list[tuple[str, str, str]], bool]:
    """TriG = Turtle + graph blocks.  Graph names are DEMOTED: every
    statement lands in the file's single graph ``graph``, mirroring the
    reference's quad→triple demotion with a warning ("HDT does not
    support named graphs", src/rdf2nt.rs:89-96).  With a ``path`` the
    minted blank nodes carry a digest of (graph, path).  Returns
    (triples, had_named_graphs)."""
    p = Parser(text)
    quads = p.parse_quads(document=True)
    demoted = [t for ts in quads.values() for t in ts]
    triples = p.ground({graph: demoted}, path)[graph]
    return [(t.s, t.p, t.o) for t in triples], any(g is not None for g in quads)


def parse_turtle(
    text: str, graph: str | None = None, path: str | None = None
) -> list[tuple[str, str, str]]:
    """Parse a Turtle document into HDT-convention string triples."""
    return parse_trig(text, graph, path)[0]
