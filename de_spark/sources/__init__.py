"""RDF sources: format routing (reference src/rdf2nt.rs:51-65), the
N-Triples fast path (src/create.rs:83-86), Turtle / TriG read by the
SPARQL parser's document grammar (``de_spark.query.parser``; oxrdfio in
the reference, src/rdf2nt.rs:33-105) and the RDF/XML subset."""

from de_spark.sources.nt import read_nt_files, triples_from_nt_text
from de_spark.sources.router import read_rdf

__all__ = ["read_nt_files", "triples_from_nt_text", "read_rdf"]
