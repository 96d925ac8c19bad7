"""RDF sources: format routing (reference src/rdf2nt.rs:51-65), N-Triples
fast path (src/create.rs:83-86), and Turtle-subset conversion
(src/rdf2nt.rs:33-105 via oxrdfio in the reference)."""

from de_spark.sources.nt import read_nt_files, triples_from_nt_text
from de_spark.sources.router import read_rdf

__all__ = ["read_nt_files", "triples_from_nt_text", "read_rdf"]
