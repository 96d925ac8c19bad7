"""Query layer: triple-pattern BGP compiler, SPARQL-lite front end, and
SPARQL-results emitters (reference src/query.rs + src/sparql.rs)."""

from de_spark.query.bgp import Path, TriplePattern, compile_bgp
from de_spark.query.sparql import sparql_construct, sparql_describe, sparql_select
from de_spark.query.results import emit, to_csv, to_json, to_tsv, to_xml

__all__ = [
    "Path",
    "TriplePattern",
    "compile_bgp",
    "sparql_select",
    "sparql_construct",
    "sparql_describe",
    "to_csv",
    "to_tsv",
    "to_json",
    "to_xml",
    "emit",
]
