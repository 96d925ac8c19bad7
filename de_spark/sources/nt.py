"""N-Triples source.

The reference funnels every input format into N-Triples text as the
universal intermediate (src/create.rs:24-25) and byte-copies native
``.nt`` inputs (src/create.rs:103-111).  Here an NT file is just a text
scan + one vectorized regex per line — Spark splits large files across
tasks automatically, which fixes the reference's acknowledged missing
parallel parse (TODO at src/rdf2nt.rs:66).

Output schema (``triples_raw``): s, p, o, graph — all strings,
terms in HDT convention (see de_spark.terms).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# subject: IRI or bnode; predicate: IRI; object: IRI, bnode, or literal
# (with optional ^^<dt> / @lang suffix).  Comment/blank lines yield no
# capture and are dropped.  An optional 4th term accepts N-Quads lines:
# the graph term is captured but NOT emitted — quads are demoted to
# triples, mirroring the reference ("HDT does not support named
# graphs", src/rdf2nt.rs:89-96).
_NT_LINE = (
    r'^\s*(<[^>]*>|_:\S+)\s+(<[^>]*>)\s+'
    r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?)'
    r'(?:\s+(<[^>]*>|_:\S+))?\s*\.\s*$'
)


def _strip_iri(col):
    """IRIs are stored bracket-free (HDT convention, src/sparql.rs:407-413)."""
    return F.when(col.startswith("<"), col.substr(F.lit(2), F.length(col) - 2)).otherwise(col)


def graph_iri_for_file(path: str) -> str:
    """Graph IRI synthesized from the file name: ``file:///<name>``
    (reference src/sparql.rs:40-48)."""
    return f"file:///{os.path.basename(path)}"


def file_graph(single_graph: str | None = None):
    """The graph column of a file scan: ``single_graph`` if given, else
    ``graph_iri_for_file`` of the scanned file.  Spark reports the file
    name percent-encoded (``t x+y%.ttl`` as ``t%20x+y%25.ttl``) and
    ``url_decode`` reads ``+`` as a space, so ``+`` is escaped first."""
    if single_graph:
        return F.lit(single_graph)
    name = F.replace(F.col("_metadata.file_name"), F.lit("+"), F.lit("%2B"))
    return F.concat(F.lit("file:///"), F.url_decode(name))


def _parse_nt_lines(lines: DataFrame) -> DataFrame:
    """(value, graph) lines → triples_raw."""
    spo = ("s", "p", "o")
    parsed = lines.select(
        *(F.regexp_extract("value", _NT_LINE, i).alias(c) for i, c in enumerate(spo, 1)), "graph"
    ).where(F.col("p") != "")
    return parsed.select(*(_strip_iri(F.col(c)).alias(c) for c in spo), "graph")


def read_nt_files(spark: SparkSession, paths: list[str], graph: str | None = None) -> DataFrame:
    """Read N-Triples/N-Quads files in one text scan into a triples_raw
    DataFrame: every line lands in ``graph`` if given, else in its
    file's graph (``file_graph``)."""
    return _parse_nt_lines(spark.read.text(paths).select("value", file_graph(graph).alias("graph")))


def triples_from_nt_text(spark: SparkSession, nt_text: str, graph: str) -> DataFrame:
    """triples_raw from an in-memory NT string (test fixtures)."""
    lines = [(l, graph) for l in nt_text.splitlines()]
    return _parse_nt_lines(spark.createDataFrame(lines, ["value", "graph"]))

