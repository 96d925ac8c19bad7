"""N-Triples source.

The reference funnels every input format into N-Triples text as the
universal intermediate (src/create.rs:24-25) and byte-copies native
``.nt`` inputs (src/create.rs:103-111).  Here an NT file is just a text
scan + one vectorized regex per line — Spark splits large files across
tasks automatically, which fixes the reference's acknowledged missing
parallel parse (TODO at src/rdf2nt.rs:66).

Output schema (``triples_raw``): s, p, o, o_kind, graph — all strings,
terms in HDT convention (see de_spark.terms).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark import terms

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


def _parse_nt_lines(lines: DataFrame, graph: str) -> DataFrame:
    parsed = lines.select(
        F.regexp_extract("value", _NT_LINE, 1).alias("s_raw"),
        F.regexp_extract("value", _NT_LINE, 2).alias("p_raw"),
        F.regexp_extract("value", _NT_LINE, 3).alias("o_raw"),
    ).where(F.col("p_raw") != "")
    out = parsed.select(
        _strip_iri(F.col("s_raw")).alias("s"),
        _strip_iri(F.col("p_raw")).alias("p"),
        _strip_iri(F.col("o_raw")).alias("o"),
    )
    return out.select(
        "s",
        "p",
        "o",
        terms.classify(F.col("o")).alias("o_kind"),
        F.lit(graph).alias("graph"),
    )


def read_nt(spark: SparkSession, path: str, graph: str | None = None) -> DataFrame:
    """Read one N-Triples file into a triples_raw DataFrame."""
    graph = graph or graph_iri_for_file(path)
    return _parse_nt_lines(spark.read.text(path), graph)


def triples_from_nt_text(spark: SparkSession, nt_text: str, graph: str) -> DataFrame:
    """triples_raw from an in-memory NT string (test fixtures)."""
    lines = [(l,) for l in nt_text.splitlines()]
    return _parse_nt_lines(spark.createDataFrame(lines, ["value"]), graph)

