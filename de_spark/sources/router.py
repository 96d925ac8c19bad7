"""RDF file format router (reference src/rdf2nt.rs:51-65).

Maps file extension → parser: ``.nt``/``.ntriples`` take the fast
text-scan path (the reference byte-copies NT, src/create.rs:83-86);
``.nq``/``.nquads`` ride the same scan with the graph term demoted;
``.ttl``/``.turtle``/``.n3``/``.trig`` go through the SPARQL parser's
document grammar (``sources.turtle``; TriG graph blocks demoted);
``.rdf``/``.owl``/``.xml`` through the RDF/XML-subset converter (the
reference's explicit ``.owl`` special case, src/rdf2nt.rs:57-60).
Unknown extensions are reported, mirroring the reference's "unhandled
files" list (src/rdf2nt.rs:60-64); formats that can carry named graphs
surface a demotion warning, mirroring the reference's quad→triple
warning ("HDT does not support named graphs", src/rdf2nt.rs:89-96).

All N-Triples/N-Quads inputs share one text scan, and the Turtle and
RDF/XML inputs one whole-file scan each, parsed by one file kernel that
takes the format's parse function; every file's graph is
``file:///<name>`` from one naming rule (``nt.file_graph``), and blank
nodes a parser mints carry a digest of (graph, file path).
Multi-file aggregation into one graph (reference ``files_to_rdf``,
src/create.rs:66-124) is a lazy ``unionByName`` of those scans — the
reference's single-NT skip-copy optimization (src/create.rs:101-113) is
moot because Spark scans are lazy.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark.graph import SCHEMAS
from de_spark.sources.nt import file_graph, read_nt_files
from de_spark.sources.rdfxml import parse_rdfxml
from de_spark.sources.turtle import parse_turtle

_TURTLE_EXTS = {".ttl", ".turtle", ".n3", ".trig"}
_NT_EXTS = {".nt", ".ntriples", ".nq", ".nquads"}
_RDFXML_EXTS = {".rdf", ".owl", ".xml"}
_QUAD_EXTS = {".nq", ".nquads", ".trig"}


def _files_to_triples(parse: Callable, batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (path, content, graph) rows → triples_raw
    rows, each file read by ``parse(content, graph, path)``."""
    for pdf in batches:
        out = [
            (s, p, o, graph)
            for path, content, graph in zip(pdf["path"], pdf["content"], pdf["graph"])
            for s, p, o in parse(content, graph, path)
        ]
        yield pd.DataFrame(out, columns=["s", "p", "o", "graph"])


def _whole_files(
    spark: SparkSession, paths: list[str], single_graph: str | None, parse: Callable
) -> DataFrame:
    """One row per file, parsed in parallel tasks by ``parse``."""
    return (
        spark.read.text(paths, wholetext=True)
        .select(
            F.input_file_name().alias("path"),
            F.col("value").alias("content"),
            file_graph(single_graph).alias("graph"),
        )
        .mapInPandas(partial(_files_to_triples, parse), SCHEMAS["triples_raw"])
    )


def read_rdf(
    spark: SparkSession,
    paths: list[str],
    single_graph: str | None = None,
) -> tuple[DataFrame, list[str], list[str]]:
    """Read many RDF files into one triples_raw DataFrame.

    Returns (triples_raw, unhandled_paths, warnings).  If
    ``single_graph`` is set, all files land in that graph (the
    ``de create`` behavior of merging inputs into one HDT,
    src/create.rs:66-124); otherwise each file is its own named graph
    ``file:///<name>`` (the ``de query`` behavior, src/sparql.rs:40-48).
    """
    parts: list[DataFrame] = []
    nt_paths: list[str] = []
    turtle_paths: list[str] = []
    rdfxml_paths: list[str] = []
    unhandled: list[str] = []
    warnings: list[str] = []
    for p in paths:
        ext = os.path.splitext(p)[1].lower()
        if ext in _QUAD_EXTS:
            warnings.append(
                f"{p}: named graphs are demoted to triples "
                "(HDT does not support named graphs)"
            )
        if ext in _NT_EXTS:
            nt_paths.append(p)
        elif ext in _TURTLE_EXTS:
            turtle_paths.append(p)
        elif ext in _RDFXML_EXTS:
            rdfxml_paths.append(p)
        else:
            unhandled.append(p)

    if nt_paths:
        parts.append(read_nt_files(spark, nt_paths, single_graph))
    if turtle_paths:
        parts.append(_whole_files(spark, turtle_paths, single_graph, parse_turtle))
    if rdfxml_paths:
        parts.append(_whole_files(spark, rdfxml_paths, single_graph, parse_rdfxml))

    if not parts:
        return spark.createDataFrame([], SCHEMAS["triples_raw"]), unhandled, warnings
    df = parts[0]
    for other in parts[1:]:
        df = df.unionByName(other)
    return df, unhandled, warnings
