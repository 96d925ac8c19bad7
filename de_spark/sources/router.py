"""RDF file format router (reference src/rdf2nt.rs:51-65).

Maps file extension → parser: ``.nt``/``.ntriples`` take the fast
text-scan path (the reference byte-copies NT, src/create.rs:83-86);
``.nq``/``.nquads`` ride the same scan with the graph term demoted;
``.ttl``/``.turtle``/``.n3`` go through the Turtle-subset converter;
``.trig`` through the TriG extension (GRAPH blocks demoted);
``.rdf``/``.owl``/``.xml`` through the RDF/XML-subset converter (the
reference's explicit ``.owl`` special case, src/rdf2nt.rs:57-60).
Unknown extensions are reported, mirroring the reference's "unhandled
files" list (src/rdf2nt.rs:60-64); formats that can carry named graphs
surface a demotion warning, mirroring the reference's quad→triple
warning ("HDT does not support named graphs", src/rdf2nt.rs:89-96).

All N-Triples/N-Quads inputs share one text scan, and the Turtle and
RDF/XML inputs one whole-file scan each; every file's graph is
``file:///<name>`` from one naming rule (``nt.file_graph``).
Multi-file aggregation into one graph (reference ``files_to_rdf``,
src/create.rs:66-124) is a lazy ``unionByName`` of those scans — the
reference's single-NT skip-copy optimization (src/create.rs:101-113) is
moot because Spark scans are lazy.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark.graph import SCHEMAS
from de_spark.sources.nt import file_graph, read_nt_files
from de_spark.sources.rdfxml import rdfxml_files_to_triples
from de_spark.sources.turtle import turtle_files_to_triples

_TURTLE_EXTS = {".ttl", ".turtle", ".n3", ".trig"}
_NT_EXTS = {".nt", ".ntriples", ".nq", ".nquads"}
_RDFXML_EXTS = {".rdf", ".owl", ".xml"}
_QUAD_EXTS = {".nq", ".nquads", ".trig"}


def _whole_files(spark: SparkSession, paths: list[str], single_graph: str | None) -> DataFrame:
    return spark.read.text(paths, wholetext=True).select(
        F.input_file_name().alias("path"),
        F.col("value").alias("content"),
        file_graph(single_graph).alias("graph"),
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
    # whole-file reads; one row per file, parsed in parallel tasks
    if turtle_paths:
        parts.append(
            _whole_files(spark, turtle_paths, single_graph).mapInPandas(
                turtle_files_to_triples, SCHEMAS["triples_raw"]
            )
        )
    if rdfxml_paths:
        parts.append(
            _whole_files(spark, rdfxml_paths, single_graph).mapInPandas(
                rdfxml_files_to_triples, SCHEMAS["triples_raw"]
            )
        )

    if not parts:
        return spark.createDataFrame([], SCHEMAS["triples_raw"]), unhandled, warnings
    df = parts[0]
    for other in parts[1:]:
        df = df.unionByName(other)
    return df, unhandled, warnings
