import glob

from de_spark.sources.nt import triples_from_nt_text
from de_spark.sources.rdf_writers import render_nquads, render_turtle_lines, to_rdf, write_rdf
from de_spark.sources.turtle import parse_turtle
from tests.fixtures import BANANA_NT


def _read_lines(path):
    out = []
    for f in glob.glob(f"{path}/part-*"):
        out += open(f).read().splitlines()
    return out


def test_ntriples_roundtrip(spark, tmp_path):
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    out = str(tmp_path / "nt_out")
    write_rdf(raw, out, "nt")
    lines = _read_lines(out)
    # re-parse what we wrote: identical triple set
    back = triples_from_nt_text(spark, "\n".join(lines), "g")
    orig = {(r["s"], r["p"], r["o"]) for r in raw.collect()}
    got = {(r["s"], r["p"], r["o"]) for r in back.collect()}
    assert got == orig


def test_nquads_has_graph_term(spark):
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    line = render_nquads(raw).limit(1).collect()[0]["line"]
    assert line.endswith("<file:///banana.hdt> .")


def test_rdfxml_roundtrip(spark):
    """RDF/XML writer → RDF/XML parser recovers the exact triple set
    (S10 parity: the reference emits RdfXml via oxrdfio,
    src/query.rs:155-175)."""
    from de_spark.sources.rdfxml import parse_rdfxml

    extra = (
        '<http://example.org/B> <http://example.org/note> "line1\\nline2 & <tag>" .\n'
        '<http://example.org/B> <http://example.org/label> "hola"@es .\n'
        "_:b0 <http://example.org/ref> _:b1 .\n"
    )
    raw = triples_from_nt_text(spark, BANANA_NT + extra, "g")
    doc = to_rdf(raw, "rdfxml")
    orig = {(r["s"], r["p"], r["o"]) for r in raw.collect()}
    assert set(parse_rdfxml(doc)) == orig


def test_trig_lines_parse_back(spark):
    from de_spark.sources.rdf_writers import render_trig_lines
    from de_spark.sources.turtle import parse_trig

    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    lines = [r["line"] for r in render_trig_lines(raw).collect()]
    assert all(line.startswith("<file:///banana.hdt> { ") for line in lines)
    triples, had_graphs = parse_trig("\n".join(lines))
    assert had_graphs is True  # '<g> { … }' label form is also demoted
    orig = {(r["s"], r["p"], r["o"]) for r in raw.collect()}
    assert set(triples) == orig


def test_turtle_grouping_parses_back(spark):
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    lines = [r["line"] for r in render_turtle_lines(raw).collect()]
    assert len(lines) == 2  # one statement per subject
    triples = parse_turtle("\n".join(lines))
    orig = {(r["s"], r["p"], r["o"]) for r in raw.collect()}
    assert set(triples) == orig


def test_rdfxml_fetches_once(spark, in_job_group):
    """to_rdf fetches a graph's lines with one collect() and returns
    every triple: N-Triples (a projection) runs one job; RDF/XML runs
    one more, for the shuffle of its subject grouping, which adaptive
    execution submits as a job of its own."""
    from pyspark.sql import functions as F

    n = 20_000
    raw = spark.range(0, n, 1, 4).select(
        F.concat(F.lit("http://x/s"), F.col("id")).alias("s"),
        F.lit("http://x/p").alias("p"),
        F.concat(F.lit('"v'), F.col("id"), F.lit('"')).alias("o"),
    )
    assert raw.rdd.getNumPartitions() >= 2
    nt, jobs = in_job_group("to_rdf_nt", lambda: to_rdf(raw, "nt"))
    assert jobs == 1
    assert len(nt.splitlines()) == n
    doc, jobs = in_job_group("to_rdf_rdfxml", lambda: to_rdf(raw, "rdfxml"))
    assert jobs == 2
    assert doc.count("<rdf:Description ") == n
