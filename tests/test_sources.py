import pytest

from de_spark.sources.nt import triples_from_nt_text
from de_spark.sources.rdfxml import parse_rdfxml
from de_spark.sources.router import read_rdf
from de_spark.sources.turtle import parse_trig, parse_turtle
from tests.fixtures import (
    APPLE_RDFXML,
    APPLE_TTL,
    BANANA_NT,
    FRUIT_NQ,
    FRUIT_TRIG,
    PINEAPPLE_TTL,
)

XSD_BOOL = "http://www.w3.org/2001/XMLSchema#boolean"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def test_nt_parse(spark):
    df = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    rows = df.collect()
    assert len(rows) == 12
    by_p = {(r["s"], r["p"]): r for r in rows}
    r = by_p[("http://example.org/Banana", "http://example.org/isEdible")]
    assert r["o"] == f'"true"^^<{XSD_BOOL}>'
    r = by_p[("http://example.org/Banana", RDF_TYPE)]
    assert r["o"] == "http://example.org/Fruit"
    assert all(r["graph"] == "file:///banana.hdt" for r in rows)


def test_turtle_parse_apple():
    triples = parse_turtle(APPLE_TTL)
    assert len(triples) == 9
    tset = set(triples)
    assert ("http://example.org/Apple", RDF_TYPE, "http://example.org/Fruit") in tset
    assert (
        "http://example.org/Apple",
        "http://example.org/isOrganic",
        f'"true"^^<{XSD_BOOL}>',
    ) in tset
    assert (
        "http://example.org/Fruit",
        "http://www.w3.org/2000/01/rdf-schema#label",
        '"Fruit"',
    ) in tset


def test_turtle_matches_nt_banana():
    """pineapple.ttl exercises the ';' list style; cross-check NT shape."""
    triples = parse_turtle(PINEAPPLE_TTL)
    assert len(triples) == 12
    subjects = {s for s, _, _ in triples}
    assert subjects == {"http://example.org/Pineapple", "http://example.org/Fruit"}


def test_rdfxml_matches_turtle_apple():
    """The RDF/XML rendering of apple.ttl parses to the SAME triple set
    (reference routes .owl/.rdf through the RdfXml parser,
    src/rdf2nt.rs:51-65)."""
    assert set(parse_rdfxml(APPLE_RDFXML)) == set(parse_turtle(APPLE_TTL))


def test_trig_demotes_named_graphs():
    triples, had_graphs = parse_trig(FRUIT_TRIG)
    assert had_graphs
    assert set(triples) == {
        ("http://example.org/Apple", "http://example.org/hasColor", '"Red"'),
        ("http://example.org/Banana", "http://example.org/hasColor", '"yellow"'),
        ("http://example.org/Banana", RDF_TYPE, "http://example.org/Fruit"),
        ("http://example.org/Cherry", "http://example.org/hasColor", '"red"'),
    }
    # plain Turtle still reports no graphs
    assert parse_trig(APPLE_TTL)[1] is False


def test_router_all_formats(spark, tmp_path):
    """One graph from .nt + .ttl + .rdf + .owl + .trig + .nq inputs;
    quad-capable formats surface the demotion warning; unknown
    extensions land in the unhandled list (src/rdf2nt.rs:60-64)."""
    files = {
        "banana.nt": BANANA_NT,
        "apple.ttl": APPLE_TTL,
        "apple2.rdf": APPLE_RDFXML,
        "apple3.owl": APPLE_RDFXML,
        "fruit.trig": FRUIT_TRIG,
        "fruit.nq": FRUIT_NQ,
        "notes.txt": "not rdf",
    }
    paths = []
    for name, content in files.items():
        p = tmp_path / name
        p.write_text(content)
        paths.append(str(p))
    df, unhandled, warnings = read_rdf(spark, paths, single_graph="g")
    assert unhandled == [str(tmp_path / "notes.txt")]
    # one text scan per reader: the .nt and .nq files share one
    assert df._jdf.queryExecution().optimizedPlan().toString().count("] text") == 3
    assert sorted(w.split(":")[0].rsplit("/", 1)[-1] for w in warnings) == [
        "fruit.nq",
        "fruit.trig",
    ]
    got = {(r["s"], r["p"], r["o"]) for r in df.collect()}
    expect = (
        {(s, p, o) for s, p, o in parse_turtle(APPLE_TTL)}
        | {(s, p, o) for s, p, o in parse_trig(FRUIT_TRIG)[0]}
        | {(r["s"], r["p"], r["o"]) for r in triples_from_nt_text(spark, BANANA_NT, "g").collect()}
        | {
            ("http://example.org/A", "http://example.org/p", '"x"'),
            ("http://example.org/A", "http://example.org/p", "http://example.org/B"),
        }
    )
    assert got == expect
    assert df.select("graph").distinct().collect()[0]["graph"] == "g"


def test_turtle_blank_node_property_lists_and_collections():
    """VERDICT r2 item 2: `[ … ]`, `( … )`, long and single-quoted
    literals — the triple set oxigraph (oxrdfio via src/rdf2nt.rs:67)
    would emit, with deterministic _:genidN labels."""
    from de_spark.sources.turtle import RDF

    ttl = """
    @prefix ex: <http://example.org/>.
    ex:Apple ex:nutrition [ ex:calories 52 ; ex:vitamins ( ex:VitaminC ex:VitaminB6 ) ] ;
      ex:comment \"\"\"A crisp
fruit with "quotes" inside\"\"\" ;
      ex:alias 'pomme' .
    [ ex:anonRoot true ] .
    ex:Empty ex:list () .
    """
    got = parse_turtle(ttl)
    ex = "http://example.org/"
    assert (ex + "Apple", ex + "nutrition", "_:genid1") in got
    assert ("_:genid1", ex + "calories", '"52"^^<http://www.w3.org/2001/XMLSchema#integer>') in got
    # collection chain: genid2 → genid3 → rdf:nil
    assert ("_:genid1", ex + "vitamins", "_:genid2") in got
    assert ("_:genid2", RDF + "first", ex + "VitaminC") in got
    assert ("_:genid2", RDF + "rest", "_:genid3") in got
    assert ("_:genid3", RDF + "first", ex + "VitaminB6") in got
    assert ("_:genid3", RDF + "rest", RDF + "nil") in got
    # long literal: raw newline + quotes normalized to NT escapes
    assert (ex + "Apple", ex + "comment", '"A crisp\\nfruit with \\"quotes\\" inside"') in got
    assert (ex + "Apple", ex + "alias", '"pomme"') in got
    # anonymous subject statement
    assert ("_:genid4", ex + "anonRoot", '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>') in got
    # empty collection = rdf:nil constant
    assert (ex + "Empty", ex + "list", RDF + "nil") in got
    assert len(got) == 11


def test_turtle_nested_property_lists():
    ttl = """
    @prefix ex: <http://x/>.
    ex:a ex:p [ ex:q [ ex:r 1 ] ] .
    """
    got = parse_turtle(ttl)
    assert ("http://x/a", "http://x/p", "_:genid1") in got
    assert ("_:genid1", "http://x/q", "_:genid2") in got
    assert ("_:genid2", "http://x/r", '"1"^^<http://www.w3.org/2001/XMLSchema#integer>') in got
    assert len(got) == 3


def test_rdfxml_parsetype_resource_and_collection():
    """VERDICT r2 item 8: rdf:parseType="Resource" → nested bnode;
    parseType="Collection" → rdf:first/rest chain (oxrdfio behavior)."""
    from de_spark.sources.rdfxml import RDF_NS, parse_rdfxml

    xml = """<?xml version="1.0"?>
    <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
             xmlns:ex="http://example.org/">
      <rdf:Description rdf:about="http://example.org/Apple">
        <ex:nutrition rdf:parseType="Resource">
          <ex:calories rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">52</ex:calories>
          <ex:fiber>high</ex:fiber>
        </ex:nutrition>
        <ex:vitamins rdf:parseType="Collection">
          <rdf:Description rdf:about="http://example.org/VitaminC"/>
          <rdf:Description rdf:about="http://example.org/VitaminB6"/>
        </ex:vitamins>
      </rdf:Description>
    </rdf:RDF>
    """
    got = parse_rdfxml(xml)
    ex = "http://example.org/"
    assert (ex + "Apple", ex + "nutrition", "_:rx1") in got
    assert ("_:rx1", ex + "calories", '"52"^^<http://www.w3.org/2001/XMLSchema#integer>') in got
    assert ("_:rx1", ex + "fiber", '"high"') in got
    assert (ex + "Apple", ex + "vitamins", "_:rx2") in got
    assert ("_:rx2", RDF_NS + "first", ex + "VitaminC") in got
    assert ("_:rx2", RDF_NS + "rest", "_:rx3") in got
    assert ("_:rx3", RDF_NS + "first", ex + "VitaminB6") in got
    assert ("_:rx3", RDF_NS + "rest", RDF_NS + "nil") in got
    assert len(got) == 8

    # parseType="Literal": inner XML serialized as one rdf:XMLLiteral
    got2 = parse_rdfxml(
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/"><rdf:Description rdf:about="http://e/x">'
        '<ex:p rdf:parseType="Literal">pre<b>x</b>post</ex:p>'
        "</rdf:Description></rdf:RDF>"
    )
    assert got2 == [
        (
            "http://e/x",
            "http://e/p",
            f'"pre<b>x</b>post"^^<{RDF_NS}XMLLiteral>',
        )
    ]


def test_rdfxml_reification():
    """rdf:ID on a property element names the statement: four
    rdf:Statement/subject/predicate/object triples (RDF/XML §7.3)."""
    from de_spark.sources.rdfxml import RDF_NS, parse_rdfxml

    xml = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/" xml:base="http://b.org/doc">'
        '<rdf:Description rdf:about="http://e/x"><ex:p rdf:ID="st1">v</ex:p>'
        "</rdf:Description></rdf:RDF>"
    )
    st = "http://b.org/doc#st1"
    assert parse_rdfxml(xml) == [
        ("http://e/x", "http://e/p", '"v"'),
        (st, RDF_NS + "type", RDF_NS + "Statement"),
        (st, RDF_NS + "subject", "http://e/x"),
        (st, RDF_NS + "predicate", "http://e/p"),
        (st, RDF_NS + "object", '"v"'),
    ]


def test_rdfxml_relative_iris_resolve_against_base():
    from de_spark.sources.rdfxml import parse_rdfxml

    xml = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/" xml:base="http://base.org/dir/doc">'
        '<rdf:Description rdf:about="apple">'
        '<ex:rel rdf:resource="#frag"/>'
        "</rdf:Description></rdf:RDF>"
    )
    assert parse_rdfxml(xml) == [
        ("http://base.org/dir/apple", "http://e/rel", "http://base.org/dir/doc#frag")
    ]


def test_turtle_base_and_relative_iris():
    """@base / SPARQL-style BASE+PREFIX directives; relative IRIs
    resolve per RFC 3986 (Turtle 1.1 §6.3)."""
    from de_spark.sources.turtle import parse_turtle

    ttl = """
    @base <http://base.org/dir/> .
    @prefix ex: <sub/> .
    BASE <http://base.org/dir/>
    PREFIX p: <http://p.org/>
    <apple> p:rel <#frag> .
    <apple> p:kind ex:thing .
    """
    got = parse_turtle(ttl)
    assert got == [
        ("http://base.org/dir/apple", "http://p.org/rel", "http://base.org/dir/#frag"),
        ("http://base.org/dir/apple", "http://p.org/kind", "http://base.org/dir/sub/thing"),
    ]


def test_turtle_numeric_literal_grammar():
    """Turtle §2.5.2 abbreviated numerics: INTEGER → xsd:integer,
    DECIMAL (incl. leading-dot) → xsd:decimal, exponent DOUBLE →
    xsd:double; lexical forms preserved as written."""
    from de_spark.sources.turtle import parse_turtle

    xsd = "http://www.w3.org/2001/XMLSchema#"
    doc = (
        "@prefix ex: <http://x/> .\n"
        "ex:a ex:i 123 ; ex:d 1.5 ; ex:e 2.5e0 ; ex:g -4.0E-2 ; ex:h .5 ; ex:j -7 ; ex:k +5 ."
    )
    objs = {p.rsplit("/", 1)[1]: o for _, p, o in parse_turtle(doc)}
    assert objs["i"] == f'"123"^^<{xsd}integer>'
    assert objs["d"] == f'"1.5"^^<{xsd}decimal>'
    assert objs["e"] == f'"2.5e0"^^<{xsd}double>'
    assert objs["g"] == f'"-4.0E-2"^^<{xsd}double>'
    assert objs["h"] == f'".5"^^<{xsd}decimal>'
    assert objs["j"] == f'"-7"^^<{xsd}integer>'
    assert objs["k"] == f'"+5"^^<{xsd}integer>'


# ---------------------------------------------------------------------------
# one grammar: a statement names the same terms in a .ttl file, an .nt
# file, INSERT DATA and a query constant
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def parity_kg(spark, tmp_path_factory):
    """t.ttl and t.nt read by read_rdf and built into one store."""
    from de_spark.pipeline import build

    d = tmp_path_factory.mktemp("parity")
    (d / "t.ttl").write_text(
        "@prefix x: <http://x/> .\n"
        "x:a x:p 'it\\'s' , \"caf\\u00e9\" .\n"
        "x:c x:p \"\"\"two\nlines\"\"\" .\n"
    )
    (d / "t.nt").write_text('<http://x/b> <http://x/p> "caf\\u00e9" .\n')
    raw, _, _ = read_rdf(spark, [str(d / "t.ttl"), str(d / "t.nt")])
    kg, _ = build(raw, str(d / "kg"))
    return kg


def _subjects(kg, q):
    from de_spark.query import sparql_select

    return sorted(r[0] for r in sparql_select(kg, q).collect())


def test_escaped_quote_query_literal_matches_turtle(parity_kg):
    assert _subjects(parity_kg, "SELECT ?s { ?s <http://x/p> 'it\\'s' }") == ["http://x/a"]


def test_unicode_escape_is_one_term_in_ttl_nt_and_query(parity_kg):
    cafe = [r["term"] for r in parity_kg.term_uids.collect() if "caf" in r["term"]]
    assert cafe == ['"caf\\u00e9"']
    assert _subjects(parity_kg, 'SELECT ?s { ?s <http://x/p> "caf\\u00e9" }') == [
        "http://x/a",
        "http://x/b",
    ]


def test_long_literal_query_matches_turtle(parity_kg):
    assert _subjects(parity_kg, 'SELECT ?s { ?s <http://x/p> """two\nlines""" }') == [
        "http://x/c"
    ]


def test_base_resolves_relative_query_iris(parity_kg):
    q = "BASE <http://x/> SELECT ?s { ?s <p> ?o FILTER(?s = <a>) }"
    assert _subjects(parity_kg, q) == ["http://x/a", "http://x/a"]
    assert _subjects(parity_kg, "BASE <http://x/> SELECT ?o { <a> ?p ?o }") == [
        "\"caf\\u00e9\"",
        "\"it's\"",
    ]


def test_exponent_number_is_one_term_in_turtle_query_and_insert_data():
    from de_spark.query.parser import parse_sparql
    from de_spark.query.update import parse_update

    (_, _, ttl), = parse_turtle("<http://x/a> <http://x/p> 1e5 .")
    assert ttl == '"1e5"^^<http://www.w3.org/2001/XMLSchema#double>'
    (pat,) = parse_sparql("SELECT * { ?s <http://x/p> 1e5 }").algebra.patterns
    assert pat.o == ttl
    ops = parse_update("INSERT DATA { GRAPH <http://g/> { <http://x/a> <http://x/p> 1e5 } }")
    assert [t.o for t in ops[0].quads["http://g/"]] == [ttl]


def test_long_literal_in_insert_data_matches_turtle():
    from de_spark.query.update import parse_update

    body = '<http://x/a> <http://x/p> """A "quoted"\nline""" , \'\'\'it\\\'s\'\'\' .'
    ops = parse_update("INSERT DATA { GRAPH <http://g/> { %s } }" % body)
    got = [(t.s, t.p, t.o) for t in ops[0].quads["http://g/"]]
    assert got == parse_turtle(body)
    assert [o for _, _, o in got] == ['"A \\"quoted\\"\\nline"', '"it\'s"']


def test_blank_nodes_of_two_files_stay_apart(spark, tmp_path):
    """Each file mints its own ``[ … ]`` nodes: two files that both
    number theirs from 1 still give two nodes, so the join below pairs
    each subject with its own value only."""
    from de_spark.pipeline import build

    (tmp_path / "f1.ttl").write_text('<http://x/a> <http://x/p> [ <http://x/q> "1" ] .')
    (tmp_path / "f2.ttl").write_text('<http://x/b> <http://x/p> [ <http://x/q> "2" ] .')
    raw, _, _ = read_rdf(spark, [str(tmp_path / "f1.ttl"), str(tmp_path / "f2.ttl")])
    kg, _ = build(raw, str(tmp_path / "kg"))
    from de_spark.query import sparql_select

    q = "SELECT ?s ?v { ?s <http://x/p> ?x . ?x <http://x/q> ?v }"
    assert sorted(tuple(r) for r in sparql_select(kg, q).collect()) == [
        ("http://x/a", '"1"'),
        ("http://x/b", '"2"'),
    ]
