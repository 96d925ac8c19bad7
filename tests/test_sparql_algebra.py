"""Round-3 recursive-descent parser: nested group graph patterns,
BIND, FILTER (NOT) EXISTS, MINUS, nested UNION, FILTER arithmetic and
the extended builtin library (VERDICT round-2 items 1/3/6 + ADVICE
scope fixes).  The reference gets the full algebra from oxigraph's
spargebra/spareval (src/sparql.rs:516-521)."""

import pytest

from de_spark.pipeline import build
from de_spark.query import Path, sparql_select
from de_spark.query.parser import RDF_TYPE, XSD, parse_sparql
from de_spark.query.update import parse_update
from de_spark.sources.nt import triples_from_nt_text
from de_spark.sources.turtle import parse_turtle
from tests.fixtures import BANANA_NT, PINEAPPLE_TTL

EX = "PREFIX ex: <http://example.org/>\n"


@pytest.fixture(scope="module")
def fruit_kg(spark, tmp_path_factory):
    from tests.test_query import raw_from_ttl

    out = str(tmp_path_factory.mktemp("fruit_kg_alg"))
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt").unionByName(
        raw_from_ttl(spark, PINEAPPLE_TTL, "file:///pineapple.hdt")
    )
    kg, _ = build(raw, out)
    return kg


@pytest.fixture(scope="module")
def num_kg(spark, tmp_path_factory):
    nt = "\n".join(
        f'<http://x/s{i}> <http://x/val> "{v}"^^<http://www.w3.org/2001/XMLSchema#integer> .'
        for i, v in [(1, 10), (2, 30), (3, 5)]
    )
    out = str(tmp_path_factory.mktemp("num_kg"))
    kg, _ = build(triples_from_nt_text(spark, nt, "file:///num.nt"), out)
    return kg


def names(df, col="f"):
    return [r[col].rsplit("/", 1)[1] for r in df.collect()]


# ---------------------------------------------------------------------------
# scoped composition (the round-2 regex parser hoisted these blocks)
# ---------------------------------------------------------------------------


def test_graph_inside_optional_stays_optional(fruit_kg):
    """ADVICE r2 item 1: a GRAPH block inside OPTIONAL must not be
    hoisted into the required patterns — Pineapple's taste lives in the
    other graph, so it survives with ?t unbound."""
    q = EX + """
    SELECT ?f ?t WHERE {
      ?f a ex:Fruit .
      OPTIONAL { GRAPH <file:///banana.hdt> { ?f ex:hasTaste ?t } }
    } ORDER BY ?f
    """
    rows = sparql_select(fruit_kg, q).collect()
    got = {r["f"].rsplit("/", 1)[1]: r["t"] for r in rows}
    assert got == {"Banana": '"sweet"', "Pineapple": None}


def test_optional_inside_union_branch(fruit_kg):
    q = EX + """
    SELECT ?f ?x ?v WHERE {
      { ?f ex:hasShape ?x FILTER(STRSTARTS(?x, "cur")) }
      UNION
      { ?f ex:hasOrigin ?x OPTIONAL { ?f ex:hasVitamin ?v } }
    } ORDER BY ?f ?x
    """
    rows = [
        (r["f"].rsplit("/", 1)[1], r["x"], r["v"] and r["v"].rsplit("/", 1)[1])
        for r in sparql_select(fruit_kg, q).collect()
    ]
    assert rows == [
        ("Banana", '"Ecuador"', "VitaminB6"),
        ("Banana", '"curved"', None),
        ("Pineapple", '"Hawaii"', "VitaminC"),
    ]


def test_nested_union(fruit_kg):
    q = EX + """
    SELECT ?f ?x WHERE {
      { { ?f ex:hasShape ?x } UNION { ?f ex:hasTaste ?x } }
      UNION
      { ?f ex:hasOrigin ?x }
    } ORDER BY ?f ?x
    """
    rows = [(r["f"].rsplit("/", 1)[1], r["x"]) for r in sparql_select(fruit_kg, q).collect()]
    assert rows == [
        ("Banana", '"Ecuador"'),
        ("Banana", '"curved"'),
        ("Banana", '"sweet"'),
        ("Pineapple", '"Hawaii"'),
        ("Pineapple", '"oblong"'),
        ("Pineapple", '"sweet"'),
    ]


def test_minus(fruit_kg):
    q = EX + 'SELECT ?f WHERE { ?f a ex:Fruit . MINUS { ?f ex:hasShape "curved" } }'
    assert names(sparql_select(fruit_kg, q)) == ["Pineapple"]
    # MINUS with disjoint domains removes nothing (SPARQL 1.1 §8.3)
    q2 = EX + 'SELECT ?f WHERE { ?f a ex:Fruit . MINUS { ?x ex:nope ?y } } ORDER BY ?f'
    assert names(sparql_select(fruit_kg, q2)) == ["Banana", "Pineapple"]


def test_filter_exists_and_not_exists(fruit_kg):
    q = EX + """
    SELECT ?f WHERE {
      ?f a ex:Fruit .
      FILTER NOT EXISTS { ?f ex:hasVitamin ex:VitaminC }
    }
    """
    assert names(sparql_select(fruit_kg, q)) == ["Banana"]
    q2 = EX + """
    SELECT ?f WHERE {
      ?f a ex:Fruit . FILTER EXISTS { ?f ex:hasVitamin ?v }
    } ORDER BY ?f
    """
    assert names(sparql_select(fruit_kg, q2)) == ["Banana", "Pineapple"]
    # negated EXISTS via ! is the same as NOT EXISTS
    q3 = EX + """
    SELECT ?f WHERE {
      ?f a ex:Fruit . FILTER(!EXISTS { ?f ex:hasVitamin ex:VitaminC })
    }
    """
    assert names(sparql_select(fruit_kg, q3)) == ["Banana"]


# ---------------------------------------------------------------------------
# BIND + expression library
# ---------------------------------------------------------------------------


def test_bind_string_functions(fruit_kg):
    q = EX + """
    SELECT ?f ?up WHERE {
      ?f ex:hasOrigin ?o .
      BIND(UCASE(?o) AS ?up)
    } ORDER BY ?f
    """
    rows = [(r["f"].rsplit("/", 1)[1], r["up"]) for r in sparql_select(fruit_kg, q).collect()]
    assert rows == [("Banana", '"ECUADOR"'), ("Pineapple", '"HAWAII"')]


def test_bind_then_filter_on_bound_var(fruit_kg):
    q = EX + """
    SELECT ?f WHERE {
      ?f ex:hasOrigin ?o .
      BIND(STRLEN(?o) AS ?n)
      FILTER(?n > 6)
    }
    """
    assert names(sparql_select(fruit_kg, q)) == ["Banana"]  # Ecuador=7, Hawaii=6


def test_filter_arithmetic(num_kg):
    q = "SELECT ?s WHERE { ?s <http://x/val> ?v . FILTER(?v * 2 > 15) } ORDER BY ?s"
    assert names(sparql_select(num_kg, q), "s") == ["s1", "s2"]
    q2 = "SELECT ?s WHERE { ?s <http://x/val> ?v . FILTER(?v + 5 >= 35 || ?v / 5 = 1) } ORDER BY ?s"
    assert names(sparql_select(num_kg, q2), "s") == ["s2", "s3"]
    q3 = "SELECT ?s WHERE { ?s <http://x/val> ?v . FILTER(-?v < -9 && ?v - 1 != 29) }"
    assert names(sparql_select(num_kg, q3), "s") == ["s1"]


def test_bind_arithmetic_render(num_kg):
    """Arithmetic over term-typed vars carries the runtime promotion
    rank (struct<v,k> — sparql 'numk' tag), so integer×integer renders
    back as xsd:integer per the XPath operator mapping (VERDICT r4
    item 3), even though the operand datatype is only known per row."""
    q = "SELECT ?s ?d WHERE { ?s <http://x/val> ?v . BIND(?v * 2 AS ?d) } ORDER BY ?s"
    rows = sparql_select(num_kg, q).collect()
    assert [r["d"] for r in rows] == [
        '"20"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"60"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"10"^^<http://www.w3.org/2001/XMLSchema#integer>',
    ]



def test_integer_constant_beyond_double_range_is_no_number(num_kg):
    """An integer constant too long for a double has no value, as a
    stored term of that lexical form has none: the BIND leaves ?x
    unbound and an equality against it matches nothing, without error."""
    big = "1" + "0" * 400
    q = "SELECT ?s ?x WHERE { ?s <http://x/val> ?v BIND(%s AS ?x) }" % big
    assert [r["x"] for r in sparql_select(num_kg, q).collect()] == [None] * 3
    q = "SELECT ?s WHERE { ?s <http://x/val> ?v FILTER(?v = %s) }" % big
    assert sparql_select(num_kg, q).collect() == []

def test_string_builtin_library(fruit_kg):
    base = EX + 'SELECT ?f WHERE {{ ?f ex:hasWeight ?w . FILTER({f}) }} ORDER BY ?f'

    def fruits(f):
        return names(sparql_select(fruit_kg, base.format(f=f)))

    assert fruits('STRBEFORE(?w, " ") = "120"') == ["Banana"]
    assert fruits('STRAFTER(?w, " ") = "grams"') == ["Banana", "Pineapple"]
    assert fruits('SUBSTR(?w, 1, 3) = "500"') == ["Pineapple"]
    assert fruits('LCASE(?w) = "120 grams"') == ["Banana"]
    assert fruits('REPLACE(?w, "[0-9]+", "N") = "N grams"') == ["Banana", "Pineapple"]
    assert fruits('CONCAT(STRBEFORE(?w, " "), "!") = "120!"') == ["Banana"]
    assert fruits('IF(CONTAINS(?w, "120"), STRLEN(?w) = 9, false)') == ["Banana"]


def test_coalesce_with_unbound_optional(fruit_kg):
    q = EX + """
    PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT ?f ?lab WHERE {
      ?f a ex:Fruit .
      OPTIONAL { ?f rdfs:label ?l }
      BIND(COALESCE(?l, "unlabeled") AS ?lab)
    } ORDER BY ?f
    """
    rows = sparql_select(fruit_kg, q).collect()
    assert [r["lab"] for r in rows] == ['"unlabeled"', '"unlabeled"']


def test_select_expr_projection(num_kg):
    q = "SELECT ?s (?v * 10 AS ?x) WHERE { ?s <http://x/val> ?v } ORDER BY ?s"
    rows = sparql_select(num_kg, q).collect()
    assert rows[0]["x"] == '"100"^^<http://www.w3.org/2001/XMLSchema#integer>'


def test_in_with_prefixed_names(fruit_kg):
    """ADVICE r2 item 3: pnames in IN lists resolved via PREFIX, not
    silently dropped."""
    q = EX + "SELECT ?f WHERE { ?f a ex:Fruit . FILTER(?f IN (ex:Pineapple, ex:Durian)) }"
    assert names(sparql_select(fruit_kg, q)) == ["Pineapple"]


def test_multiple_values_clauses(fruit_kg):
    q = EX + """
    SELECT ?f ?c WHERE {
      ?f ex:hasColor ?c .
      VALUES ?f { ex:Banana ex:Pineapple }
      VALUES ?c { "yellow" }
    } ORDER BY ?f
    """
    assert names(sparql_select(fruit_kg, q)) == ["Banana", "Pineapple"]


def test_subquery_aggregate_join(fruit_kg):
    """SPARQL 1.1 §12 subqueries: evaluated bottom-up, projected, then
    joined with the enclosing group (the round-2 parser rejected
    these)."""
    q = EX + """
    SELECT ?f ?n WHERE {
      ?f a ex:Fruit .
      { SELECT ?f (COUNT(?p) AS ?n) WHERE { ?f ?p ?o } GROUP BY ?f }
    } ORDER BY ?f
    """
    rows = [(r["f"].rsplit("/", 1)[1], r["n"]) for r in sparql_select(fruit_kg, q).collect()]
    assert rows == [("Banana", 10), ("Pineapple", 10)]

    # an outer FILTER over the subquery's aggregate alias treats it as
    # a plain number, not a term uid: the compiler knows a COUNT alias
    # is a value
    q2 = EX + """
    SELECT ?f ?n WHERE {
      ?f a ex:Fruit .
      { SELECT ?f (COUNT(?p) AS ?n) WHERE { ?f ?p ?o } GROUP BY ?f }
      FILTER(?n > 5)
    } ORDER BY ?f
    """
    assert names(sparql_select(fruit_kg, q2)) == ["Banana", "Pineapple"]
    q3 = q2.replace("?n > 5", "?n > 99")
    assert names(sparql_select(fruit_kg, q3)) == []



# tests/test_sparql_aggregates.py's store with s1's value made 3, the
# count of C3, so uid 6 is the term "5"^^xsd:integer
MIX_NT = "".join(
    f"<http://x/{s}> <http://x/kind> <http://x/{k}> .\n"
    f'<http://x/{s}> <http://x/val> "{v}"^^<{XSD}integer> .\n'
    for s, k, v in [("s1", "A", 3), ("s2", "A", 30), ("s3", "B", 5)]
)
C3 = "{ SELECT (COUNT(*) AS ?n) WHERE { ?a x:kind ?k } }"


def _int(v: int) -> str:
    return f'"{v}"^^<{XSD}integer>'


_VALS = [("http://x/s1", _int(3)), ("http://x/s2", _int(30)), ("http://x/s3", _int(5))]


@pytest.fixture(scope="module")
def mix_kg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mix_kg"))
    kg, _ = build(triples_from_nt_text(spark, MIX_NT, "file:///agg.nt"), out)
    return kg


@pytest.mark.parametrize(
    "body, expected",
    [
        (f"?s x:val ?n . {C3}", [("http://x/s1", _int(3))]),
        # the count 6 is no uid: it never matches the term of uid 6
        ("?s ?p ?n . { SELECT (COUNT(*) AS ?n) WHERE { ?a ?b ?c } }", []),
        (f"{{ {C3} }} UNION {{ ?s x:val ?n }}", [(None, _int(3))] + _VALS),
        (f"{{ ?s x:val ?n }} UNION {{ {C3} }}", [(None, _int(3))] + _VALS),
        (f"?s x:val ?n MINUS {{ {C3} }}", _VALS[1:]),
        (f"{C3} VALUES ?n {{ 3 }}", [(None, _int(3))]),
        (f"?s x:val ?n FILTER EXISTS {{ {C3} }}", _VALS[:1]),
    ],
    ids=["join", "join_count_vs_uid", "union_count_first", "union_count_last",
         "minus", "values", "exists"],
)
def test_count_meets_stored_term(mix_kg, body, expected):
    """Where a subquery's COUNT (a number) meets the same variable bound
    to a stored term (a uid), both sides compare as RDF terms: the count
    as an xsd:integer, never as a raw uid."""
    q = "PREFIX x: <http://x/>\nSELECT * WHERE { %s }" % body
    rows = [(r.asDict().get("s"), r["n"]) for r in sparql_select(mix_kg, q).collect()]
    assert sorted(rows, key=str) == sorted(expected, key=str)

def test_subquery_limit_scopes_inside(fruit_kg):
    """A LIMIT inside the subquery applies before the outer join."""
    q = EX + """
    SELECT ?f ?t WHERE {
      ?f ex:hasTaste ?t .
      { SELECT ?f WHERE { ?f a ex:Fruit } ORDER BY ?f LIMIT 1 }
    }
    """
    rows = [(r["f"].rsplit("/", 1)[1], r["t"]) for r in sparql_select(fruit_kg, q).collect()]
    assert rows == [("Banana", '"sweet"')]


def test_subquery_as_union_branch(fruit_kg):
    q = EX + """
    SELECT ?f WHERE {
      { SELECT ?f WHERE { ?f ex:hasShape "curved" } }
      UNION
      { ?f ex:hasShape "oblong" }
    } ORDER BY ?f
    """
    assert names(sparql_select(fruit_kg, q)) == ["Banana", "Pineapple"]


# ---------------------------------------------------------------------------
# loud rejections for the still-unsupported shapes
# ---------------------------------------------------------------------------


def test_bnpl_in_query_patterns(fruit_kg):
    """`[ p o ]` in a pattern = fresh non-projected variable (SPARQL
    1.1 query bnodes scope as variables); round 2 rejected these."""
    q = EX + """
    SELECT ?f WHERE {
      ?c ex:hasColor "yellow" .
      ?f ex:growsIn [ a ex:Fruit ]
    }
    """
    # no fruit grows in something typed Fruit → empty, but parses+runs
    assert sparql_select(fruit_kg, q).count() == 0
    q2 = EX + "SELECT ?f WHERE { ?f ex:hasVitamin [] } ORDER BY ?f"
    assert names(sparql_select(fruit_kg, q2)) == ["Banana", "Pineapple"]
    # SELECT * never leaks the internal __bnpl binding
    q3 = EX + 'SELECT * WHERE { ?f ex:hasVitamin [] . ?f ex:hasShape "curved" }'
    df = sparql_select(fruit_kg, q3)
    assert df.columns == ["f"]


def test_negated_property_set(fruit_kg):
    """!(p|q) matches triples whose predicate is NOT in the set
    (SPARQL 1.1 PathNegatedPropertySet, anti join on the tiny
    excluded-uid list)."""
    q = EX + "SELECT ?s ?o WHERE { ?s !(a|ex:hasColor) ?o }"
    # fruit_kg: 24 triples − 4 rdf:type − 2 hasColor = 18
    assert sparql_select(fruit_kg, q).count() == 18
    q2 = EX + "SELECT ?o WHERE { ?s !a ?o . ?s ex:hasShape ?o }"
    rows = sorted(r["o"] for r in sparql_select(fruit_kg, q2).collect())
    assert rows == ['"curved"', '"oblong"']
    # inverse members ^iri match REVERSE edges whose predicate is
    # outside the inverse subset; mixed sets union both directions
    # (SPARQL 1.1 §9.1 PathNegatedPropertySet translation)
    q3 = EX + "SELECT ?s ?o WHERE { ?s !(^a) ?o }"
    assert sparql_select(fruit_kg, q3).count() == 20
    q4 = EX + "SELECT ?o WHERE { ex:TropicalClimate !(^ex:hasVitamin) ?o } ORDER BY ?o"
    assert names(sparql_select(fruit_kg, q4), "o") == ["Banana", "Pineapple"]
    q5 = EX + "SELECT ?s ?o WHERE { ?s !(a|^a) ?o }"
    assert sparql_select(fruit_kg, q5).count() == 40


def test_empty_negated_property_set(fruit_kg):
    """``!()`` (SPARQL 1.1 grammar rule [96]) excludes no predicate, so
    it matches every edge once, as ``?p`` does."""
    rows = lambda q: sorted((r["x"], r["y"]) for r in sparql_select(fruit_kg, q).collect())
    got = rows("SELECT ?x ?y WHERE { ?x !() ?y }")
    assert got and got == rows("SELECT ?x ?y WHERE { ?x ?p ?y }")


def _path_of(text):
    (pat,) = parse_sparql(EX + f"SELECT * WHERE {{ {text} }}").algebra.patterns
    return pat.p


def test_path_trees():
    """The parser hands the BGP compiler a path tree; a one-IRI step is
    a bare IRI string, and a parenthesized one stays a path."""
    p, q, r = (f"http://example.org/{x}" for x in "pqr")
    assert _path_of("?s ex:p ?o") == p
    assert _path_of("?s a ?o") == RDF_TYPE
    assert _path_of("?s ex:p|ex:q/ex:r ?o") == Path("alt", (p, Path("seq", (q, r))))
    assert _path_of("?s ^ex:p/ex:q ?o") == Path("seq", (Path("inv", (p,)), q))
    assert _path_of("?s ^ex:p+ ?o") == Path("inv", (Path("+", (p,)),))
    assert _path_of("?s ex:p* ?o") == Path("*", (p,))
    assert _path_of("?s (ex:p/^ex:q)? ?o") == Path("?", (Path("seq", (p, Path("inv", (q,)))),))
    assert _path_of("?s !ex:p ?o") == Path("!", ((p, False),))
    assert _path_of("?s !(ex:p|^a) ?o") == Path("!", ((p, False), (RDF_TYPE, True)))
    assert _path_of("?s !() ?o") == Path("!", ())
    assert _path_of("?s (ex:p) ?o") == Path("seq", (p,))
    assert _path_of("?s ((ex:p|ex:q)) ?o") == Path("alt", (p, q))
    # a '+' right before a number is the number's sign, not a closure
    plus5 = parse_sparql(EX + "SELECT * WHERE { ?s ex:p +5 }").algebra.patterns[0]
    assert (plus5.p, plus5.o) == (p, f'"+5"^^<{XSD}integer>')
    assert _path_of("?s ex:p+ 5") == Path("+", (p,))


@pytest.mark.parametrize(
    "parse",
    [
        parse_turtle,
        lambda d: parse_update(f"INSERT DATA {{ {d} }}"),
        lambda d: parse_sparql(f"CONSTRUCT WHERE {{ {d} }}"),
    ],
    ids=["turtle", "insert_data", "construct_where"],
)
@pytest.mark.parametrize("pred", ["(<http://p>)", "<http://p>/<http://q>", "^<http://p>"])
def test_data_refuses_a_path_predicate(parse, pred):
    """Data holds plain triples: a path, even a parenthesized single
    IRI, is refused, never read as its IRI."""
    with pytest.raises(ValueError, match="path|plain triple"):
        parse(f"<http://s> {pred} <http://o> .")


def test_construct_template_refuses_a_path():
    """A CONSTRUCT template's predicate is a variable or an IRI (SPARQL
    1.1 ConstructTriples); a path there is an error, not an emitted
    triple."""
    with pytest.raises(ValueError, match="CONSTRUCT template"):
        parse_sparql("CONSTRUCT { ?s (<http://p>) ?o } WHERE { ?s ?p ?o }")


def test_values_undef_partial_rows(fruit_kg):
    """UNDEF rows constrain only their bound variables (SPARQL
    compatibility): each row joins the solutions on its bound subset."""
    q = EX + """
    SELECT ?f ?s WHERE {
      ?f ex:hasShape ?s .
      VALUES (?f ?s) { (ex:Banana UNDEF) (UNDEF "oblong") }
    } ORDER BY ?f
    """
    rows = [(r["f"].rsplit("/", 1)[1], r["s"]) for r in sparql_select(fruit_kg, q).collect()]
    assert rows == [("Banana", '"curved"'), ("Pineapple", '"oblong"')]


def test_loud_rejections():
    with pytest.raises(ValueError, match="undefined prefix"):
        parse_sparql("SELECT ?s WHERE { ?s ex:p ?o }")
    with pytest.raises(ValueError, match="SERVICE"):
        parse_sparql("SELECT ?s WHERE { SERVICE <http://x> { ?s ?p ?o } }")


def test_outer_var_filter_in_optional_leftjoin(fruit_kg):
    """FILTER inside OPTIONAL referencing OUTER variables is the
    SPARQL LeftJoin *condition* form (§18.5): the expression evaluates
    over the joined solution; left rows whose matches all fail the
    condition survive null-padded."""
    q = EX + """
    SELECT ?f ?s WHERE {
      ?f ex:hasTaste ?t .
      OPTIONAL { ?f ex:hasShape ?s FILTER(?t = "sweet" && ?s != "curved") }
    } ORDER BY ?f
    """
    rows = [
        (r["f"].rsplit("/", 1)[1], r["s"])
        for r in sparql_select(fruit_kg, q).collect()
    ]
    # Banana's only shape is "curved" → condition fails → null-padded;
    # Pineapple's "oblong" passes
    assert rows == [("Banana", None), ("Pineapple", '"oblong"')]


def test_collection_in_query_pattern(spark, tmp_path):
    """`( … )` in a pattern expands to rdf:first/rdf:rest chains over
    fresh non-projected variables — matches data lists element-wise,
    order-sensitively."""
    from de_spark.query import sparql_select as sel
    from de_spark.sources.turtle import parse_turtle

    ttl = """
    @prefix ex: <http://x/>.
    ex:s ex:list (ex:A ex:B) .
    ex:t ex:list (ex:B ex:A) .
    ex:u ex:list () .
    """
    rows = [(s, p, o, "g") for s, p, o in parse_turtle(ttl)]
    kg, _ = build(
        spark.createDataFrame(rows, ["s", "p", "o", "graph"]),
        str(tmp_path / "coll"),
    )
    q = "PREFIX ex: <http://x/>\nSELECT ?s WHERE { ?s ex:list (ex:A ex:B) }"
    assert names(sel(kg, q), "s") == ["s"]  # ex:t has the reverse order
    q2 = "PREFIX ex: <http://x/>\nSELECT ?s WHERE { ?s ex:list () }"
    assert names(sel(kg, q2), "s") == ["u"]  # () = the rdf:nil constant


def test_aggregate_over_expression(num_kg):
    """SPARQL aggregates accept expressions: SUM(?v * 2), COUNT of an
    expression, GROUP_CONCAT with SEPARATOR."""
    q = "SELECT (SUM(?v * 2) AS ?t) (AVG(?v + 1) AS ?m) WHERE { ?s <http://x/val> ?v }"
    row = sparql_select(num_kg, q).collect()[0]
    xsd = "http://www.w3.org/2001/XMLSchema#"
    assert row["t"] == f'"90"^^<{xsd}integer>' and row["m"] == f'"16"^^<{xsd}decimal>'
    q2 = 'SELECT (GROUP_CONCAT(?s ; SEPARATOR=",") AS ?gs) WHERE { ?s <http://x/val> ?v }'
    parts = sorted(sparql_select(num_kg, q2).collect()[0]["gs"].split(","))
    assert parts == ["http://x/s1", "http://x/s2", "http://x/s3"]
    q3 = "SELECT (COUNT(STRLEN(STR(?s))) AS ?n) WHERE { ?s <http://x/val> ?v }"
    assert sparql_select(num_kg, q3).collect()[0]["n"] == 3


def test_term_constructor_builtins(num_kg):
    """IRI/STRDT/STRLANG construct new RDF terms in BIND."""
    q = """
    SELECT ?s ?i ?d ?l WHERE {
      ?s <http://x/val> ?v .
      BIND(IRI(CONCAT("http://x/node/", STR(?v))) AS ?i)
      BIND(STRDT(STR(?v), <http://www.w3.org/2001/XMLSchema#byte>) AS ?d)
      BIND(STRLANG("hello", "en") AS ?l)
    } ORDER BY ?s
    """
    r = sparql_select(num_kg, q).collect()[0]
    assert r["i"] == "http://x/node/10"
    assert r["d"] == '"10"^^<http://www.w3.org/2001/XMLSchema#byte>'
    assert r["l"] == '"hello"@en'


def test_sameterm_and_hash_builtins(fruit_kg):
    q = EX + "SELECT ?f WHERE { ?f ex:hasVitamin ?v . FILTER(sameTerm(?v, ex:VitaminC)) }"
    assert names(sparql_select(fruit_kg, q)) == ["Pineapple"]
    import hashlib

    expect = hashlib.md5(b"curved").hexdigest()
    q2 = EX + f'SELECT ?f WHERE {{ ?f ex:hasShape ?s . FILTER(MD5(?s) = "{expect}") }}'
    assert names(sparql_select(fruit_kg, q2)) == ["Banana"]
    expect256 = hashlib.sha256(b"oblong").hexdigest()
    q3 = EX + f'SELECT ?f WHERE {{ ?f ex:hasShape ?s . FILTER(SHA256(?s) = "{expect256}") }}'
    assert names(sparql_select(fruit_kg, q3)) == ["Pineapple"]
