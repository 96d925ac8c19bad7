"""SPARQL-level aggregates (A2): GROUP BY + COUNT/SUM/AVG/MIN/MAX."""

import re

import pytest

from de_spark.pipeline import build
from de_spark.query import sparql_describe, sparql_select, to_csv
from de_spark.sources.nt import triples_from_nt_text

NT = """\
<http://x/s1> <http://x/kind> <http://x/A> .
<http://x/s1> <http://x/val> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://x/s2> <http://x/kind> <http://x/A> .
<http://x/s2> <http://x/val> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://x/s3> <http://x/kind> <http://x/B> .
<http://x/s3> <http://x/val> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
"""


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("agg_kg"))
    kg, _ = build(triples_from_nt_text(spark, NT, "file:///agg.nt"), out)
    return kg


def test_count_star(kg):
    df = sparql_select(kg, "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")
    assert df.collect()[0]["n"] == 6


def test_group_by_count(kg):
    q = """
    PREFIX x: <http://x/>
    SELECT ?k (COUNT(?s) AS ?n) WHERE { ?s x:kind ?k } GROUP BY ?k ORDER BY ?k
    """
    rows = sparql_select(kg, q).collect()
    assert [(r["k"], r["n"]) for r in rows] == [("http://x/A", 2), ("http://x/B", 1)]


def test_having(kg):
    q = """
    PREFIX x: <http://x/>
    SELECT ?k (COUNT(?s) AS ?n) WHERE { ?s x:kind ?k }
    GROUP BY ?k HAVING(?n > 1)
    """
    rows = sparql_select(kg, q).collect()
    assert [(r["k"], r["n"]) for r in rows] == [("http://x/A", 2)]


def test_group_by_sum_avg_min_max(kg):
    q = """
    PREFIX x: <http://x/>
    SELECT ?k (SUM(?v) AS ?total) (AVG(?v) AS ?mean) (MIN(?v) AS ?lo) (MAX(?v) AS ?hi)
    WHERE { ?s x:kind ?k . ?s x:val ?v } GROUP BY ?k ORDER BY ?k
    """
    rows = sparql_select(kg, q).collect()
    a, b = rows
    # MIN/MAX return the TERM picked by value ordering (SPARQL
    # §18.5.1.5-6), not a numeric cast; SUM of integers is an
    # xsd:integer term and AVG of integers an xsd:decimal (XPath
    # promotion, VERDICT r4 item 3)
    xsd = "http://www.w3.org/2001/XMLSchema#"
    assert (a["k"], a["total"], a["mean"]) == (
        "http://x/A", f'"40"^^<{xsd}integer>', f'"20"^^<{xsd}decimal>'
    )
    assert (a["lo"], a["hi"]) == (f'"10"^^<{xsd}integer>', f'"30"^^<{xsd}integer>')
    assert (b["k"], b["total"]) == ("http://x/B", f'"5"^^<{xsd}integer>')


def test_sample_of_a_number_is_a_term(kg):
    xsd = "http://www.w3.org/2001/XMLSchema#"
    q = """
    PREFIX x: <http://x/>
    SELECT (SAMPLE(?v + 1) AS ?one) (SAMPLE(7) AS ?seven) WHERE { x:s3 x:val ?v }
    """
    r = sparql_select(kg, q).collect()[0]
    assert (r["one"], r["seven"]) == (f'"6"^^<{xsd}integer>', f'"7"^^<{xsd}integer>')


def test_aggregate_csv_emission(kg):
    df = sparql_select(kg, "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")
    assert to_csv(df).replace("\r", "").strip() == "n\n6"


def test_construct(kg):
    from de_spark.query.sparql import sparql_construct

    q = """
    PREFIX x: <http://x/>
    CONSTRUCT { ?s x:classifiedAs ?k }
    WHERE { ?s x:kind ?k }
    """
    rows = {(r["s"], r["p"], r["o"]) for r in sparql_construct(kg, q).collect()}
    assert rows == {
        ("http://x/s1", "http://x/classifiedAs", "http://x/A"),
        ("http://x/s2", "http://x/classifiedAs", "http://x/A"),
        ("http://x/s3", "http://x/classifiedAs", "http://x/B"),
    }
    # a template triple with an unbound variable is left out (§16.2)
    q = """
    PREFIX x: <http://x/>
    CONSTRUCT { ?s x:big ?v }
    WHERE { ?s x:kind ?k OPTIONAL { ?s x:val ?v FILTER(?v > 20) } }
    """
    rows = {(r["s"], r["p"], r["o"]) for r in sparql_construct(kg, q).collect()}
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    assert rows == {("http://x/s2", "http://x/big", f'"30"^^<{xsd_int}>')}


def test_filter_term_functions(kg):
    q = """
    PREFIX x: <http://x/>
    SELECT ?s ?o WHERE { ?s ?p ?o . FILTER(isLiteral(?o)) }
    """
    rows = sparql_select(kg, q).collect()
    assert len(rows) == 3 and all(r["o"].startswith('"') for r in rows)

    q2 = """
    PREFIX x: <http://x/>
    SELECT ?s WHERE {
      ?s x:val ?v .
      FILTER(DATATYPE(?v) = <http://www.w3.org/2001/XMLSchema#integer>)
    }
    """
    assert sparql_select(kg, q2).count() == 3

    q3 = 'SELECT ?s WHERE { ?s ?p ?o . FILTER(isIRI(?o)) }'
    assert sparql_select(kg, q3).count() == 3


def test_having_inline_aggregate(kg):
    """HAVING(COUNT(?s) > 1): aggregate calls inside the HAVING
    constraint compile to hidden aggregate columns."""
    q = """
    PREFIX x: <http://x/>
    SELECT ?k WHERE { ?s x:kind ?k } GROUP BY ?k HAVING(COUNT(?s) > 1)
    """
    rows = sparql_select(kg, q).collect()
    assert [r["k"] for r in rows] == ["http://x/A"]
    # arithmetic around the aggregate + a projected aggregate together
    q2 = """
    PREFIX x: <http://x/>
    SELECT ?k (MAX(?v) AS ?hi) WHERE { ?s x:kind ?k . ?s x:val ?v }
    GROUP BY ?k HAVING(SUM(?v) * 2 >= 80) ORDER BY ?k
    """
    rows2 = sparql_select(kg, q2).collect()
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    assert [(r["k"], r["hi"]) for r in rows2] == [
        ("http://x/A", f'"30"^^<{xsd_int}>')
    ]


def test_group_by_without_aggregates_is_distinct_keys(kg):
    q = "PREFIX x: <http://x/>\nSELECT ?k WHERE { ?s x:kind ?k } GROUP BY ?k ORDER BY ?k"
    assert [r["k"] for r in sparql_select(kg, q).collect()] == ["http://x/A", "http://x/B"]


def test_construct_where_shorthand(kg):
    from de_spark.query.sparql import sparql_construct

    q = "PREFIX x: <http://x/>\nCONSTRUCT WHERE { ?s x:kind ?k }"
    rows = {(r["s"], r["p"], r["o"]) for r in sparql_construct(kg, q).collect()}
    assert rows == {
        ("http://x/s1", "http://x/kind", "http://x/A"),
        ("http://x/s2", "http://x/kind", "http://x/A"),
        ("http://x/s3", "http://x/kind", "http://x/B"),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="plain triple patterns"):
        sparql_construct(kg, "CONSTRUCT WHERE { ?s ?p ?o FILTER(isIRI(?o)) }")


def test_min_max_over_strings(kg):
    """MIN/MAX over non-numeric literals pick the term by the ORDER BY
    collation — never a silent NULL from a failed numeric cast."""
    q = """
    PREFIX x: <http://x/>
    SELECT (MIN(?k) AS ?lo) (MAX(?k) AS ?hi) WHERE { ?s x:kind ?k }
    """
    r = sparql_select(kg, q).collect()[0]
    assert (r["lo"], r["hi"]) == ("http://x/A", "http://x/B")


def test_count_distinct_star(kg):
    """COUNT(DISTINCT *) counts distinct solutions (the DISTINCT
    modifier must not be silently dropped for the * form)."""
    q = """
    PREFIX x: <http://x/>
    SELECT (COUNT(DISTINCT *) AS ?n) WHERE { ?a x:kind ?k . ?b x:kind ?k }
    """
    # A-pairs: (s1,s1),(s1,s2),(s2,s1),(s2,s2); B: (s3,s3) → 5 distinct
    assert sparql_select(kg, q).collect()[0]["n"] == 5


def test_projected_variable_the_where_clause_never_binds(kg):
    """A projected variable no pattern binds is unbound in every
    solution (SPARQL 1.1 §18.2.1): an empty CSV cell, not an error."""
    q = "PREFIX x: <http://x/>\nSELECT ?s ?zz WHERE { ?s x:val ?n }"
    df = sparql_select(kg, q)
    assert sorted((r["s"], r["zz"]) for r in df.collect()) == [
        ("http://x/s1", None), ("http://x/s2", None), ("http://x/s3", None)
    ]
    lines = to_csv(df).split("\r\n")
    assert lines[0] == "s,zz"
    assert sorted(lines[1:]) == ["http://x/s1,", "http://x/s2,", "http://x/s3,"]


def test_describe_of_a_count_describes_nothing(kg):
    """A COUNT is a literal, which has no description: DESCRIBE of a
    COUNT-bound variable describes nothing, and beside a uid variable it
    leaves that variable's description as it is."""
    count = "{ SELECT (COUNT(*) AS ?n) WHERE { ?a x:kind ?k } }"
    q = "PREFIX x: <http://x/>\nDESCRIBE ?n WHERE { %s }" % count
    assert sparql_describe(kg, q).collect() == []
    q = "PREFIX x: <http://x/>\nDESCRIBE ?s ?n WHERE { ?s x:kind ?k %s }" % count
    rows = {(r["s"], r["p"]) for r in sparql_describe(kg, q).collect()}
    described = {(f"http://x/s{i}", f"http://x/{p}") for i in (1, 2, 3) for p in ("kind", "val")}
    assert rows == described


DECODES = {
    # shape: (query, term_uids reads, rows)
    "count_only": ("SELECT (COUNT(?s) AS ?n) WHERE { ?s x:kind ?k }", 0, [(3,)]),
    "group_by": (
        "SELECT ?k (COUNT(?s) AS ?n) WHERE { ?s x:kind ?k } GROUP BY ?k ORDER BY ?k",
        1,
        [("http://x/A", 2), ("http://x/B", 1)],
    ),
    "subquery_join": (
        "SELECT ?s ?n WHERE { ?s x:kind ?k"
        " { SELECT ?k (COUNT(?s2) AS ?n) WHERE { ?s2 x:kind ?k } GROUP BY ?k } }",
        1,
        [("http://x/s1", 2), ("http://x/s2", 2), ("http://x/s3", 1)],
    ),
    "distinct": ("SELECT DISTINCT ?k WHERE { ?s x:kind ?k }", 1, [("http://x/A",), ("http://x/B",)]),
    "order_limit": ("SELECT ?k WHERE { ?s x:kind ?k } ORDER BY ?k LIMIT 1", 1, [("http://x/A",)]),
    "limit": ("SELECT ?s WHERE { ?s x:kind ?k } LIMIT 2", 1, None),
}


@pytest.mark.parametrize("shape", list(DECODES))
def test_decode_sits_where_a_term_is_read(kg, shape):
    """Solutions stay uids until an operator reads a term string: COUNT,
    GROUP BY on a plain variable, DISTINCT, a subquery's projection and
    its join run on uids, and each variable that is read or emitted
    decodes once, through one term_uids join."""
    q, reads, expected = DECODES[shape]
    df = sparql_select(kg, "PREFIX x: <http://x/>\n" + q)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [term#") == reads, plan
    rows = [tuple(r) for r in df.collect()]
    if expected is None:
        assert len(rows) == 2
        assert set(rows) <= {("http://x/s1",), ("http://x/s2",), ("http://x/s3",)}
    else:
        assert (rows if "ORDER BY" in q else sorted(rows)) == expected
    if shape in ("group_by", "distinct"):
        # the decode join above the Aggregate: groups and dedups on uids
        assert plan.index("Join LeftOuter") < plan.index("Aggregate"), plan
    if shape == "subquery_join":
        keys = re.findall(r"Join Inner, \(k#\d+(L?) = k#\d+(L?)\)", plan)
        assert keys == [("L", "L")], plan
