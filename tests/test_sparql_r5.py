"""Round-5 SPARQL semantics: ADVICE r4 fixes (a non-deterministic BIND
per solution, unbound-lowest ordering, ENCODE_FOR_URI tilde) and numeric
result type promotion (XPath op:numeric — integer+integer→integer,
int/int division→decimal), plus boolean value equality.

Reference semantics: oxigraph spareval (src/sparql.rs:520) — SPARQL
1.1 §17.3 operator mapping, XPath numeric promotion, §15.1 ordering.
"""

import pytest

from de_spark.pipeline import build
from de_spark.query import sparql_select
from de_spark.sources.nt import triples_from_nt_text

XSD = "http://www.w3.org/2001/XMLSchema#"

NT = f"""\
<http://x/s1> <http://x/n> "2"^^<{XSD}integer> .
<http://x/s2> <http://x/n> "5"^^<{XSD}integer> .
<http://x/s3> <http://x/n> "7"^^<{XSD}integer> .
<http://x/s1> <http://x/d> "2.5"^^<{XSD}decimal> .
<http://x/s2> <http://x/d> "0.5"^^<{XSD}decimal> .
<http://x/s1> <http://x/x> "1.5"^^<{XSD}double> .
<http://x/s1> <http://x/f> "true"^^<{XSD}boolean> .
<http://x/s2> <http://x/f> "1"^^<{XSD}boolean> .
<http://x/s3> <http://x/f> "false"^^<{XSD}boolean> .
<http://x/s4> <http://x/f> "0"^^<{XSD}boolean> .
_:b1 <http://x/p> <http://x/o1> .
<http://x/s1> <http://x/p> <http://x/o2> .
<http://x/t1> <http://x/w> "2024-01-01T12:00:00Z"^^<{XSD}dateTime> .
<http://x/t2> <http://x/w> "2024-01-01T13:00:00+02:00"^^<{XSD}dateTime> .
<http://x/t3> <http://x/w> "2024-01-01T11:30:00"^^<{XSD}dateTime> .
"""

PX = "PREFIX x: <http://x/>\n"


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r5_kg"))
    kg, _ = build(triples_from_nt_text(spark, NT, "file:///r5.nt"), out)
    return kg


def one(kg, q, col):
    rows = sparql_select(kg, PX + q).collect()
    assert len(rows) == 1
    return rows[0][col]


# ---------------------------------------------------------------------------
# ADVICE r4 fixes
# ---------------------------------------------------------------------------


def test_struuid_fresh_per_solution(kg):
    """BIND with STRUUID over a shared source term must produce a
    DISTINCT value per solution, not one value per source term
    (ADVICE r4 medium)."""
    q = PX + "SELECT ?s ?u WHERE { ?s x:f ?v . BIND(CONCAT(STR(?v), STRUUID()) AS ?u) }"
    rows = sparql_select(kg, q).collect()
    assert len(rows) == 4
    assert len({r["u"] for r in rows}) == 4


def test_unbound_sorts_below_blank_nodes(kg):
    """SPARQL §15.1: unbound < blank < IRI < literal.  A row with ?x
    unbound must sort BEFORE a row binding ?x to a blank node under
    ASC (and after it under DESC) — ADVICE r4 low."""
    q = PX + """
    SELECT ?x WHERE {
      { ?s x:p ?o . FILTER(ISBLANK(?s)) . BIND(?s AS ?x) }
      UNION
      { ?s x:p ?o . FILTER(!ISBLANK(?s)) }
    } ORDER BY ?x
    """
    vals = [r["x"] for r in sparql_select(kg, q).collect()]
    assert vals[0] is None and vals[1].startswith("_")
    q_desc = q.replace("ORDER BY ?x", "ORDER BY DESC(?x)")
    vals = [r["x"] for r in sparql_select(kg, q_desc).collect()]
    assert vals[0].startswith("_") and vals[1] is None


def test_encode_for_uri_tilde(kg):
    """'~' is RFC 3986 unreserved: fn:encode-for-uri must not escape
    it (ADVICE r4 low); spaces still become %20, reserved chars still
    escape."""
    assert (
        one(kg, 'SELECT ?e WHERE { BIND(ENCODE_FOR_URI("~a b/c") AS ?e) }', "e")
        == '"~a%20b%2Fc"'
    )


# ---------------------------------------------------------------------------
# numeric result type promotion (VERDICT r4 item 3)
# ---------------------------------------------------------------------------


def binds(kg, q, col):
    return [r[col] for r in sparql_select(kg, PX + q).collect()]


def test_integer_arithmetic_stays_integer(kg):
    q = "SELECT ?s ?p WHERE { ?s x:n ?v . BIND(?v + 1 AS ?p) } ORDER BY ?s"
    assert binds(kg, q, "p") == [
        f'"3"^^<{XSD}integer>',
        f'"6"^^<{XSD}integer>',
        f'"8"^^<{XSD}integer>',
    ]


def test_integer_division_is_decimal_and_div0_unbound(kg):
    """op:numeric-divide: integer ÷ integer → xsd:decimal; division by
    zero is a SPARQL expression ERROR → unbound (under ANSI mode a
    plain Divide would abort the whole job)."""
    q = (
        "SELECT ?s ?h ?z WHERE { ?s x:n ?v . "
        "BIND(?v / 2 AS ?h) BIND(?v / 0 AS ?z) } ORDER BY ?s"
    )
    rows = sparql_select(kg, PX + q).collect()
    assert [r["h"] for r in rows] == [
        f'"1"^^<{XSD}decimal>',
        f'"2.5"^^<{XSD}decimal>',
        f'"3.5"^^<{XSD}decimal>',
    ]
    assert [r["z"] for r in rows] == [None, None, None]


def test_mixed_kind_promotion(kg):
    q = """
    SELECT ?a ?b ?c WHERE {
      ?s x:n ?v . ?s x:d ?d . ?s x:x ?x .
      BIND(?v + ?d AS ?a)
      BIND(?v * ?x AS ?b)
      BIND(?v + 0.5 AS ?c)
    }
    """
    rows = sparql_select(kg, PX + q).collect()
    assert len(rows) == 1  # only s1 has all three
    r = rows[0]
    assert r["a"] == f'"4.5"^^<{XSD}decimal>'  # integer + decimal
    assert r["b"] == f'"3.0"^^<{XSD}double>'   # integer × double
    assert r["c"] == f'"2.5"^^<{XSD}decimal>'  # integer + decimal literal


def test_static_literal_kinds(kg):
    q = """
    SELECT ?a ?b ?c ?d WHERE {
      BIND(2.5 AS ?a) BIND(2.5e0 AS ?b) BIND(4 / 2 AS ?c) BIND(3 + 4 AS ?d)
    }
    """
    r = sparql_select(kg, PX + q).collect()[0]
    assert r["a"] == f'"2.5"^^<{XSD}decimal>'  # bare decimal literal
    assert r["b"] == f'"2.5"^^<{XSD}double>'   # exponent form
    assert r["c"] == f'"2"^^<{XSD}decimal>'    # int ÷ int → decimal
    assert r["d"] == f'"7"^^<{XSD}integer>'


def test_double_division_ieee(kg):
    # float/double division follows IEEE: x/0 → INF (XSD lexical form)
    assert (
        one(kg, "SELECT ?i WHERE { ?s x:x ?v . BIND(?v / 0.0e0 AS ?i) }", "i")
        == f'"INF"^^<{XSD}double>'
    )


def test_inf_literal_compares_by_value(kg):
    # "INF"^^xsd:double is a valid XSD lexical the JVM cast rejects —
    # numeric_value maps it explicitly, so value comparison works
    q = f'SELECT ?s WHERE {{ ?s x:x ?v . FILTER(?v < "INF"^^<{XSD}double>) }}'
    assert len(sparql_select(kg, PX + q).collect()) == 1
    q2 = f'SELECT ?s WHERE {{ ?s x:x ?v . FILTER(?v < "-INF"^^<{XSD}double>) }}'
    assert len(sparql_select(kg, PX + q2).collect()) == 0


def test_sum_of_decimals_is_decimal(kg):
    assert (
        one(kg, "SELECT (SUM(?d) AS ?t) WHERE { ?s x:d ?d }", "t")
        == f'"3"^^<{XSD}decimal>'
    )
    assert (
        one(kg, "SELECT (SUM(?v) AS ?t) WHERE { ?s x:n ?v }", "t")
        == f'"14"^^<{XSD}integer>'
    )


def _term_uid_reads(df) -> int:
    """The term_uids scans of a query's optimized plan: one per decode
    join."""
    return df._jdf.queryExecution().optimizedPlan().toString().count("Relation [term#")


def test_same_var_filters_fuse_one_semi_join(kg):
    """Two FILTER clauses over the same uid variable decode it once:
    the plan joins term_uids as often as the single-FILTER (&&)
    formulation's."""
    q2 = PX + f"""
    SELECT ?s WHERE {{
      ?s x:n ?v .
      FILTER(?v > "1"^^<{XSD}integer>)
      FILTER(?v < "7"^^<{XSD}integer>)
    }} ORDER BY ?s
    """
    q1 = PX + f"""
    SELECT ?s WHERE {{
      ?s x:n ?v .
      FILTER(?v > "1"^^<{XSD}integer> && ?v < "7"^^<{XSD}integer>)
    }} ORDER BY ?s
    """
    df2, df1 = sparql_select(kg, q2), sparql_select(kg, q1)
    got = [r["s"].rsplit("/", 1)[1] for r in df2.collect()]
    assert got == ["s1", "s2"]  # n = 2, 5 pass; 7 fails the upper bound
    assert _term_uid_reads(df2) == _term_uid_reads(df1)


def test_optional_same_var_filters_fuse_one_semi_join(kg):
    """Two FILTER clauses inside an OPTIONAL over the same uid
    variable decode it once too, with the rows and the term_uids joins
    of the single-FILTER formulation."""
    body = "SELECT ?s ?v WHERE {{ ?s x:f ?b . OPTIONAL {{ ?s x:n ?v {} }} }} ORDER BY ?s"
    lo, hi = f'?v > "1"^^<{XSD}integer>', f'?v < "7"^^<{XSD}integer>'
    df2 = sparql_select(kg, PX + body.format(f"FILTER({lo}) FILTER({hi})"))
    df1 = sparql_select(kg, PX + body.format(f"FILTER({lo} && {hi})"))
    rows = [(r["s"].rsplit("/", 1)[1], r["v"]) for r in df2.collect()]
    assert rows == [
        ("s1", f'"2"^^<{XSD}integer>'),
        ("s2", f'"5"^^<{XSD}integer>'),
        ("s3", None),
        ("s4", None),
    ]
    assert rows == [(r["s"].rsplit("/", 1)[1], r["v"]) for r in df1.collect()]
    assert _term_uid_reads(df2) == _term_uid_reads(df1)


def test_same_source_binds_fuse_one_map_join(kg):
    """A chain of BINDs over the same source variable decodes it ONCE:
    the plan joins term_uids as often as the single-BIND form's.  A
    later BIND reads an earlier target, and an unbound source leaves
    the chain's targets unbound."""
    q2 = PX + "SELECT ?a ?b WHERE { ?s x:n ?v . BIND(?v+1 AS ?a) BIND(?v*2 AS ?b) }"
    q1 = PX + "SELECT ?a WHERE { ?s x:n ?v . BIND(?v+1 AS ?a) }"
    df2, df1 = sparql_select(kg, q2), sparql_select(kg, q1)
    assert df2.count() == 3
    assert _term_uid_reads(df2) == _term_uid_reads(df1)

    def rows(q):
        return [
            (r["s"].rsplit("/", 1)[1], r["a"], r["b"])
            for r in sparql_select(kg, PX + q + " ORDER BY ?s").collect()
        ]

    def i(n):
        return f'"{n}"^^<{XSD}integer>'

    chained = "SELECT ?s ?a ?b WHERE { ?s x:n ?v . BIND(?v+1 AS ?a) BIND(?a*2 AS ?b) }"
    assert rows(chained) == [("s1", i(3), i(6)), ("s2", i(6), i(12)), ("s3", i(8), i(16))]
    optional = (
        "SELECT ?s ?a ?b WHERE { ?s x:f ?f OPTIONAL { ?s x:n ?v }"
        " BIND(?v+1 AS ?a) BIND(STR(?v) AS ?b) }"
    )
    assert rows(optional) == [
        ("s1", i(3), '"2"'),
        ("s2", i(6), '"5"'),
        ("s3", i(8), '"7"'),
        ("s4", None, None),
    ]


def test_promotion_model_property(spark):
    """Seeded randomized check: the runtime-kinded arithmetic
    ('numk') promotes and renders exactly like the XPath model —
    result datatype = max operand rank (÷ lifts integers to decimal),
    value = float arithmetic.  An integer, decimal or double constant
    on either side renders the same term as a term operand holding the
    same number, and a term compares exactly with a bare integer above
    2^53."""
    import operator
    import random

    from pyspark.sql import functions as F

    from de_spark.query.parser import Bin, NumE, VarE
    from de_spark.query.sparql import _ex, _render_term
    from de_spark.terms import sql_str

    rng = random.Random(7)
    kinds = [("integer", 0), ("decimal", 1), ("float", 2), ("double", 3)]
    consts = {
        "integer": lambda v: NumE(v, True, "int"),
        "decimal": lambda v: NumE(float(v), False, "dec"),
        "double": lambda v: NumE(float(v), False, "dbl"),
    }
    cases = []
    for _ in range(60):
        dta, ka = rng.choice(kinds)
        dtb, kb = rng.choice(kinds)
        va = rng.randrange(-9, 10)
        vb = rng.randrange(1, 9) * rng.choice([1, -1])
        op = rng.choice("+-*/")
        cases.append((dta, va, op, dtb, vb, ka, kb))

    def term(dt, v):
        return (sql_str(f'"{v}"^^<{XSD}{dt}>'), "term")

    exprs = []
    forms = {}  # case index → the column names of its constant forms
    for i, (dta, va, op, dtb, vb, _, _) in enumerate(cases):
        env = {"a": term(dta, va), "b": term(dtb, vb)}
        trees = [("", Bin(op, VarE("a"), VarE("b")))]
        if dta in consts:
            trees.append(("l", Bin(op, consts[dta](va), VarE("b"))))
        if dtb in consts:
            trees.append(("r", Bin(op, VarE("a"), consts[dtb](vb))))
        forms[i] = [f"c{i}{side}" for side, _ in trees[1:]]
        for side, tree in trees:
            col, tag = _ex(tree, env)
            exprs.append(F.expr(_render_term(col, tag)).alias(f"c{i}{side}"))

    big = 2**53
    cmps = []
    for x, y in [(big, big + 1), (big + 1, big + 1), (big + 1, big), (big + 2, big + 1)]:
        for op, fn in (("=", operator.eq), ("<", operator.lt)):
            env = {"t": term("integer", x)}
            for tree, want in (
                (Bin(op, VarE("t"), NumE(y, True, "int")), fn(x, y)),
                (Bin(op, NumE(y, True, "int"), VarE("t")), fn(y, x)),
            ):
                exprs.append(F.expr(_ex(tree, env)[0]).alias(f"k{len(cmps)}"))
                cmps.append((x, op, y, want))
    row = spark.range(1).select(*exprs).collect()[0]

    for i, (dta, va, op, dtb, vb, ka, kb) in enumerate(cases):
        rank = max(ka, kb)
        if op == "/":
            rank = max(rank, 1)
        want_dt = {0: "integer", 1: "decimal", 2: "float", 3: "double"}[rank]
        want_val = {
            "+": va + vb, "-": va - vb, "*": va * vb, "/": va / vb
        }[op]
        got = row[f"c{i}"]
        assert got.endswith(f'^^<{XSD}{want_dt}>'), (i, cases[i], got)
        lex = got[1 : got.index('"', 1)]
        assert abs(float(lex) - want_val) < 1e-9, (i, cases[i], got)
        for name in forms[i]:
            assert row[name] == got, (name, cases[i], row[name], got)
    assert sum(map(len, forms.values())) >= 60
    for j, case in enumerate(cmps):
        assert row[f"k{j}"] is case[3], case


# ---------------------------------------------------------------------------
# builtin long tail: SHA384/SHA512, TIMEZONE, BNODE()
# ---------------------------------------------------------------------------


def test_sha384_sha512(kg):
    import hashlib

    assert one(kg, 'SELECT ?h WHERE { BIND(SHA384("abc") AS ?h) }', "h") == (
        '"' + hashlib.sha384(b"abc").hexdigest() + '"'
    )
    assert one(kg, 'SELECT ?h WHERE { BIND(SHA512("abc") AS ?h) }', "h") == (
        '"' + hashlib.sha512(b"abc").hexdigest() + '"'
    )


def test_timezone_builtin(kg):
    """TIMEZONE → canonical xsd:dayTimeDuration; a timezone-less
    dateTime is an error → unbound (TZ, by contrast, returns '')."""
    q = "SELECT ?s ?z WHERE { ?s x:w ?v . BIND(TIMEZONE(?v) AS ?z) }"
    z = {
        r["s"].rsplit("/", 1)[1]: r["z"]
        for r in sparql_select(kg, PX + q).collect()
    }
    assert z["t1"] == f'"PT0S"^^<{XSD}dayTimeDuration>'
    assert z["t2"] == f'"PT2H"^^<{XSD}dayTimeDuration>'
    assert z["t3"] is None


def test_bnode_builtin(kg):
    q = "SELECT ?s ?b WHERE { ?s x:f ?v . BIND(BNODE() AS ?b) }"
    rows = sparql_select(kg, PX + q).collect()
    assert len(rows) == 4
    assert all(r["b"].startswith("_:gen") for r in rows)
    assert len({r["b"] for r in rows}) == 4  # fresh per solution
    with pytest.raises(ValueError, match="BNODE"):
        sparql_select(kg, PX + 'SELECT ?b WHERE { BIND(BNODE("x") AS ?b) }').collect()


# ---------------------------------------------------------------------------
# boolean value semantics (VERDICT r4 item 4)
# ---------------------------------------------------------------------------


def test_boolean_value_equality(kg):
    """"1"^^xsd:boolean and "true"^^xsd:boolean are the same VALUE
    under the operator mapping — equality must not fall through to
    string comparison."""
    q = f'SELECT ?s WHERE {{ ?s x:f ?b . FILTER(?b = "true"^^<{XSD}boolean>) }} ORDER BY ?s'
    got = sorted(r["s"].rsplit("/", 1)[1] for r in sparql_select(kg, PX + q).collect())
    assert got == ["s1", "s2"]
    # var-var: (s1,s2) both true, (s3,s4) both false
    q2 = "SELECT ?a ?b WHERE { ?a x:f ?fa . ?b x:f ?fb . FILTER(?fa = ?fb && ?a < ?b) }"
    pairs = sorted(
        (r["a"].rsplit("/", 1)[1], r["b"].rsplit("/", 1)[1])
        for r in sparql_select(kg, PX + q2).collect()
    )
    assert pairs == [("s1", "s2"), ("s3", "s4")]


def test_datetime_timezone_edge_ordering(kg):
    """xsd:dateTime with offsets orders by INSTANT ("13:00+02:00" is
    11:00Z, before "12:00Z"); a timezone-less lexical resolves in the
    pinned UTC session timezone (the engine's documented choice for
    XSD's implementation-defined zoneless comparison)."""
    q = "SELECT ?s WHERE { ?s x:w ?v } ORDER BY ?v"
    got = [r["s"].rsplit("/", 1)[1] for r in sparql_select(kg, PX + q).collect()]
    assert got == ["t2", "t3", "t1"]  # 11:00Z < 11:30(UTC) < 12:00Z
    # equality across lexical forms of the same instant
    q2 = (
        f'SELECT ?s WHERE {{ ?s x:w ?v . '
        f'FILTER(?v = "2024-01-01T14:00:00+02:00"^^<{XSD}dateTime>) }}'
    )
    got2 = [r["s"].rsplit("/", 1)[1] for r in sparql_select(kg, PX + q2).collect()]
    assert got2 == ["t1"]


def test_boolean_value_ordering(kg):
    # false ("false", "0") sorts before true ("true", "1") by VALUE;
    # value ties break on the raw term string ("0..." < "false...")
    q = "SELECT ?s WHERE { ?s x:f ?b } ORDER BY ?b ?s"
    got = [r["s"].rsplit("/", 1)[1] for r in sparql_select(kg, PX + q).collect()]
    assert got == ["s4", "s3", "s2", "s1"]
