"""Round-6 SPARQL semantics: EXACT integer arithmetic beyond 2^53
(VERDICT r5 item 1 — the decimal(38,0) lane) and the ADVICE r5
degradation rules (no scientific-notation lexicals, INF only for
float/double datatypes).

Reference semantics: oxigraph spareval does exact i64/decimal integer
operator dispatch (src/sparql.rs:520); SPARQL 1.1 §17.3 maps the
XPath arithmetic error to an unbound result.
"""

import pytest
from pyspark.sql import functions as F

from de_spark import terms
from de_spark.pipeline import build
from de_spark.query import sparql_select
from de_spark.sources.nt import triples_from_nt_text

XSD = "http://www.w3.org/2001/XMLSchema#"

# 2^53 = 9007199254740992: the first double-unrepresentable gap
NT = f"""\
<http://x/a> <http://x/n> "9007199254740992"^^<{XSD}integer> .
<http://x/b> <http://x/n> "9007199254740993"^^<{XSD}integer> .
<http://x/c> <http://x/n> "18014398509481984"^^<{XSD}integer> .
<http://x/a> <http://x/m> "3"^^<{XSD}integer> .
<http://x/bad> <http://x/q> "INF"^^<{XSD}integer> .
<http://x/inf> <http://x/q> "+INF"^^<{XSD}double> .
<http://x/ninf> <http://x/q> "-INF"^^<{XSD}float> .
<http://x/home> <http://x/lit> "${{env:HOME}}" .
<http://x/app> <http://x/lit> "${{spark.app.name}}" .
<http://x/k> <http://x/max> "9223372036854775807"^^<{XSD}integer> .
<http://x/k> <http://x/one> "1"^^<{XSD}integer> .
<http://x/k> <http://x/dbl> "1.0E0"^^<{XSD}double> .
<http://x/k> <http://x/half> "2.5"^^<{XSD}decimal> .
<http://x/k> <http://x/odd> "9007199254740993"^^<{XSD}integer> .
"""

PX = "PREFIX x: <http://x/>\n"


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r6_kg"))
    kg, _ = build(triples_from_nt_text(spark, NT, "file:///r6.nt"), out)
    return kg


def rows_of(kg, q):
    return sparql_select(kg, PX + q).collect()


# ---------------------------------------------------------------------------
# exact integer arithmetic (the decimal lane)
# ---------------------------------------------------------------------------


def test_bind_addition_exact_beyond_2p53(kg):
    """?n + 1 at 2^53: in doubles both 2^53 and 2^53+1 round to the
    same value; the exact lane must render distinct, correct lexicals."""
    rows = rows_of(
        kg,
        """
        SELECT ?s ?plus WHERE {
          ?s x:n ?n . BIND(?n + 1 AS ?plus)
        } ORDER BY ?s
        """,
    )
    got = {r["s"]: r["plus"] for r in rows}
    assert got["http://x/a"] == f'"9007199254740993"^^<{XSD}integer>'
    assert got["http://x/b"] == f'"9007199254740994"^^<{XSD}integer>'
    assert got["http://x/c"] == f'"18014398509481985"^^<{XSD}integer>'


def test_bind_multiplication_exact(kg):
    """Integer × integer beyond 2^53 renders exactly (try_multiply on
    the decimal lane)."""
    rows = rows_of(
        kg,
        """
        SELECT ?prod WHERE {
          <http://x/b> x:n ?n . BIND(?n * 3 AS ?prod)
        }
        """,
    )
    # 9007199254740993 * 3 = 27021597764222979 (double would give ...76 or ...80)
    assert rows[0]["prod"] == f'"27021597764222979"^^<{XSD}integer>'


def test_sum_exact_beyond_2p53(kg):
    """SUM over big integers is exact: 2^53 + (2^53+1) + 2^54 =
    36028797018963969 — the double lane cannot represent the odd unit."""
    rows = rows_of(
        kg,
        """
        SELECT (SUM(?n) AS ?total) WHERE { ?s x:n ?n }
        """,
    )
    assert rows[0]["total"] == f'"36028797018963969"^^<{XSD}integer>'


def test_filter_equality_exact(kg):
    """FILTER(?n = 9007199254740993) must NOT match 9007199254740992
    (they are equal as doubles)."""
    rows = rows_of(
        kg,
        """
        SELECT ?s WHERE { ?s x:n ?n . FILTER(?n = "9007199254740993"^^<http://www.w3.org/2001/XMLSchema#integer>) }
        """,
    )
    assert [r["s"] for r in rows] == ["http://x/b"]


def test_order_by_exact(kg):
    """ORDER BY distinguishes double-colliding big integers via the
    exact tiebreak lane."""
    rows = rows_of(kg, "SELECT ?s WHERE { ?s x:n ?n } ORDER BY ?n ?s")
    assert [r["s"] for r in rows] == ["http://x/a", "http://x/b", "http://x/c"]


def test_max_renders_exact_term(kg):
    rows = rows_of(kg, "SELECT (MAX(?n) AS ?mx) WHERE { ?s x:n ?n }")
    assert rows[0]["mx"] == f'"18014398509481984"^^<{XSD}integer>'


def test_beyond_i64_exact_via_decimal_lane(kg):
    """A data-borne integer × a near-i64-max constant exceeds long
    range but fits decimal(38,0): renders exactly (the reference's
    i64 lane would error here; xsd:integer is arbitrary-precision)."""
    rows = rows_of(
        kg,
        """
        SELECT ?big WHERE {
          <http://x/a> x:m ?m .
          BIND(9223372036854775807 * ?m AS ?big)
        }
        """,
    )
    assert rows[0]["big"] == f'"27670116110564327421"^^<{XSD}integer>'
    # constants take the same lane: i64 max + 1 is exact, not an overflow
    rows = rows_of(kg, "SELECT ?big WHERE { BIND(9223372036854775807 + 1 AS ?big) }")
    assert rows[0]["big"] == f'"9223372036854775808"^^<{XSD}integer>'


def test_static_int_overflow_unbound(kg):
    """A constant integer product beyond decimal(38,0) degrades to
    unbound (try_multiply), never an ANSI abort or a wrong value."""
    rows = rows_of(
        kg,
        """
        SELECT ?big WHERE {
          <http://x/a> x:m ?m .
          BIND(99999999999999999999 * 99999999999999999999 AS ?big)
        }
        """,
    )
    assert rows[0]["big"] is None


def _int(lex):
    return f'"{lex}"^^<{XSD}integer>'


# (constant form, term form, expected): a term is the expected BIND
# result, a list the subjects a FILTER keeps.  The term forms read x:k's
# values: ?max = 2^63 - 1, ?one = 1, ?dbl = 1.0E0, ?half = 2.5, ?odd =
# 2^53 + 1.
AGREE = [
    ("9223372036854775807 + 1", "?max + ?one", _int("9223372036854775808")),
    ("9223372036854775807 * 2", "?max * 2", _int("18446744073709551614")),
    ("1.0e0 / 0", "?dbl / 0", f'"INF"^^<{XSD}double>'),
    ("STR(1.0e0 / 0)", "STR(?dbl / 0)", '"INF"'),
    ("ABS(-9223372036854775807 - 1)", "ABS(-?max - ?one)", _int("9223372036854775808")),
    ("?n = 9007199254740993", "?n = ?odd", ["http://x/b"]),
    ("?n + 0 = 9007199254740993", "?n + 0 = ?odd", ["http://x/b"]),
    ("ROUND(-2.5)", "ROUND(-?half)", f'"-2"^^<{XSD}decimal>'),
    ("ROUND(2.5)", "ROUND(?half)", f'"3"^^<{XSD}decimal>'),
    ("FLOOR(1.0e20)", "FLOOR(?dbl * 1.0e20)", f'"1.0E20"^^<{XSD}double>'),
    ("DATATYPE(1)", "DATATYPE(?one)", f'"{XSD}integer"'),
]


@pytest.mark.parametrize("const,term,want", AGREE, ids=[c for c, _, _ in AGREE])
def test_constant_and_term_operands_agree(kg, const, term, want):
    """A numeric constant and a term holding the same number give the
    same result: exact integers beyond i64, the XSD spelling INF, no
    query error, an exact equality above 2^53, fn:round's halves
    toward +∞, a floor beyond long range and the integer datatype."""
    if isinstance(want, list):
        q = "SELECT ?s WHERE {{ ?s x:n ?n . x:k x:odd ?odd FILTER({}) }} ORDER BY ?s"
        col = "s"
    else:
        q = (
            "SELECT ?r WHERE {{ x:k x:max ?max ; x:one ?one ; x:dbl ?dbl ;"
            " x:half ?half . BIND({} AS ?r) }}"
        )
        want, col = [want], "r"
    for form in (const, term):
        assert [r[col] for r in rows_of(kg, q.format(form))] == want, form


def test_arithmetic_sql_grows_with_the_expression():
    """Each lane of a sum reads only the same lane of its operands, so
    the SQL of a chain of additions grows linearly with its length, not
    by a factor per operator."""
    from de_spark.query.parser import Bin, NumE, VarE
    from de_spark.query.sparql import _ex, _sql

    env = {"a": (terms.sql_str(f'"1"^^<{XSD}integer>'), "term")}

    def chain(n):
        e = VarE("a")
        for j in range(n):
            e = Bin("+", e, NumE(j, True, "int"))
        return len(_sql(_ex(e, env)[0]))

    assert chain(6) < 2 * chain(3)


# ---------------------------------------------------------------------------
# degradation rules (ADVICE r5)
# ---------------------------------------------------------------------------


def test_decimal_overflow_renders_unbound(kg):
    """An integer-kinded product that leaves decimal(38,0) (>38 digits)
    is unbound — not a scientific-notation or precision-lost lexical."""
    rows = rows_of(
        kg,
        """
        SELECT ?huge WHERE {
          <http://x/c> x:n ?n .
          BIND(?n * ?n * ?n AS ?huge)
        }
        """,
    )
    # (1.8e16)^3 ≈ 5.8e48 > 38 digits
    assert rows[0]["huge"] is None


def test_big_decimal_division_unbound_not_scientific(kg):
    """int ÷ int yields xsd:decimal; a quotient ≥1e16 would render in
    scientific notation (invalid lexical) — must degrade to unbound."""
    rows = rows_of(
        kg,
        """
        SELECT ?q WHERE {
          <http://x/c> x:n ?n .
          BIND(?n / 1 AS ?q)
        }
        """,
    )
    assert rows[0]["q"] is None


def test_inf_only_for_float_double(kg):
    """"INF"^^xsd:integer is an invalid lexical → non-numeric (no
    value), while "+INF"^^xsd:double and "-INF"^^xsd:float are valid
    XSD 1.1 specials."""
    rows = rows_of(
        kg,
        """
        SELECT ?s WHERE { ?s x:q ?v . FILTER(ISNUMERIC(?v)) } ORDER BY ?s
        """,
    )
    assert [r["s"] for r in rows] == ["http://x/inf", "http://x/ninf"]


def test_plus_inf_numeric_value(spark):
    df = spark.createDataFrame(
        [(f'"+INF"^^<{XSD}double>',), (f'"INF"^^<{XSD}integer>',)], ["t"]
    )
    got = df.select(F.expr(terms.numeric_value(*terms.parts("t"))).alias("v")).collect()
    assert got[0]["v"] == float("inf")
    assert got[1]["v"] is None


# ---------------------------------------------------------------------------
# query text reaches the compiled SQL unchanged
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "text,subject", [("${env:HOME}", "http://x/home"), ("${spark.app.name}", "http://x/app")]
)
def test_dollar_brace_literals_are_not_substituted(kg, text, subject):
    """Spark's SQL parser substitutes ``${…}`` variables; a SPARQL
    literal holding one must neither read the driver's environment or
    session settings nor stop matching its own data."""
    bound = rows_of(kg, f'SELECT ?v WHERE {{ BIND("{text}" AS ?v) }}')
    assert [r["v"] for r in bound] == [f'"{text}"']
    matched = rows_of(kg, f'SELECT ?s WHERE {{ ?s x:lit ?o . FILTER(?o = "{text}") }}')
    assert [r["s"] for r in matched] == [subject]
    concat = rows_of(kg, f'SELECT ?v WHERE {{ BIND(CONCAT("{text}", "!") AS ?v) }}')
    assert [r["v"] for r in concat] == [f'"{text}!"']
