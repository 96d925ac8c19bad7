"""HDT term string codec.

The reference keeps terms as plain strings using HDT's conventions
(reference: src/sparql.rs:372-404 ``hdt_bgp_str_to_term`` and
src/sparql.rs:407-413 ``term_to_hdt_bgp_str``):

- IRI       → bare, **no** angle brackets: ``http://example.org/Banana``
- literal   → leading double quote, optional ``^^<datatype>`` or ``@lang``
              suffix: ``"true"^^<http://www.w3.org/2001/XMLSchema#boolean>``
- blank     → leading underscore: ``_:b0``

Everything here is a pure function of the term string, implemented twice:
once as Catalyst Column expressions (the hot path — stays JVM-side inside
whole-stage codegen) and once in plain Python for driver-side emitters.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

KIND_IRI = "iri"
KIND_LITERAL = "literal"
KIND_BNODE = "bnode"

# ---------------------------------------------------------------------------
# Column-level (JVM, codegen) versions — use these in pipelines.
# ---------------------------------------------------------------------------


def classify(term: Column) -> Column:
    """{iri, literal, bnode} by first character (src/sparql.rs:372-404)."""
    return (
        F.when(term.startswith('"'), F.lit(KIND_LITERAL))
        .when(term.startswith("_"), F.lit(KIND_BNODE))
        .otherwise(F.lit(KIND_IRI))
    )


def _memo(term: Column, key: str, build) -> Column:
    """Per-Column-INSTANCE memo of parse primitives.

    The SPARQL expression compiler's env maps each variable to one
    Column object, so every re-derivation of a primitive (lexical
    form, datatype IRI, numeric lanes) over that variable returns the
    SAME Column instead of re-running the whole py4j construction —
    the r7 profile measured ~1.3s of pure Column construction per
    arithmetic BIND query, dominated by these repeated subtrees.
    Call sites that PRE-PROJECT a primitive (sparql._seed_parse_refs)
    seed this memo with the projected attribute ref, which also
    shrinks the ANALYZED tree: the regexp appears once in a lower
    Project instead of dozens of times inline (big enough trees made
    janino fail compilation and forced interpreted row eval).
    Memoized values are pure functions of the term column, so sharing
    them never changes results."""
    memo = term.__dict__.setdefault("_de_parse_memo", {})
    if key not in memo:
        memo[key] = build()
    return memo[key]


def literal_value(term: Column) -> Column:
    """Lexical form of a literal term (contents of the leading quotes)."""
    return _memo(
        term, "lex", lambda: F.regexp_extract(term, r'^"((?:[^"\\]|\\.)*)"', 1)
    )


def literal_datatype(term: Column) -> Column:
    """Datatype IRI of a literal, or '' if plain/lang-tagged."""
    return _memo(term, "dt", lambda: F.regexp_extract(term, r'\^\^<([^>]*)>$', 1))


def literal_lang(term: Column) -> Column:
    """Language tag of a literal, or ''."""
    return _memo(
        term, "lang", lambda: F.regexp_extract(term, r'"@([A-Za-z0-9-]+)$', 1)
    )


XSD = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC_DTS = [
    XSD + n
    for n in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong",
        "unsignedInt", "unsignedShort", "unsignedByte",
    )
]


def numeric_value(term: Column) -> Column:
    """Numeric VALUE of a literal with a numeric XSD datatype, else
    NULL — the SPARQL 1.1 operator-mapping view of a term (two
    lexically different integers, "1" and "01", compare equal by
    value; the reference inherits this from oxigraph spareval).
    XSD 1.1 spells the special float/double values "INF"/"+INF"/
    "-INF"/"NaN"; the JVM cast only accepts "Infinity"/"NaN", so INF
    maps explicitly — and ONLY for xsd:float/xsd:double, where the
    value space has infinities ("INF"^^xsd:integer is an invalid
    lexical and must stay NULL; ADVICE r5)."""
    def build():
        lv = literal_value(term)
        dt = literal_datatype(term)
        has_inf = dt.isin(XSD + "float", XSD + "double")
        cast = lv.try_cast("double")
        # Spark's string→double cast itself accepts "INF"/"Infinity"/
        # "NaN" spellings, so integer/decimal datatypes (whose value
        # spaces have no specials) must reject non-finite results
        # explicitly
        finite = cast.isNotNull() & ~F.isnan(cast) & (F.abs(cast) != float("inf"))
        v = (
            F.when(has_inf & lv.isin("INF", "+INF"), F.lit(float("inf")))
            .when(has_inf & (lv == "-INF"), F.lit(float("-inf")))
            .when(has_inf, cast)
            .when(finite, cast)
        )
        return F.when(dt.isin(_NUMERIC_DTS), v)

    return _memo(term, "numv", build)


# XPath numeric promotion ranks (op:numeric-* resolution order:
# integer family → decimal → float → double); rank of the RESULT of an
# arithmetic op is the max of its operand ranks.
_INT_DTS = [
    XSD + n
    for n in (
        "integer", "long", "int", "short", "byte", "nonNegativeInteger",
        "nonPositiveInteger", "negativeInteger", "positiveInteger",
        "unsignedLong", "unsignedInt", "unsignedShort", "unsignedByte",
    )
]


def integer_value(term: Column) -> Column:
    """EXACT integer value of an integer-family literal as
    decimal(38,0), else NULL.  The double lane of `numeric_value`
    loses precision above 2^53; SPARQL xsd:integer arithmetic is
    arbitrary-precision (the reference gets exact i64 ops from
    spareval's operator dispatch, src/sparql.rs:520), so the
    expression compiler carries this exact lane alongside the double
    whenever the operands are integer-kinded.  38 digits is the
    documented bound (Spark's widest decimal); beyond it the lexical
    try_cast yields NULL and the result degrades to unbound rather
    than a silently-wrong rendering."""
    return _memo(
        term,
        "numi",
        lambda: F.when(
            literal_datatype(term).isin(_INT_DTS),
            literal_value(term).try_cast("decimal(38,0)"),
        ),
    )


def numeric_kind(term: Column) -> Column:
    """Promotion rank of a numeric literal's datatype: 0 = integer
    family, 1 = xsd:decimal, 2 = xsd:float, 3 = xsd:double; NULL for
    non-numeric terms.  Drives SPARQL/XPath numeric result typing
    (integer+integer→integer, integer÷integer→decimal — the reference
    inherits this from spareval's operator mapping, src/sparql.rs:520)."""
    def build():
        dt = literal_datatype(term)
        return (
            F.when(dt.isin(_INT_DTS), F.lit(0))
            .when(dt == XSD + "decimal", F.lit(1))
            .when(dt == XSD + "float", F.lit(2))
            .when(dt == XSD + "double", F.lit(3))
        )

    return _memo(term, "numk", build)


def boolean_value(term: Column) -> Column:
    """Boolean VALUE of an xsd:boolean literal — both canonical and
    numeral lexical forms ("true"/"1", "false"/"0") map to the same
    value, so "1"^^xsd:boolean = "true"^^xsd:boolean under the
    operator mapping; NULL for other terms (or invalid lexicals)."""
    def build():
        lv = literal_value(term)
        return F.when(
            literal_datatype(term) == XSD + "boolean",
            F.when(lv.isin("true", "1"), F.lit(True)).when(
                lv.isin("false", "0"), F.lit(False)
            ),
        )

    return _memo(term, "boolv", build)


_DATETIME_DTS = [XSD + "dateTime", XSD + "date"]


def datetime_value(term: Column) -> Column:
    """Timestamp VALUE of an xsd:dateTime/xsd:date literal, else NULL.
    try_cast resolves timezone offsets to instants, so two lexical
    forms of the same moment compare equal and offsets order
    chronologically (SPARQL op:dateTime ordering)."""
    return _memo(
        term,
        "dtv",
        lambda: F.when(
            literal_datatype(term).isin(_DATETIME_DTS),
            literal_value(term).try_cast("timestamp"),
        ),
    )


def sparql_csv_form(term: Column) -> Column:
    """SPARQL-results-CSV rendering: IRIs bare, literals unquoted lexical
    form, bnodes as-is (matches sparesults CSV, asserted at
    reference tests/test-commands.rs:186-190)."""
    return F.when(term.startswith('"'), literal_value(term)).otherwise(term)


def sparql_tsv_form(term: Column) -> Column:
    """SPARQL-results-TSV rendering: IRIs in <>, literals quoted with
    suffix, bnodes as-is (tests/test-commands.rs:203-206)."""
    return (
        F.when(term.startswith('"'), term)
        .when(term.startswith("_"), term)
        .otherwise(F.concat(F.lit("<"), term, F.lit(">")))
    )


def ntriples_form(term: Column) -> Column:
    """N-Triples rendering (for CONSTRUCT-style graph output)."""
    return sparql_tsv_form(term)


def unescape_nt(col: Column) -> Column:
    """Column twin of :func:`unescape_nt_py` — NT escape sequences back
    to raw characters (JVM-side, for non-NT serializers)."""
    out = F.replace(col, F.lit("\\\\"), F.lit("\x00"))
    for a, b in (('\\"', '"'), ("\\n", "\n"), ("\\t", "\t"), ("\\r", "\r"), ("\x00", "\\")):
        out = F.replace(out, F.lit(a), F.lit(b))
    return out


# ---------------------------------------------------------------------------
# Plain-Python versions — driver-side emitters / tests.
# ---------------------------------------------------------------------------


def classify_py(term: str) -> str:
    if term.startswith('"'):
        return KIND_LITERAL
    if term.startswith("_"):
        return KIND_BNODE
    return KIND_IRI


_NT_UNESCAPES = [
    ("\\\\", "\x00"),  # protect escaped backslash first
    ('\\"', '"'),
    ("\\n", "\n"),
    ("\\t", "\t"),
    ("\\r", "\r"),
    ("\x00", "\\"),
]


def unescape_nt_py(s: str) -> str:
    for a, b in _NT_UNESCAPES:
        s = s.replace(a, b)
    return s


def escape_nt_py(s: str) -> str:
    """Inverse of :func:`unescape_nt_py` (raw chars → NT escapes)."""
    for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\t", "\\t"), ("\r", "\\r")):
        s = s.replace(a, b)
    return s


def bnode_tag(graph: str | None, source: str) -> str:
    """Suffix of the blank-node labels minted while reading ``source``
    (a file path or an update text) into ``graph``: a short digest, so
    the nodes two documents mint, or one document minted into two
    graphs, stay distinct terms."""
    return "_" + hashlib.sha1(f"{graph}\n{source}".encode()).hexdigest()[:8]


def sparql_tsv_form_py(term: str) -> str:
    """Python twin of :func:`sparql_tsv_form` / :func:`ntriples_form`:
    IRIs in <>, literals and bnodes as-is."""
    if term.startswith('"') or term.startswith("_"):
        return term
    return f"<{term}>"


def literal_parts_py(term: str) -> tuple[str, str | None, str | None]:
    """(lexical_value, datatype_iri|None, lang|None) for a literal term."""
    assert term.startswith('"')
    # find closing quote honoring escapes
    i, n = 1, len(term)
    while i < n:
        if term[i] == "\\":
            i += 2
            continue
        if term[i] == '"':
            break
        i += 1
    value = unescape_nt_py(term[1:i])
    rest = term[i + 1 :]
    if rest.startswith("^^<") and rest.endswith(">"):
        return value, rest[3:-1], None
    if rest.startswith("@"):
        return value, None, rest[1:]
    return value, None, None
