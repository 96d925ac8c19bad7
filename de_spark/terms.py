"""HDT term string codec.

The reference keeps terms as plain strings using HDT's conventions
(reference: src/sparql.rs:372-404 ``hdt_bgp_str_to_term`` and
src/sparql.rs:407-413 ``term_to_hdt_bgp_str``):

- IRI       → bare, **no** angle brackets: ``http://example.org/Banana``
- literal   → leading double quote, optional ``^^<datatype>`` or ``@lang``
              suffix: ``"true"^^<http://www.w3.org/2001/XMLSchema#boolean>``
- blank     → leading underscore: ``_:b0``

Everything here is a pure function of the term string, implemented twice:
once as Spark SQL text templates (the hot path — stays JVM-side inside
whole-stage codegen) and once in plain Python for driver-side emitters.
"""

from __future__ import annotations

import hashlib

KIND_IRI = "iri"
KIND_LITERAL = "literal"
KIND_BNODE = "bnode"

# ---------------------------------------------------------------------------
# SQL-text templates — JVM-side, inside whole-stage codegen.  Each takes
# the SQL text of its operands (a quoted column name, a string literal
# or any expression) and returns SQL text; a caller compiles the result
# with one ``F.expr``, so building a key costs one py4j round trip, not
# one per expression node.
# ---------------------------------------------------------------------------


def sql_str(s: str) -> str:
    """A Spark SQL string literal holding ``s`` exactly.  ``$`` is
    written as the escape ``\\u0024``: Spark's parser substitutes
    ``${…}`` variables (``spark.sql.variable.substitute``) in the raw
    text before lexing, so a literal ``${env:HOME}`` would otherwise
    read the driver's environment; the lexer turns the escape back
    into ``$`` after substitution."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"


def sql_double(x: float) -> str:
    """A Spark SQL double literal (``2.5D``; the specials by cast)."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x in (float("inf"), float("-inf")):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def sql_in(x: str, values) -> str:
    return f"({x} IN ({', '.join(map(sql_str, values))}))"


def classify(t: str) -> str:
    """{iri, literal, bnode} by first character (src/sparql.rs:372-404)."""
    return (
        f"(CASE WHEN startswith({t}, '\"') THEN '{KIND_LITERAL}'"
        f" WHEN startswith({t}, '_') THEN '{KIND_BNODE}' ELSE '{KIND_IRI}' END)"
    )


def kind_rank(t: str) -> str:
    """SPARQL §15.1 ordering rank of a term's kind: unbound -1, blank 0,
    IRI 1, literal 2 (explicit for NULL: a null startswith never
    matches, so without it unbound would rank with IRIs)."""
    return (
        f"(CASE WHEN {t} IS NULL THEN -1 WHEN startswith({t}, '\"') THEN 2"
        f" WHEN startswith({t}, '_') THEN 0 ELSE 1 END)"
    )


_LEX_RE = r'^"((?:[^"\\]|\\.)*)"'
_DT_RE = r"\^\^<([^>]*)>$"
_LANG_RE = r'"@([A-Za-z0-9-]+)$'


def literal_value(t: str) -> str:
    """Lexical form of a literal term (contents of the leading quotes)."""
    return f"regexp_extract({t}, {sql_str(_LEX_RE)}, 1)"


def literal_datatype(t: str) -> str:
    """Datatype IRI of a literal, or '' if plain/lang-tagged."""
    return f"regexp_extract({t}, {sql_str(_DT_RE)}, 1)"


def literal_lang(t: str) -> str:
    """Language tag of a literal, or ''."""
    return f"regexp_extract({t}, {sql_str(_LANG_RE)}, 1)"


def parts(t: str) -> tuple[str, str]:
    """(lexical form, datatype) of term ``t``: the two operands every
    value primitive below reads.  A caller that projected them once
    per row passes those columns' names instead."""
    return literal_value(t), literal_datatype(t)


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


def numeric_value(lex: str, dt: str) -> str:
    """Numeric VALUE of a literal with a numeric XSD datatype, else
    NULL — the SPARQL 1.1 operator-mapping view of a term (two
    lexically different integers, "1" and "01", compare equal by
    value; the reference inherits this from oxigraph spareval).
    XSD 1.1 spells the special float/double values "INF"/"+INF"/
    "-INF"/"NaN"; the JVM cast only accepts "Infinity"/"NaN", so INF
    maps explicitly — and ONLY for xsd:float/xsd:double, where the
    value space has infinities ("INF"^^xsd:integer is an invalid
    lexical and must stay NULL; ADVICE r5).  Spark's string→double
    cast itself accepts "INF"/"Infinity"/"NaN" spellings, so the
    integer/decimal datatypes (whose value spaces have no specials)
    reject non-finite results explicitly."""
    has_inf = sql_in(dt, [XSD + "float", XSD + "double"])
    cast = f"try_cast({lex} AS DOUBLE)"
    finite = (
        f"({cast} IS NOT NULL AND NOT isnan({cast})"
        f" AND abs({cast}) != {sql_double(float('inf'))})"
    )
    return (
        f"(CASE WHEN {sql_in(dt, _NUMERIC_DTS)} THEN CASE"
        f" WHEN {has_inf} AND {sql_in(lex, ['INF', '+INF'])} THEN {sql_double(float('inf'))}"
        f" WHEN {has_inf} AND {lex} = '-INF' THEN {sql_double(float('-inf'))}"
        f" WHEN {has_inf} THEN {cast} WHEN {finite} THEN {cast} END END)"
    )


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


def integer_value(lex: str, dt: str) -> str:
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
    return f"(CASE WHEN {sql_in(dt, _INT_DTS)} THEN try_cast({lex} AS DECIMAL(38,0)) END)"


def numeric_kind(dt: str) -> str:
    """Promotion rank of a numeric literal's datatype: 0 = integer
    family, 1 = xsd:decimal, 2 = xsd:float, 3 = xsd:double; NULL for
    non-numeric terms.  Drives SPARQL/XPath numeric result typing
    (integer+integer→integer, integer÷integer→decimal — the reference
    inherits this from spareval's operator mapping, src/sparql.rs:520)."""
    return (
        f"(CASE WHEN {sql_in(dt, _INT_DTS)} THEN 0"
        f" WHEN {dt} = {sql_str(XSD + 'decimal')} THEN 1"
        f" WHEN {dt} = {sql_str(XSD + 'float')} THEN 2"
        f" WHEN {dt} = {sql_str(XSD + 'double')} THEN 3 END)"
    )


def boolean_value(lex: str, dt: str) -> str:
    """Boolean VALUE of an xsd:boolean literal — both canonical and
    numeral lexical forms ("true"/"1", "false"/"0") map to the same
    value, so "1"^^xsd:boolean = "true"^^xsd:boolean under the
    operator mapping; NULL for other terms (or invalid lexicals)."""
    return (
        f"(CASE WHEN {dt} = {sql_str(XSD + 'boolean')} THEN CASE"
        f" WHEN {sql_in(lex, ['true', '1'])} THEN true"
        f" WHEN {sql_in(lex, ['false', '0'])} THEN false END END)"
    )


_DATETIME_DTS = [XSD + "dateTime", XSD + "date"]


def datetime_value(lex: str, dt: str) -> str:
    """Timestamp VALUE of an xsd:dateTime/xsd:date literal, else NULL.
    try_cast resolves timezone offsets to instants, so two lexical
    forms of the same moment compare equal and offsets order
    chronologically (SPARQL op:dateTime ordering)."""
    return f"(CASE WHEN {sql_in(dt, _DATETIME_DTS)} THEN try_cast({lex} AS TIMESTAMP) END)"


def sort_keys(t: str, lex: str, dt: str) -> list[str]:
    """SPARQL value ordering of term ``t`` as a sort-key list: term kind
    first (blank < IRI < literal, §15.1), then numeric literals by
    VALUE ("9" before "10"), then the exact integer lane (integers
    above 2^53 collide in the double key; placed after it so int vs
    decimal vs double still follow the promoted value), dateTime/date
    literals by instant, booleans by value, and last the raw term
    string (non-numeric literals, and a deterministic tiebreak among
    value-equal lexical forms)."""
    return [
        kind_rank(t),
        numeric_value(lex, dt),
        integer_value(lex, dt),
        datetime_value(lex, dt),
        boolean_value(lex, dt),
        t,
    ]


def sparql_csv_form(t: str, lex: str | None = None) -> str:
    """SPARQL-results-CSV rendering: IRIs bare, literals unquoted lexical
    form, bnodes as-is (matches sparesults CSV, asserted at
    reference tests/test-commands.rs:186-190)."""
    return f"(CASE WHEN startswith({t}, '\"') THEN {lex or literal_value(t)} ELSE {t} END)"


def ntriples_form(t: str) -> str:
    """N-Triples rendering (also SPARQL-results-TSV's): IRIs in <>,
    literals quoted with suffix, bnodes as-is
    (tests/test-commands.rs:203-206)."""
    return (
        f"(CASE WHEN startswith({t}, '\"') OR startswith({t}, '_') THEN {t}"
        f" ELSE concat('<', {t}, '>') END)"
    )


def unescape_nt(x: str) -> str:
    """SQL twin of :func:`unescape_nt_py` — NT escape sequences back
    to raw characters (for non-NT serializers)."""
    for a, b in _NT_UNESCAPES:
        x = f"replace({x}, {sql_str(a)}, {sql_str(b)})"
    return x


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
    """Python twin of :func:`ntriples_form`:
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
