"""Recursive-descent SPARQL parser → group-graph-pattern algebra, and
the one reader of Turtle / TriG documents and INSERT DATA.

The reference reads SPARQL text with oxigraph's spargebra
(src/sparql.rs:516-519) and RDF files with oxrdfio (src/rdf2nt.rs:67),
which share one term model.  Here one tokenizer, one prologue
(``parse_prologue``: PREFIX / BASE / @prefix / @base, relative IRIs
resolved against BASE per RFC 3986), one literal normalizer
(``nt_lexical``), one triples grammar, one quad-block parser
(``parse_quads``) and one grounding step (``Parser.ground``) serve
query patterns, INSERT DATA (``query.update``) and data files
(``sources.turtle``), so a statement names the same terms wherever it
is written.  The query subset the engine executes:

- group graph patterns: nested ``{}`` groups, OPTIONAL, MINUS, GRAPH,
  n-ary and *nested* UNION (branches may contain OPTIONAL/FILTER/...),
  FILTER, BIND(expr AS ?v), VALUES (multiple clauses allowed)
- expressions: ``|| && = != < <= > >= + - * /``, unary ``! -``,
  IN / NOT IN, EXISTS / NOT EXISTS { group }, and the builtin library
  (REGEX, BOUND, isIRI/isURI/isLiteral/isBlank, STR, LANG, DATATYPE,
  STRSTARTS/STRENDS/CONTAINS, STRLEN, SUBSTR, UCASE/LCASE,
  STRBEFORE/STRAFTER, CONCAT, REPLACE, ABS/CEIL/FLOOR/ROUND,
  IF, COALESCE)
- property paths in the predicate position: ``/ | ^ + * ?`` with
  parens and negated property sets ``!iri`` / ``!(iri|^iri|…)`` /
  ``!()``, parsed once into a ``bgp.Path`` tree that the BGP compiler
  evaluates; a plain one-IRI predicate stays a string, and a
  parenthesized one ``(<p>)`` stays a path, which data refuses
- all four query forms: SELECT (vars, aggregates, expr-AS), ASK,
  CONSTRUCT { template }, DESCRIBE targets [WHERE]
- subqueries: ``{ SELECT … }`` as a group element (SPARQL 1.1 §12)
- solution modifiers: GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET

Translation to algebra follows the SPARQL 1.1 spec (§18.2): elements
of a group accumulate left-to-right — OPTIONAL → LeftJoin, MINUS →
Minus, BIND → Extend, everything else → Join — and FILTERs scope to
the whole group.  Adjacent triple blocks separated only by
*commutative* elements (FILTER, VALUES, GRAPH, sub-groups) merge into
one BGP so the executor's selectivity-based join ordering sees the
whole conjunction; OPTIONAL/MINUS/BIND are sequence points and flush.

Blank-node property lists ``[ … ]`` and collections ``( … )`` in
patterns compile to fresh non-projected variables (collections expand
to rdf:first/rdf:rest pattern chains); in data the grounding step
turns them into blank nodes.  GROUP BY accepts expression
conditions (``(expr)``, ``(expr AS ?v)``, builtin calls) and ORDER BY
accepts expression keys including aggregates (``DESC(COUNT(?x))``).
Unsupported constructs raise ``ValueError`` loudly (never a silent
wrong answer): SERVICE, most custom function calls.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from urllib.parse import urljoin

from de_spark import terms
from de_spark.query.bgp import Path, TriplePattern

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"
XSD = "http://www.w3.org/2001/XMLSchema#"


# ---------------------------------------------------------------------------
# Expression AST
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class VarE:
    name: str


@dataclass(frozen=True)
class TermE:
    """A constant RDF term in HDT string convention (IRI bare, literal
    quoted with optional ^^<dt>/@lang suffix, bnode ``_:…``)."""

    term: str


@dataclass(frozen=True)
class NumE:
    value: float
    is_int: bool
    # lexical kind per the SPARQL grammar: INTEGER → xsd:integer,
    # DECIMAL ("2.5") → xsd:decimal, DOUBLE ("2.5e0") → xsd:double.
    # "" (older constructors) = derive from is_int (int else double).
    kind: str = ""


@dataclass(frozen=True)
class BoolE:
    value: bool


@dataclass(frozen=True)
class Bin:
    op: str  # || && = != < <= > >= + - * /
    left: object
    right: object


@dataclass(frozen=True)
class Un:
    op: str  # ! -
    expr: object


@dataclass(frozen=True)
class Call:
    name: str  # uppercased builtin name
    args: tuple


@dataclass(frozen=True)
class InE:
    expr: object
    items: tuple  # constant term strings
    neg: bool


@dataclass
class ExistsE:
    group: object  # algebra Node
    neg: bool


@dataclass(frozen=True)
class AggE:
    """An aggregate call inside an expression (HAVING(COUNT(?s) > 1));
    the executor rewrites it to a hidden aggregate column."""

    func: str
    var: str  # '*', a var name, or '' when expr is set
    distinct: bool = False
    expr: object = None


def expr_vars(e) -> set[str]:
    if isinstance(e, VarE):
        return {e.name}
    if isinstance(e, Bin):
        return expr_vars(e.left) | expr_vars(e.right)
    if isinstance(e, Un):
        return expr_vars(e.expr)
    if isinstance(e, Call):
        out: set[str] = set()
        for a in e.args:
            if not isinstance(a, str):
                out |= expr_vars(a)
        return out
    if isinstance(e, InE):
        return expr_vars(e.expr)
    if isinstance(e, AggE):
        out = expr_vars(e.expr) if e.expr is not None else set()
        if e.var not in ("*", ""):
            out.add(e.var)
        return out
    return set()


def expr_has(e, pred) -> bool:
    """True if any sub-expression satisfies ``pred``."""
    if pred(e):
        return True
    if isinstance(e, Bin):
        return expr_has(e.left, pred) or expr_has(e.right, pred)
    if isinstance(e, Un):
        return expr_has(e.expr, pred)
    if isinstance(e, Call):
        return any(expr_has(a, pred) for a in e.args if not isinstance(a, str))
    if isinstance(e, InE):
        return expr_has(e.expr, pred)
    return False


# ---------------------------------------------------------------------------
# Algebra nodes (group graph pattern translation, SPARQL 1.1 §18.2)
# ---------------------------------------------------------------------------


@dataclass
class BGPNode:
    patterns: list  # list[TriplePattern]


@dataclass
class JoinNode:
    left: object
    right: object


@dataclass
class LeftJoinNode:
    left: object
    right: object
    filters: list = field(default_factory=list)  # scoped filter exprs


@dataclass
class MinusNode:
    left: object
    right: object


@dataclass
class UnionNode:
    branches: list


@dataclass
class FilterNode:
    exprs: list
    child: object


@dataclass
class ExtendNode:
    child: object
    var: str
    expr: object


@dataclass
class GraphScopeNode:
    term: str  # '?var' or constant graph IRI
    child: object


@dataclass
class ValuesNode:
    vars: list
    rows: list  # rows of constant term strings


@dataclass
class SubQueryNode:
    """``{ SELECT … }`` — evaluated bottom-up, projected, then joined
    with the enclosing group (SPARQL 1.1 §12)."""

    query: object  # ParsedQuery


@dataclass
class Aggregate:
    func: str  # count | sum | avg | min | max | sample | group_concat
    var: str   # source var name, '*', or '' when expr is set
    alias: str
    distinct: bool = False
    sep: str = " "
    expr: object = None  # aggregate over an expression, e.g. SUM(?a * ?b)


@dataclass
class ParsedQuery:
    form: str  # select | ask | construct | describe
    variables: list[str] = field(default_factory=list)  # [] ⇒ SELECT *
    distinct: bool = False
    algebra: object = None
    aggregates: list[Aggregate] = field(default_factory=list)
    select_exprs: list = field(default_factory=list)  # [(alias, Expr)]
    group_by: list[str] = field(default_factory=list)
    having: list = field(default_factory=list)  # Expr
    order_by: list = field(default_factory=list)  # [(var, desc)]
    limit: int | None = None
    offset: int | None = None
    construct_template: list | None = None  # list[TriplePattern]
    describe_targets: list | None = None  # ['?v', const term, …]

    @property
    def ask(self) -> bool:
        return self.form == "ask"


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Tok:
    kind: str  # VAR IRI PNAME LIT NUM BNODE WORD OP EOF
    value: object
    pos: int


_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<VAR>[?$][A-Za-z_]\w*)
    | (?P<IRI><[^<>"{}|^`\\\s]*>)
    | (?P<STR>"{3}(?:[^"\\]|\\.|"(?!""))*"{3}|'{3}(?:[^'\\]|\\.|'(?!''))*'{3}
            |"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<BNODE>_:[A-Za-z0-9](?:[\w-]|\.(?=[\w.-]))*)
    | (?P<PNAME>(?:[A-Za-z_](?:[\w-]|\.(?=[\w.-]))*)?:(?:[A-Za-z_0-9](?:[\w-]|\.(?=[\w.-]))*)?)
    | (?P<NUM>(?:\d+\.\d*|\.?\d+)[eE][+-]?\d+|\d*\.\d+|\d+)
    | (?P<WORD>@(?:prefix|base)\b|[A-Za-z_][\w-]*)
    | (?P<OP>&&|\|\||!=|<=|>=|[=<>!+\-*/^|(){}\[\].,;?])
    """,
    re.VERBOSE,
)

_LANG_RE = re.compile(r"@[A-Za-z]+(?:-[A-Za-z0-9]+)*")
_SCHEME_RE = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")
_LEX_RE = re.compile(r"""\\.|["\n\t\r]""", re.S)
_LEX_MAP = {"\\'": "'", '"': '\\"', "\n": "\\n", "\t": "\\t", "\r": "\\r"}


def nt_lexical(body: str) -> str:
    """A literal's lexical form as N-Triples writes it: a raw newline,
    tab, CR or ``"`` becomes its NT escape and ``\\'`` becomes ``'``;
    every other escape (``\\uXXXX`` included) stays as written, as the
    N-Triples text scan keeps it."""
    return _LEX_RE.sub(lambda m: _LEX_MAP.get(m.group(), m.group()), body)


def tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(text)
    while i < n:
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise ValueError(f"cannot tokenize SPARQL at: {text[i:i+30]!r}")
        kind = m.lastgroup
        val = m.group(0)
        i = m.end()
        if kind == "WS":
            continue
        if kind == "STR":
            # literal with optional ^^<dt> / ^^pname / @lang suffix
            q = 3 if val[:3] in ('"""', "'''") else 1
            lex = nt_lexical(val[q:-q])
            dt = lang = None
            if text.startswith("^^", i):
                j = i + 2
                m2 = _TOKEN_RE.match(text, j)
                if not m2 or m2.lastgroup not in ("IRI", "PNAME"):
                    raise ValueError(f"bad datatype suffix at: {text[j:j+30]!r}")
                dt = Tok(m2.lastgroup, m2.group(0), j)
                i = m2.end()
            elif i < n and text[i] == "@":
                m2 = _LANG_RE.match(text, i)
                if not m2:
                    raise ValueError(f"bad language tag at: {text[i:i+20]!r}")
                lang = m2.group(0)[1:]
                i = m2.end()
            toks.append(Tok("LIT", (lex, dt, lang), m.start()))
            continue
        toks.append(Tok(kind, val, m.start()))
    toks.append(Tok("EOF", None, n))
    return toks


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_BUILTINS = {
    "REGEX", "BOUND", "ISIRI", "ISURI", "ISLITERAL", "ISBLANK",
    "LANG", "DATATYPE", "STR", "STRSTARTS", "STRENDS", "CONTAINS",
    "STRLEN", "SUBSTR", "UCASE", "LCASE", "STRBEFORE", "STRAFTER",
    "CONCAT", "REPLACE", "ABS", "CEIL", "FLOOR", "ROUND", "IF",
    "COALESCE", "LANGMATCHES", "IRI", "URI", "STRDT", "STRLANG",
    "SAMETERM", "MD5", "SHA1", "SHA256", "SHA384", "SHA512", "ISNUMERIC",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ", "TIMEZONE",
    "NOW", "ENCODE_FOR_URI", "UUID", "STRUUID", "RAND", "BNODE",
}

_AGG_FUNCS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None

    # -- token helpers -------------------------------------------------------

    def peek(self, k: int = 0) -> Tok:
        j = min(self.i + k, len(self.toks) - 1)
        return self.toks[j]

    def next(self) -> Tok:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def at_op(self, *ops: str) -> bool:
        t = self.peek()
        return t.kind == "OP" and t.value in ops

    def at_word(self, *words: str) -> bool:
        t = self.peek()
        return t.kind == "WORD" and t.value.upper() in words

    def eat_op(self, op: str) -> bool:
        if self.at_op(op):
            self.next()
            return True
        return False

    def eat_word(self, *words: str) -> bool:
        if self.at_word(*words):
            self.next()
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.eat_op(op):
            t = self.peek()
            raise ValueError(f"expected {op!r} at position {t.pos}, got {t.value!r}")

    def expect_word(self, word: str) -> None:
        if not self.eat_word(word):
            t = self.peek()
            raise ValueError(f"expected {word} at position {t.pos}, got {t.value!r}")

    # -- prologue ------------------------------------------------------------

    def parse_prologue(self) -> None:
        """PREFIX / BASE declarations and the Turtle ``@prefix`` /
        ``@base`` directives (which end with ``.``): the one prologue of
        queries, updates and documents.  A prefix IRI and every later
        relative IRI resolve against BASE."""
        while self.at_word("PREFIX", "BASE", "@PREFIX", "@BASE"):
            kw = self.next().value.upper()
            name = self.next() if kw.endswith("PREFIX") else None
            if name is not None and (name.kind != "PNAME" or not name.value.endswith(":")):
                raise ValueError(f"PREFIX requires 'name:' at position {name.pos}")
            it = self.next()
            if it.kind != "IRI":
                raise ValueError(f"{kw} requires an IRI at position {it.pos}")
            if name is None:
                self.base = self._iri(it)
            else:
                self.prefixes[name.value[:-1]] = self._iri(it)
            if kw.startswith("@"):
                self.expect_op(".")

    # -- term resolution -----------------------------------------------------

    def _resolve_pname(self, pname: str) -> str:
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            raise ValueError(f"undefined prefix {pfx!r} in {pname!r}")
        return self.prefixes[pfx] + local

    def _iri(self, t: Tok) -> str:
        """The bare IRI an IRI or prefixed-name token names."""
        if t.kind == "PNAME":
            return self._resolve_pname(t.value)
        iri = t.value[1:-1]
        if self.base is None or _SCHEME_RE.match(iri):
            return iri
        return urljoin(self.base, iri)

    def parse_iri(self, what: str) -> str:
        t = self.peek()
        if t.kind not in ("IRI", "PNAME"):
            raise ValueError(f"expected {what} at position {t.pos}, got {t.value!r}")
        self.next()
        return self._iri(t)

    def _literal_term(self, lit: tuple) -> str:
        lex, dt, lang = lit
        if dt is not None:
            return f'"{lex}"^^<{self._iri(dt)}>'
        if lang is not None:
            return f'"{lex}"@{lang}'
        return f'"{lex}"'

    def parse_term(self, position: str) -> str:
        """One RDF term (or variable) in a triple pattern / VALUES row."""
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            return "?" + t.value[1:]
        if t.kind in ("IRI", "PNAME"):
            self.next()
            return self._iri(t)
        if t.kind == "LIT":
            self.next()
            return self._literal_term(t.value)
        if t.kind == "BNODE":
            self.next()
            return t.value
        if t.kind == "NUM":
            self.next()
            return self._num_term(t.value)
        if t.kind == "OP" and t.value in "+-" and self.peek(1).kind == "NUM":
            sign = self.next().value
            return self._num_term(sign + self.next().value)
        if t.kind == "WORD":
            w = t.value
            if w == "a" and position == "predicate":
                self.next()
                return RDF_TYPE
            if w in ("true", "false"):
                self.next()
                return f'"{w}"^^<{XSD}boolean>'
        if t.kind == "OP" and t.value == "[":
            raise ValueError("a blank-node property list is not allowed here")
        if t.kind == "OP" and t.value == "(":
            raise ValueError("collections in query patterns are unsupported")
        raise ValueError(f"cannot parse term at position {t.pos}: {t.value!r}")

    @staticmethod
    def _num_term(num: str) -> str:
        if re.fullmatch(r"[+-]?\d+", num):
            return f'"{num}"^^<{XSD}integer>'
        if "e" in num.lower():
            return f'"{num}"^^<{XSD}double>'
        return f'"{num}"^^<{XSD}decimal>'

    # -- property paths ------------------------------------------------------

    def _parse_path(self) -> str | Path:
        """Path in predicate position → a bare IRI, or the path tree
        de_spark.query.bgp._path_pairs evaluates."""
        parts = [self._path_seq()]
        while self.eat_op("|"):
            parts.append(self._path_seq())
        return parts[0] if len(parts) == 1 else Path("alt", tuple(parts))

    def _path_seq(self) -> str | Path:
        parts = [self._path_elt()]
        while self.eat_op("/"):
            parts.append(self._path_elt())
        return parts[0] if len(parts) == 1 else Path("seq", tuple(parts))

    def _path_elt(self) -> str | Path:
        inv = self.eat_op("^")
        t = self.peek()
        if self.eat_op("("):
            node = self._parse_path()
            self.expect_op(")")
            if isinstance(node, str):
                # a parenthesized IRI stays a path, so data refuses it
                node = Path("seq", (node,))
        elif t.kind in ("IRI", "PNAME"):
            self.next()
            node = self._iri(t)
        elif t.kind == "WORD" and t.value == "a":
            self.next()
            node = RDF_TYPE
        elif self.eat_op("!"):
            # negated property set: !iri, !^iri or !(member|…), and the
            # empty set !() (SPARQL 1.1 grammar rule [96])
            members = []
            if self.eat_op("("):
                if not self.at_op(")"):
                    members.append(self._nps_member())
                    while self.eat_op("|"):
                        members.append(self._nps_member())
                self.expect_op(")")
            else:
                members.append(self._nps_member())
            node = Path("!", tuple(members))
        else:
            raise ValueError(f"cannot parse path at position {t.pos}: {t.value!r}")
        # closure/optional suffix — '?' only when not starting a variable,
        # '+' only when not the sign of an adjacent number object (+5)
        nxt = self.peek(1)
        if self.at_op("*", "?") or (
            self.at_op("+") and not (nxt.kind == "NUM" and nxt.pos == self.peek().pos + 1)
        ):
            node = Path(self.next().value, (node,))
        return Path("inv", (node,)) if inv else node

    def _nps_member(self) -> tuple[str, bool]:
        """``iri`` / ``a`` / ``^iri`` → (iri, inverse).  An inverse
        member matches reverse edges whose predicate is outside the
        inverse subset (SPARQL 1.1 §9.1)."""
        inverse = self.eat_op("^")
        t = self.peek()
        if t.kind in ("IRI", "PNAME"):
            self.next()
            return self._iri(t), inverse
        if t.kind == "WORD" and t.value == "a":
            self.next()
            return RDF_TYPE, inverse
        raise ValueError(f"bad negated-property-set member at position {t.pos}")

    def _parse_verb(self) -> str | Path:
        if self.peek().kind == "VAR":
            return "?" + self.next().value[1:]
        return self._parse_path()

    # -- triples block -------------------------------------------------------

    def _at_term_start(self) -> bool:
        t = self.peek()
        if t.kind in ("VAR", "IRI", "PNAME", "LIT", "NUM", "BNODE"):
            return True
        if t.kind == "WORD" and t.value in ("true", "false"):
            return True
        if t.kind == "OP" and t.value in "+-" and self.peek(1).kind == "NUM":
            return True
        if t.kind == "OP" and t.value in "[(":
            return True  # blank-node property list / collection subject
        return False

    _bnpl_counter: int = 0

    def _fresh_bnpl_var(self) -> str:
        self._bnpl_counter += 1
        return f"?__bnpl{self._bnpl_counter}"

    def _parse_collection(self, sink: list) -> str:
        """``( o1 o2 … )`` in a pattern = fresh variables chained with
        rdf:first/rdf:rest patterns; ``()`` is the rdf:nil constant."""
        self.expect_op("(")
        items: list[str] = []
        while not self.at_op(")"):
            if self.peek().kind == "EOF":
                raise ValueError("unterminated collection in pattern")
            items.append(self._parse_node_term(sink))
        self.next()
        if not items:
            return RDF + "nil"
        head = self._fresh_bnpl_var()
        node = head
        for j, item in enumerate(items):
            sink.append(TriplePattern(node, RDF + "first", item))
            if j == len(items) - 1:
                sink.append(TriplePattern(node, RDF + "rest", RDF + "nil"))
            else:
                nxt = self._fresh_bnpl_var()
                sink.append(TriplePattern(node, RDF + "rest", nxt))
                node = nxt
        return head

    def _parse_node_term(self, sink: list) -> str:
        """Term in subject/object position: plain term, ``[ … ]``
        property list, or ``( … )`` collection."""
        if self.at_op("["):
            return self._parse_bnpl(sink)
        if self.at_op("("):
            return self._parse_collection(sink)
        return self.parse_term("object")

    def _parse_bnpl(self, sink: list) -> str:
        """``[ p o ; … ]`` in a pattern = a fresh non-projected variable
        with the bracketed predicate-object list as extra patterns
        (SPARQL 1.1 blank nodes in queries scope as variables)."""
        self.expect_op("[")
        v = self._fresh_bnpl_var()
        if not self.at_op("]"):
            self._pred_obj_list(v, sink)
        self.expect_op("]")
        return v

    def _pred_obj_list(self, s: str, sink: list) -> None:
        while True:
            p = self._parse_verb()
            while True:
                o = self._parse_node_term(sink)
                sink.append(TriplePattern(s, p, o))
                if self.eat_op(","):
                    continue
                break
            if self.eat_op(";"):
                # allow trailing ';' before '.' or '}' / ']'
                if self.at_op(".", "}", "]") or self.peek().kind == "EOF":
                    break
                continue
            break

    def parse_triples(self, sink: list) -> None:
        """One subject with its predicate-object list(s); appends
        TriplePatterns to ``sink``.  Caller loops over subjects."""
        if self.at_op("["):
            s = self._parse_bnpl(sink)
            # '[ … ] .' — the property list may BE the whole statement
            if self.at_op(".", "}") or self.peek().kind == "EOF":
                return
        elif self.at_op("("):
            s = self._parse_collection(sink)
        else:
            s = self.parse_term("subject")
        self._pred_obj_list(s, sink)

    # -- data: quad blocks and grounding -------------------------------------

    def parse_quads(self, document: bool = False) -> dict[str | None, list]:
        """Triples and graph blocks, as graph → TriplePatterns (None =
        the default graph): the body of INSERT DATA up to its closing
        ``}`` (``GRAPH <g> {…}`` blocks), or with ``document`` a whole
        Turtle / TriG document, which also takes directives between
        statements and the TriG blocks ``<g> {…}`` and ``{…}``."""
        quads: dict[str | None, list] = {}
        while True:
            if document:
                self.parse_prologue()
            if self.peek().kind == "EOF" or (not document and self.at_op("}")):
                return quads
            if self.eat_op("."):
                continue
            if self.eat_word("GRAPH"):
                g = self.parse_iri("a graph IRI")
            elif document and self.at_op("{"):
                g = None
            elif document and self.peek(1).kind == "OP" and self.peek(1).value == "{":
                g = self.parse_iri("a graph IRI")
            else:
                self.parse_triples(quads.setdefault(None, []))
                continue
            sink = quads.setdefault(g, [])
            self.expect_op("{")
            while not self.eat_op("}"):
                if self.peek().kind == "EOF":
                    raise ValueError("unbalanced graph block: missing '}'")
                if not self.eat_op("."):
                    self.parse_triples(sink)

    def ground(self, quads: dict, source: str | None = None) -> dict:
        """The one grounding step of data (SPARQL 1.1 Update §3.1.1:
        QuadData is ground): a variable or property path is an error,
        and each ``?__bnplN`` placeholder of a ``[ … ]`` / ``( … )``
        becomes the blank node ``_:genidN``.  With a ``source`` (the
        update text or the file path) the label also carries
        ``terms.bnode_tag`` of (graph, source)."""
        out: dict = {}
        for g, pats in quads.items():
            tag = "" if source is None else terms.bnode_tag(g, source)

            def fix(term: str) -> str:
                if term.startswith("?__bnpl"):
                    return f"_:genid{term[7:]}{tag}"
                if term.startswith("?"):
                    raise ValueError(f"data requires ground terms; found variable {term}")
                return term

            if any(p.is_path() for p in pats):
                raise ValueError("property paths are not allowed in data")
            out[g] = [TriplePattern(fix(p.s), fix(p.p), fix(p.o)) for p in pats]
        return out

    # -- VALUES --------------------------------------------------------------

    def parse_values(self) -> ValuesNode:
        vars_: list[str] = []
        if self.peek().kind == "VAR":
            vars_.append(self.next().value[1:])
            single = True
        else:
            self.expect_op("(")
            while self.peek().kind == "VAR":
                vars_.append(self.next().value[1:])
            self.expect_op(")")
            single = False
        self.expect_op("{")
        rows: list[list] = []  # None = UNDEF (row binds a var subset)
        while not self.at_op("}"):
            if single:
                if self.eat_word("UNDEF"):
                    rows.append([None])
                else:
                    rows.append([self.parse_term("object")])
            else:
                self.expect_op("(")
                row: list = []
                while not self.at_op(")"):
                    if self.eat_word("UNDEF"):
                        row.append(None)
                    else:
                        row.append(self.parse_term("object"))
                self.expect_op(")")
                if len(row) != len(vars_):
                    raise ValueError(f"VALUES row arity mismatch: {row!r}")
                rows.append(row)
        self.expect_op("}")
        return ValuesNode(vars_, rows)

    # -- expressions ---------------------------------------------------------

    def parse_expr(self):
        return self._or_expr()

    def _or_expr(self):
        e = self._and_expr()
        while self.at_op("||"):
            self.next()
            e = Bin("||", e, self._and_expr())
        return e

    def _and_expr(self):
        e = self._rel_expr()
        while self.at_op("&&"):
            self.next()
            e = Bin("&&", e, self._rel_expr())
        return e

    def _rel_expr(self):
        e = self._add_expr()
        if self.at_op("=", "!=", "<", "<=", ">", ">="):
            op = self.next().value
            return Bin(op, e, self._add_expr())
        if self.at_word("IN", "NOT"):
            neg = self.eat_word("NOT")
            self.expect_word("IN")
            self.expect_op("(")
            items = []
            while not self.at_op(")"):
                items.append(self.parse_term("object"))
                self.eat_op(",")
            self.expect_op(")")
            return InE(e, tuple(items), neg)
        return e

    def _add_expr(self):
        e = self._mul_expr()
        while self.at_op("+", "-"):
            op = self.next().value
            e = Bin(op, e, self._mul_expr())
        return e

    def _mul_expr(self):
        e = self._unary_expr()
        while self.at_op("*", "/"):
            op = self.next().value
            e = Bin(op, e, self._unary_expr())
        return e

    def _unary_expr(self):
        if self.at_op("!"):
            self.next()
            return Un("!", self._unary_expr())
        if self.at_op("-"):
            self.next()
            return Un("-", self._unary_expr())
        if self.at_op("+"):
            self.next()
            return self._unary_expr()
        return self._primary_expr()

    def _primary_expr(self):
        t = self.peek()
        if self.at_op("("):
            self.next()
            e = self.parse_expr()
            self.expect_op(")")
            return e
        if t.kind == "VAR":
            self.next()
            return VarE(t.value[1:])
        if t.kind == "NUM":
            self.next()
            has_exp = "e" in t.value.lower()
            is_int = "." not in t.value and not has_exp
            kind = "int" if is_int else ("dbl" if has_exp else "dec")
            # integer literals keep the exact Python int — float()
            # would round lexicals beyond 2^53 at PARSE time (the
            # exact-arithmetic lane can't recover a mis-parsed
            # constant; VERDICT r5 item 1)
            return NumE(int(t.value) if is_int else float(t.value), is_int, kind)
        if t.kind == "LIT":
            self.next()
            return TermE(self._literal_term(t.value))
        if t.kind in ("IRI", "PNAME"):
            self.next()
            if self.at_op("("):
                raise ValueError(f"unsupported function call: {t.value!r}")
            return TermE(self._iri(t))
        if t.kind == "WORD":
            w = t.value.upper()
            if w in ("TRUE", "FALSE"):
                self.next()
                return BoolE(w == "TRUE")
            if w == "EXISTS":
                self.next()
                return ExistsE(self.parse_group(), neg=False)
            if w == "NOT" and self.peek(1).kind == "WORD" and self.peek(1).value.upper() == "EXISTS":
                self.next()
                self.next()
                return ExistsE(self.parse_group(), neg=True)
            if w in _AGG_FUNCS:
                self.next()
                self.expect_op("(")
                distinct = self.eat_word("DISTINCT")
                expr = None
                if self.at_op("*"):
                    self.next()
                    var = "*"
                elif self.peek().kind == "VAR" and self.peek(1).kind == "OP" and self.peek(1).value == ")":
                    var = self.next().value[1:]
                else:
                    expr = self.parse_expr()
                    var = ""
                self.expect_op(")")
                return AggE(w.lower(), var, distinct, expr)
            if w in _BUILTINS:
                self.next()
                return self._builtin_call(w)
            raise ValueError(f"unsupported expression at position {t.pos}: {t.value!r}")
        raise ValueError(f"cannot parse expression at position {t.pos}: {t.value!r}")

    def _builtin_call(self, name: str) -> Call:
        self.expect_op("(")
        args = []
        if name == "REGEX":
            args.append(self.parse_expr())
            self.expect_op(",")
            args.append(self.parse_expr())
            flags = ""
            if self.eat_op(","):
                ft = self.next()
                if ft.kind != "LIT":
                    raise ValueError("REGEX flags must be a string literal")
                flags = ft.value[0]
            args.append(flags)  # raw string arg
        else:
            while not self.at_op(")"):
                args.append(self.parse_expr())
                if not self.eat_op(","):
                    break
        self.expect_op(")")
        return Call(name, tuple(args))

    # -- FILTER constraint ---------------------------------------------------

    def parse_constraint(self):
        if self.at_word("EXISTS"):
            self.next()
            return ExistsE(self.parse_group(), neg=False)
        if self.at_word("NOT"):
            self.next()
            self.expect_word("EXISTS")
            return ExistsE(self.parse_group(), neg=True)
        if self.at_op("("):
            self.next()
            e = self.parse_expr()
            self.expect_op(")")
            return e
        if self.peek().kind == "WORD" and self.peek().value.upper() in _BUILTINS:
            return self._builtin_call(self.next().value.upper())
        t = self.peek()
        raise ValueError(f"cannot parse FILTER constraint at position {t.pos}")

    # -- group graph pattern -------------------------------------------------

    def parse_group(self):
        """``{ … }`` → algebra node (SPARQL 1.1 §18.2 translation).
        A group whose body starts with SELECT is a SubSelect — it
        occupies the whole group (grammar: GroupGraphPattern ::=
        '{' (SubSelect | GroupGraphPatternSub) '}')."""
        self.expect_op("{")
        if self.at_word("SELECT"):
            sub = self._select_query()
            self.expect_op("}")
            return SubQueryNode(sub)
        acc = None
        pending: list[TriplePattern] = []
        filters: list = []

        def join(left, right):
            if left is None:
                return right
            return JoinNode(left, right)

        def flush():
            nonlocal acc, pending
            if pending:
                acc = join(acc, BGPNode(pending))
                pending = []

        while not self.at_op("}"):
            if self.peek().kind == "EOF":
                raise ValueError("unbalanced group: missing '}'")
            if self.at_word("OPTIONAL"):
                self.next()
                flush()
                g = self.parse_group()
                fs: list = []
                if isinstance(g, FilterNode):
                    fs, g = g.exprs, g.child
                acc = LeftJoinNode(acc, g, fs)
            elif self.at_word("MINUS"):
                self.next()
                flush()
                acc = MinusNode(acc, self.parse_group())
            elif self.at_word("FILTER"):
                self.next()
                filters.append(self.parse_constraint())
            elif self.at_word("BIND"):
                self.next()
                flush()
                self.expect_op("(")
                e = self.parse_expr()
                self.expect_word("AS")
                vt = self.next()
                if vt.kind != "VAR":
                    raise ValueError("BIND requires 'AS ?var'")
                self.expect_op(")")
                acc = ExtendNode(acc, vt.value[1:], e)
            elif self.at_word("VALUES"):
                self.next()
                acc = join(acc, self.parse_values())
            elif self.at_word("GRAPH"):
                self.next()
                if self.peek().kind == "VAR":
                    gterm = "?" + self.next().value[1:]
                else:
                    gterm = self.parse_iri("a variable or IRI after GRAPH")
                acc = join(acc, GraphScopeNode(gterm, self.parse_group()))
            elif self.at_word("SERVICE"):
                raise ValueError("SERVICE is unsupported")
            elif self.at_op("{"):
                branches = [self.parse_group()]
                while self.eat_word("UNION"):
                    branches.append(self.parse_group())
                node = branches[0] if len(branches) == 1 else UnionNode(branches)
                acc = join(acc, node)
            elif self.at_op("."):
                self.next()
            elif self._at_term_start():
                self.parse_triples(pending)
            else:
                t = self.peek()
                raise ValueError(
                    f"unexpected token in group at position {t.pos}: {t.value!r}"
                )
        self.expect_op("}")
        flush()
        if filters:
            return FilterNode(filters, acc)
        return acc

    # -- query forms ---------------------------------------------------------

    def parse_query(self) -> ParsedQuery:
        self.parse_prologue()
        if self.at_word("SELECT"):
            return self._select_query()
        if self.at_word("ASK"):
            return self._ask_query()
        if self.at_word("CONSTRUCT"):
            return self._construct_query()
        if self.at_word("DESCRIBE"):
            return self._describe_query()
        t = self.peek()
        raise ValueError(f"expected a query form at position {t.pos}: {t.value!r}")

    def _select_query(self) -> ParsedQuery:
        self.expect_word("SELECT")
        q = ParsedQuery(form="select")
        if self.eat_word("DISTINCT"):
            q.distinct = True
        else:
            self.eat_word("REDUCED")
        star = False
        while True:
            t = self.peek()
            if t.kind == "VAR":
                self.next()
                q.variables.append(t.value[1:])
            elif self.at_op("*"):
                self.next()
                star = True
            elif self.at_op("("):
                self.next()
                self._projection_item(q)
                self.expect_op(")")
            else:
                break
        if star:
            q.variables = []
        self._where_and_modifiers(q)
        return q

    def _projection_item(self, q: ParsedQuery) -> None:
        """Inside '(' … ')': aggregate or plain expression, AS ?alias."""
        t = self.peek()
        if t.kind == "WORD" and t.value.upper() in _AGG_FUNCS:
            func = self.next().value.upper()
            self.expect_op("(")
            distinct = self.eat_word("DISTINCT")
            expr = None
            if self.at_op("*"):
                self.next()
                var = "*"
            elif self.peek().kind == "VAR" and (
                self.peek(1).kind == "OP" and self.peek(1).value in (")", ";")
            ):
                var = self.next().value[1:]
            else:
                expr = self.parse_expr()
                var = ""
            sep = " "
            if self.eat_op(";"):
                self.expect_word("SEPARATOR")
                self.expect_op("=")
                st = self.next()
                if st.kind != "LIT":
                    raise ValueError("SEPARATOR requires a string literal")
                sep = st.value[0]
            self.expect_op(")")
            self.expect_word("AS")
            at = self.next()
            if at.kind != "VAR":
                raise ValueError("aggregate projection requires 'AS ?alias'")
            q.aggregates.append(
                Aggregate(func.lower(), var, at.value[1:], distinct, sep, expr)
            )
        else:
            e = self.parse_expr()
            self.expect_word("AS")
            at = self.next()
            if at.kind != "VAR":
                raise ValueError("expression projection requires 'AS ?alias'")
            q.select_exprs.append((at.value[1:], e))

    def _ask_query(self) -> ParsedQuery:
        self.expect_word("ASK")
        q = ParsedQuery(form="ask")
        self.eat_word("WHERE")
        q.algebra = self.parse_group()
        self._modifiers(q)
        return q

    def _construct_query(self) -> ParsedQuery:
        self.expect_word("CONSTRUCT")
        q = ParsedQuery(form="construct")
        if self.at_word("WHERE"):
            # CONSTRUCT WHERE { triples } shorthand: the WHERE pattern
            # (plain triples only) doubles as the template
            self.next()
            q.algebra = self.parse_group()
            node = q.algebra
            if isinstance(node, FilterNode) or not isinstance(node, BGPNode):
                raise ValueError(
                    "CONSTRUCT WHERE shorthand allows only plain triple patterns"
                )
            if any(p.is_path() for p in node.patterns):
                raise ValueError(
                    "CONSTRUCT WHERE shorthand allows only plain triple patterns"
                )
            q.construct_template = list(node.patterns)
            self._modifiers(q)
            return q
        template: list[TriplePattern] = []
        self.expect_op("{")
        while not self.at_op("}"):
            if self.at_op("."):
                self.next()
                continue
            self.parse_triples(template)
        self.expect_op("}")
        if any(p.is_path() for p in template):
            raise ValueError("property paths are not allowed in a CONSTRUCT template")
        q.construct_template = template
        self._where_and_modifiers(q)
        return q

    def _describe_query(self) -> ParsedQuery:
        self.expect_word("DESCRIBE")
        q = ParsedQuery(form="describe")
        targets: list[str] = []
        while True:
            t = self.peek()
            if t.kind == "VAR":
                self.next()
                targets.append("?" + t.value[1:])
            elif t.kind in ("IRI", "PNAME"):
                self.next()
                targets.append(self._iri(t))
            else:
                break
        if not targets:
            raise ValueError("DESCRIBE needs at least one variable or IRI")
        q.describe_targets = targets
        if self.at_word("WHERE") or self.at_op("{"):
            self.eat_word("WHERE")
            q.algebra = self.parse_group()
        self._modifiers(q)
        return q

    def _where_and_modifiers(self, q: ParsedQuery) -> None:
        self.eat_word("WHERE")
        q.algebra = self.parse_group()
        self._modifiers(q)

    def _modifiers(self, q: ParsedQuery) -> None:
        # a subquery's modifiers stop at the enclosing group's '}'
        while self.peek().kind != "EOF" and not self.at_op("}"):
            if self.at_word("GROUP"):
                self.next()
                self.expect_word("BY")
                # GroupCondition ::= Var | BuiltInCall
                #                  | '(' Expression ('AS' Var)? ')'
                n_grp = 0
                while True:
                    if self.peek().kind == "VAR":
                        q.group_by.append(self.next().value[1:])
                    elif self.at_op("("):
                        self.next()
                        e = self.parse_expr()
                        alias = None
                        if self.eat_word("AS"):
                            at = self.next()
                            if at.kind != "VAR":
                                raise ValueError("GROUP BY (expr AS ?var) requires a variable")
                            alias = at.value[1:]
                        self.expect_op(")")
                        q.group_by.append((alias, e))
                    elif (
                        self.peek().kind == "WORD"
                        and self.peek().value.upper() in _BUILTINS
                    ):
                        q.group_by.append(
                            (None, self._builtin_call(self.next().value.upper()))
                        )
                    else:
                        break
                    n_grp += 1
                if not n_grp:
                    raise ValueError("GROUP BY requires at least one condition")
            elif self.at_word("HAVING"):
                self.next()
                q.having.append(self.parse_constraint())
            elif self.at_word("ORDER"):
                self.next()
                self.expect_word("BY")
                found = False
                # OrderCondition ::= (ASC|DESC) '(' Expression ')'
                #                  | Var | BuiltInCall | '(' Expression ')'
                while True:
                    if self.at_word("ASC", "DESC"):
                        desc = self.next().value.upper() == "DESC"
                        self.expect_op("(")
                        e = self.parse_expr()
                        self.expect_op(")")
                        key = e.name if isinstance(e, VarE) else e
                        q.order_by.append((key, desc))
                        found = True
                    elif self.peek().kind == "VAR":
                        q.order_by.append((self.next().value[1:], False))
                        found = True
                    elif self.at_op("("):
                        self.next()
                        e = self.parse_expr()
                        self.expect_op(")")
                        key = e.name if isinstance(e, VarE) else e
                        q.order_by.append((key, False))
                        found = True
                    elif (
                        self.peek().kind == "WORD"
                        and self.peek().value.upper() in _BUILTINS
                    ):
                        q.order_by.append(
                            (self._builtin_call(self.next().value.upper()), False)
                        )
                        found = True
                    else:
                        break
                if not found:
                    raise ValueError("ORDER BY requires at least one sort key")
            elif self.at_word("LIMIT"):
                self.next()
                q.limit = int(self.next().value)
            elif self.at_word("OFFSET"):
                self.next()
                q.offset = int(self.next().value)
            elif self.at_word("VALUES"):
                self.next()
                vn = self.parse_values()
                q.algebra = JoinNode(q.algebra, vn) if q.algebra is not None else vn
            else:
                t = self.peek()
                raise ValueError(
                    f"unexpected token after WHERE at position {t.pos}: {t.value!r}"
                )


def parse_sparql(query: str) -> ParsedQuery:
    return Parser(query).parse_query()
