"""Basic-graph-pattern compiler: triple patterns → DataFrame join chain.

The reference gets BGP evaluation from oxigraph's spareval, which probes
the single physical access path per pattern with bindings substituted
(index nested loop, src/sparql.rs:419-489).  Spark-first restatement:
each pattern is a filtered view of the uid-encoded triples table; shared
variables become integer equi-join keys; Catalyst + AQE pick
broadcast/sort-merge/skew handling per join.

Pattern ordering (SURVEY.md §4 P7): patterns are compiled
most-selective-first — more bound positions first, predicate-bound
before object-bound before subject-bound among equals — the classic
SPARQL BGP heuristic.  This only sets the initial join order; AQE may
still re-plan at runtime.

Variables join on global term uids, so subject/object/predicate
positions are directly comparable (same term string ⇒ same uid; see
de_spark.dictionary docstring).

Property paths (SPARQL 1.1 §9.1: ``/ | ^ + * ?`` and negated property
sets) reach this module as the parser's :class:`Path` tree, and
``_path_pairs`` evaluates it by structural recursion, one case per
operator, as spareval evaluates spargebra's path expressions
(src/sparql.rs:520).

Property-path closures (``+``/``*``) and DESCRIBE's blank-node
expansion share one fixpoint, ``_fixpoint``: the frontier and the seen
set live on the driver, and each round sends Spark only the frontier's
node uids and collects that round's step rows.  Nothing is persisted
and there is no round cap; the closure's rows cross the driver once,
as the emitted answer does.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark.graph import KnowledgeGraph


@dataclass(frozen=True)
class Path:
    """A property path in predicate position, as the parser builds it
    (SPARQL 1.1 §9.1).  ``op`` is ``seq`` or ``alt`` over child paths;
    ``inv``, ``+``, ``*`` or ``?`` over one child path; or ``!`` (a
    negated property set) over ``(iri, inverse)`` members.  A child is
    a ``Path`` or a bare IRI string (a one-IRI step).  The reference
    gets the same tree from spargebra and evaluates it with spareval
    (src/sparql.rs:520); zero-length matches pair every graph term
    (subject or object occurrence) with itself, per SPARQL 1.1
    ArbitraryLengthPath/ZeroOrOnePath."""

    op: str
    args: tuple


@dataclass(frozen=True)
class TriplePattern:
    """Each position is '?name' for a variable or an HDT-convention
    constant term string.  The predicate may also be a :class:`Path`;
    a plain one-IRI predicate stays a string."""

    s: str
    p: str | Path
    o: str
    graph: str | None = None  # F2: constant graph IRI, or '?var' to BIND the graph name

    def is_path(self) -> bool:
        return isinstance(self.p, Path)

    def selectivity_key(self) -> tuple:
        # more bound = earlier; tie-break: bound-p+o most selective
        # shape.  A path counts as a bound predicate.
        s, o = (0 if t.startswith("?") else 1 for t in (self.s, self.o))
        p = 1 if self.is_path() or not self.p.startswith("?") else 0
        return (-(s + p + o), -o, -p, -s)


# ---------------------------------------------------------------------------
# Solution frames
# ---------------------------------------------------------------------------


class _Sols(NamedTuple):
    """Compiled solutions: the frame and the kind of each variable
    column, in column order, known from the algebra: ``uid`` (a
    dictionary uid), ``term`` (an HDT-convention term string) or
    ``value`` (a plain number, a subquery's COUNT alias)."""

    df: DataFrame
    kinds: dict[str, str]


def _join(l: _Sols, r: _Sols, how: str = "inner") -> _Sols:
    """``l`` joined with ``r`` on the variables they share, of one kind
    (a cross join, or a join on true, when they share none).  Spark
    puts the shared columns first, then l's others, then r's unless
    the join is a semi or anti join."""
    shared = [v for v in r.kinds if v in l.kinds]
    if shared:
        df = l.df.join(r.df, shared, how)
    elif how == "inner":
        df = l.df.crossJoin(r.df)
    else:
        df = l.df.join(r.df, F.lit(True), how)
    kinds = {v: l.kinds[v] for v in shared} | l.kinds
    if how not in ("left_semi", "left_anti"):
        kinds |= r.kinds
    return _Sols(df, kinds)


# ---------------------------------------------------------------------------
# Property paths
# ---------------------------------------------------------------------------


def _graph_var(graph: str | None) -> bool:
    """Whether a pattern's graph is GRAPH ?var, whose pair relations
    carry the graph name as a column ``g``."""
    return graph is not None and graph.startswith("?")


def _step_join(l: DataFrame, r: DataFrame, graph: str | None) -> DataFrame:
    """Compose two pair relations: l.b = r.a (and same graph when a
    GRAPH ?var column rides along — paths never cross named graphs)."""
    cond = F.col("l.b") == F.col("r.a")
    sel = [F.col("l.a").alias("a"), F.col("r.b").alias("b")]
    if _graph_var(graph):
        cond = cond & (F.col("l.g") == F.col("r.g"))
        sel.append(F.col("l.g").alias("g"))
    return l.alias("l").join(r.alias("r"), cond).select(*sel)


def _swap(pairs: DataFrame, graph: str | None) -> DataFrame:
    sel = [F.col("b").alias("a"), F.col("a").alias("b")]
    if _graph_var(graph):
        sel.append(F.col("g"))
    return pairs.select(*sel)


def _uid_in(col: str, uids: list[int]) -> Column:
    """``col IN (uids)`` as one literal list, which reaches the Parquet
    scan (one expression parse, not one py4j call per literal as with
    ``isin``).  An empty list matches nothing."""
    if not uids:
        return F.lit(False)
    return F.expr(f"{col} IN ({','.join(map(str, uids))})")


def _seed_filter(pairs: DataFrame, col: str, seeds: DataFrame | list[int]) -> DataFrame:
    """Restrict one endpoint column to a node set.  A uid list (a bound
    constant, or a fixpoint round's frontier) becomes a literal IN
    filter and costs no join; a node frame (one column 'n') becomes a
    semi join, and AQE picks its strategy."""
    if isinstance(seeds, list):
        return pairs.where(_uid_in(col, seeds))
    return pairs.join(seeds.select(F.col("n").alias(col)), col, "left_semi")


def _local_relation(spark: SparkSession, schema: pa.Schema, rows) -> DataFrame:
    """Driver-side rows as an Arrow-built LocalRelation: no Python
    worker runs to read it back, and the planner sees its true size."""
    table = pa.table(list(zip(*rows)) or [[]] * len(schema), schema=schema)
    return spark.createDataFrame(table)


def _fixpoint(
    start: DataFrame, expand: Callable[[list[int]], DataFrame], graph: str | None = None
) -> DataFrame:
    """Semi-naive closure with the frontier and the seen set held on
    the driver.  Rows are ``(a, b)`` — an origin and a node reached
    from it — plus the graph name ``g`` under GRAPH ?var (``graph``),
    so paths never cross named graphs.

    ``start`` (the first round's rows) is collected once.  Each round
    calls ``expand(nodes)`` with the frontier's nodes as a uid list;
    it returns the step rows whose ``a`` is in ``nodes``.  One
    ``collect()`` brings them back, the driver composes them with the
    frontier, and rows already seen are dropped; the loop stops when a
    round adds none.  ``seen`` grows every round and is finite, so no
    round cap is needed.  Every round runs a Spark job in the caller's
    job group, so cancelling the group stops the closure within one
    round, and nothing is persisted.  The result is built on the
    driver as a local relation: a one-leaf plan whatever the depth.
    This is spareval's per-node ArbitraryLengthPath evaluation
    (src/sparql.rs:520) with one Spark round per path length instead
    of one probe per node."""
    keys = ["a", "b", "g"] if _graph_var(graph) else ["a", "b"]
    seen = {tuple(r) for r in start.select(*keys).collect()}
    frontier = seen
    while frontier:
        origins = defaultdict(list)
        for a, b, *g in frontier:
            origins[(b, *g)].append(a)
        nodes = list({b for b, *_ in origins})
        new = {
            (a, b, *g)
            for src, b, *g in expand(nodes).select(*keys).collect()
            for a in origins.get((src, *g), ())
        } - seen
        seen |= new
        frontier = new
    schema = pa.schema([(k, pa.string() if k == "g" else pa.int64()) for k in keys])
    return _local_relation(start.sparkSession, schema, seen)


def _scoped_triples(kg: KnowledgeGraph, graph: str | None) -> DataFrame:
    """The fact table a path reads: pruned to GRAPH <g>; whole under
    GRAPH ?var (rows carry their graph) and in the default union."""
    if graph is None or _graph_var(graph):
        return kg.triples
    return kg.triples.where(F.col("graph") == graph)


def _edge_pairs(triples: DataFrame, graph: str | None) -> DataFrame:
    """Triples as (a, b) = (subject, object) pairs, plus the graph name
    ``g`` under GRAPH ?var."""
    sel = [F.col("s_id").alias("a"), F.col("o_id").alias("b")]
    if _graph_var(graph):
        sel.append(F.col("graph").alias("g"))
    return triples.select(*sel)


def _graph_nodes(
    kg: KnowledgeGraph, graph: str | None, seed: DataFrame | list[int] | None = None
) -> DataFrame:
    """All graph terms (subject or object occurrences) as identity
    pairs (n, n) — the zero-length component of ``*``/``?`` paths
    (SPARQL 1.1 ArbitraryLengthPath includes the zero-step match).
    With a seed set, only the seeded nodes' identity rows.  Under
    GRAPH ?var the identity rows carry their graph name, scoped per
    graph."""
    graph_var = _graph_var(graph)
    t = _scoped_triples(kg, graph)
    gcols = [F.col("graph")] if graph_var else []
    nodes = (
        t.select(F.col("s_id").alias("n"), *gcols)
        .unionByName(t.select(F.col("o_id").alias("n"), *gcols))
        .dropDuplicates()
    )
    if seed is not None:
        nodes = _seed_filter(nodes, "n", seed)
    out = [F.col("n").alias("a"), F.col("n").alias("b")]
    if graph_var:
        out.append(F.col("graph").alias("g"))
    return nodes.select(*out)


def _nodes_of(pairs: DataFrame, col: str) -> DataFrame:
    return pairs.select(F.col(col).alias("n")).dropDuplicates()


def _iri_pairs(kg: KnowledgeGraph, iri: str, graph: str | None) -> DataFrame:
    """One IRI step: the pairs of the triples under that predicate."""
    return _edge_pairs(kg.pattern(p=iri, graph=None if _graph_var(graph) else graph), graph)


def _seed_ends(
    pairs: DataFrame, seed_a: DataFrame | list[int] | None, seed_b: DataFrame | list[int] | None
) -> DataFrame:
    if seed_a is not None:
        pairs = _seed_filter(pairs, "a", seed_a)
    if seed_b is not None:
        pairs = _seed_filter(pairs, "b", seed_b)
    return pairs


def _nps_pairs(
    kg: KnowledgeGraph,
    members: tuple[tuple[str, bool], ...],
    graph: str | None,
    seed_a: DataFrame | list[int] | None,
    seed_b: DataFrame | list[int] | None,
) -> DataFrame:
    """A negated property set: the (graph-pruned) fact table under a
    literal ``p_id NOT IN (…)`` over the members the dictionary holds;
    an absent member excludes nothing (SPARQL 1.1
    PathNegatedPropertySet).  Forward members exclude forward edges;
    inverse members ``^iri`` exclude reverse edges, which swap; a mixed
    set unions both sides (SPARQL 1.1 §9.1 NPS translation), and the
    empty set ``!()`` matches every forward edge."""
    t = _scoped_triples(kg, graph)
    fwd = [iri for iri, inverse in members if not inverse]
    inv = [iri for iri, inverse in members if inverse]
    sides = [(fwd, False)] if fwd or not inv else []
    if inv:
        sides.append((inv, True))
    out = None
    for iris, swap in sides:
        excluded = [u for iri in iris if (u := kg.uids[iri]) is not None]
        p = _edge_pairs(t.where(~_uid_in("p_id", excluded)), graph)
        p = _seed_ends(_swap(p, graph) if swap else p, seed_a, seed_b)
        out = p if out is None else out.unionByName(p)
    return out


def _path_pairs(
    kg: KnowledgeGraph,
    path: str | Path,
    graph: str | None = None,
    seed_a: DataFrame | list[int] | None = None,
    seed_b: DataFrame | list[int] | None = None,
) -> DataFrame:
    """Compile a path tree to (a, b) uid pairs, one case per ``op``.

    ``seed_a`` / ``seed_b`` restrict an endpoint: a one-column 'n' node
    frame, or a uid list (a bound constant, or a fixpoint round's
    frontier).  A bound
    subject/object pushes INTO the evaluation — sequences chain the
    restriction step-to-step, an inverse swaps the seeds, and a
    ``+``/``*`` closure starts its ``_fixpoint`` from the seed's step
    rows, evaluating the step for each round's frontier only (VERDICT
    r3 item 1: `<s> knows+ ?o` must not pay the whole relation's
    closure).  An unseeded closure starts from the whole step
    relation."""
    if isinstance(path, str):
        return _seed_ends(_iri_pairs(kg, path, graph), seed_a, seed_b)
    op, args = path.op, path.args
    if op == "!":
        return _nps_pairs(kg, args, graph, seed_a, seed_b)
    if op == "inv":
        return _swap(_path_pairs(kg, args[0], graph, seed_b, seed_a), graph)
    # bag semantics for | and / (SPARQL PathAlt/PathSequence); only the
    # +/*/? closures are set-based (ArbitraryLengthPath), per SPARQL 1.1
    if op == "alt":
        out = _path_pairs(kg, args[0], graph, seed_a, seed_b)
        for alt in args[1:]:
            out = out.unionByName(_path_pairs(kg, alt, graph, seed_a, seed_b))
        return out
    if op == "seq":
        if len(args) == 1:
            # a parenthesized one-IRI group
            return _path_pairs(kg, args[0], graph, seed_a, seed_b)
        if seed_a is not None:
            # left-to-right: each step restricted to the previous
            # step's reached nodes, so closures inside the sequence
            # stay seeded too (never a full-relation closure)
            out = _path_pairs(kg, args[0], graph, seed_a=seed_a)
            for step in args[1:]:
                nxt = _path_pairs(kg, step, graph, seed_a=_nodes_of(out, "b"))
                out = _step_join(out, nxt, graph)
            if seed_b is not None:
                out = _seed_filter(out, "b", seed_b)
            return out
        if seed_b is not None:
            # bound object only: chain right-to-left through inverses
            out = _path_pairs(kg, args[-1], graph, seed_b=seed_b)
            for step in reversed(args[:-1]):
                prv = _path_pairs(kg, step, graph, seed_b=_nodes_of(out, "a"))
                out = _step_join(prv, out, graph)
            return out
        out = _path_pairs(kg, args[0], graph)
        for step in args[1:]:
            out = _step_join(out, _path_pairs(kg, step, graph), graph)
        return out

    if op not in ("+", "*", "?"):
        raise ValueError(f"unknown property path operator {op!r}")
    (child,) = args
    if isinstance(child, str):
        # built once, so a closure round adds only its frontier filter
        iri_pairs = _iri_pairs(kg, child, graph)
        base = lambda sa, sb: _seed_ends(iri_pairs, sa, sb)
    else:
        base = lambda sa, sb: _path_pairs(kg, child, graph, sa, sb)
    if op == "?":
        pairs = base(seed_a, seed_b)
    elif seed_a is None and seed_b is not None:
        # bound object only: the same fixpoint over swapped pairs
        swap = lambda pairs: _swap(pairs, graph)
        pairs = swap(_fixpoint(swap(base(None, seed_b)), lambda n: swap(base(None, n)), graph))
    else:
        # a bound subject seeds the start; var–var starts from the
        # whole step relation
        pairs = _fixpoint(base(seed_a, None), lambda nodes: base(nodes, None), graph)
    if op != "+":
        # zero-length matches: * and ? add the identity pairs
        seed = seed_a if seed_a is not None else seed_b
        pairs = pairs.unionByName(_graph_nodes(kg, graph, seed)).dropDuplicates()
    if seed_a is not None and seed_b is not None:
        pairs = _seed_filter(pairs, "b", seed_b)
    return pairs


def _compile_path(kg: KnowledgeGraph, pat: TriplePattern) -> DataFrame:
    """Path pattern → DataFrame of the pattern's variable columns.
    Bound endpoints become SEEDS pushed into the path evaluation (a
    constant subject/object, as a uid list from the request's term map,
    restricts every step and seeds closures), not a post-hoc filter
    over the full relation.  GRAPH ?var threads a graph-name column
    through every step and closure (paths never cross named graphs; the
    var binds the graph NAME string, like the plain-pattern F2 form)."""

    def _seed_uids(term: str) -> list[int]:
        uid = kg.uids[term]
        return [] if uid is None else [uid]

    seed_a = None if pat.s.startswith("?") else _seed_uids(pat.s)
    seed_b = None if pat.o.startswith("?") else _seed_uids(pat.o)
    pairs = _path_pairs(kg, pat.p, pat.graph, seed_a, seed_b)
    cols = []
    if _graph_var(pat.graph):
        cols.append(F.col("g").alias(pat.graph[1:]))
    if pat.s.startswith("?"):
        cols.append(F.col("a").alias(pat.s[1:]))
    if pat.o.startswith("?"):
        if pat.o == pat.s:
            pairs = pairs.where(F.col("a") == F.col("b"))
        else:
            cols.append(F.col("b").alias(pat.o[1:]))
    if not cols:
        return pairs.select(F.lit(1).alias("__exists")).limit(1)
    return pairs.select(*cols)


def _pattern_kinds(pat: TriplePattern) -> dict[str, str]:
    """The variable columns of one compiled pattern (_compile_one) and
    their kinds; none for a fully bound one, which holds ``__exists``."""
    kinds = {pat.graph[1:]: "term"} if _graph_var(pat.graph) else {}
    for t in (pat.s, pat.o) if pat.is_path() else (pat.s, pat.p, pat.o):
        if t.startswith("?"):
            kinds.setdefault(t[1:], "uid")
    return kinds


def _compile_one(kg: KnowledgeGraph, pat: TriplePattern) -> DataFrame:
    """One pattern → DataFrame whose columns are the pattern's variable
    names (uid-valued)."""
    if pat.is_path():
        return _compile_path(kg, pat)
    graph_var = _graph_var(pat.graph)
    df = kg.pattern(
        s=None if pat.s.startswith("?") else pat.s,
        p=None if pat.p.startswith("?") else pat.p,
        o=None if pat.o.startswith("?") else pat.o,
        graph=None if graph_var else pat.graph,  # GRAPH <g> → partition pruning
    )
    cols = []
    if graph_var:
        # GRAPH ?g binds the graph NAME — a string column (graph names
        # are not dictionary terms), joined/projected as-is and skipped
        # by the uid decode
        cols.append(F.col("graph").alias(pat.graph[1:]))
    seen: dict[str, str] = {}
    for pos, term in (("s_id", pat.s), ("p_id", pat.p), ("o_id", pat.o)):
        if term.startswith("?"):
            v = term[1:]
            if v in seen:
                # repeated variable within one pattern: equality filter
                df = df.where(F.col(pos) == F.col(seen[v]))
            else:
                seen[v] = pos
                cols.append(F.col(pos).alias(v))
    if cols:
        return df.select(*cols)
    # fully bound pattern: contributes the empty binding once if matched
    return df.select(F.lit(1).alias("__exists")).limit(1)


def _path_iris(path: str | Path):
    """The IRIs of a predicate: itself when it is one IRI, else the
    IRI steps and negated-set members of its path tree."""
    if isinstance(path, str):
        yield path
    elif path.op == "!":
        yield from (iri for iri, _ in path.args)
    else:
        for arg in path.args:
            yield from _path_iris(arg)


def pattern_terms(patterns: list[TriplePattern]) -> set[str]:
    """The dictionary constants of triple patterns: bound subjects and
    objects, constant predicates, and the IRIs of property paths
    (atoms and negated-set members).  Graph names are not dictionary
    terms."""
    out: set[str] = set()
    for pat in patterns:
        out.update(t for t in (pat.s, pat.o) if not t.startswith("?"))
        if pat.is_path() or not pat.p.startswith("?"):
            out.update(_path_iris(pat.p))
    return out


def compile_bgp(kg: KnowledgeGraph, patterns: list[TriplePattern]) -> DataFrame:
    """BGP over the default union graph → DataFrame of uid-valued
    variable columns (a GRAPH ?var column holds the graph name)."""
    return _compile_bgp(kg, patterns).df


def _compile_bgp(kg: KnowledgeGraph, patterns: list[TriplePattern]) -> _Sols:
    """compile_bgp with the kinds of its variable columns, which the
    patterns fix: a GRAPH ?var is a term, every other variable a uid.

    Every constant is bound by its uid from the request's term map (one
    lookup for the whole request; here, for the BGP alone, when called
    outside one): a bound position is a literal filter at the Parquet
    scan, and a constant the dictionary lacks empties its pattern
    without a scan.

    Ordering: statistics first — patterns with a constant predicate are
    ranked by that predicate's actual triple count from the pred_stats
    table (a driver-side dict), so a hub predicate like rdf:type sinks
    to the end of the join chain; the static bound-position heuristic
    breaks ties and covers stat-less patterns."""
    kg = kg.with_terms(pattern_terms(patterns))
    cards = kg.predicate_cardinalities()
    big = max(cards.values(), default=0) + 1

    def key(p: TriplePattern):
        if p.is_path():
            est = big
        elif p.p.startswith("?"):
            est = big * 3
        elif not cards:
            est = big
        else:
            uid = kg.uids[p.p]
            est = 0 if uid is None else cards.get(uid, 0)
        # fully-bound or o-bound patterns cut below predicate degree
        if not p.o.startswith("?"):
            est = max(est // 100, 1)
        if not p.s.startswith("?"):
            est = max(est // 100, 1)
        return (est, p.selectivity_key())

    assert patterns, "empty BGP"
    parts = [_Sols(_compile_one(kg, p), _pattern_kinds(p)) for p in sorted(patterns, key=key)]
    sols = reduce(_join, parts)
    if any(not p.kinds for p in parts):
        return _Sols(sols.df.drop("__exists"), sols.kinds)
    return sols
