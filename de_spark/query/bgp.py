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

Property-path closures (``+``/``*``) and DESCRIBE's blank-node
expansion share one fixpoint, ``_fixpoint``: the frontier and the seen
set live on the driver, and each round sends Spark only the frontier's
node uids and collects that round's step rows.  Nothing is persisted
and there is no round cap; the closure's rows cross the driver once,
as the emitted answer does.
"""

from __future__ import annotations

import re
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark.graph import KnowledgeGraph


@dataclass(frozen=True)
class TriplePattern:
    """Each position is '?name' for a variable or an HDT-convention
    constant term string.  The predicate may also be a PROPERTY PATH,
    encoded as ``path:<expr>`` with IRIs in angle brackets and the
    operators ``/`` (sequence), ``|`` (alternative), ``^`` (inverse),
    ``+`` (one-or-more), ``*`` (zero-or-more), ``?`` (zero-or-one) and
    negated property sets ``!(<a>|<b>)`` —
    e.g. ``path:<http://a>/^<http://b>+``.  The reference gets full
    SPARQL 1.1 paths from spareval (src/sparql.rs:520); zero-length
    matches pair every graph term (subject or object occurrence) with
    itself, per SPARQL 1.1 ArbitraryLengthPath/ZeroOrOnePath."""

    s: str
    p: str
    o: str
    graph: str | None = None  # F2: constant graph IRI, or '?var' to BIND the graph name

    def is_path(self) -> bool:
        return self.p.startswith("path:")

    def vars(self) -> list[str]:
        return [t[1:] for t in (self.s, self.p, self.o) if t.startswith("?")]

    def bound_count(self) -> int:
        return sum(0 if t.startswith("?") else 1 for t in (self.s, self.p, self.o))

    def selectivity_key(self) -> tuple:
        # more bound = earlier; tie-break: bound-p+o most selective shape
        bound = tuple(0 if t.startswith("?") else 1 for t in (self.s, self.p, self.o))
        return (-self.bound_count(), -bound[2], -bound[1], -bound[0])


# ---------------------------------------------------------------------------
# Property paths (SPARQL 1.1 subset: / | ^ + over IRIs)
# ---------------------------------------------------------------------------

_PATH_ATOM = re.compile(r"\s*(\^)?\s*<([^>]*)>\s*([+*?])?\s*")


def _split_top(expr: str, op: str) -> list[str]:
    """Split on ``op`` at paren depth 0, never inside <IRI> brackets
    (IRIs contain '/' and may contain '|')."""
    parts, depth, cur = [], 0, []
    in_iri = False
    for ch in expr:
        if ch == "<":
            in_iri = True
        elif ch == ">":
            in_iri = False
        elif not in_iri:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
        if ch == op and depth == 0 and not in_iri:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _has_g(pairs: DataFrame) -> bool:
    return "g" in pairs.columns


def _step_join(l: DataFrame, r: DataFrame) -> DataFrame:
    """Compose two pair relations: l.b = r.a (and same graph when a
    GRAPH ?var column rides along — paths never cross named graphs)."""
    cond = F.col("l.b") == F.col("r.a")
    sel = [F.col("l.a").alias("a"), F.col("r.b").alias("b")]
    if _has_g(l):
        cond = cond & (F.col("l.g") == F.col("r.g"))
        sel.append(F.col("l.g").alias("g"))
    return l.alias("l").join(r.alias("r"), cond).select(*sel)


def _swap(pairs: DataFrame) -> DataFrame:
    sel = [F.col("b").alias("a"), F.col("a").alias("b")]
    if _has_g(pairs):
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


def _fixpoint(start: DataFrame, expand: Callable[[list[int]], DataFrame]) -> DataFrame:
    """Semi-naive closure with the frontier and the seen set held on
    the driver.  Rows are ``(a, b)`` — an origin and a node reached
    from it — plus the graph name ``g`` under GRAPH ?var, so paths
    never cross named graphs.

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
    keys = ["a", "b", "g"] if _has_g(start) else ["a", "b"]
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


def _graph_nodes(
    kg: KnowledgeGraph, graph: str | None, seed: DataFrame | list[int] | None = None
) -> DataFrame:
    """All graph terms (subject or object occurrences) as identity
    pairs (n, n) — the zero-length component of ``*``/``?`` paths
    (SPARQL 1.1 ArbitraryLengthPath includes the zero-step match).
    With a seed set, only the seeded nodes' identity rows.  Under
    GRAPH ?var the identity rows carry their graph name, scoped per
    graph."""
    graph_var = graph is not None and graph.startswith("?")
    t = (
        kg.triples
        if graph is None or graph_var
        else kg.triples.where(F.col("graph") == graph)
    )
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


def _path_pairs(
    kg: KnowledgeGraph,
    expr: str,
    graph: str | None = None,
    seed_a: DataFrame | list[int] | None = None,
    seed_b: DataFrame | list[int] | None = None,
) -> DataFrame:
    """Compile a normalized path expression to (a, b) uid pairs.

    ``seed_a`` / ``seed_b`` restrict an endpoint: a one-column 'n' node
    frame, or a uid list (a bound constant, or a fixpoint round's
    frontier).  A bound
    subject/object pushes INTO the evaluation — sequences chain the
    restriction step-to-step, and a ``+``/``*`` closure starts its
    ``_fixpoint`` from the seed's step rows, evaluating the atom for
    each round's frontier only (VERDICT r3 item 1: `<s> knows+ ?o` must
    not pay the whole relation's closure).  An unseeded closure starts
    from the whole step relation."""
    expr = expr.strip()
    # bag semantics for | and / (SPARQL PathAlt/PathSequence); only the
    # +/*/? closures are set-based (ArbitraryLengthPath), per SPARQL 1.1
    alts = _split_top(expr, "|")
    if len(alts) > 1:
        out = _path_pairs(kg, alts[0], graph, seed_a, seed_b)
        for alt in alts[1:]:
            out = out.unionByName(_path_pairs(kg, alt, graph, seed_a, seed_b))
        return out
    seq = _split_top(expr, "/")
    if len(seq) > 1:
        if seed_a is not None:
            # left-to-right: each step restricted to the previous
            # step's reached nodes, so closures inside the sequence
            # stay seeded too (never a full-relation closure)
            out = _path_pairs(kg, seq[0], graph, seed_a=seed_a)
            for step in seq[1:]:
                nxt = _path_pairs(kg, step, graph, seed_a=_nodes_of(out, "b"))
                out = _step_join(out, nxt)
            if seed_b is not None:
                out = _seed_filter(out, "b", seed_b)
            return out
        if seed_b is not None:
            # bound object only: chain right-to-left through inverses
            out = _path_pairs(kg, seq[-1], graph, seed_b=seed_b)
            for step in reversed(seq[:-1]):
                prv = _path_pairs(kg, step, graph, seed_b=_nodes_of(out, "a"))
                out = _step_join(prv, out)
            return out
        out = _path_pairs(kg, seq[0], graph)
        for step in seq[1:]:
            nxt = _path_pairs(kg, step, graph)
            out = _step_join(out, nxt)
        return out
    # atom: [^] ( <iri> | (expr) | !(...) ) [+*?]
    inv = expr.startswith("^")
    if inv:
        expr = expr[1:].strip()
    suffix = ""
    if expr.endswith(("+", "*", "?")):
        suffix = expr[-1]
        expr = expr[:-1].strip()

    if expr.startswith("!"):
        nps_fwd = [
            m.group(2)
            for m in re.finditer(r"(\^)?<([^>]*)>", expr)
            if not m.group(1)
        ]
        nps_inv = [
            m.group(2)
            for m in re.finditer(r"(\^)?<([^>]*)>", expr)
            if m.group(1)
        ]
        atom_kind = "nps"
    elif expr.startswith("(") and expr.endswith(")"):
        atom_kind = "paren"
    else:
        m = _PATH_ATOM.fullmatch(expr)
        if not m:
            raise ValueError(f"unsupported property path atom: {expr!r}")
        inv = inv or bool(m.group(1))
        suffix = suffix or (m.group(3) or "")
        atom_iri = m.group(2)
        atom_kind = "iri"

    graph_var = graph is not None and graph.startswith("?")
    if atom_kind == "iri":
        # built once, so a closure round adds only its frontier filter
        sel = [F.col("s_id").alias("a"), F.col("o_id").alias("b")]
        if graph_var:
            sel.append(F.col("graph").alias("g"))
        iri_pairs = kg.pattern(p=atom_iri, graph=None if graph_var else graph).select(*sel)

    def _nps_side(iris: list[str], swap: bool, sa, sb) -> DataFrame:
        """One direction of a negated property set: the (graph-pruned)
        fact table under a literal ``p_id NOT IN (…)`` over the members
        the dictionary holds; an absent member excludes nothing (SPARQL
        1.1 PathNegatedPropertySet).  Inverse members swap."""
        t = (
            kg.triples
            if graph is None or graph_var
            else kg.triples.where(F.col("graph") == graph)
        )
        excluded = [u for t in iris if (u := kg.uids[t]) is not None]
        sel = [F.col("s_id").alias("a"), F.col("o_id").alias("b")]
        if graph_var:
            sel.append(F.col("graph").alias("g"))
        p = t.where(~_uid_in("p_id", excluded)).select(*sel)
        if swap:
            p = _swap(p)
        if sa is not None:
            p = _seed_filter(p, "a", sa)
        if sb is not None:
            p = _seed_filter(p, "b", sb)
        return p

    def eval_base(
        sa: DataFrame | list[int] | None, sb: DataFrame | list[int] | None
    ) -> DataFrame:
        """The atom's base pairs (closure suffix NOT applied), with
        optional endpoint seeds pushed through inversion."""
        if inv:
            sa, sb = sb, sa
        if atom_kind == "nps":
            parts = []
            if nps_fwd or not nps_inv:
                parts.append(_nps_side(nps_fwd, False, sa, sb))
            if nps_inv:
                # inverse members: y→x edges whose predicate is outside
                # the inverse set (union with the forward side per
                # SPARQL 1.1 §9.1 NPS translation)
                parts.append(_nps_side(nps_inv, True, sa, sb))
            p = parts[0]
            for extra in parts[1:]:
                p = p.unionByName(extra)
        elif atom_kind == "paren":
            p = _path_pairs(kg, expr[1:-1], graph, seed_a=sa, seed_b=sb)
        else:
            p = iri_pairs
            if sa is not None:
                p = _seed_filter(p, "a", sa)
            if sb is not None:
                p = _seed_filter(p, "b", sb)
        if inv:
            p = _swap(p)
        return p

    if suffix == "+" or suffix == "*":
        if seed_a is None and seed_b is not None:
            # bound object only: the same fixpoint over swapped pairs
            pairs = _swap(
                _fixpoint(
                    _swap(eval_base(None, seed_b)),
                    lambda nodes: _swap(eval_base(None, nodes)),
                )
            )
        else:
            # a bound subject seeds the start; var–var starts from the
            # whole step relation
            pairs = _fixpoint(eval_base(seed_a, None), lambda nodes: eval_base(nodes, None))
        if suffix == "*":
            seed = seed_a if seed_a is not None else seed_b
            pairs = pairs.unionByName(_graph_nodes(kg, graph, seed)).dropDuplicates()
        if seed_a is not None and seed_b is not None:
            pairs = _seed_filter(pairs, "b", seed_b)
        return pairs
    if suffix == "?":
        seed = seed_a if seed_a is not None else seed_b
        pairs = (
            eval_base(seed_a, seed_b)
            .unionByName(_graph_nodes(kg, graph, seed))
            .dropDuplicates()
        )
        if seed_a is not None and seed_b is not None:
            pairs = _seed_filter(pairs, "b", seed_b)
        return pairs
    return eval_base(seed_a, seed_b)


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
    pairs = _path_pairs(kg, pat.p[len("path:"):], pat.graph, seed_a, seed_b)
    cols = []
    if pat.graph is not None and pat.graph.startswith("?"):
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


def _compile_one(kg: KnowledgeGraph, pat: TriplePattern) -> DataFrame:
    """One pattern → DataFrame whose columns are the pattern's variable
    names (uid-valued)."""
    if pat.is_path():
        return _compile_path(kg, pat)
    graph_var = pat.graph is not None and pat.graph.startswith("?")
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


def pattern_terms(patterns: list[TriplePattern]) -> set[str]:
    """The dictionary constants of triple patterns: bound subjects and
    objects, constant predicates, and the IRIs of property paths
    (atoms and negated-set members).  Graph names are not dictionary
    terms."""
    out: set[str] = set()
    for pat in patterns:
        out.update(t for t in (pat.s, pat.o) if not t.startswith("?"))
        if pat.is_path():
            out.update(re.findall(r"<([^>]*)>", pat.p))
        elif not pat.p.startswith("?"):
            out.add(pat.p)
    return out


def compile_bgp(kg: KnowledgeGraph, patterns: list[TriplePattern]) -> DataFrame:
    """BGP over the default union graph → DataFrame of uid-valued
    variable columns.

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
        if p.p.startswith("?"):
            est = big * 3
        elif p.is_path() or not cards:
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

    ordered = sorted(patterns, key=key)
    df: DataFrame | None = None
    for pat in ordered:
        part = _compile_one(kg, pat)
        if df is None:
            df = part
            continue
        shared = [c for c in part.columns if c in df.columns and c != "__exists"]
        if shared:
            df = df.join(part, shared, "inner")
        else:
            df = df.crossJoin(part)
    assert df is not None, "empty BGP"
    return df.drop("__exists") if "__exists" in df.columns else df
