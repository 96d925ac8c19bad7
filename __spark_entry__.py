"""Contract: the knowledge-graph rows de_spark answers.

``queries()`` maps each row name to ``fn(spark, sf_dir) -> DataFrame``
and ``oracle_sql()`` maps the same names to DuckDB SQL over the
``documents`` table.  Every row is a kg_* row: it runs the REAL engine
code path (de_spark.pipeline / dictionary / encode / query) over the KG
that ``de_spark.docs_kg`` builds from the documents table, and its
oracle is a pure-SQL restatement of the HDT four-section semantics or
of the SPARQL operator under test.

A row matches its oracle when the row count, the column set and the
value multiset (``rows_multiset``: cells as strings, floats at 9
significant digits, columns in name order) agree.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark.docs_kg import CODE, ENT, TRIPLES_SQL, documents_kg, documents_triples
from de_spark.query.bgp import Path, TriplePattern, compile_bgp

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the KG over sf0.001 documents with the real
    pipeline (term uids → four-section dict → uid triples) and answer a
    3-pattern BGP (mentions ∧ mentions ∧ lang) via integer joins."""
    return _kg_bgp_mentions(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# KG pipeline queries (engine code path over documents)
# ---------------------------------------------------------------------------


def _kg_triples_raw(spark, sf_dir):
    return documents_triples(spark, sf_dir).select("s", "p", "o", "graph")


def _kg_term_uids(spark, sf_dir):
    return documents_kg(spark, sf_dir).term_uids


def _kg_dict_sections(spark, sf_dir):
    return documents_kg(spark, sf_dir).sections().select("graph", "term", "section", "sec_id")


def _kg_triples_encoded(spark, sf_dir):
    return documents_kg(spark, sf_dir).triples.select("graph", "s_id", "p_id", "o_id")


def _kg_stats_void(spark, sf_dir):
    return documents_kg(spark, sf_dir).stats


def _kg_bgp_mentions(spark, sf_dir):
    kg = documents_kg(spark, sf_dir)
    patterns = [
        TriplePattern("?doc", CODE + "mentions", ENT + "word/window"),
        TriplePattern("?doc", CODE + "mentions", ENT + "word/stream"),
        TriplePattern("?doc", CODE + "lang", '"en"'),
    ]
    sols = compile_bgp(kg, patterns)
    return kg.decode_vars(sols, ["doc"])


def _kg_path_comention(spark, sf_dir):
    """Property path (sequence + inverse): documents sharing a mention
    with doc/0 — `<doc/0> code:mentions/^code:mentions ?other`, bag
    semantics (multiplicity = number of shared words), engine path
    compiler (de_spark.query.bgp._path_pairs)."""
    kg = documents_kg(spark, sf_dir)
    mentions = CODE + "mentions"
    pat = TriplePattern(
        ENT + "doc/0", Path("seq", (mentions, Path("inv", (mentions,)))), "?other"
    )
    return kg.decode_vars(compile_bgp(kg, [pat]), ["other"])


def _kg_path_reach(spark, sf_dir):
    """Bound-subject + closure through the SPARQL text surface:
    `<doc/0> (source/^source)+ ?other` — transitive same-source
    reachability.  Runs the SEEDED path fixpoint
    (de_spark.query.bgp._fixpoint): it starts from doc/0's step rows
    and each round evaluates the composite atom for the frontier's
    nodes only, never the full relation's closure (VERDICT r3 scale
    fix; reference semantics spareval ArbitraryLengthPath,
    src/sparql.rs:520).  The co-mention relation is too dense for a
    contract-budget closure (hub words square the step join on BOTH
    the engine and oracle side); the source relation keeps the same
    seq+inverse+closure shape at contract cost.  Seeding goldens live in
    tests/test_sparql_r4.py::test_bound_path_seeded_no_global_closure
    and the 100-round chain in test_deep_chain_closure."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?other WHERE {{
          <{ENT}doc/0> (<{CODE}source>/^<{CODE}source>)+ ?other
        }}
        """,
    )


def _kg_graph_binding(spark, sf_dir):
    """GRAPH ?g binding (F2 variable form): English docs with the named
    graph they live in — the graph name is a string binding, not a
    dictionary term."""
    kg = documents_kg(spark, sf_dir)
    pat = TriplePattern("?doc", CODE + "lang", '"en"', graph="?g")
    sols = compile_bgp(kg, [pat])
    return kg.decode_vars(sols, ["doc", "g"]).select("g", "doc")


def _kg_sparql_not_exists(spark, sf_dir):
    """FILTER NOT EXISTS through the round-3 SPARQL TEXT surface
    (recursive-descent parser → anti-join; the reference gets the
    algebra from spargebra, src/sparql.rs:516-521): docs mentioning
    'window' that are NOT English."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?doc WHERE {{
          ?doc <{CODE}mentions> <{ENT}word/window> .
          FILTER NOT EXISTS {{ ?doc <{CODE}lang> "en" }}
        }}
        """,
    )


def _kg_sparql_union_minus(spark, sf_dir):
    """UNION + MINUS through the SPARQL text surface: docs mentioning
    'window' or 'stream', minus the English ones."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT DISTINCT ?doc WHERE {{
          {{ ?doc <{CODE}mentions> <{ENT}word/window> }}
          UNION
          {{ ?doc <{CODE}mentions> <{ENT}word/stream> }}
          MINUS {{ ?doc <{CODE}lang> "en" }}
        }}
        """,
    )


def _kg_sparql_construct(spark, sf_dir):
    """CONSTRUCT through the text surface: template instantiation per
    solution + triple-set dedup (reference routes CONSTRUCT through
    oxigraph + oxrdfio serializers, src/query.rs:155-175)."""
    from de_spark.query import sparql_construct

    kg = documents_kg(spark, sf_dir)
    return sparql_construct(
        kg,
        f"""
        CONSTRUCT {{ ?d <{CODE}aboutWord> ?w }}
        WHERE {{ ?d <{CODE}mentions> ?w . ?d <{CODE}lang> "en" }}
        """,
    )


def _kg_sparql_ask(spark, sf_dir):
    """ASK through the text surface → one boolean row (the reference's
    QueryResults::Boolean branch, src/query.rs:133-144)."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg, f'ASK {{ ?d <{CODE}mentions> <{ENT}word/window> }}'
    ).select(F.col("bool").alias("b"))


def _kg_sparql_describe(spark, sf_dir):
    """DESCRIBE through the text surface: Concise Bounded Description —
    all triples whose subject is a described resource, recursing
    through blank-node objects (the corpus's bnode annotation layer
    makes the closure observable; oracle is a recursive CTE).  The
    reference routes DESCRIBE through QueryResults::Graph
    (src/query.rs:102-176); the described set resolves in uid space
    and semi-joins the fact table."""
    from de_spark.query import sparql_describe

    kg = documents_kg(spark, sf_dir)
    return sparql_describe(
        kg,
        f"DESCRIBE <{ENT}doc/0> ?d WHERE {{ ?d <{CODE}mentions> <{ENT}word/window> . "
        f"?d <{CODE}lang> \"fr\" }}",
    )


_WORD_PREFIX_LEN = len(ENT + "word/")


def _kg_sparql_bind_arith(spark, sf_dir):
    """BIND + FILTER arithmetic + GROUP BY/COUNT through the SPARQL
    text surface: per-doc count of long mentioned words (word length
    ≥ 8, computed as STRLEN minus the IRI prefix with an arithmetic
    comparison — VERDICT r2 item 6's 'arithmetic filter with an exact
    oracle')."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?doc (COUNT(?w) AS ?n_long) WHERE {{
          ?doc <{CODE}mentions> ?w .
          BIND(STRLEN(STR(?w)) AS ?l)
          FILTER(?l - {_WORD_PREFIX_LEN} >= 8)
        }} GROUP BY ?doc
        """,
    )


_XSD = "http://www.w3.org/2001/XMLSchema#"


def _kg_sparql_order_numeric(spark, sf_dir):
    """SPARQL value semantics (VERDICT r3 missing #1): FILTER compares
    numeric literals by VALUE (?l > "7" keeps 10, which lexicographic
    '"10..." > "7..."' would drop) and ORDER BY sorts them numerically
    ("9" before "10"); LIMIT makes the ordering observable in the
    result set."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?w ?l WHERE {{
          ?d <{CODE}mentions> ?w .
          BIND(STRLEN(STR(?w)) - {_WORD_PREFIX_LEN} AS ?l)
          FILTER(?l > "7"^^<{_XSD}integer>)
        }} ORDER BY DESC(?l) ?w LIMIT 60
        """,
    )


def _kg_sparql_order_agg(spark, sf_dir):
    """Aggregate expression as an ORDER BY key (VERDICT r3 item 4):
    ORDER BY DESC(COUNT(?d)) reuses the HAVING hidden-aggregate
    rewrite; top-15 mention hubs."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?w (COUNT(?d) AS ?n) WHERE {{ ?d <{CODE}mentions> ?w }}
        GROUP BY ?w ORDER BY DESC(COUNT(?d)) ?w LIMIT 15
        """,
    )


def _kg_sparql_optional_filter(spark, sf_dir):
    """FILTER inside OPTIONAL referencing an OUTER variable — the
    SPARQL LeftJoin condition form (§18.5, VERDICT r3 item 3): non-
    English docs keep the row with ?w2 unbound; English docs join
    their 'e'-containing mentions."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?d ?w2 WHERE {{
          ?d <{CODE}mentions> <{ENT}word/window> .
          ?d <{CODE}lang> ?lang .
          OPTIONAL {{
            ?d <{CODE}mentions> ?w2 .
            FILTER(?lang = "en" && CONTAINS(STRAFTER(STR(?w2), "word/"), "e"))
          }}
        }}
        """,
    )


def _kg_sparql_arith_types(spark, sf_dir):
    """Numeric result TYPE promotion through the SPARQL text surface
    (VERDICT r4 item 3): ?n is a data-borne xsd:integer, so ?n+1 must
    render "…"^^xsd:integer, ?n/2 an xsd:decimal, and ?n*1.5e0 an
    xsd:double — the oracle pins the exact lexical forms (the old
    flatten-to-double rendering fails this).  Reference: spareval's
    XPath operator-mapping promotion (src/sparql.rs:520)."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?doc ?plus ?half ?dbl WHERE {{
          ?doc <{CODE}nChars> ?n .
          BIND(?n + 1 AS ?plus)
          BIND(?n / 2 AS ?half)
          BIND(?n * 1.5e0 AS ?dbl)
        }}
        """,
    )


def _kg_sparql_bigint_sum(spark, sf_dir):
    """EXACT integer arithmetic beyond 2^53 (VERDICT r5 item 1): each
    doc's ?big = ?n × 4503599627370497 + 11 is ≈10^17-10^18 (above the
    2^53 double-exact bound), and the per-language SUM is ≈10^19-10^20
    (beyond even i64) — the decimal(38,0) exact lane must carry BIND,
    SUM and MAX to the precise lexical form; the double lane's
    rounding would be wrong in the last several digits.  The DuckDB
    oracle computes in HUGEINT (int128), exact at this magnitude.
    Reference: spareval's exact integer operator dispatch
    (src/sparql.rs:520)."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?lang (SUM(?big) AS ?total) (MAX(?big) AS ?mx) WHERE {{
          ?d <{CODE}lang> ?lang .
          ?d <{CODE}nChars> ?n .
          BIND(?n * 4503599627370497 + 11 AS ?big)
        }} GROUP BY ?lang ORDER BY ?lang
        """,
    )


def _kg_sparql_datetime_order(spark, sf_dir):
    """xsd:dateTime VALUE semantics through the text surface: the
    FILTER constant carries a +02:00 offset (normalizes to the same
    instant scale as the data's Z lexicals), ORDER BY sorts by
    instant, LIMIT makes the ordering observable.  Reference:
    spareval op:dateTime ordering (src/sparql.rs:520)."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?doc ?m WHERE {{
          ?doc <{CODE}modified> ?m .
          FILTER(?m > "2024-01-20T00:00:00+02:00"^^<{_XSD}dateTime>)
        }} ORDER BY DESC(?m) ?doc LIMIT 40
        """,
    )


def _kg_sparql_boolean_value(spark, sf_dir):
    """xsd:boolean VALUE equality (VERDICT r4 item 4): the data mixes
    the canonical and numeral lexical forms ("true"/"1"), so
    FILTER(?b = "true"^^xsd:boolean) only matches the long docs if
    comparison is by VALUE, not by string."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?doc WHERE {{
          ?doc <{CODE}isLong> ?b .
          FILTER(?b = "true"^^<{_XSD}boolean>)
        }}
        """,
    )


def _kg_sparql_agg_distinct(spark, sf_dir):
    """SUM(DISTINCT expr) (ADVICE r3: the DISTINCT modifier must reach
    the executor, not parse-and-drop): per-doc sum of DISTINCT mention
    word lengths."""
    from de_spark.query import sparql_select

    kg = documents_kg(spark, sf_dir)
    return sparql_select(
        kg,
        f"""
        SELECT ?d (SUM(DISTINCT ?l) AS ?suml) WHERE {{
          ?d <{CODE}mentions> ?w .
          BIND(STRLEN(STR(?w)) - {_WORD_PREFIX_LEN} AS ?l)
        }} GROUP BY ?d
        """,
    )


def _kg_mentions_degree(spark, sf_dir):
    """Hub-degree profile of the mentions predicate (the skew surface)."""
    t = documents_triples(spark, sf_dir)
    return (
        t.where(F.col("p") == CODE + "mentions")
        .groupBy("o")
        .agg(F.count("*").alias("degree"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_triples_raw": _kg_triples_raw,
        "kg_term_uids": _kg_term_uids,
        "kg_dict_sections": _kg_dict_sections,
        "kg_triples_encoded": _kg_triples_encoded,
        "kg_stats_void": _kg_stats_void,
        "kg_bgp_mentions": _kg_bgp_mentions,
        "kg_path_comention": _kg_path_comention,
        "kg_graph_binding": _kg_graph_binding,
        "kg_sparql_not_exists": _kg_sparql_not_exists,
        "kg_sparql_union_minus": _kg_sparql_union_minus,
        "kg_sparql_bind_arith": _kg_sparql_bind_arith,
        "kg_sparql_construct": _kg_sparql_construct,
        "kg_sparql_ask": _kg_sparql_ask,
        "kg_sparql_describe": _kg_sparql_describe,
        "kg_path_reach": _kg_path_reach,
        "kg_sparql_order_numeric": _kg_sparql_order_numeric,
        "kg_sparql_order_agg": _kg_sparql_order_agg,
        "kg_sparql_optional_filter": _kg_sparql_optional_filter,
        "kg_sparql_agg_distinct": _kg_sparql_agg_distinct,
        "kg_sparql_arith_types": _kg_sparql_arith_types,
        "kg_sparql_bigint_sum": _kg_sparql_bigint_sum,
        "kg_sparql_datetime_order": _kg_sparql_datetime_order,
        "kg_sparql_boolean_value": _kg_sparql_boolean_value,
        "kg_mentions_degree": _kg_mentions_degree,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# uid oracle: the engine derives term uids from the four-section dict
# layout in ONE index pass (de_spark.dictionary.build_dict_and_uids) —
# uid := min 1-based row_number over the term's dict rows in
# (graph, sec_ord, term) order; unique + deterministic, not dense.
_UIDS_SQL = """
        s_terms AS (SELECT DISTINCT graph, s AS term FROM triples),
        o_terms AS (SELECT DISTINCT graph, o AS term FROM triples),
        p_terms AS (SELECT DISTINCT graph, p AS term FROM triples),
        so AS (SELECT graph, term FROM s_terms INTERSECT SELECT graph, term FROM o_terms),
        s_only AS (SELECT graph, term FROM s_terms EXCEPT SELECT graph, term FROM o_terms),
        o_only AS (SELECT graph, term FROM o_terms EXCEPT SELECT graph, term FROM s_terms),
        secs_ord AS (
          SELECT graph, term, 0 AS sec_ord FROM so
          UNION ALL SELECT graph, term, 1 FROM s_only
          UNION ALL SELECT graph, term, 2 FROM o_only
          UNION ALL SELECT graph, term, 3 FROM p_terms
        ),
        idxd AS (
          SELECT term,
                 row_number() OVER (ORDER BY graph, sec_ord, term) AS rn
          FROM secs_ord
        ),
        uids AS (SELECT term, min(rn) AS uid FROM idxd GROUP BY term)
"""

def oracle_sql() -> dict[str, str]:
    return {
        "kg_triples_raw": TRIPLES_SQL + "SELECT s, p, o, graph FROM triples",
        "kg_term_uids": TRIPLES_SQL
        + ","
        + _UIDS_SQL
        + "SELECT term, uid FROM uids",
        "kg_dict_sections": TRIPLES_SQL
        + """,
        s_terms AS (SELECT DISTINCT graph, s AS term FROM triples),
        o_terms AS (SELECT DISTINCT graph, o AS term FROM triples),
        p_terms AS (SELECT DISTINCT graph, p AS term FROM triples),
        so AS (SELECT graph, term FROM s_terms INTERSECT SELECT graph, term FROM o_terms),
        s_only AS (SELECT graph, term FROM s_terms EXCEPT SELECT graph, term FROM o_terms),
        o_only AS (SELECT graph, term FROM o_terms EXCEPT SELECT graph, term FROM s_terms),
        secs AS (
          SELECT graph, term, 'so' AS section FROM so
          UNION ALL SELECT graph, term, 's' FROM s_only
          UNION ALL SELECT graph, term, 'o' FROM o_only
          UNION ALL SELECT graph, term, 'p' FROM p_terms
        ),
        nso AS (SELECT graph, count(*) AS n FROM so GROUP BY graph),
        ranked AS (
          SELECT graph, term, section,
                 row_number() OVER (PARTITION BY graph, section ORDER BY term) AS rk
          FROM secs
        )
        SELECT r.graph, r.term, r.section,
               CASE WHEN r.section IN ('s','o') THEN r.rk + coalesce(nso.n, 0)
                    ELSE r.rk END AS sec_id
        FROM ranked r LEFT JOIN nso ON r.graph = nso.graph
        """,
        "kg_triples_encoded": TRIPLES_SQL
        + ","
        + _UIDS_SQL
        + """
        SELECT t.graph, us.uid AS s_id, up.uid AS p_id, uo.uid AS o_id
        FROM triples t
        JOIN uids us ON t.s = us.term
        JOIN uids up ON t.p = up.term
        JOIN uids uo ON t.o = uo.term
        """,
        "kg_stats_void": TRIPLES_SQL
        + """
        SELECT graph, count(*) AS triples,
               count(DISTINCT p) AS properties,
               count(DISTINCT s) AS distinct_subjects,
               count(DISTINCT o) AS distinct_objects
        FROM triples GROUP BY graph
        """,
        "kg_bgp_mentions": TRIPLES_SQL
        + f"""
        SELECT a.s AS doc
        FROM triples a JOIN triples b ON a.s = b.s JOIN triples c ON a.s = c.s
        WHERE a.p = '{CODE}mentions' AND a.o = '{ENT}word/window'
          AND b.p = '{CODE}mentions' AND b.o = '{ENT}word/stream'
          AND c.p = '{CODE}lang' AND c.o = '"en"'
        """,
        "kg_path_comention": TRIPLES_SQL
        + f"""
        SELECT b.s AS other
        FROM triples a JOIN triples b ON a.o = b.o
        WHERE a.p = '{CODE}mentions' AND b.p = '{CODE}mentions'
          AND a.s = '{ENT}doc/0'
        """,
        "kg_graph_binding": TRIPLES_SQL
        + f"""
        SELECT graph AS g, s AS doc FROM triples
        WHERE p = '{CODE}lang' AND o = '"en"'
        """,
        "kg_mentions_degree": TRIPLES_SQL
        + f"""
        SELECT o, count(*) AS degree FROM triples
        WHERE p = '{CODE}mentions' GROUP BY o
        """,
        "kg_sparql_not_exists": TRIPLES_SQL
        + f"""
        SELECT a.s AS doc FROM triples a
        WHERE a.p = '{CODE}mentions' AND a.o = '{ENT}word/window'
          AND NOT EXISTS (
            SELECT 1 FROM triples b
            WHERE b.s = a.s AND b.p = '{CODE}lang' AND b.o = '"en"'
          )
        """,
        "kg_sparql_union_minus": TRIPLES_SQL
        + f"""
        SELECT DISTINCT s AS doc FROM triples
        WHERE p = '{CODE}mentions'
          AND o IN ('{ENT}word/window', '{ENT}word/stream')
          AND s NOT IN (
            SELECT s FROM triples WHERE p = '{CODE}lang' AND o = '"en"'
          )
        """,
        "kg_sparql_bind_arith": TRIPLES_SQL
        + f"""
        SELECT s AS doc, count(*) AS n_long FROM triples
        WHERE p = '{CODE}mentions'
          AND length(o) - {_WORD_PREFIX_LEN} >= 8
        GROUP BY s
        """,
        "kg_sparql_construct": TRIPLES_SQL
        + f"""
        SELECT DISTINCT a.s AS s, '{CODE}aboutWord' AS p, a.o AS o
        FROM triples a JOIN triples b ON a.s = b.s
        WHERE a.p = '{CODE}mentions' AND b.p = '{CODE}lang' AND b.o = '"en"'
        """,
        "kg_sparql_ask": TRIPLES_SQL
        + f"""
        SELECT EXISTS(
          SELECT 1 FROM triples
          WHERE p = '{CODE}mentions' AND o = '{ENT}word/window'
        ) AS b
        """,
        # Concise Bounded Description: the described-set CTE recurses
        # through blank-node objects (terms prefixed "_:"), the SQL
        # twin of the seeded semi-naive bnode closure (UNION dedups,
        # cycles terminate)
        "kg_sparql_describe": TRIPLES_SQL.replace("WITH words", "WITH RECURSIVE words", 1)
        + f""",
        described(s) AS (
          SELECT s FROM (
            SELECT '{ENT}doc/0' AS s
            UNION
            SELECT a.s FROM triples a JOIN triples l ON l.s = a.s
            WHERE a.p = '{CODE}mentions' AND a.o = '{ENT}word/window'
              AND l.p = '{CODE}lang' AND l.o = '"fr"'
          )
          UNION
          SELECT t.o FROM triples t JOIN described d ON t.s = d.s
          WHERE substr(t.o, 1, 2) = '_:'
        )
        SELECT DISTINCT t.s AS s, t.p AS p, t.o AS o
        FROM triples t JOIN described d ON t.s = d.s
        """,
        # bound-subject + closure: recursive CTE twin of the seeded
        # semi-naive reachability (set semantics — UNION dedups, as
        # does ArbitraryLengthPath)
        "kg_path_reach": TRIPLES_SQL.replace("WITH words", "WITH RECURSIVE words", 1)
        + f""",
        edges AS (
          SELECT DISTINCT a.s AS x, b.s AS y
          FROM triples a JOIN triples b ON a.o = b.o
          WHERE a.p = '{CODE}source' AND b.p = '{CODE}source'
        ),
        reach(n) AS (
          SELECT y FROM edges WHERE x = '{ENT}doc/0'
          UNION
          SELECT e.y FROM reach r JOIN edges e ON e.x = r.n
        )
        SELECT n AS other FROM reach
        """,
        "kg_sparql_order_numeric": TRIPLES_SQL
        + f"""
        SELECT o AS w,
               '"' || (length(o) - {_WORD_PREFIX_LEN})::VARCHAR
                   || '"^^<{_XSD}integer>' AS l
        FROM triples
        WHERE p = '{CODE}mentions' AND length(o) - {_WORD_PREFIX_LEN} > 7
        ORDER BY length(o) - {_WORD_PREFIX_LEN} DESC, o ASC LIMIT 60
        """,
        "kg_sparql_order_agg": TRIPLES_SQL
        + f"""
        SELECT o AS w, count(*) AS n FROM triples
        WHERE p = '{CODE}mentions'
        GROUP BY o ORDER BY count(*) DESC, o ASC LIMIT 15
        """,
        "kg_sparql_optional_filter": TRIPLES_SQL
        + f""",
        lhs AS (
          SELECT a.s AS d, l.o AS lang
          FROM triples a JOIN triples l ON l.s = a.s
          WHERE a.p = '{CODE}mentions' AND a.o = '{ENT}word/window'
            AND l.p = '{CODE}lang'
        )
        SELECT lhs.d AS d, b.o AS w2
        FROM lhs LEFT JOIN triples b
          ON b.s = lhs.d AND b.p = '{CODE}mentions'
          AND lhs.lang = '"en"'
          AND strpos(substring(b.o, {_WORD_PREFIX_LEN} + 1), 'e') > 0
        """,
        "kg_sparql_agg_distinct": TRIPLES_SQL
        + f"""
        SELECT s AS d,
               '"' || sum(DISTINCT (length(o) - {_WORD_PREFIX_LEN}))::BIGINT::VARCHAR
                   || '"^^<{_XSD}integer>' AS suml
        FROM triples WHERE p = '{CODE}mentions' GROUP BY s
        """,
        # instant semantics: the +02:00 filter constant is restated as
        # its UTC instant (2024-01-19 22:00) over the same f(doc_id)
        # timestamp derivation; LIMIT boundary deterministic via the
        # ?doc secondary key
        "kg_sparql_datetime_order": f"""
        SELECT '{ENT}doc/' || doc_id AS doc,
               '"' || printf('2024-01-%02dT%02d:00:00Z',
                             (doc_id % 28 + 1)::INT, (doc_id % 24)::INT)
                   || '"^^<{_XSD}dateTime>' AS m
        FROM documents
        WHERE make_timestamp(2024, 1, (doc_id % 28 + 1)::BIGINT,
                             (doc_id % 24)::BIGINT, 0, 0)
              > TIMESTAMP '2024-01-19 22:00:00'
        ORDER BY 2 DESC, 1 ASC LIMIT 40
        """,
        # boolean VALUE equality: 'true' and '1' are the same value
        "kg_sparql_boolean_value": f"""
        SELECT '{ENT}doc/' || doc_id AS doc
        FROM documents WHERE n_chars >= 250
        """,
        # lexical forms pinned per XPath promotion: integer stays
        # integer, int÷int is decimal (trailing .0 trimmed), ×double
        # is double (Java double formatting keeps one fraction digit)
        "kg_sparql_arith_types": f"""
        SELECT '{ENT}doc/' || doc_id AS doc,
               '"' || (n_chars + 1)::VARCHAR || '"^^<{_XSD}integer>' AS plus,
               '"' || regexp_replace((n_chars / 2.0)::VARCHAR, '\\.0$', '')
                   || '"^^<{_XSD}decimal>' AS half,
               '"' || (n_chars * 1.5)::VARCHAR || '"^^<{_XSD}double>' AS dbl
        FROM documents
        """,
        # exact big-integer arithmetic: per-row ?big ≈ 1e17-1e18
        # (> 2^53) and per-group SUM ≈ 1e19-1e20 (> i64) — HUGEINT
        # (int128) restates the decimal(38,0) exact lane; any
        # double-lane rounding shows up as a hash mismatch in the
        # trailing digits
        "kg_sparql_bigint_sum": f"""
        SELECT '"' || lang || '"' AS lang,
               '"' || (SUM(n_chars::HUGEINT * 4503599627370497 + 11))::VARCHAR
                   || '"^^<{_XSD}integer>' AS total,
               '"' || (MAX(n_chars::HUGEINT * 4503599627370497 + 11))::VARCHAR
                   || '"^^<{_XSD}integer>' AS mx
        FROM documents GROUP BY lang ORDER BY 1
        """,
    }


def norm_cell(x) -> str:
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        return f"{x:.9g}"
    return str(x)


def rows_multiset(cols, rows) -> list[tuple[str, ...]]:
    """The order-insensitive value multiset of a result, columns taken
    in name order, that a row and its oracle must share."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
