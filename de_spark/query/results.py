"""SPARQL result serializers: CSV / TSV / JSON / XML (SELECT + ASK),
and :func:`emit`, the one route from query text to serialized answer.

Byte-shape contract comes from the reference's golden assertions
(tests/test-commands.rs:186-238):

- CSV: header = bare var names; IRIs bare; literals = lexical form.
- TSV: header = ``?var``; IRIs in ``<>``; literals quoted with suffix.
- JSON: ``{"head":{"vars":[…]},"results":{"bindings":[{var:{"type":…,
  "value":…}}…]}}`` — no spaces.
- XML: ``<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/
  sparql-results#">…`` — no declaration spaces.

Each ``to_*`` emitter fetches its rows with one ``collect()`` (one
Spark job) and renders them on the driver, so the answer must fit in
driver memory.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import DataFrame

from de_spark import terms
from de_spark.graph import KnowledgeGraph
from de_spark.query.sparql import parse_sparql, sparql_construct, sparql_describe, sparql_select
from de_spark.sources import rdf_writers


def _csv_cell(t) -> str:
    if t is None:
        return ""
    if not isinstance(t, str):
        return str(t)
    if t.startswith('"'):
        v, _, _ = terms.literal_parts_py(t)
        # RFC4180 quoting when needed
        if any(ch in v for ch in ",\"\n\r"):
            v = '"' + v.replace('"', '""') + '"'
        return v
    return t


def to_csv(solutions: DataFrame) -> str:
    lines = [",".join(solutions.columns)]
    lines += [",".join(map(_csv_cell, row)) for row in solutions.collect()]
    return "\r\n".join(lines)


def _tsv_cell(t) -> str:
    if t is None:
        return ""
    if not isinstance(t, str):
        return f'"{t}"'
    return terms.sparql_tsv_form_py(t)


def to_tsv(solutions: DataFrame) -> str:
    lines = ["\t".join("?" + c for c in solutions.columns)]
    lines += ["\t".join(map(_tsv_cell, row)) for row in solutions.collect()]
    return "\n".join(lines)


def _json_term(t) -> dict:
    if not isinstance(t, str):
        # aggregate result (numeric) — a plain literal in SPARQL terms
        return {"type": "literal", "value": str(t)}
    kind = terms.classify_py(t)
    if kind == terms.KIND_IRI:
        return {"type": "uri", "value": t}
    if kind == terms.KIND_BNODE:
        return {"type": "bnode", "value": t[2:]}
    value, dt, lang = terms.literal_parts_py(t)
    d = {"type": "literal", "value": value}
    if dt:
        d["datatype"] = dt
    if lang:
        d["xml:lang"] = lang
    return d


def to_json(solutions: DataFrame) -> str:
    cols = solutions.columns
    bindings = [
        {c: _json_term(t) for c, t in zip(cols, row) if t is not None}
        for row in solutions.collect()
    ]
    return json.dumps(
        {"head": {"vars": cols}, "results": {"bindings": bindings}}, separators=(",", ":")
    )


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _xml_binding(c: str, t) -> str:
    if not isinstance(t, str):
        inner = f"<literal>{t}</literal>"
    elif (kind := terms.classify_py(t)) == terms.KIND_IRI:
        inner = f"<uri>{_xml_escape(t)}</uri>"
    elif kind == terms.KIND_BNODE:
        inner = f"<bnode>{_xml_escape(t[2:])}</bnode>"
    else:
        value, dt, lang = terms.literal_parts_py(t)
        attrs = ""
        if dt:
            attrs = f' datatype="{_xml_escape(dt)}"'
        elif lang:
            attrs = f' xml:lang="{lang}"'
        inner = f"<literal{attrs}>{_xml_escape(value)}</literal>"
    return f'<binding name="{c}">{inner}</binding>'


def to_xml(solutions: DataFrame) -> str:
    cols = solutions.columns
    results = "".join(
        "<result>"
        + "".join(_xml_binding(c, t) for c, t in zip(cols, row) if t is not None)
        + "</result>"
        for row in solutions.collect()
    )
    return (
        '<?xml version="1.0"?>'
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
        + "<head>" + "".join(f'<variable name="{c}"/>' for c in cols) + "</head>"
        + "<results>" + results + "</results></sparql>"
    )


def ask_to_json(value: bool) -> str:
    return json.dumps({"head": {}, "boolean": value}, separators=(",", ":"))


def ask_to_csv(value: bool) -> str:
    """sparesults boolean CSV/TSV: the bare lowercase word
    (reference S9 ASK routing, src/query.rs:133-144)."""
    return "true" if value else "false"


ask_to_tsv = ask_to_csv


def ask_to_xml(value: bool) -> str:
    return (
        '<?xml version="1.0"?>'
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
        f"<head></head><boolean>{'true' if value else 'false'}</boolean></sparql>"
    )


_SELECT = {"csv": to_csv, "tsv": to_tsv, "json": to_json, "xml": to_xml}
_ASK = {"csv": ask_to_csv, "tsv": ask_to_tsv, "json": ask_to_json, "xml": ask_to_xml}


def emit(kg: KnowledgeGraph, text: str, fmt: str) -> str:
    """Parse ``text`` once and serialize its answer by query form, like
    the reference's match on the ``QueryResults`` variant
    (src/query.rs:102-176): SELECT → ``to_<fmt>``, ASK →
    ``ask_to_<fmt>``, CONSTRUCT/DESCRIBE → ``rdf_writers.to_rdf``.

    ``fmt`` falls back per query: a graph format on SELECT/ASK gives
    csv (with a warning on stderr), a solution format on
    CONSTRUCT/DESCRIBE gives N-Triples (``de``'s default)."""
    q = parse_sparql(text)
    if q.form in ("construct", "describe"):
        g = sparql_construct(kg, q) if q.form == "construct" else sparql_describe(kg, q)
        return rdf_writers.to_rdf(g, fmt if fmt in rdf_writers.RENDERERS else "nt")
    if fmt not in _SELECT:
        print(f"warning: -o {fmt} requires CONSTRUCT/DESCRIBE; using csv", file=sys.stderr)
        fmt = "csv"
    sols = sparql_select(kg, q)
    if q.ask:
        # ASK answers as a one-row local relation: reading it runs no job
        return _ASK[fmt](sols.collect()[0][0])
    return _SELECT[fmt](sols)

