"""Correctness checks: a DuckDB oracle with RDF set semantics for
queries, and decoded-triple-set checks for builds.

Every engine answer is parsed back from its serialized form (CSV, TSV,
JSON, XML or N-Triples) and compared with the oracle's answer over the
generator's DISTINCT triples.  A mismatch is a failure.  The oracle also
evaluates each query over the generator's statements as stated (a bag,
repeats kept), so a failure can be attributed: an answer that equals the
bag answer is explained by known defect 1 (the store keeps duplicate
rows; see README.md).
"""

from __future__ import annotations

import csv
import io
import json
import re
import xml.etree.ElementTree as ET
from collections import Counter

import duckdb

from gen import Query

SPARQL_NS = "{http://www.w3.org/2005/sparql-results#}"


def plain(term) -> str | None:
    """A term reduced to the text every result format keeps: an IRI's
    characters or a literal's lexical form."""
    if term is None:
        return None
    if isinstance(term, bool):
        return "true" if term else "false"
    if not isinstance(term, str):
        return str(term)
    if term.startswith('"'):
        return term[1:].rpartition('"')[0]
    if term.startswith("<") and term.endswith(">"):
        return term[1:-1]
    return term


# --------------------------------------------------------------------------
# parse engine output


def _parse_select(fmt: str, text: str) -> list[tuple]:
    if fmt == "csv":
        rows = list(csv.reader(io.StringIO(text)))[1:]
        return [tuple(v if v != "" else None for v in r) for r in rows]
    if fmt == "tsv":
        lines = text.split("\n")[1:]
        return [
            tuple(plain(v) if v != "" else None for v in ln.rstrip("\r").split("\t"))
            for ln in lines
            if ln.rstrip("\r") != ""
        ]
    if fmt == "json":
        doc = json.loads(text)
        names = doc["head"]["vars"]
        return [
            tuple(b[n]["value"] if n in b else None for n in names)
            for b in doc["results"]["bindings"]
        ]
    root = ET.fromstring(text)
    names = [v.get("name") for v in root.iter(SPARQL_NS + "variable")]
    out = []
    for res in root.iter(SPARQL_NS + "result"):
        vals = {b.get("name"): (b[0].text or "") for b in res.iter(SPARQL_NS + "binding")}
        out.append(tuple(vals.get(n) for n in names))
    return out


def _parse_ask(fmt: str, text: str) -> list[tuple]:
    if fmt == "json":
        return [(plain(json.loads(text)["boolean"]),)]
    if fmt == "xml":
        return [(ET.fromstring(text).find(SPARQL_NS + "boolean").text,)]
    return [(text.strip(),)]


_NT_LINE = re.compile(r'^(<[^>]*>|_:\S+) <([^>]*)> (<[^>]*>|_:\S+|".*"(?:@[\w-]+|\^\^<[^>]*>)?) \.$')


def _parse_nt(text: str) -> list[tuple]:
    out = []
    for line in text.splitlines():
        if not line.strip():
            continue
        m = _NT_LINE.match(line)
        if m is None:
            raise ValueError(f"not an N-Triples line: {line[:120]}")
        out.append((plain(m.group(1)), m.group(2), plain(m.group(3))))
    return out


def parse_answer(q: Query, text: str) -> list[tuple]:
    if q.form == "ask":
        return _parse_ask(q.fmt, text)
    if q.form in ("construct", "describe"):
        return _parse_nt(text)
    return _parse_select(q.fmt, text)


# --------------------------------------------------------------------------
# query oracle


class QueryOracle:
    def __init__(self, quads: list[tuple]):
        import pandas as pd

        self.con = duckdb.connect()
        stated = pd.DataFrame([q[:3] for q in quads], columns=["s", "p", "o"])
        self.con.register("stated", stated)
        self.con.execute("CREATE TABLE tb AS SELECT s, p, o FROM stated")
        self.con.execute("CREATE TABLE ts AS SELECT DISTINCT s, p, o FROM tb")
        self.con.unregister("stated")
        self._cache: dict[tuple[int, str], list[tuple]] = {}

    def answer(self, q: Query, table: str) -> list[tuple]:
        key = (q.qid, table)
        if key not in self._cache:
            rows = self.con.execute(q.sql.replace("{T}", table)).fetchall()
            self._cache[key] = [tuple(plain(v) for v in r) for r in rows]
        return self._cache[key]

    def close(self) -> None:
        self.con.close()


def _same(q: Query, got: list[tuple], want: list[tuple]) -> bool:
    if q.ordered:
        return got == want
    return Counter(got) == Counter(want)


def judge_query(oracle: QueryOracle, q: Query, text: str) -> str:
    """'ok', 'dup_rows' (the answer the stored duplicates explain) or
    'wrong'."""
    try:
        got = parse_answer(q, text)
    except (ValueError, KeyError, ET.ParseError, json.JSONDecodeError):
        return "wrong"
    if _same(q, got, oracle.answer(q, "ts")):
        return "ok"
    if _same(q, got, oracle.answer(q, "tb")):
        return "dup_rows"
    return "wrong"


# --------------------------------------------------------------------------
# build check


def judge_build(stored: list[tuple], stated: list[tuple]) -> str:
    """Decoded stored quads vs the generator's statements: 'ok' when the
    stored rows are exactly the distinct statements, 'dup_rows' when they
    are exactly the statements as stated (repeats kept), else 'wrong'."""
    got = Counter(stored)
    if got == Counter(set(stated)):
        return "ok"
    if got == Counter(stated):
        return "dup_rows"
    return "wrong"
