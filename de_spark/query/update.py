"""SPARQL UPDATE string surface with the reference's refusal semantics.

The reference parses update strings with spargebra and validates every
operation before executing any (src/serve.rs:783-1121): graphs are
immutable once written, so

- ``CREATE [SILENT] GRAPH <g>``   — no-op; error if the graph already
  exists (unless SILENT)                      (src/serve.rs:803-815)
- ``INSERT DATA { GRAPH <g> {…} }`` — only into NEW named graphs;
  default-graph quads refused                 (src/serve.rs:818-849)
- ``LOAD [SILENT] <src> INTO GRAPH <g>`` — only into new graphs; no
  default-graph form                          (src/serve.rs:853-877;
  the reference validates LOAD but leaves execution unimplemented,
  src/serve.rs:1045-1061 — here it executes via sources.read_rdf)
- ``DELETE DATA`` / ``DELETE``/``INSERT`` (modify) — FORBIDDEN
  (read-only triples)                         (src/serve.rs:880-890)
- ``CLEAR|DROP [SILENT] GRAPH <g>`` — whole-graph removal; error if
  absent (unless SILENT); DEFAULT/NAMED/ALL targets refused
  (src/serve.rs:892-960)

Parsing is the query front-end's (de_spark.query.parser.Parser): its
prologue, its quad-block parser for INSERT DATA's ``{ … }`` — the one
Turtle / TriG documents go through — and its grounding step, which
mints each ``[ … ]`` / ``( … )`` blank node with a digest of (graph,
update text).  Execution maps onto the batch mutation surface
(store.add_graph / store.drop_graph).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from de_spark.query.parser import Parser


class UpdateRefusedError(ValueError):
    """The reference's 'content is read-only' / bad-request refusals."""


@dataclass
class UpdateOp:
    kind: str  # create | insert_data | load | clear | drop
    graph: str | None = None
    silent: bool = False
    quads: dict[str | None, list] = field(default_factory=dict)  # graph → triples
    source: str | None = None  # LOAD source IRI


class UpdateParser(Parser):
    def parse_update(self) -> list[UpdateOp]:
        ops: list[UpdateOp] = []
        while True:
            self.parse_prologue()
            if self.peek().kind == "EOF":
                break
            ops.append(self._operation())
            self.eat_op(";")
        if not ops:
            raise ValueError("empty SPARQL update")
        return ops

    def _quad_data(self) -> dict[str | None, list]:
        self.expect_op("{")
        quads = self.parse_quads()
        self.expect_op("}")
        return self.ground(quads, self.text)

    def _operation(self) -> UpdateOp:
        if self.at_word("INSERT"):
            self.next()
            if not self.eat_word("DATA"):
                raise UpdateRefusedError(
                    "DELETE/INSERT operations are not allowed. "
                    "Only INSERT DATA to new graphs is permitted."
                )
            return UpdateOp(kind="insert_data", quads=self._quad_data())
        if self.at_word("DELETE"):
            self.next()
            if self.eat_word("DATA"):
                raise UpdateRefusedError(
                    "DELETE DATA is not allowed. "
                    "Only INSERT DATA to new graphs is permitted."
                )
            raise UpdateRefusedError(
                "DELETE/INSERT operations are not allowed. "
                "Only INSERT DATA to new graphs is permitted."
            )
        if self.at_word("WITH", "MODIFY"):
            raise UpdateRefusedError(
                "DELETE/INSERT operations are not allowed. "
                "Only INSERT DATA to new graphs is permitted."
            )
        if self.at_word("CREATE"):
            self.next()
            silent = self.eat_word("SILENT")
            self.expect_word("GRAPH")
            return UpdateOp(kind="create", graph=self.parse_iri("a graph IRI"), silent=silent)
        if self.at_word("DROP", "CLEAR"):
            kind = self.next().value.lower()
            silent = self.eat_word("SILENT")
            verb = kind.upper()
            if self.eat_word("DEFAULT"):
                raise UpdateRefusedError(
                    f"{verb} DEFAULT is not supported. "
                    f"Only named graphs can be {'dropped' if kind == 'drop' else 'cleared'}."
                )
            if self.eat_word("NAMED"):
                raise UpdateRefusedError(
                    f"{verb} NAMED is not supported. Please specify individual graphs."
                )
            if self.eat_word("ALL"):
                raise UpdateRefusedError(
                    f"{verb} ALL is not supported. Please specify individual graphs."
                )
            self.expect_word("GRAPH")
            return UpdateOp(kind=kind, graph=self.parse_iri("a graph IRI"), silent=silent)
        if self.at_word("LOAD"):
            self.next()
            silent = self.eat_word("SILENT")
            src = self.parse_iri("a source IRI")
            if not self.eat_word("INTO"):
                raise UpdateRefusedError(
                    "LOAD to default graph is not allowed. "
                    "Only named graphs can be created."
                )
            self.expect_word("GRAPH")
            return UpdateOp(
                kind="load", graph=self.parse_iri("a graph IRI"), silent=silent, source=src
            )
        t = self.peek()
        raise ValueError(f"unsupported update operation at position {t.pos}: {t.value!r}")


def parse_update(text: str) -> list[UpdateOp]:
    return UpdateParser(text).parse_update()
