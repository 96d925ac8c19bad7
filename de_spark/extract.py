"""Per-language triple extractors (M1), as one Spark SQL projection.

This is the Spark realization of the reference's pluggable
file→triples converter trait (``Rdf2Nt``, src/rdf2nt.rs:15-28): one
rule pair per ``lang`` in the ``LANG_RULES`` dispatch table, applied to
a code table ``(repo, path, commit, lang, content)``.  Each row's
triples are built as one array of ``(s, p, o)`` structs and
exploded once, the shape ``docs_kg.documents_triples`` uses.  Every
step is a JVM expression (``regexp_extract_all``, ``sha2``,
``transform``, ``arrays_zip``), so extraction starts no Python worker.

Emitted entity/edge vocabulary (our KG schema over code):

  repo   —  rdf:type code:Repository
  file   —  rdf:type code:File; code:inRepo repo; code:lang "…";
            code:commit "…"; code:sha256 "…" (the ingest invariant,
            ``sha2(content, 256)`` of the UTF-8 text, pinned against
            Python's SHA-256 by test_extract.py::test_sha256_invariant);
            code:imports module  (hub predicate — skewed)
  fn     —  rdf:type code:Function (hub object); code:definedIn file;
            code:calls fn        (call edge)

Graph = one named graph per repository (``repo:///org/repo``) — the
analog of the reference's one-HDT-per-input-file naming
(src/sparql.rs:40-48), chosen so graph filters prune partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CODE = "http://example.org/code#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
ENT = "http://example.org/"

# dispatch table: lang → (import_regex, def_call_regex), in Java regex
# syntax.  Group 1 of the import regex is the module number; groups 1
# and 2 of the def regex are a function and the function its body calls.
LANG_RULES: dict[str, tuple[str, str]] = {
    "python": (
        r"(?m)^(?:import mod_|from mod_(?=\d+ import))(\d+)",
        r"def (fn_\d+_\d+)\([^)]*\):\n(?:\s*#[^\n]*\n)*\s+return (fn_\d+_\d+)\(",
    ),
    "rust": (
        r"(?m)^use mod_(\d+);",
        r"fn (fn_\d+_\d+)\([^)]*\)[^{]*\{\n\s+(fn_\d+_\d+)\(",
    ),
}


def _matches(rule: int, group: int) -> Column:
    """Group ``group`` of every match of the row's ``LANG_RULES`` regex
    ``rule``; an empty array for a language without rules."""
    out = F.array().cast("array<string>")
    for lang, regexes in LANG_RULES.items():
        hits = F.regexp_extract_all("content", F.lit(regexes[rule]), F.lit(group))
        out = F.when(F.col("lang") == lang, hits).otherwise(out)
    return out


def _triple(s: Column, p: str, o: Column) -> Column:
    return F.struct(s.alias("s"), F.lit(p).alias("p"), o.alias("o"))


def extract_code_triples(corpus: DataFrame) -> DataFrame:
    """corpus (repo,path,commit,lang,content) → triples_raw.

    The rows come out sorted by (p, s) within each input partition:
    the stored ``triples_raw`` then compresses as well as it did when
    the triples were emitted one predicate at a time."""
    repo_iri = F.concat(F.lit(ENT + "repo/"), "repo")
    file_iri = F.concat(F.lit(ENT + "file/"), "repo", F.lit("/"), "path")

    def literal(c: str | Column) -> Column:
        return F.concat(F.lit('"'), c, F.lit('"'))

    per_file = F.array(
        _triple(repo_iri, RDF_TYPE, F.lit(CODE + "Repository")),
        _triple(file_iri, RDF_TYPE, F.lit(CODE + "File")),
        _triple(file_iri, CODE + "inRepo", repo_iri),
        _triple(file_iri, CODE + "lang", literal("lang")),
        _triple(file_iri, CODE + "commit", literal("commit")),
        _triple(file_iri, CODE + "sha256", literal(F.sha2("content", 256))),
    )
    imports = F.transform(
        _matches(0, 1),
        lambda m: _triple(file_iri, CODE + "imports", F.concat(F.lit(ENT + "module/mod_"), m)),
    )

    def fn_triples(d: Column) -> Column:
        fn = F.concat(F.lit(ENT + "fn/"), d["fn"])
        return F.array(
            _triple(fn, RDF_TYPE, F.lit(CODE + "Function")),
            _triple(fn, CODE + "definedIn", file_iri),
            _triple(fn, CODE + "calls", F.concat(F.lit(ENT + "fn/"), d["callee"])),
        )

    defs = F.arrays_zip(_matches(1, 1).alias("fn"), _matches(1, 2).alias("callee"))
    triples = F.concat(per_file, imports, F.flatten(F.transform(defs, fn_triples)))
    graph = F.concat(F.lit("repo:///"), "repo").alias("graph")
    return corpus.select(F.inline(triples), graph).sortWithinPartitions("p", "s")
