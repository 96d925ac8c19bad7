"""Vectorized per-language triple extractors (M1).

This is the Spark realization of the reference's pluggable
file→triples converter trait (``Rdf2Nt``, src/rdf2nt.rs:15-28): one
extractor per ``lang``, registered in a dispatch table, batch contract
``Iterator[pd.DataFrame(repo,path,commit,lang,content,sha256,graph)] →
Iterator[pd.DataFrame(s,p,o,o_kind,graph)]``.  All string work is
pandas/Arrow vectorized (``str.extractall`` / concatenation of whole
Series) — no per-row Python, per the input_hint.

Emitted entity/edge vocabulary (our KG schema over code):

  repo   —  rdf:type code:Repository
  file   —  rdf:type code:File; code:inRepo repo; code:lang "…";
            code:commit "…"; code:sha256 "…" (the ingest invariant,
            hashed with hashlib INSIDE the Arrow batch in each Python
            worker — deliberately not F.sha2, whose per-row
            MessageDigest.getInstance serializes all JVM threads on
            the provider lock; JVM-parity is pinned by
            tests/test_extract.py::test_sha256_invariant);
            code:imports module  (hub predicate — skewed)
  fn     —  rdf:type code:Function (hub object); code:definedIn file;
            code:calls fn        (call edge)

Graph = one named graph per repository (``repo:///org/repo``) — the
analog of the reference's one-HDT-per-input-file naming
(src/sparql.rs:40-48), chosen so graph filters prune partitions.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from de_spark.graph import SCHEMAS

CODE = "http://example.org/code#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
ENT = "http://example.org/"

# dispatch table: lang → (import_regex, def_call_regex)
LANG_RULES: dict[str, tuple[str, str]] = {
    "python": (
        r"^(?:import mod_(\d+)|from mod_(\d+) import)",
        r"def (fn_\d+_\d+)\([^)]*\):\n(?:\s*#[^\n]*\n)*\s+return (fn_\d+_\d+)\(",
    ),
    "rust": (
        r"^use mod_(\d+);",
        r"fn (fn_\d+_\d+)\([^)]*\)[^{]*\{\n\s+(fn_\d+_\d+)\(",
    ),
}


def _const(series_index, s: str) -> pd.Series:
    return pd.Series(s, index=series_index)


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    frames: list[pd.DataFrame] = []
    if "sha256" not in pdf.columns:
        # content invariant hashed HERE, in the Python worker process:
        # hashlib releases no JVM lock (Spark's sha2 serializes on
        # MessageDigest.getInstance across all threads of a JVM) and
        # each Arrow batch hashes at C speed in its own process.
        import hashlib

        pdf = pdf.assign(
            sha256=[hashlib.sha256(c.encode()).hexdigest() for c in pdf["content"]]
        )
    graph = pdf["graph"]
    repo_iri = ENT + "repo/" + pdf["repo"]
    file_iri = ENT + "file/" + pdf["repo"] + "/" + pdf["path"]

    def emit(s: pd.Series, p: str, o: pd.Series, kind: str, g: pd.Series) -> None:
        frames.append(
            pd.DataFrame(
                {"s": s.values, "p": p, "o": o.values, "o_kind": kind, "graph": g.values}
            )
        )

    emit(repo_iri, RDF_TYPE, _const(pdf.index, CODE + "Repository"), "iri", graph)
    emit(file_iri, RDF_TYPE, _const(pdf.index, CODE + "File"), "iri", graph)
    emit(file_iri, CODE + "inRepo", repo_iri, "iri", graph)
    emit(file_iri, CODE + "lang", '"' + pdf["lang"] + '"', "literal", graph)
    emit(file_iri, CODE + "commit", '"' + pdf["commit"] + '"', "literal", graph)
    emit(file_iri, CODE + "sha256", '"' + pdf["sha256"] + '"', "literal", graph)

    for lang, (imp_re, def_re) in LANG_RULES.items():
        mask = pdf["lang"] == lang
        if not mask.any():
            continue
        sub = pdf[mask]
        sub_file = file_iri[mask]

        # imports: extractall returns a (row, match) multi-index frame
        imp = sub["content"].str.extractall(imp_re, flags=re.M)
        if len(imp):
            mod = imp[0] if imp.shape[1] == 1 else imp[0].fillna(imp[1])
            row_idx = imp.index.get_level_values(0)
            emit(
                sub_file.loc[row_idx],
                CODE + "imports",
                ENT + "module/mod_" + mod,
                "iri",
                graph.loc[row_idx],
            )

        # function defs + call edges in one pass
        defs = sub["content"].str.extractall(def_re, flags=re.M)
        if len(defs):
            row_idx = defs.index.get_level_values(0)
            fn_iri = ENT + "fn/" + defs[0]
            callee_iri = ENT + "fn/" + defs[1]
            g2 = graph.loc[row_idx]
            emit(fn_iri, RDF_TYPE, _const(fn_iri.index, CODE + "Function"), "iri", g2)
            emit(fn_iri, CODE + "definedIn", sub_file.loc[row_idx], "iri", g2)
            emit(fn_iri, CODE + "calls", callee_iri, "iri", g2)

    if not frames:
        return pd.DataFrame(columns=["s", "p", "o", "o_kind", "graph"])
    return pd.concat(frames, ignore_index=True)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield _extract_batch(pdf)


def extract_code_triples(corpus: DataFrame) -> DataFrame:
    """corpus (repo,path,commit,lang,content) → triples_raw.

    The sha256 content invariant is computed inside the extraction
    kernel (hashlib over each Arrow batch, per worker process) — see
    the lock-contention note in _extract_batch.  Correctness vs the
    JVM's sha2 is pinned by tests/test_extract.py::test_sha256_invariant.
    """
    prepared = corpus.withColumn(
        "graph", F.concat(F.lit("repo:///"), F.col("repo"))
    )
    return prepared.mapInPandas(_extract_batches, SCHEMAS["triples_raw"])
