"""M0/M1: corpus determinism + extractor correctness (incl. the sha256
ingest invariant and hub-predicate skew presence)."""

import hashlib
import re
import zlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from de_spark.corpus import generate_corpus
from de_spark.extract import CODE, ENT, RDF_TYPE, extract_code_triples


def test_corpus_deterministic(spark):
    a = generate_corpus(spark, 0.0001).orderBy("path").collect()
    b = generate_corpus(spark, 0.0001, partitions=3).orderBy("path").collect()
    assert a == b  # partitioning must not change content
    assert len(a) == 100
    r = a[0]
    assert r["repo"].startswith("org") and "/" in r["repo"]
    assert len(r["commit"]) == 40
    assert r["lang"] in ("python", "rust")


def test_corpus_crc_mixing_matches_python(spark):
    """The generator's _mix is crc32 — replicable in plain Python, which
    pins the corpus byte-stable across engines."""
    row = generate_corpus(spark, 0.0001).where(F.col("path").like("%/file7.%")).collect()[0]
    org = zlib.crc32(b"1:7") % 7
    repo_n = zlib.crc32(b"2:7") % 23
    assert row["repo"] == f"org{org}/repo{repo_n}"
    lang = "python" if zlib.crc32(b"3:7") % 3 < 2 else "rust"
    assert row["lang"] == lang


def test_extract_triples(spark):
    corpus = generate_corpus(spark, 0.0001)
    triples = extract_code_triples(corpus)
    rows = triples.collect()
    n_files = 100

    by_p = {}
    for r in rows:
        by_p.setdefault(r["p"], []).append(r)

    # per-file fixed triples
    assert len(by_p[CODE + "sha256"]) == n_files
    assert len(by_p[CODE + "lang"]) == n_files
    assert len(by_p[CODE + "inRepo"]) == n_files
    # every file declares 6 imports (5 import + 1 from / 6 use lines)
    assert len(by_p[CODE + "imports"]) == 6 * n_files
    # 8 functions per file, each with one call edge
    assert len(by_p[CODE + "definedIn"]) == 8 * n_files
    assert len(by_p[CODE + "calls"]) == 8 * n_files
    # rdf:type is the hub predicate: repos + files + functions
    assert len(by_p[RDF_TYPE]) > 3 * n_files

    # graph naming: one named graph per repo
    graphs = {r["graph"] for r in rows}
    assert all(g.startswith("repo:///org") for g in graphs)


# The extractor's rules in Python ``re`` syntax, applied row by row.
ORACLE_RULES = {
    "python": (
        r"^(?:import mod_(\d+)|from mod_(\d+) import)",
        r"def (fn_\d+_\d+)\([^)]*\):\n(?:\s*#[^\n]*\n)*\s+return (fn_\d+_\d+)\(",
    ),
    "rust": (
        r"^use mod_(\d+);",
        r"fn (fn_\d+_\d+)\([^)]*\)[^{]*\{\n\s+(fn_\d+_\d+)\(",
    ),
}


def oracle_triples(row) -> list[tuple]:
    g = "repo:///" + row["repo"]
    repo = ENT + "repo/" + row["repo"]
    file = ENT + "file/" + row["repo"] + "/" + row["path"]
    sha = hashlib.sha256(row["content"].encode()).hexdigest()
    out = [
        (repo, RDF_TYPE, CODE + "Repository"),
        (file, RDF_TYPE, CODE + "File"),
        (file, CODE + "inRepo", repo),
        (file, CODE + "lang", f'"{row["lang"]}"'),
        (file, CODE + "commit", f'"{row["commit"]}"'),
        (file, CODE + "sha256", f'"{sha}"'),
    ]
    imp_re, def_re = ORACLE_RULES[row["lang"]]
    for m in re.finditer(imp_re, row["content"], re.M):
        mod = next(x for x in m.groups() if x is not None)
        out.append((file, CODE + "imports", ENT + "module/mod_" + mod))
    for m in re.finditer(def_re, row["content"], re.M):
        fn, callee = ENT + "fn/" + m.group(1), ENT + "fn/" + m.group(2)
        out += [
            (fn, RDF_TYPE, CODE + "Function"),
            (fn, CODE + "definedIn", file),
            (fn, CODE + "calls", callee),
        ]
    return [t + (g,) for t in out]


@pytest.mark.parametrize("sf", [0.0001, 0.001])
def test_extract_matches_python_re_oracle(spark, sf):
    corpus = generate_corpus(spark, sf)
    want = Counter(t for row in corpus.collect() for t in oracle_triples(row))
    got = Counter(tuple(r) for r in extract_code_triples(corpus).collect())
    assert got == want


def test_extract_runs_no_python(spark):
    """Extraction is one JVM projection: no Python worker is started."""
    df = extract_code_triples(generate_corpus(spark, 0.0001))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate inline" in plan, plan
    for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


def test_sha256_invariant(spark):
    """content sha256 equality per row between input and extracted
    triple (BASELINE.json input_hint invariant)."""
    corpus = generate_corpus(spark, 0.0001).limit(5)
    expected = {
        ENT + f"file/{r['repo']}/{r['path']}": hashlib.sha256(
            r["content"].encode()
        ).hexdigest()
        for r in corpus.collect()
    }
    got = {
        r["s"]: r["o"].strip('"')
        for r in extract_code_triples(corpus).where(F.col("p") == CODE + "sha256").collect()
    }
    assert got == expected


def test_import_skew_present(spark):
    """Zipf-ish module picks → mod_0 must dominate (the skew the
    north_rule requires downstream joins to survive)."""
    corpus = generate_corpus(spark, 0.001)
    triples = extract_code_triples(corpus)
    counts = (
        triples.where(F.col("p") == CODE + "imports")
        .groupBy("o").count().orderBy(F.desc("count")).collect()
    )
    assert counts[0]["o"] == ENT + "module/mod_0"
    assert counts[0]["count"] > 3 * counts[len(counts) // 2]["count"]
